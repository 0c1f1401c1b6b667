"""D: LLM-data-pipeline operators over documents/embeddings — exact dedup, embedding generation, the ANN ladder.

Split from catalog.py in r12 (VERDICT r11 #7). Registration order is
load-bearing: catalog.py imports the family modules in the original
single-file source order, and queries register in module-body order,
so the registration order is byte-identical to the pre-split
catalog's."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from purpleair_data_logger_spark.io import load_table
from purpleair_data_logger_spark.operators import aggregations as agg
from purpleair_data_logger_spark.operators import dedup as dd
from purpleair_data_logger_spark.operators import hyperfunctions as hf
from purpleair_data_logger_spark.operators import pii
from purpleair_data_logger_spark.operators import sampling as smp
from purpleair_data_logger_spark.operators import similarity as sim
from purpleair_data_logger_spark.operators import text as tx
from purpleair_data_logger_spark.queries._core import _t, register
from purpleair_data_logger_spark.queries._shared import (
    _hex60_sql,
    _hyperplane_band_sql,
    _knn_lsh_oracle,
    _minhash_lsh_cte,
)

# ---------------------------------------------------------------------------
# D. LLM-data-pipeline operators (north star): dedup, text analysis,
#    similarity search over documents/embeddings.
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS text_md5, count(*) AS n_copies,
           min(doc_id) AS canonical_doc_id
    FROM documents GROUP BY 1
    """,
    "north-star exact dedup (hash-groupBy)",
)
def dedup_exact_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dd.exact_dedup_groups(d, "text", "doc_id")


@register(
    "text_quality",
    """
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stopwords,
           len(list_filter(string_split(text, ' '),
                    x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
                 / len(string_split(text, ' ')) AS stopword_ratio,
           list_aggregate(list_transform(string_split(text, ' '),
                    x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / len(string_split(text, ' ')) AS mean_token_len
    FROM documents
    """,
    "north-star text quality scoring (length/stopword/token stats)",
)
def text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.quality_features(d, "doc_id", "text")


@register(
    "quality_classifier_gate",
    """
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
             list_aggregate(list_transform(string_split(text, ' '),
                      x -> CAST(length(x) AS DOUBLE)), 'sum')
                 / len(string_split(text, ' ')) AS ml,
             CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sr
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             ((CAST(0.6 AS DOUBLE)
               + CAST(-0.35 AS DOUBLE) * ml)
               + CAST(0.01 AS DOUBLE) * nt)
               + CAST(8.0 AS DOUBLE) * sr AS margin
      FROM f
    )
    SELECT doc_id, margin, margin > CAST(0 AS DOUBLE) AS quality_pass FROM m
    """,
    "north-star classifier-based quality filtering: linear-model inference as a pure codegen projection",
)
def quality_classifier_gate(spark, sf_dir):
    """The trained-classifier curation stage, inference-side: a linear
    margin over codegen quality features (weights folded in a fixed
    alphabetical order so both engines evaluate the identical IEEE
    expression tree — the oracle mirrors mean_token_len → n_tokens →
    stopword_ratio). Sigmoid-free by the same monotone-decision
    argument as the log-free BM25/PMI scores."""
    d = _t(spark, sf_dir, "documents")
    return tx.quality_classifier_score(d, "doc_id", "text")


@register(
    "lang_id",
    """
    WITH scored AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','y','es'))) AS BIGINT) AS s_es,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS s_fr,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('il','lo','le','e','di'))) AS BIGINT) AS s_it
      FROM documents)
    SELECT doc_id,
      CASE
        WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_it THEN 'de'
        WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_it THEN 'en'
        WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_it THEN 'es'
        WHEN s_fr > 0 AND s_fr >= s_it THEN 'fr'
        WHEN s_it > 0 THEN 'it'
        ELSE 'und'
      END AS predicted_lang,
      greatest(s_de, s_en, s_es, s_fr, s_it) AS lang_score
    FROM scored
    """,
    "north-star language ID (stopword-vote heuristic)",
)
def lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.language_id(d, "doc_id", "text")


@register(
    "top_docs_per_lang",
    """
    SELECT lang, doc_id, n_chars, lang_rank FROM (
      SELECT lang, doc_id, n_chars,
             CAST(row_number() OVER (
                 PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INTEGER)
                 AS lang_rank
      FROM documents)
    WHERE lang_rank <= 5
    """,
    "north-star stratified selection: top-k per group (longest docs per language)",
)
def top_docs_per_lang(spark, sf_dir):
    """Generic per-group top-k (one shuffle on the group key; AQE
    coalesces the tiny post-filter output) — the selection primitive
    for per-stratum training-data curation."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select(
            "lang",
            "doc_id",
            "n_chars",
            F.row_number().over(w).cast("int").alias("lang_rank"),
        )
        .filter(F.col("lang_rank") <= 5)
    )


@register(
    "corpus_token_accounting",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(max(len(string_split(text, ' '))) AS BIGINT) AS max_doc_tokens
    FROM documents GROUP BY lang
    """,
    "north-star corpus accounting: token/char budgets per stratum (exact int aggs)",
)
def corpus_token_accounting(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.col("text"), " ")).cast("long")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_toks).alias("total_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
        F.max(n_toks).alias("max_doc_tokens"),
    )


@register(
    "doc_repetition_ratio",
    """
    SELECT doc_id,
           CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_token_share,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens
    FROM (
      SELECT doc_id, tok, count(*) AS cnt
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok)
    GROUP BY doc_id
    """,
    "north-star repetition quality signal (Gopher-style top-token share)",
)
def doc_repetition_ratio(spark, sf_dir):
    """Per-document repetition signal: share of the single most frequent
    token, plus exact token/distinct-token counts. A high top-token share
    flags boilerplate/spam for corpus filtering (the duplicate-fraction
    family of quality rules). ONE shuffle total, placed before the
    explode: repartitioning by doc_id moves compact document rows (not
    exploded token pairs), and hashpartitioning(doc_id) satisfies the
    clustering requirement of BOTH aggregations — (doc_id, tok) and
    (doc_id) — so neither adds an Exchange (pinned in test_plans). The
    ratio is exact-int division so it hashes bit-identically
    cross-engine."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", "text")
        .repartition("doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    )
    counts = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy("doc_id").agg(
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_token_share"),
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
    )


@register(
    "dup_ngram_fraction",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    g AS (
      SELECT doc_id, 2 AS n, arr[i] || ' ' || arr[i+1] AS gram
      FROM toks, LATERAL unnest(range(1, len(arr))) t(i)
      UNION ALL
      SELECT doc_id, 3 AS n, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS gram
      FROM toks, LATERAL unnest(range(1, len(arr) - 1)) t(i)
    ),
    c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram)
    SELECT doc_id,
      CASE WHEN sum(CASE WHEN n = 2 THEN cnt * length(gram) ELSE 0 END) > 0
           THEN CAST(sum(CASE WHEN n = 2 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
                / sum(CASE WHEN n = 2 THEN cnt * length(gram) ELSE 0 END)
           ELSE 0.0 END AS dup_2gram_char_frac,
      CASE WHEN sum(CASE WHEN n = 3 THEN cnt * length(gram) ELSE 0 END) > 0
           THEN CAST(sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
                / sum(CASE WHEN n = 3 THEN cnt * length(gram) ELSE 0 END)
           ELSE 0.0 END AS dup_3gram_char_frac
    FROM c GROUP BY doc_id
    """,
    "north-star repetition signal #2: Gopher duplicate n-gram character fraction (2-grams + 3-grams)",
)
def dup_ngram_fraction(spark, sf_dir):
    """Fraction of n-gram-occurrence characters in duplicated 2-/3-grams
    per document — the Gopher repetition filter complementing
    `doc_repetition_ratio`'s top-token share. Both n values share one
    scan and one doc_id shuffle (tagged-gram explode)."""
    d = _t(spark, sf_dir, "documents")
    return tx.duplicate_ngram_fraction(d, "doc_id", "text", ns=(2, 3))


@register(
    "gopher_quality_gate",
    """
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS arr,
                         string_split(text, chr(10)) AS lns FROM documents),
    scalar AS (
      SELECT doc_id,
        CAST(len(arr) AS BIGINT) AS n_words,
        list_aggregate(list_transform(arr, x -> CAST(length(x) AS DOUBLE)), 'sum')
            / len(arr) AS mean_word_len,
        len(arr) >= 50 AND len(arr) <= 100000 AS word_count_ok,
        list_aggregate(list_transform(arr, x -> CAST(length(x) AS DOUBLE)), 'sum')
            / len(arr) >= 4.0
          AND list_aggregate(list_transform(arr, x -> CAST(length(x) AS DOUBLE)), 'sum')
            / len(arr) <= 10.0 AS mean_word_len_ok,
        CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) / len(arr) < 0.1
            AS symbol_ratio_ok,
        CAST(len(list_filter(lns, l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))
            AS DOUBLE) / len(lns) < 0.9 AS bullet_lines_ok,
        CAST(len(list_filter(lns, l -> l LIKE '%...')) AS DOUBLE) / len(lns) < 0.3
            AS ellipsis_lines_ok,
        CAST(len(list_filter(arr, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
            / len(arr) > 0.8 AS alpha_words_ok,
        len(list_filter(main.list_value('the','be','to','of','and','that','have','with'),
            s -> list_contains(arr, s))) >= 1 AS stopwords_ok
      FROM toks),
    g AS (
      SELECT doc_id, 1 AS n, arr[i] AS gram
      FROM toks, LATERAL unnest(range(1, len(arr) + 1)) t(i)
      UNION ALL
      SELECT doc_id, 2, arr[i] || ' ' || arr[i+1]
      FROM toks, LATERAL unnest(range(1, len(arr))) t(i)
      UNION ALL
      SELECT doc_id, 3, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2]
      FROM toks, LATERAL unnest(range(1, len(arr) - 1)) t(i)
    ),
    c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram),
    rep AS (
      SELECT doc_id,
        CAST(max(CASE WHEN n = 1 THEN cnt END) AS DOUBLE)
            / sum(CASE WHEN n = 1 THEN cnt ELSE 0 END) AS top_token_share,
        CASE WHEN sum(CASE WHEN n = 2 THEN cnt * length(gram) ELSE 0 END) > 0
             THEN CAST(sum(CASE WHEN n = 2 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
                  / sum(CASE WHEN n = 2 THEN cnt * length(gram) ELSE 0 END)
             ELSE 0.0 END AS dup_2gram_char_frac,
        CASE WHEN sum(CASE WHEN n = 3 THEN cnt * length(gram) ELSE 0 END) > 0
             THEN CAST(sum(CASE WHEN n = 3 AND cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS DOUBLE)
                  / sum(CASE WHEN n = 3 THEN cnt * length(gram) ELSE 0 END)
             ELSE 0.0 END AS dup_3gram_char_frac
      FROM c GROUP BY doc_id)
    SELECT s.doc_id, s.n_words, s.mean_word_len,
           r.top_token_share, r.dup_2gram_char_frac, r.dup_3gram_char_frac,
           s.word_count_ok, s.mean_word_len_ok, s.symbol_ratio_ok,
           s.bullet_lines_ok, s.ellipsis_lines_ok, s.alpha_words_ok, s.stopwords_ok,
           r.top_token_share <= 0.12 AS top_token_ok,
           r.dup_2gram_char_frac <= 0.1 AS dup_2gram_ok,
           r.dup_3gram_char_frac <= 0.05 AS dup_3gram_ok,
           s.word_count_ok AND s.mean_word_len_ok AND s.symbol_ratio_ok
             AND s.bullet_lines_ok AND s.ellipsis_lines_ok AND s.alpha_words_ok
             AND s.stopwords_ok AND r.top_token_share <= 0.12
             AND r.dup_2gram_char_frac <= 0.1 AND r.dup_3gram_char_frac <= 0.05
             AS gopher_pass
    FROM scalar s JOIN rep r ON r.doc_id = s.doc_id
    """,
    "north-star composed Gopher rule-set gate: 10 quality rules + conjunction, one shuffle for all repetition signals",
)
def gopher_quality_gate(spark, sf_dir):
    """The full Gopher/MassiveText §A1.1 rule-set as one auditable
    gate query — every rule a flag, `gopher_pass` the conjunction.
    Thresholds tuned so each rule family discriminates on the test
    corpus (word count, mean word length, stopword presence, and all
    three repetition signals split it; the line-shape and symbol rules
    pass trivially on single-line synthetic docs but are fully
    evaluated and hash-checked)."""
    d = _t(spark, sf_dir, "documents")
    return tx.gopher_quality_gate(
        d, "doc_id", "text",
        min_words=50, max_words=100_000,
        min_mean_word_len=4.0, max_mean_word_len=10.0,
        max_symbol_ratio=0.1, max_bullet_line_frac=0.9,
        max_ellipsis_line_frac=0.3, min_alpha_word_frac=0.8,
        min_stopword_hits=1, max_top_token_share=0.12,
        max_dup_2gram_frac=0.1, max_dup_3gram_frac=0.05,
    )


@register(
    "keyword_extraction",
    """
    WITH tf AS (SELECT doc_id, tok, count(*) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents)
                GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
           CAST(tf.tf AS DOUBLE) * ((CAST(n.n_docs - dfreq.df AS DOUBLE) + 0.5)
                / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS score
           FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n),
    r AS (SELECT doc_id, tok, tf, df, score,
          CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok)
               AS INT) AS keyword_rank
          FROM scored)
    SELECT doc_id, keyword_rank, tok, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, score
    FROM r WHERE keyword_rank <= 5
    """,
    "north-star keyword extraction: per-doc top-k by log-free BM25-idf salience (tf·(N−df+½)/(df+½))",
)
def keyword_extraction(spark, sf_dir):
    """Top-5 keywords per document by exact-arithmetic tf-idf salience
    (BM25 idf sans log — same ranking, engine-portable score). Two
    Exchanges: one doc-id shuffle shared by tf and the final window,
    one vocab-sized df shuffle broadcast back."""
    d = _t(spark, sf_dir, "documents")
    return tx.keyword_extraction(d, "doc_id", "text", top_k=5)


@register(
    "cross_doc_dup_ngrams",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    g AS (
      SELECT doc_id,
             arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3]
                    || ' ' || arr[i+4] AS gram
      FROM toks, LATERAL unnest(range(1, len(arr) - 3)) t(i)
    ),
    pdg AS (SELECT doc_id, gram, count(*) AS occ FROM g GROUP BY doc_id, gram),
    gd AS (SELECT gram, count(*) AS gram_docs FROM pdg GROUP BY gram)
    SELECT pdg.doc_id,
           CAST(sum(occ) AS BIGINT) AS ngram_occurrences,
           CAST(sum(CASE WHEN gram_docs >= 2 THEN occ ELSE 0 END) AS BIGINT)
               AS cross_dup_occurrences,
           CAST(sum(CASE WHEN gram_docs >= 2 THEN occ ELSE 0 END) AS DOUBLE)
               / CAST(sum(occ) AS DOUBLE) AS cross_dup_frac,
           max(gram_docs) AS max_gram_docs
    FROM pdg JOIN gd ON pdg.gram = gd.gram
    GROUP BY pdg.doc_id
    """,
    "north-star cross-document duplicated-span signal (Lee et al. 2022 exact-substring dedup, 5-gram granularity)",
)
def cross_doc_dup_ngrams(spark, sf_dir):
    """Per-document coverage by 5-grams that recur verbatim in OTHER
    documents — the corpus-level boilerplate/syndication signal next to
    `dup_ngram_fraction`'s within-doc repetition. Three key-sharded
    Exchanges (id-gram compress, gram doc-count, id finish); vocabulary
    never broadcast, hot grams combined map-side."""
    d = _t(spark, sf_dir, "documents")
    return tx.cross_doc_dup_ngrams(d, "doc_id", "text", n=5)


@register(
    "cross_doc_span_removal",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    g AS (
      SELECT doc_id, i AS start,
             arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3]
                    || ' ' || arr[i+4] AS gram
      FROM toks, LATERAL unnest(range(1, len(arr) - 3)) t(i)
    ),
    gd AS (
      SELECT gram
      FROM (SELECT gram, count(DISTINCT doc_id) AS dc FROM g GROUP BY gram)
      WHERE dc >= 2
    ),
    cov AS (
      SELECT DISTINCT g.doc_id, g.start + j AS pos
      FROM g JOIN gd ON g.gram = gd.gram, LATERAL unnest(range(0, 5)) u(j)
    ),
    covagg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed, list(pos) AS cl
      FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(arr) AS BIGINT) AS n_tokens,
           CAST(coalesce(c.n_removed, 0) AS BIGINT) AS n_removed_tokens,
           coalesce(array_to_string(
             [arr[i] FOR i IN range(1, len(arr) + 1)
              IF NOT list_contains(coalesce(c.cl, []), i)], ' '), '')
             AS clean_text
    FROM toks t LEFT JOIN covagg c ON t.doc_id = c.doc_id
    """,
    "north-star exact-substring span removal (Lee et al. 2022): drop tokens covered by cross-document 5-grams, reassemble",
)
def cross_doc_span_removal(spark, sf_dir):
    """The rewrite half of exact-substring dedup: every token covered
    by a 5-gram shared verbatim across ≥2 documents is removed and the
    document reassembled — shared boilerplate vanishes corpus-wide,
    unique prose survives. Join-attach + codegen rebuild; no windows,
    no Python."""
    d = _t(spark, sf_dir, "documents")
    return dd.remove_cross_doc_spans(d, "doc_id", "text", n=5)


@register(
    "vocab_encode",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    tf AS (
      SELECT tok, count(*) AS total_tf
      FROM (SELECT doc_id, unnest(arr) AS tok FROM toks)
      GROUP BY tok
    ),
    v AS (
      SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, tok) AS INT)
                 AS vocab_rank, tok
      FROM (SELECT * FROM tf ORDER BY total_tf DESC, tok LIMIT 256)
    ),
    p AS (
      SELECT doc_id, i AS pos, arr[i] AS tok
      FROM toks, LATERAL unnest(range(1, len(arr) + 1)) t(i)
    ),
    j AS (
      SELECT p.doc_id, p.pos, coalesce(v.vocab_rank, 0) AS tid
      FROM p LEFT JOIN v ON p.tok = v.tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos) AS token_ids
    FROM j GROUP BY doc_id
    """,
    "north-star encode stage: tokenize-and-numericalize against the deterministic top-256 corpus vocabulary",
)
def vocab_encode(spark, sf_dir):
    """The encode pass between curation and sequence packing: tokens
    become their rank in the corpus top-256 vocabulary (OOV → 0),
    order-preserving, serialized per doc. Vocab branch is top_k-bounded
    so it broadcasts by construction; encode side rides the doc-id
    repartition."""
    d = _t(spark, sf_dir, "documents")
    return tx.encode_with_vocabulary(d, "doc_id", "text", top_k=256)


@register(
    "unigram_rarity",
    """
    WITH pdt AS (
      SELECT doc_id, tok, count(*) AS occ
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    tc AS (SELECT tok, CAST(sum(occ) AS BIGINT) AS corpus_tf FROM pdt GROUP BY tok),
    n AS (SELECT CAST(sum(corpus_tf) AS BIGINT) AS corpus_total FROM tc)
    SELECT pdt.doc_id,
           CAST(sum(occ) AS BIGINT) AS n_tokens,
           CAST(sum(occ * corpus_tf) AS DOUBLE)
               / CAST(CAST(sum(occ) AS BIGINT) * min(corpus_total) AS DOUBLE)
               AS mean_corpus_prob,
           CAST(sum(CASE WHEN corpus_tf <= 2 THEN occ ELSE 0 END) AS DOUBLE)
               / CAST(sum(occ) AS DOUBLE) AS rare_token_frac,
           min(corpus_tf) AS min_corpus_tf
    FROM pdt JOIN tc ON pdt.tok = tc.tok CROSS JOIN n
    GROUP BY pdt.doc_id
    """,
    "north-star unigram-LM quality proxy (CCNet-style corpus-typicality gate, log-free exact arithmetic)",
)
def unigram_rarity(spark, sf_dir):
    """Log-free unigram-LM document scoring: mean corpus probability,
    hapax fraction, rarest-token count — the SQL-expressible stand-in
    for CCNet's KenLM perplexity buckets. Exact-integer sums, one
    final division, bit-identical cross-engine."""
    d = _t(spark, sf_dir, "documents")
    return tx.unigram_rarity(d, "doc_id", "text", rare_max_tf=2)


@register(
    "event_value_histogram",
    """
    SELECT event_type,
           CAST(floor(value / CAST(5.0 AS DOUBLE)) AS BIGINT) AS bin,
           CAST(floor(value / CAST(5.0 AS DOUBLE)) AS BIGINT) * CAST(5.0 AS DOUBLE) AS bin_lo,
           (CAST(floor(value / CAST(5.0 AS DOUBLE)) AS BIGINT) + 1) * CAST(5.0 AS DOUBLE) AS bin_hi,
           CAST(count(*) AS BIGINT) AS n
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type, bin
    """,
    "distribution profiling: fixed-width value histogram per event type (one map-side-combined aggregate)",
)
def event_value_histogram(spark, sf_dir):
    """Per-event-type fixed-width histogram of `value` — the scale-safe
    distribution profile (output is |types|×|bins| rows regardless of
    input size; no double-summing, so rows hash cross-engine)."""
    e = _t(spark, sf_dir, "events")
    return agg.value_histogram(e, "event_type", "value", bin_width=5.0)


@register(
    "bigram_collocations",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    big AS (
      SELECT arr[i] AS w1, arr[i+1] AS w2, count(*) AS c_ab
      FROM toks, LATERAL unnest(range(1, len(arr))) t(i)
      GROUP BY w1, w2
      HAVING count(*) >= 5),
    uni AS (
      SELECT tok, count(*) AS c
      FROM (SELECT unnest(arr) AS tok FROM toks)
      GROUP BY tok),
    n AS (SELECT CAST(sum(len(arr)) AS BIGINT) AS n_tokens FROM toks),
    scored AS (
      SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b, n.n_tokens,
             (CAST(b.c_ab AS DOUBLE) * CAST(n.n_tokens AS DOUBLE))
               / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
      FROM big b
      JOIN uni ua ON ua.tok = b.w1
      JOIN uni ub ON ub.tok = b.w2
      CROSS JOIN n),
    r AS (
      SELECT w1, w2, c_ab, c_a, c_b, lift,
             CAST(row_number() OVER (ORDER BY lift DESC, w1, w2) AS INT)
                 AS colloc_rank
      FROM scored)
    SELECT colloc_rank, w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b, lift
    FROM r WHERE colloc_rank <= 100
    """,
    "north-star collocation mining: top-k adjacent pairs by log-free PMI lift (phrase/BPE-merge discovery)",
)
def bigram_collocations(spark, sf_dir):
    """Top-100 collocations by exact-arithmetic PMI lift (min pair
    count 5). One bigram shuffle + one vocab-sized unigram shuffle
    broadcast back; top-k via TakeOrderedAndProject."""
    d = _t(spark, sf_dir, "documents")
    return tx.bigram_collocations(d, "doc_id", "text", top_k=100, min_count=5)


@register(
    "text_normalize",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g')) AS normalized_text,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +', ' ', 'g'))) AS normalized_md5
    FROM documents
    """,
    "north-star text normalization (dedup pre-pass: lowercase/strip/collapse)",
)
def text_normalize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.normalize(d, "doc_id", "text")


@register(
    "corpus_curation_pipeline",
    """
    WITH rep AS (
      SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top_token_share
      FROM (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY doc_id, tok)
      GROUP BY doc_id),
    scored AS (
      SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS s_de,
        len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS s_en,
        len(list_filter(string_split(text,' '), x -> x IN ('el','la','los','y','es'))) AS s_es,
        len(list_filter(string_split(text,' '), x -> x IN ('le','la','les','et','est'))) AS s_fr,
        len(list_filter(string_split(text,' '), x -> x IN ('il','lo','le','e','di'))) AS s_it,
        md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
            ' +', ' ', 'g'))) AS normalized_md5
      FROM documents),
    feats AS (
      SELECT doc_id, lang, n_tokens, normalized_md5,
        CASE
          WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_it THEN 'de'
          WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_it THEN 'en'
          WHEN s_es > 0 AND s_es >= s_fr AND s_es >= s_it THEN 'es'
          WHEN s_fr > 0 AND s_fr >= s_it THEN 'fr'
          WHEN s_it > 0 THEN 'it'
          ELSE 'und' END AS predicted_lang
      FROM scored),
    kept AS (
      SELECT f.doc_id, f.lang AS stratum, f.n_tokens, f.normalized_md5
      FROM feats f JOIN rep r USING (doc_id)
      WHERE f.n_tokens >= 20 AND f.predicted_lang <> 'und'
        AND r.top_token_share <= 0.25),
    dd AS (
      -- one survivor ROW per normalized text, matching the Spark
      -- groupBy(md5) aggregate exactly: the filter form
      -- (doc_id = min-over-md5) emits every duplicate-PK copy of the
      -- canonical doc (r8 fuzz-found once the duplicate-PK mutation
      -- stream shifted) — an exact-dedup stage must collapse them
      SELECT min(doc_id) AS doc_id,
             min_by(n_tokens, doc_id) AS n_tokens,
             min_by(stratum, doc_id) AS stratum
      FROM kept GROUP BY normalized_md5),
    ranked AS (
      SELECT stratum, doc_id, n_tokens,
             CAST(row_number() OVER (
                 PARTITION BY stratum
                 ORDER BY n_tokens DESC, doc_id) AS INTEGER) AS sel_rank
      FROM dd)
    SELECT stratum, doc_id, n_tokens, sel_rank
    FROM ranked WHERE sel_rank <= 20
    """,
    "north-star composed pipeline: quality gate -> lang gate -> normalize+dedup -> stratified selection",
)
def corpus_curation_pipeline(spark, sf_dir):
    """The full training-data curation pipeline as ONE declarative plan
    — the composition a user of the individual operators actually
    runs. Every stage (repetition filter, language gate, normalized
    exact dedup, per-language top-k) is hash-checked end-to-end
    against the DuckDB replay."""
    d = _t(spark, sf_dir, "documents")
    return tx.curate(d, "doc_id", "text", strat_col="lang")


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string((string_split(lower(text), ' '))[1:16], ' '))
               AS fingerprint_md5
    FROM documents
    """,
    "north-star document fingerprinting (normalized-prefix hash)",
)
def doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.fingerprint(d, "doc_id", "text", prefix_tokens=16)


@register(
    "jaccard_neardup_blocked",
    """
    WITH t AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(len(list_intersect(a.toks, b.toks)) * 1.0
                 / len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.toks, b.toks)) * 1.0
                / len(list_distinct(list_concat(a.toks, b.toks))), 4) >= 0.9
    """,
    "north-star n-gram Jaccard near-dup (blocked pair generation)",
)
def jaccard_neardup_blocked(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dd.jaccard_pairs_blocked(
        d, "doc_id", "text", ["lang", "source"], threshold=0.9
    )


@register(
    "neardup_prefix_filter_exact",
    """
    WITH d AS (
      SELECT DISTINCT doc_id, text FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    dt AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
    ds AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 1) + 1),
               i -> array_to_string(w[i:i+2], ' '))) AS toks
      FROM dt
    ),
    t AS (SELECT doc_id, unnest(toks) AS tok FROM ds),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS dfc
            FROM t GROUP BY 1),
    o AS (
      SELECT t.doc_id, list(t.tok ORDER BY f.dfc, t.tok) AS otoks
      FROM t JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    p AS (
      SELECT doc_id, len(otoks) AS n,
             otoks[1 : len(otoks) - ((80 * len(otoks) + 99) // 100) + 1]
               AS pref
      FROM o
    ),
    pe AS (SELECT doc_id, n, unnest(pref) AS tok FROM p),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM pe a JOIN pe b ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE a.n * 100 >= b.n * 80 AND b.n * 100 >= a.n * 80
    )
    SELECT doc_id_a, doc_id_b, jaccard FROM (
      SELECT c.doc_id_a, c.doc_id_b,
             round(len(list_intersect(da.toks, db.toks)) * 1.0
                   / len(list_distinct(list_concat(da.toks, db.toks))), 4)
               AS jaccard
      FROM cand c
      JOIN ds da ON da.doc_id = c.doc_id_a
      JOIN ds db ON db.doc_id = c.doc_id_b
    ) WHERE jaccard >= 0.8
    """,
    "EXACT unblocked all-pairs shingle-Jaccard similarity join via "
    "prefix filtering (SSJoin/AllPairs/PPJoin): rarest-shingle "
    "prefixes make candidate generation an equi-join with PROVABLY "
    "perfect recall — the deterministic counterpart to the "
    "probabilistic LSH path, no blocking key, no O(n^2)",
)
def neardup_prefix_filter_exact(spark, sf_dir):
    """Every document pair with 3-shingle Jaccard >= 0.8, EXACTLY —
    `operators/dedup.py::prefix_filter_neardups`. Candidates come from
    an equi-join of document-frequency-ordered shingle PREFIXES
    (|x| - ceil(0.8|x|) + 1 rarest shingles) under the size filter
    0.8|x| <= |y| <= |x|/0.8; the prefix-filter lemma makes recall 1,
    the exact verify makes precision 1. Completes the near-dup family:
    blocked-exact needs a key, LSH-verified has probabilistic recall,
    this is unblocked and complete — it measures the SAME shingle
    Jaccard as `neardup_lsh_verified`, whose output must therefore be
    a subset of this one's (pinned in pytest: any gap IS the LSH
    recall loss, now measurable instead of estimated).

    Scale: the candidate join keys on RARE shingles only (common-
    phrase posting lists never join), so fan-out is bounded by
    rare-shingle document frequencies, not corpus size; everything is
    codegen joins/aggregates — one frequency pass, one ordered
    regroup, the prefix equi-join, the candidate-only verify."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
        .distinct()
    )
    return dd.prefix_filter_neardups(
        d, "doc_id", "text", threshold_pct=80, shingle_n=3
    ).orderBy("doc_id_a", "doc_id_b")


@register(
    "knn_cosine_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(
                 list_transform(q.qe, x -> CAST(x AS DOUBLE)),
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS s
      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INTEGER)
                 AS knn_rank
      FROM pairs)
    SELECT query_id, neighbor_id, knn_rank FROM ranked WHERE knn_rank <= 5
    """,
    "north-star ANN baseline: brute-force cosine top-k",
)
def knn_cosine_bruteforce(spark, sf_dir):
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    return sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)


@register(
    "knn_filtered",
    """
    WITH q AS (SELECT vec_id AS query_id, label, embedding AS qe
               FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.query_id, q.label, e.vec_id AS neighbor_id,
             list_cosine_similarity(
                 list_transform(q.qe, x -> CAST(x AS DOUBLE)),
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS s
      FROM q JOIN embeddings e ON e.label = q.label
      WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, label, neighbor_id,
             CAST(row_number() OVER (
                 PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS INTEGER)
                 AS knn_rank
      FROM pairs)
    SELECT query_id, label, neighbor_id, knn_rank
    FROM ranked WHERE knn_rank <= 5
    """,
    "north-star filtered vector search: cosine top-k constrained to the query's label partition (equi-join pair generation)",
)
def knn_filtered(spark, sf_dir):
    """Tenant/shard-constrained ANN: neighbors must share the query's
    label. The predicate rides pair generation as a broadcast equi-join
    on the filter key (post-filtering an unconstrained top-k would
    under-fill k), so candidates shrink from |corpus| to the label
    partition."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    return sim.knn_bruteforce_filtered(
        em, queries, "vec_id", "embedding", "label", k=5
    )


@register(
    "embedding_neardup_cosine",
    """
    WITH t AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine_sim
    FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.3
    """,
    "north-star embedding-cosine near-dup (label-blocked)",
)
def embedding_neardup_cosine(spark, sf_dir):
    """Exact label-blocked cosine near-dup — the O(block²) baseline.

    Bench classification (r7, VERDICT r6 #1): this row is an EVIDENCE
    LEG, not a headline row. It is the deliberately-quadratic exact
    formulation whose production path is
    ``embedding_neardup_lsh_verified`` (hyperplane-LSH band join →
    exact verify, collision-bounded — green in the same gate window);
    at 100 TB you run the LSH row, and this one exists so the recorded
    gap between the two is auditable evidence. bench.py therefore
    times it (min-of-3, still in the frozen stable-subset composition
    for round-over-round comparability) but reports it under
    ``evidence_legs``, outside the headline ``value`` and outside
    bench_compare's regression guard — a known-quadratic row drifting
    with host noise should not fail the guard meant for production
    plans. Correctness is unaffected: the row stays fully oracled.
    """
    em = _t(spark, sf_dir, "embeddings")
    return sim.cosine_neardup_pairs(
        em, "vec_id", "embedding", "label", threshold=0.3
    )


def _embedding_neardup_lsh_oracle(
    n_planes: int, bands: int, dim: int, threshold: float, plant_below: int
) -> str:
    """Full-pipeline replay of `embedding_neardup_lsh_verified`: planted
    perturbed copies, hyperplane band signatures, band-collision
    candidate join, exact-cosine verify. DuckDB list lambdas index from
    1, so the planted perturbation uses ((i-1) % 3) - 1 to mirror
    Spark's 0-based `transform` index; the perturbed sum is cast back
    through FLOAT to match the Spark side's array<float> storage."""
    band_cols, band_union = _hyperplane_band_sql(n_planes, bands, dim)
    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding,
                 (x, i) -> CAST(CAST(CAST(x AS DOUBLE)
                     + 0.01 * (((i-1) % 3) - 1) AS FLOAT) AS DOUBLE))
      FROM embeddings WHERE vec_id < {plant_below}),
    sig AS (SELECT vec_id, v,
      {band_cols}
    FROM base),
    bnd AS ({band_union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             a.v AS va, b.v AS vb
      FROM bnd a JOIN bnd b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id)
    SELECT vec_id_a, vec_id_b,
           round(list_cosine_similarity(va, vb), 4) AS cosine_sim
    FROM cand WHERE list_cosine_similarity(va, vb) >= {threshold}
    """


@register(
    "embedding_neardup_lsh_verified",
    _embedding_neardup_lsh_oracle(
        n_planes=64, bands=8, dim=64, threshold=0.9, plant_below=50
    ),
    "north-star embedding near-dup scale path: hyperplane-LSH candidates -> exact cosine verify (full-pipeline oracle)",
)
def embedding_neardup_lsh_verified(spark, sf_dir):
    """The 100 TB composition for embedding near-dups: banded
    hyperplane-LSH equi-join generates candidates (never a blocked
    O(block²) self-join), exact cosine verifies at the real near-dup
    threshold (0.9, 8-bit × 8 bands). The raw corpus contains no pairs
    that similar (max pairwise cosine ≈ 0.5), so the gate mines a
    corpus augmented with deterministically perturbed copies of the
    first 50 vectors — the planted near-dups the operator must find,
    making the result set non-trivial and exactly predictable. The
    hyperplanes come from engine-independent splitmix integer math
    (`similarity.random_hyperplanes`), so the DuckDB oracle replays the
    ENTIRE pipeline — planting, banding, candidate join, cosine verify
    — with the same plane literals; recall + precision vs the exact
    all-pairs truth are additionally pinned in tests/test_llm_ops.py."""
    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = em.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + 0.01 * ((i % 3) - 1).cast("double"),
        ).cast("array<float>").alias("embedding"),
    )
    return sim.cosine_neardup_lsh_verified(
        em.unionByName(planted), "vec_id", "embedding", threshold=0.9
    )


def _embedding_cluster_oracle(
    n_planes: int, bands: int, dim: int, threshold: float, plant_below: int
) -> str:
    """Full-pipeline oracle for `embedding_cluster_dedup`: the planted
    hyperplane-LSH + exact-cosine pair CTEs, then connected components
    as a recursive CTE and the corpus-wide (vec_id, cluster_id, keep)
    assignment — the embedding-side mirror of
    `_neardup_cluster_oracle`."""
    band_cols, band_union = _hyperplane_band_sql(n_planes, bands, dim)
    return f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(embedding,
                 (x, i) -> CAST(CAST(CAST(x AS DOUBLE)
                     + 0.01 * (((i-1) % 3) - 1) AS FLOAT) AS DOUBLE))
      FROM embeddings WHERE vec_id < {plant_below}),
    sig AS (SELECT vec_id, v,
      {band_cols}
    FROM base),
    bnd AS ({band_union}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             a.v AS va, b.v AS vb
      FROM bnd a JOIN bnd b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id),
    ver AS (
      SELECT vec_id_a, vec_id_b FROM cand
      WHERE list_cosine_similarity(va, vb) >= {threshold}),
    edges AS (SELECT vec_id_a AS u, vec_id_b AS v FROM ver
              UNION SELECT vec_id_b, vec_id_a FROM ver),
    cc(node, root) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, cc.root FROM cc JOIN edges e ON e.u = cc.node),
    comp AS (SELECT node, min(root) AS cluster_id FROM cc GROUP BY node)
    SELECT b.vec_id,
           coalesce(comp.cluster_id, b.vec_id) AS cluster_id,
           coalesce(comp.cluster_id, b.vec_id) = b.vec_id AS keep
    FROM base b LEFT JOIN comp ON comp.node = b.vec_id
    """


@register(
    "embedding_cluster_dedup",
    _embedding_cluster_oracle(
        n_planes=64, bands=8, dim=64, threshold=0.9, plant_below=50
    ),
    "north-star embedding-side cluster dedup: hyperplane-LSH pairs -> connected components -> canonical survivor",
)
def embedding_cluster_dedup(spark, sf_dir):
    """Semantic (embedding-space) duplicate clusters resolved to one
    survivor each — the vector-side mirror of `neardup_cluster_dedup`:
    `cosine_neardup_lsh_verified` pairs over the planted corpus (same
    augmentation as `embedding_neardup_lsh_verified`, so the cluster
    structure is non-trivial and exactly predictable), min-label
    connected components, corpus-wide (vec_id, cluster_id, keep)
    assignment. Same scale posture as the text-side layer: component
    resolution touches only edge-incident vectors; the assignment is
    one broadcastable left join."""
    from purpleair_data_logger_spark.operators import clusters as cl

    em = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = em.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x + 0.01 * ((i % 3) - 1).cast("double"),
        ).cast("array<float>").alias("embedding"),
    )
    aug = em.unionByName(planted)
    pairs = sim.cosine_neardup_lsh_verified(
        aug, "vec_id", "embedding", threshold=0.9
    )
    return cl.cluster_dedup(
        aug, "vec_id", pairs, src_col="vec_id_a", dst_col="vec_id_b"
    )


@register(
    "embedding_norms",
    """
    SELECT vec_id,
           round(sqrt(list_aggregate(
               list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4)
               AS l2_norm
    FROM embeddings
    """,
    "north-star embedding profiling (JVM-side array math)",
)
def embedding_norms(spark, sf_dir):
    em = _t(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.round(sim.l2_norm(sim.as_double_array("embedding")), 4).alias("l2_norm"),
    )


