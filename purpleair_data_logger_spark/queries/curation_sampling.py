"""F1: curation privacy / decontamination / splits / sampling / cluster dedup / corpus builds.

Split from catalog.py in r12 (VERDICT r11 #7). Registration order is
load-bearing: catalog.py imports the family modules in the original
single-file source order, and queries register in module-body order,
so the registration order is byte-identical to the pre-split
catalog's."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from purpleair_data_logger_spark.io import load_table
from purpleair_data_logger_spark.materialize import materialize_once
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
# F. Curation privacy / decontamination / sampling — the remaining
#    standard passes of a pre-training data pipeline, each fully
#    SQL-replayable (portable regexes, portable md5 hash family).
# ---------------------------------------------------------------------------

_PII_PLANT_SQL = """
      SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                 || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
          || CASE WHEN doc_id % 4 = 0 THEN ' call 555-'
                 || lpad(CAST(doc_id*7 % 1000 AS VARCHAR), 3, '0') || '-'
                 || lpad(CAST(doc_id*13 % 10000 AS VARCHAR), 4, '0') ELSE '' END
          || CASE WHEN doc_id % 5 = 0 THEN ' from 10.'
                 || CAST(doc_id % 250 AS VARCHAR) || '.0.'
                 || CAST(doc_id % 200 AS VARCHAR) ELSE '' END AS text
      FROM documents
"""


@register(
    "pii_scrub",
    f"""
    WITH planted AS ({_PII_PLANT_SQL})
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{pii.EMAIL_RE}', '{pii.EMAIL_TOKEN}', 'g'),
               '{pii.PHONE_RE}', '{pii.PHONE_TOKEN}', 'g'),
               '{pii.IPV4_RE}', '{pii.IPV4_TOKEN}', 'g')) AS clean_md5,
           CAST(len(regexp_extract_all(text, '{pii.EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{pii.PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{pii.IPV4_RE}')) AS BIGINT) AS n_ipv4
    FROM planted
    """,
    "north-star PII scrub: email/phone/IPv4 redaction + counts (portable regex, full-text md5 oracle)",
)
def pii_scrub(spark, sf_dir):
    """PII redaction gate. The corpus is synthetic word-soup with no
    organic PII, so the gate plants deterministic doc_id-derived
    emails/phones/IPv4 (same pattern as the planted embedding
    near-dups) and verifies BOTH the counts and the md5 of the entire
    scrubbed text against DuckDB — a single-character divergence in any
    redaction anywhere fails the hash."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((did * 7 % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((did * 13 % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 250).cast("string"),
                    F.lit(".0."),
                    (did % 200).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii.scrub_pii(planted, "doc_id", "text").select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_emails",
        "n_phones",
        "n_ipv4",
    )


@register(
    "benchmark_contamination",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    -- DISTINCT at (doc_id, ng) granularity, not just list_distinct per
    -- row: the operator counts each document's DISTINCT shared n-grams,
    -- and a duplicated document row (fuzz-injected PK violation) must
    -- not double-count them (r14 fuzz twin at sf0.001; identical on
    -- PK-clean data).
    g AS (SELECT DISTINCT doc_id, ng FROM (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(w)-3, 1)+1),
                i -> array_to_string(w[i:i+3], ' ')))) AS ng
            FROM t)),
    b AS (SELECT DISTINCT ng FROM g WHERE doc_id % 50 = 0)
    SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
    FROM g JOIN b USING (ng) WHERE g.doc_id % 50 <> 0 GROUP BY 1
    """,
    "north-star decontamination: benchmark n-gram overlap flagging (broadcast bench-gram join)",
)
def benchmark_contamination(spark, sf_dir):
    """Decontamination gate: docs with doc_id % 50 == 0 play the
    held-out benchmark; every other document is checked for 4-gram
    overlap with them (4, not the production 8-13, because the
    synthetic corpus draws from a ~40-word vocabulary — at n=8 nothing
    overlaps)."""
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    return tx.ngram_contamination(corpus, bench, "doc_id", "text", n=4)


@register(
    "hash_sample_stratified",
    f"""
    WITH s AS (SELECT doc_id, lang,
                 {_hex60_sql("md5(CAST(doc_id AS VARCHAR))")} % 10000
                     AS sample_bucket
               FROM documents)
    SELECT doc_id, lang, CAST(sample_bucket AS BIGINT) AS sample_bucket
    FROM s
    WHERE sample_bucket < CASE lang WHEN 'en' THEN 2000 WHEN 'de' THEN 5000
                                    WHEN 'zh' THEN 10000 ELSE 500 END
    """,
    "north-star deterministic stratified sampling (portable md5 buckets, corpus-mixing rates)",
)
def hash_sample_stratified(spark, sf_dir):
    """Reproducible corpus mixing: per-language keep rates (zh 100%,
    de 50%, en 20%, rest 5%) decided by the portable md5 bucket of the
    doc id — the same row samples identically on any engine, any
    partitioning, any rerun, unlike seed-based `df.sample`."""
    d = _t(spark, sf_dir, "documents")
    sampled = smp.stratified_sample(
        d, "doc_id", "lang",
        {"en": 2000, "de": 5000, "zh": 10000},
        default_bp=500,
    )
    return sampled.select(
        "doc_id", "lang", smp.sample_bucket("doc_id").alias("sample_bucket")
    )


@register(
    "paragraph_dedup_boilerplate",
    """
    WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    pl AS (SELECT doc_id,
             -- coalesce: a slice starting past the end is NULL in
             -- DuckDB but an empty array (-> '') in Spark
             coalesce(array_to_string(w[1:15], ' '), '') || chr(10)
             || coalesce(array_to_string(w[16:30], ' '), '') || chr(10)
             || coalesce(array_to_string(w[31:len(w)], ' '), '')
             || CASE WHEN doc_id % 2 = 0
                     THEN chr(10) || 'subscribe to our newsletter for updates'
                     ELSE '' END AS text2
           FROM s),
    pp AS (SELECT doc_id,
             unnest(string_split(text2, chr(10))) AS para,
             unnest(range(len(string_split(text2, chr(10))))) AS pos
           FROM pl),
    k AS (SELECT doc_id, pos, para, doc_id*100000 + pos AS key,
             min(doc_id*100000 + pos) OVER (PARTITION BY md5(para)) AS mink
          FROM pp)
    SELECT doc_id,
           md5(coalesce(string_agg(para, chr(10) ORDER BY pos)
               FILTER (WHERE key = mink), '')) AS clean_md5,
           CAST(count(*) FILTER (WHERE key = mink) AS BIGINT)
               AS n_kept_paragraphs,
           CAST(count(*) FILTER (WHERE key <> mink) AS BIGINT)
               AS n_dropped_paragraphs
    FROM k GROUP BY doc_id
    """,
    "north-star paragraph-level dedup / boilerplate removal (global first-occurrence + reassembly)",
)
def paragraph_dedup_boilerplate(spark, sf_dir):
    """Paragraph-dedup gate. The word-soup corpus has no paragraph
    structure, so the gate derives one (three token-chunks per doc) and
    plants a boilerplate footer on every even doc_id — the classic
    repeated-across-the-corpus paragraph the pass must keep exactly
    once globally. Hash-checks the md5 of every reassembled document
    plus per-doc kept/dropped counts against DuckDB."""
    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    toks = F.split(F.col("text"), " ")
    text2 = F.concat(
        F.concat_ws(
            "\n",
            F.concat_ws(" ", F.slice(toks, 1, 15)),
            F.concat_ws(" ", F.slice(toks, 16, 15)),
            F.concat_ws(" ", F.slice(toks, 31, 1_000_000)),
        ),
        F.when(
            did % 2 == 0,
            F.lit("\nsubscribe to our newsletter for updates"),
        ).otherwise(F.lit("")),
    )
    planted = d.select("doc_id", text2.alias("text"))
    return dd.paragraph_dedup(planted, "doc_id", "text", sep="\n")


@register(
    "train_val_test_split",
    f"""
    WITH s AS (SELECT doc_id, lang,
                 {_hex60_sql("md5(CAST(doc_id AS VARCHAR))")} % 10000 AS b
               FROM documents)
    SELECT doc_id, lang,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM s
    """,
    "north-star deterministic train/val/test assignment (hash buckets; no cross-rebuild leakage)",
)
def train_val_test_split(spark, sf_dir):
    """90/5/5 split keyed on the portable md5 bucket of doc_id — a
    document can never migrate between splits across corpus rebuilds,
    partitionings, or engines, which is the anti-leakage property
    seed-based sampling lacks."""
    d = _t(spark, sf_dir, "documents")
    return smp.assign_split(
        d, "doc_id", [("train", 9000), ("val", 500), ("test", 500)]
    ).select("doc_id", "lang", "split")


_TB_BUDGETS = {"en": 6000, "de": 2000, "es": 2000, "fr": 2000}  # zh excluded


@register(
    "token_budget_mixture",
    f"""
    WITH d AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             {_hex60_sql("md5(CAST(doc_id AS VARCHAR))")} % 64 AS budget_bucket
      FROM documents WHERE lang IN ('de', 'en', 'es', 'fr')
    ),
    pb AS (
      SELECT lang, budget_bucket, sum(n_tokens) AS bk
      FROM d GROUP BY lang, budget_bucket
    ),
    c AS (
      SELECT lang, budget_bucket,
             CAST(sum(bk) OVER (PARTITION BY lang ORDER BY budget_bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS bucket_cum_tokens
      FROM pb
    ),
    k AS (
      SELECT * FROM c
      WHERE bucket_cum_tokens <= CASE lang
          WHEN 'en' THEN 6000 WHEN 'de' THEN 2000
          WHEN 'es' THEN 2000 WHEN 'fr' THEN 2000 END
    )
    SELECT d.doc_id, d.lang, d.budget_bucket, d.n_tokens, k.bucket_cum_tokens
    FROM d JOIN k ON d.lang = k.lang AND d.budget_bucket = k.budget_bucket
    """,
    "north-star token-budget mixture: per-language corpus selection by token budget (whole-hash-bucket prefix, never over budget)",
)
def token_budget_mixture(spark, sf_dir):
    """Mixture building in the unit mixtures are specified in — tokens
    per stratum, not doc rates: each language keeps the prefix of hash
    buckets whose cumulative token count stays within its budget
    (en 6000 / de 2000 / es 2000 / fr 2000; zh deliberately unbudgeted
    → excluded). The cumulative window runs over the strata×64 bucket
    aggregate, never the corpus."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", tx.whitespace_token_count("text")
    )
    return smp.token_budget_sample(
        d, "doc_id", "n_tokens", "lang", _TB_BUDGETS, n_buckets=64
    )


@register(
    "quality_percentile_gate",
    """
    WITH r AS (SELECT lang, doc_id, n_chars,
                 percent_rank() OVER (PARTITION BY lang ORDER BY n_chars) AS pr
               FROM documents
               WHERE lang IS NOT NULL AND n_chars IS NOT NULL)
    SELECT lang, doc_id, n_chars, pr FROM r WHERE pr >= 0.75
    """,
    "north-star percentile quality gate: top quartile per language by exact percent_rank",
)
def quality_percentile_gate(spark, sf_dir):
    """Keep the top quartile of documents per language by length —
    percentile gating via exact percent_rank, which is an
    engine-portable rational, instead of an interpolated quantile
    cutoff (whose lerp is not)."""
    d = _t(spark, sf_dir, "documents")
    return agg.percent_rank_filter(d, "lang", "n_chars", "doc_id", min_pr=0.75)


def _neardup_between_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    jac = (
        "round(len(list_intersect(sa.shing, sb.shing)) * 1.0"
        " / len(list_distinct(list_concat(sa.shing, sb.shing))), 4)"
    )
    cte = _minhash_lsh_cte(
        num_hashes,
        bands,
        shingle_n,
        pair_cond="a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0",
        a_alias="new_doc_id",
        b_alias="base_doc_id",
    )
    return (
        cte
        + f"""
    SELECT c.new_doc_id, c.base_doc_id, {jac} AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.new_doc_id
    JOIN sh sb ON sb.doc_id = c.base_doc_id
    WHERE {jac} >= {threshold}
    """
    )


@register(
    "neardup_incremental_batch",
    _neardup_between_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star incremental corpus dedup: new batch vs existing corpus, LSH band join + exact verify",
)
def neardup_incremental_batch(spark, sf_dir):
    """Incremental-ingest dedup gate: documents with doc_id % 10 == 0
    play the incoming batch, the rest the existing corpus; near-dups
    of the batch against the corpus are mined by a cross-side band
    equi-join (no new x new, no base x base pair generation) and
    verified with exact shingle-Jaccard >= 0.8.

    r14 (guide §1.2, VERDICT r13 #4): both sides are filters of the
    SAME documents table, so the band index is built in ONE fused
    signature pipeline over the table (one scan, one shingle explode,
    one 64-min aggregate — materialized once) and split by the side
    predicate afterward, instead of compiling and executing the whole
    pipeline once per side. Banding is per-document content hashing,
    so filter-then-band ≡ band-then-filter row for row (the same
    argument as `lsh_index_append`'s append ≡ rebuild); results are
    hash-identical (driver-oracled, gate-boosted for r14)."""
    d = _t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 10 == 0)
    base = d.filter(F.col("doc_id") % 10 != 0)
    banded_all = materialize_once(
        dd.lsh_banded(
            d, "doc_id", "text",
            num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
        )
    )
    bn = banded_all.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("new_doc_id"), "band_idx", "band_hash"
    )
    bb = banded_all.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("base_doc_id"), "band_idx", "band_hash"
    )
    sb = base.select(
        F.col("doc_id").alias("base_doc_id"),
        dd.shingles("text", 3).alias("_sh_b"),
    )
    return dd.neardup_against_index(
        new, bb, sb, "doc_id", "text",
        threshold=0.8, num_hashes=64, bands=16, shingle_n=3,
        hash_family="md5", new_index=bn,
    )


@register(
    "neardup_prefix_incremental",
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
    news  AS (SELECT * FROM ds WHERE doc_id % 10 = 0),
    bases AS (SELECT * FROM ds WHERE doc_id % 10 <> 0),
    dft AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS dfc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM bases) GROUP BY 1
    ),
    onew AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM news) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    obase AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM bases) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    pe_new AS (
      SELECT doc_id, len(otoks) AS n,
             unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM onew
    ),
    pe_base AS (
      SELECT doc_id, len(otoks) AS n,
             unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM obase
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS nid, y.doc_id AS bid
      FROM pe_new x JOIN pe_base y ON x.tok = y.tok
      WHERE x.n * 100 >= y.n * 80 AND y.n * 100 >= x.n * 80
    )
    SELECT new_doc_id, base_doc_id, jaccard FROM (
      SELECT c.nid AS new_doc_id, c.bid AS base_doc_id,
             round(len(list_intersect(a.toks, b.toks)) * 1.0
                   / len(list_distinct(list_concat(a.toks, b.toks))), 4)
               AS jaccard
      FROM cand c
      JOIN news a  ON a.doc_id = c.nid
      JOIN bases b ON b.doc_id = c.bid
    ) WHERE jaccard >= 0.8
    ORDER BY new_doc_id, base_doc_id
    """,
    "EXACT incremental similarity join via prefix filtering: new "
    "batch vs existing corpus under the base's FROZEN df order (the "
    "persistable PrefixIndex pattern), ONE prefix-join-prefix "
    "candidate join, no new x new / base x base pairs, recall "
    "provably 1 — the deterministic counterpart of the LSH "
    "incremental path",
)
def neardup_prefix_incremental(spark, sf_dir):
    """The exact version of the ingest-time dedup gate: every (new,
    base) pair with 3-shingle Jaccard >= 0.8, where docs with
    doc_id % 10 == 0 play the incoming batch (the
    `neardup_incremental_batch` split, so the two paths' outputs are
    directly comparable — the LSH path's pairs must be a SUBSET,
    pinned in pytest). `dedup.py::prefix_filter_between`: prefixes
    ordered by the BASE corpus's document frequency — one frozen
    order keeps the base's PrefixIndex a persistable artifact, and
    any fixed order satisfies the prefix-filter lemma, so candidates
    are ONE prefix-join-prefix equi-join under the size filter (the
    first common element in the global order lies in BOTH prefixes);
    exact verify on candidates only."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
        .distinct()
    )
    new = d.filter(F.col("doc_id") % 10 == 0)
    base = d.filter(F.col("doc_id") % 10 != 0)
    return dd.prefix_filter_between(
        new, base, "doc_id", "text", threshold_pct=80, shingle_n=3
    ).orderBy("new_doc_id", "base_doc_id")


@register(
    "neardup_prefix_index_append",
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
    news  AS (SELECT * FROM ds WHERE doc_id % 10 = 0),
    bases AS (SELECT * FROM ds WHERE doc_id % 10 NOT IN (0, 1)),
    idxd  AS (SELECT * FROM ds WHERE doc_id % 10 <> 0),
    dft AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS dfc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM bases) GROUP BY 1
    ),
    onew AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM news) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    obase AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM idxd) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    pe_new AS (
      SELECT doc_id, len(otoks) AS n,
             unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM onew
    ),
    pe_base AS (
      SELECT doc_id, len(otoks) AS n,
             unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM obase
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS nid, y.doc_id AS bid
      FROM pe_new x JOIN pe_base y ON x.tok = y.tok
      WHERE x.n * 100 >= y.n * 80 AND y.n * 100 >= x.n * 80
    )
    SELECT new_doc_id, base_doc_id, jaccard FROM (
      SELECT c.nid AS new_doc_id, c.bid AS base_doc_id,
             round(len(list_intersect(a.toks, b.toks)) * 1.0
                   / len(list_distinct(list_concat(a.toks, b.toks))), 4)
               AS jaccard
      FROM cand c
      JOIN news a ON a.doc_id = c.nid
      JOIN idxd b ON b.doc_id = c.bid
    ) WHERE jaccard >= 0.8
    ORDER BY new_doc_id, base_doc_id
    """,
    "index MAINTENANCE for the exact near-dup artifact: a second "
    "batch is FOLDED into the persisted PrefixIndex under the frozen "
    "base-df order (append, no rebuild — unseen elements rank rarest "
    "at df 0), then the incoming batch is mined against the appended "
    "index; recall stays provably 1 because the lemma holds for any "
    "one fixed order",
)
def neardup_prefix_index_append(spark, sf_dir):
    """The steady-state corpus-index lifecycle (VERDICT r10 #4):
    `dedup.build_prefix_index` over the original corpus (doc_id % 10
    in 2..9), `dedup.prefix_index_append` folds yesterday's crawl
    (% 10 == 1) in WITHOUT a rebuild — its set/prefix rows computed
    under the FROZEN base order — and today's batch (% 10 == 0) is
    mined against the appended index. Verified pairs equal a full
    rebuild's (append≡rebuild parity pinned in pytest; only candidate
    counts differ as pruning efficiency drifts —
    `dedup.prefix_index_drift_report` is the rebuild trigger). The
    oracle replays the frozen order, both prefix tables, the size
    filter, and the exact verify."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
        .distinct()
    )
    query = d.filter(F.col("doc_id") % 10 == 0)
    add = d.filter(F.col("doc_id") % 10 == 1)
    base = d.filter(F.col("doc_id") % 10 > 1)
    idx = dd.build_prefix_index(
        base, "doc_id", "text", threshold_pct=80, shingle_n=3
    )
    appended = dd.prefix_index_append(idx, add, "doc_id", "text")
    return dd.prefix_filter_against_index(
        query, appended, "doc_id", "text"
    ).orderBy("new_doc_id", "base_doc_id")


@register(
    "prefix_index_drift",
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
    adds  AS (SELECT * FROM ds WHERE doc_id % 10 = 1),
    bases AS (SELECT * FROM ds WHERE doc_id % 10 NOT IN (0, 1)),
    dft AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS dfc
      FROM (SELECT doc_id, unnest(toks) AS tok FROM bases) GROUP BY 1
    ),
    obase AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM bases) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    oadd AS (
      SELECT t.doc_id, list(t.tok ORDER BY coalesce(f.dfc, 0), t.tok)
               AS otoks
      FROM (SELECT doc_id, unnest(toks) AS tok FROM adds) t
      LEFT JOIN dft f ON f.tok = t.tok GROUP BY 1
    ),
    pe AS (
      SELECT unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM obase
      UNION ALL
      SELECT unnest(otoks[1 : len(otoks) - ((80*len(otoks)+99)//100) + 1])
               AS tok
      FROM oadd
    ),
    posts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS prefix_postings
      FROM pe GROUP BY 1
    ),
    j AS (
      SELECT p.tok, CAST(coalesce(f.dfc, 0) AS BIGINT) AS frozen_dfc,
             p.prefix_postings
      FROM posts p LEFT JOIN dft f ON f.tok = p.tok
    )
    SELECT tok, frozen_dfc, prefix_postings,
           CASE WHEN frozen_dfc > 0
                THEN prefix_postings * 1.0 / frozen_dfc
                ELSE prefix_postings * 1.0 END AS growth,
           CASE WHEN frozen_dfc > 0
                THEN (prefix_postings * 1.0 / frozen_dfc) > 4.0
                ELSE prefix_postings >= 2 END AS needs_rebuild
    FROM j ORDER BY prefix_postings DESC, tok LIMIT 20
    """,
    "the rebuild trigger for the append-maintained exact near-dup "
    "index: per prefix element, live posting length vs the FROZEN "
    "order's document frequency — a post-freeze boilerplate phrase "
    "ranks 'rarest' (df 0) and its posting list grows the candidate "
    "join quadratically while recall silently stays 1; the "
    "calibration_drift -> re-encode pattern applied to text",
)
def prefix_index_drift(spark, sf_dir):
    """`dedup.prefix_index_drift_report` over the same index-lifecycle
    split as `neardup_prefix_index_append` (base % 10 in 2..9, folded
    batch % 10 == 1): the top-20 heaviest prefix posting lists with
    their frozen-df growth and the needs_rebuild flag. One
    map-side-combined count over the prefix table, one join on the
    element key, TakeOrdered — never touches document sets."""
    d = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .select("doc_id", "text")
        .distinct()
    )
    add = d.filter(F.col("doc_id") % 10 == 1)
    base = d.filter(F.col("doc_id") % 10 > 1)
    idx = dd.build_prefix_index(
        base, "doc_id", "text", threshold_pct=80, shingle_n=3
    )
    appended = dd.prefix_index_append(idx, add, "doc_id", "text")
    return dd.prefix_index_drift_report(appended)


@register(
    "corpus_vocabulary",
    """
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    a AS (SELECT tok, count(*) AS total_tf,
                 count(DISTINCT doc_id) AS doc_freq
          FROM t GROUP BY tok),
    r AS (SELECT CAST(row_number() OVER (ORDER BY total_tf DESC, tok)
                     AS INTEGER) AS vocab_rank,
                 tok, total_tf, doc_freq
          FROM a)
    SELECT vocab_rank, tok, total_tf, doc_freq FROM r WHERE vocab_rank <= 100
    """,
    "north-star vocabulary building: corpus token df/tf, top-k by term frequency",
)
def corpus_vocabulary(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return tx.vocabulary(d, "doc_id", "text", top_k=100)


def _neardup_cluster_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    """Full-pipeline oracle for `neardup_cluster_dedup`: the LSH+verify
    pair CTE chain, then connected components as a recursive CTE
    (min-reachable-node per node ≡ the min-label fixpoint the Spark
    propagation loop converges to)."""
    jac = (
        "round(len(list_intersect(sa.shing, sb.shing)) * 1.0"
        " / len(list_distinct(list_concat(sa.shing, sb.shing))), 4)"
    )
    cte = _minhash_lsh_cte(num_hashes, bands, shingle_n).replace(
        "WITH toks", "WITH RECURSIVE toks", 1
    )
    return (
        cte
        + f""", ver AS (
      SELECT c.doc_id_a, c.doc_id_b
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_id_a
      JOIN sh sb ON sb.doc_id = c.doc_id_b
      WHERE {jac} >= {threshold}),
    edges AS (SELECT doc_id_a AS u, doc_id_b AS v FROM ver
              UNION SELECT doc_id_b, doc_id_a FROM ver),
    cc(node, root) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, cc.root FROM cc JOIN edges e ON e.u = cc.node),
    comp AS (SELECT node, min(root) AS cluster_id FROM cc GROUP BY node)
    SELECT d.doc_id,
           coalesce(comp.cluster_id, d.doc_id) AS cluster_id,
           coalesce(comp.cluster_id, d.doc_id) = d.doc_id AS keep
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    """
    )


@register(
    "neardup_cluster_dedup",
    _neardup_cluster_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star near-dup cluster resolution: connected components over LSH-verified pairs, canonical doc per cluster",
)
def neardup_cluster_dedup(spark, sf_dir):
    """The final dedup decision: pairwise near-dups resolved to
    clusters (iterative min-label propagation, O(diameter) rounds) and
    exactly one canonical survivor per cluster. Output is the full
    corpus assignment (doc_id, cluster_id, keep)."""
    from purpleair_data_logger_spark.operators import clusters as cl

    d = _t(spark, sf_dir, "documents")
    pairs = dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )
    return cl.cluster_dedup(d, "doc_id", pairs)


def _neardup_cluster_keep_longest_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    """`_neardup_cluster_oracle` with the survivor policy flipped to
    quality (longest doc wins, ties by id)."""
    base = _neardup_cluster_oracle(num_hashes, bands, shingle_n, threshold)
    head, _, _ = base.rpartition("SELECT d.doc_id,")
    return (
        head.rstrip()
        + """, clustered AS (
      SELECT d.doc_id, comp.cluster_id, d.n_chars
      FROM documents d JOIN comp ON comp.node = d.doc_id),
    ranked AS (
      SELECT doc_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY n_chars DESC, doc_id) = 1 AS keep
      FROM clustered)
    SELECT doc_id, cluster_id, keep FROM ranked
    UNION ALL
    SELECT d.doc_id, d.doc_id AS cluster_id, TRUE AS keep
    FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    WHERE comp.node IS NULL
    """
    )


@register(
    "neardup_clusters_star",
    _neardup_cluster_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star cluster resolution via large-star/small-star (O(log^2 n) rounds) — same oracle as the label-propagation path",
)
def neardup_clusters_star(spark, sf_dir):
    """Identical output contract to `neardup_cluster_dedup`, computed
    with the Kiveris et al. large-star/small-star alternation instead
    of label propagation — both implementations are held to the same
    recursive-CTE oracle, so the driver gate verifies each."""
    from purpleair_data_logger_spark.operators import clusters as cl

    d = _t(spark, sf_dir, "documents")
    pairs = dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )
    cc = cl.connected_components_star(pairs, "doc_id_a", "doc_id_b")
    out = d.join(cc, d["doc_id"] == cc["node"], "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return out.select(
        F.col("doc_id"),
        cluster.alias("cluster_id"),
        (F.col("doc_id") == cluster).alias("keep"),
    )


@register(
    "neardup_cluster_keep_best",
    _neardup_cluster_keep_longest_oracle(
        num_hashes=64, bands=16, shingle_n=3, threshold=0.8
    ),
    "north-star cluster dedup, production survivor policy: keep the best (longest) member per cluster",
)
def neardup_cluster_keep_best(spark, sf_dir):
    """Same component resolution as `neardup_cluster_dedup`, but the
    survivor is chosen by quality (n_chars desc, ties by id) — the
    usual production policy. The selection window runs over the
    clustered subset only, never the full corpus."""
    from purpleair_data_logger_spark.operators import clusters as cl

    d = _t(spark, sf_dir, "documents")
    pairs = dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )
    return cl.cluster_dedup(
        d, "doc_id", pairs, prefer=[F.desc("n_chars")]
    )


def _corpus_build_final_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    """End-to-end corpus-build oracle: LSH cluster dedup → benchmark
    decontamination → split assignment → per-split token accounting.
    Splices the recursive cluster CTE with the contamination CTEs and
    the portable split buckets."""
    base = _neardup_cluster_oracle(num_hashes, bands, shingle_n, threshold)
    head, _, _ = base.rpartition("SELECT d.doc_id,")
    bucket = _hex60_sql("md5(CAST(doc_id AS VARCHAR))")
    return (
        head.rstrip()
        + f""", t2 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g2 AS (SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(w)-3, 1)+1),
             i -> array_to_string(w[i:i+3], ' ')))) AS ng
           FROM t2),
    b2 AS (SELECT DISTINCT ng FROM g2 WHERE doc_id % 50 = 0),
    flagged AS (SELECT DISTINCT g2.doc_id
                FROM g2 JOIN b2 USING (ng) WHERE g2.doc_id % 50 <> 0),
    keepers AS (
      SELECT d.doc_id, d.text
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
      WHERE coalesce(comp.cluster_id, d.doc_id) = d.doc_id
        AND d.doc_id % 50 <> 0),
    clean AS (
      SELECT k.doc_id, k.text FROM keepers k
      LEFT JOIN flagged f ON f.doc_id = k.doc_id
      WHERE f.doc_id IS NULL),
    sp AS (
      SELECT CASE WHEN {bucket} % 10000 < 9000 THEN 'train'
                  WHEN {bucket} % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM clean)
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM sp GROUP BY split
    """
    )


@register(
    "corpus_build_final",
    _corpus_build_final_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star end-to-end corpus build: cluster dedup -> decontaminate -> split -> token accounting",
)
def corpus_build_final(spark, sf_dir):
    """The whole training-corpus build as one declarative plan:
    near-dup cluster survivors (LSH + connected components), minus the
    held-out benchmark docs (doc_id % 50 == 0) and every doc with
    4-gram overlap against them, assigned to leakage-proof hash splits,
    accounted in docs and tokens per split. Every stage is the same
    operator the standalone gate queries exercise — this query pins
    that they compose."""
    from purpleair_data_logger_spark.operators import clusters as cl

    d = _t(spark, sf_dir, "documents")
    pairs = dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )
    survivors = (
        cl.cluster_dedup(d, "doc_id", pairs)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    # left_semi, not inner: a duplicate-PK corpus row must pass the
    # survivor gate once per source row, never be MULTIPLIED by the
    # survivor table's own duplicate rows (fuzz-found, r6 — the oracle
    # filters `documents` rows, the SQL shape of a semi join).
    corpus = d.join(survivors, "doc_id", "left_semi").filter(
        F.col("doc_id") % 50 != 0
    )
    bench = d.filter(F.col("doc_id") % 50 == 0)
    flagged = tx.ngram_contamination(corpus, bench, "doc_id", "text", n=4)
    clean = corpus.join(flagged.select("doc_id"), "doc_id", "left_anti")
    split = smp.assign_split(
        clean, "doc_id", [("train", 9000), ("val", 500), ("test", 500)]
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.whitespace_token_count("text")).alias("total_tokens"),
    )


def _leakage_safe_split_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    """Cluster CTE chain + split buckets keyed on the CLUSTER id."""
    base = _neardup_cluster_oracle(num_hashes, bands, shingle_n, threshold)
    head, _, _ = base.rpartition("SELECT d.doc_id,")
    bucket = _hex60_sql("md5(CAST(cluster_id AS VARCHAR))")
    return (
        head.rstrip()
        + f""", assigned AS (
      SELECT d.doc_id, coalesce(comp.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id)
    SELECT doc_id, cluster_id,
           CASE WHEN {bucket} % 10000 < 9000 THEN 'train'
                WHEN {bucket} % 10000 < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """
    )


@register(
    "leakage_safe_split",
    _leakage_safe_split_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star leakage-safe splits: train/val/test keyed on the near-dup CLUSTER hash, so near-identical docs never straddle splits",
)
def leakage_safe_split(spark, sf_dir):
    """`train_val_test_split` hashes the doc id, which lets two
    near-identical documents land in train AND test — exactly the
    contamination a dedup pass exists to prevent. This variant hashes
    the near-dup cluster id instead: every member of a duplicate
    cluster shares one bucket draw, so a cluster moves between splits
    as a unit or not at all."""
    from purpleair_data_logger_spark.operators import clusters as cl

    d = _t(spark, sf_dir, "documents")
    pairs = dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )
    assigned = cl.cluster_dedup(d, "doc_id", pairs).select("doc_id", "cluster_id")
    return smp.assign_split(
        assigned, "cluster_id", [("train", 9000), ("val", 500), ("test", 500)]
    ).select("doc_id", "cluster_id", "split")


@register(
    "domain_cap_sample",
    f"""
    WITH r AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY {_hex60_sql("md5(CAST(doc_id AS VARCHAR))")}, doc_id
             ) AS INTEGER) AS group_rank
      FROM documents)
    SELECT doc_id, source, group_rank FROM r WHERE group_rank <= 10
    """,
    "north-star per-domain cap: at most K docs per source, deterministic hash order",
)
def domain_cap_sample(spark, sf_dir):
    """The crawl-pipeline per-host cap (no single domain dominates the
    corpus): keep the 10 hash-smallest docs per source — exact-K,
    rerun/engine/partitioning-stable."""
    d = _t(spark, sf_dir, "documents")
    return smp.capped_per_group(d.select("doc_id", "source"), "doc_id", "source", 10)


@register(
    "document_chunking",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
               WHERE text IS NOT NULL),
    s AS (SELECT doc_id, len(w) AS n,
            list_transform(range(1, greatest(len(w) - 10, 1) + 1, 30),
                           st -> array_to_string(w[st:st+39], ' ')) AS chunks
          FROM t),
    x AS (SELECT doc_id, n,
            CAST(unnest(range(len(chunks))) AS INTEGER) AS chunk_idx,
            unnest(chunks) AS chunk
          FROM s)
    SELECT doc_id, chunk_idx,
           CAST(1 + chunk_idx * 30 AS BIGINT) AS chunk_start,
           CAST(least(40, n - chunk_idx * 30) AS BIGINT) AS n_chunk_tokens,
           md5(chunk) AS chunk_md5
    FROM x
    """,
    "north-star document chunking: overlapping token windows for embedding/RAG prep (40-token chunks, 10 overlap)",
)
def document_chunking(spark, sf_dir):
    """Chunking gate: 40-token windows striding 30 (10-token overlap),
    one row per chunk with its 1-based token start, actual length, and
    text digest — the pass that turns documents into embedding-model
    inputs. Pure codegen sequence/transform/posexplode; no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return tx.chunk_documents(
        d, "doc_id", "text", chunk_tokens=40, overlap_tokens=10
    )


@register(
    "sequence_packing",
    f"""
    WITH t AS (SELECT doc_id,
                 {_hex60_sql("md5(CAST(doc_id AS VARCHAR))")} AS h,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents),
    o AS (SELECT doc_id, CAST(h % 16 AS INTEGER) AS shard,
             coalesce(sum(n_tok) OVER (
               PARTITION BY h % 16 ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS so
          FROM t)
    SELECT doc_id, shard, CAST(so AS BIGINT) AS start_offset,
           CAST(so // 512 AS BIGINT) AS seq_in_shard
    FROM o
    """,
    "north-star sequence packing: shard-local token-budget binning, no global sort",
)
def sequence_packing(spark, sf_dir):
    """Training-sequence assignment: hash-sharded, hash-ordered token
    cumsum → each doc's start offset and 512-token sequence index.
    One shuffle on shard, per-shard sort, window cumsum — no global
    ordering anywhere in the plan."""
    from purpleair_data_logger_spark.operators import packing as pk

    d = _t(spark, sf_dir, "documents")
    with_counts = d.select(
        "doc_id", tx.whitespace_token_count("text").alias("n_tok")
    )
    return pk.pack_sequences(
        with_counts, "doc_id", "n_tok", budget=512, n_shards=16
    )


@register(
    "multimodal_frame_sample",
    """
    WITH p AS (SELECT doc_id AS media_id, text,
                 greatest(length(text) // 64, 1) AS n_avail
               FROM documents WHERE text IS NOT NULL),
    m AS (SELECT media_id, text, n_avail, least(4, n_avail) AS m FROM p),
    f AS (SELECT media_id, CAST(k AS INT) AS frame_idx,
             CAST(k * (n_avail // m) * 64 AS BIGINT) AS frame_offset,
             md5(substr(text, k * (n_avail // m) * 64 + 1, 64)) AS frame_md5
          FROM m, LATERAL unnest(range(m)) t(k))
    SELECT media_id, frame_idx, frame_offset, frame_md5 FROM f
    """,
    "north-star multimodal: 1:N frame sampling over binary payloads (mapInPandas explode-in-batch)",
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling gate over text-derived binary payloads (the
    corpus is ASCII, so DuckDB's character substr/md5 replays the
    byte-slice digests of `fake_frame_extractor` exactly). Pins the
    1:N mapInPandas shape: per-media frame rows with stride-sampled
    offsets and frame digests."""
    from purpleair_data_logger_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    media = mm.attach_binary_payload(d, "doc_id", "text")
    return mm.sample_frames(
        media, frame_size=64, n_frames=4, frame_extractor=mm.fake_frame_extractor
    )


@register(
    "median_value_by_event_type",
    """
    WITH vals AS (
      SELECT event_type, value, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, value,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1
               AS rnk,
             cnt,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM vals
    )
    SELECT event_type, value AS median, CAST(n AS BIGINT) AS n
    FROM ranked
    WHERE rnk <= (n + 1) // 2 AND (n + 1) // 2 <= rnk + cnt - 1
    """,
    "A-family extension: exact per-group median as the k-th order "
    "statistic over the distinct-value aggregate (no corpus sort, no "
    "interpolation)",
)
def median_value_by_event_type(spark, sf_dir):
    """Exact lower median of value per event type — an observed value
    picked by rank interval over the per-(group, value) count table,
    not an interpolated (engine-divergent) lerp and not a corpus
    sort."""
    e = _t(spark, sf_dir, "events")
    return agg.grouped_median_exact(e, "event_type", "value")


@register(
    "m4_downsample_15min",
    """
    WITH s AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
             user_id, ts, value
      FROM events WHERE value IS NOT NULL
    ), a AS (
      SELECT bucket_ts, user_id, count(*) AS n,
             min(struct_pack(t := ts, v := value)) AS fs,
             max(struct_pack(t := ts, v := value)) AS ls,
             min(struct_pack(v := value, t := ts)) AS lo,
             max(struct_pack(v := value, t := ts)) AS hi
      FROM s GROUP BY 1, 2
    )
    SELECT bucket_ts, user_id, n,
           fs.v AS v_first, ls.v AS v_last,
           lo.v AS v_min, lo.t AS t_at_min,
           hi.v AS v_max, hi.t AS t_at_max
    FROM a
    """,
    "A2 extension: M4 visualization-oriented downsampling (Jugel et "
    "al. VLDB 2014) — the four per-pixel-bucket extremes a dashboard "
    "needs for pixel-exact line rendering, superset of the Grafana "
    "panel MAX (reference dashboard $__timeGroupAlias panels)",
)
def m4_downsample_15min(spark, sf_dir):
    """Per (sensor key, 15-min pixel bucket): first/last by time and
    min/max by value with their timestamps — one map-side-combined
    hash aggregate whose output size is the rendered chart, not the
    corpus. All extremes are lexicographic struct min/max: exact
    comparisons, deterministic ties, cross-engine identical."""
    e = _t(spark, sf_dir, "events")
    return hf.m4_downsample(e, "ts", "user_id", "value", 900)


@register(
    "counter_delta_hourly",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             time_bucket(INTERVAL '1 hour', ts) AS bucket_ts
      FROM events WHERE value IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ), d AS (
      SELECT user_id, bucket_ts, c,
             lag(c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p
      FROM s
    )
    SELECT user_id, bucket_ts,
           CAST(sum(CASE WHEN p IS NULL THEN 0
                         WHEN c >= p THEN c - p
                         ELSE c END) AS DOUBLE) / 100.0 AS counter_delta,
           CAST(sum(CASE WHEN p IS NOT NULL AND c < p THEN 1 ELSE 0 END)
                AS BIGINT) AS n_resets,
           count(*) AS n_samples
    FROM d GROUP BY 1, 2
    """,
    "A-family extension: TimescaleDB counter_agg→delta — per-bucket "
    "increase of a resetting monotone counter (reboot-safe rate "
    "accounting the reference's uptime/rssi fields need at scale)",
)
def counter_delta_hourly(spark, sf_dir):
    """Hourly counter increase per sensor key, reset-aware: consecutive
    diffs in exact scaled-integer arithmetic, bucket-edge pairs
    stitched via a lag over the per-bucket AGGREGATE (never a
    corpus-row window on the bare key — the VERDICT r3 skew rule)."""
    e = _t(spark, sf_dir, "events")
    return hf.counter_delta(e, "ts", "user_id", "value", "event_id", 3600)


@register(
    "heartbeat_uptime_hourly",
    """
    WITH s AS (
      SELECT user_id, epoch_us(ts) AS t, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ), iv AS (
      SELECT user_id, t,
             least(coalesce(lead(t) OVER (PARTITION BY user_id
                                          ORDER BY t, event_id),
                            t + 1800000000), t + 1800000000) AS e
      FROM s
    ), ex AS (
      SELECT user_id, t, e,
             unnest(range(t // 3600000000, (e - 1) // 3600000000 + 1)) AS b
      FROM iv WHERE e > t
    )
    SELECT user_id,
           make_timestamp(b * 3600000000) AS bucket_ts,
           CAST(sum(least(e, (b + 1) * 3600000000)
                    - greatest(t, b * 3600000000)) AS BIGINT) AS uptime_us,
           CAST(sum(least(e, (b + 1) * 3600000000)
                    - greatest(t, b * 3600000000)) AS DOUBLE)
             / 3600000000.0 AS uptime_ratio
    FROM ex GROUP BY 1, 2
    """,
    "R-family extension: TimescaleDB heartbeat_agg — per-bucket "
    "liveness union from poll heartbeats (the 'did the 65 s logger "
    "loop stay up' SLO over reference PurpleAirDataLogger.py's "
    "cadence)",
)
def heartbeat_uptime_hourly(spark, sf_dir):
    """Hourly uptime per sensor key with a 30-min heartbeat timeout:
    next-reading-truncated live intervals exploded onto the buckets
    they span (bounded factor), summed exactly in microseconds. The
    sequential lookup is two-tier (within-bucket lead + aggregate-
    level lead), never a corpus-row window on the bare key."""
    e = _t(spark, sf_dir, "events")
    return hf.heartbeat_uptime(e, "ts", "user_id", "event_id", 3600, 1800)


@register(
    "weighted_sample_docs",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
             ln((CAST({_hex60_sql("md5(CAST(doc_id AS VARCHAR))")}
                      % 1099511627776 AS DOUBLE) + 1) / 1099511627777.0)
               / len(string_split(text, ' ')) AS pri
      FROM documents
    ), r AS (
      SELECT doc_id, lang, weight,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY pri DESC, doc_id)
                  AS INTEGER) AS sample_rank
      FROM s WHERE weight > 0
    )
    SELECT doc_id, lang, weight, sample_rank FROM r
    WHERE sample_rank <= 20
    """,
    "north-star weighted sampling: Efraimidis–Spirakis A-Res as a "
    "deterministic per-stratum top-k (length-weighted corpus "
    "subsampling, portable md5 uniforms)",
)
def weighted_sample_docs(spark, sf_dir):
    """Top-20 docs per language, inclusion probability proportional to
    whitespace token count: the A-Res priority ln(u)/w over portable
    md5 uniforms, so the reservoir draw is reproducible on any
    engine/partitioning and the oracle replays it exactly."""
    d = _t(spark, sf_dir, "documents")
    weighted = d.withColumn(
        "weight", F.size(F.split(F.col("text"), " ")).cast("long")
    )
    return smp.weighted_sample_per_group(
        weighted, "doc_id", "lang", "weight", 20
    ).select("doc_id", "lang", "weight", "sample_rank")


@register(
    "value_percentiles_by_event_type",
    """
    WITH vals AS (
      SELECT event_type, value, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, value,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1
               AS rnk,
             cnt,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM vals
    )
    SELECT event_type, CAST(p.p_bp AS BIGINT) AS p_bp,
           value AS pctl_value, CAST(n AS BIGINT) AS n
    FROM ranked CROSS JOIN (VALUES (5000), (9500), (9900)) p(p_bp)
    WHERE rnk <= (p.p_bp * n + 9999) // 10000
      AND (p.p_bp * n + 9999) // 10000 <= rnk + cnt - 1
    """,
    "A-family extension: exact P50/P95/P99 per group by nearest rank "
    "over the distinct-value aggregate — the dashboard latency row "
    "without interpolation lerp or a corpus sort",
)
def value_percentiles_by_event_type(spark, sf_dir):
    """Exact nearest-rank P50/P95/P99 of value per event type: target
    rank k = ⌈p·n⌉ in integer basis-point arithmetic over the
    per-(group, value) count table — observed values, engine-portable,
    never a corpus sort (generalizes median_value_by_event_type)."""
    e = _t(spark, sf_dir, "events")
    return agg.grouped_percentiles_exact(
        e, "event_type", "value", (5000, 9500, 9900)
    )


def _zorder_oracle() -> str:
    from purpleair_data_logger_spark.sinks.corpus_lake import zorder_key_sql

    z = zorder_key_sql(
        "user_id", "CAST(round(value * 100) AS BIGINT)", bits=16
    )
    return f"""
    SELECT event_id, CAST({z} AS BIGINT) AS z_key
    FROM events WHERE value IS NOT NULL
    """


@register(
    "zorder_key_events",
    _zorder_oracle(),
    "O3 extension: Morton/Z-order clustering key (Delta/Iceberg "
    "OPTIMIZE ZORDER BY analog) — bit-interleaved layout key so "
    "parquet row-group min/max skips on BOTH dimensions; pure "
    "shift/mask codegen, engine-portable",
)
def zorder_key_events(spark, sf_dir):
    """The 32-bit Morton key of (sensor key, centi-scaled value):
    the multi-dimensional clustering key `sinks/corpus_lake.py::
    write_zordered` sorts by — 2×16 shift/mask/or terms of exact
    integer codegen, replayed bit-for-bit by the oracle."""
    from purpleair_data_logger_spark.sinks.corpus_lake import zorder_key

    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("value").isNotNull()).select(
        "event_id",
        zorder_key(
            F.col("user_id"),
            F.round(F.col("value") * 100).cast("long"),
            bits=16,
        ).alias("z_key"),
    )


@register(
    "hll_daily_users_merge",
    None,  # the sketch bytes are engine-specific (Apache DataSketches
    # HLL); no SQL oracle can replay them. Accuracy is pytest-pinned
    # against the exact distinct counts (tests/test_llm_ops.py
    # precedent: approx_distinct_profile).
    "A5/profiling extension: persistable-sketch distinct counting — "
    "per-day hll_sketch_agg partials merged with hll_union_agg, the "
    "incremental pattern that replaces full-corpus COUNT(DISTINCT) "
    "re-scans for always-on dashboards",
)
def hll_daily_users_merge(spark, sf_dir):
    """Mergeable distinct-count maintenance: build one HLL sketch per
    day (map-side combinable aggregate over that day's partitions
    ONLY), then answer the all-time distinct-users question by merging
    the per-day sketches — never re-scanning history. At 100 TB this
    is the difference between an incremental O(new day) update and a
    full-corpus COUNT(DISTINCT) per dashboard refresh; the per-day
    sketch table is the persisted artifact. Output: one row per day
    with its estimate, plus the merged all-time estimate attached (a
    1-row broadcast cross join), both as exact-typed BIGINTs."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id)").alias("_sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    merged = daily.agg(
        F.expr(
            "CAST(hll_sketch_estimate(hll_union_agg(_sk)) AS BIGINT)"
        ).alias("est_total_users")
    )
    return (
        daily.select(
            "day",
            F.expr("CAST(hll_sketch_estimate(_sk) AS BIGINT)").alias(
                "est_day_users"
            ),
            "n_events",
        )
        .crossJoin(F.broadcast(merged))
    )


@register(
    "token_fertility_by_lang",
    """
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
               AS total_bpe_tokens,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
               AS total_ws_tokens,
           CAST(sum(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE)
             / CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               AS fertility
    FROM documents GROUP BY lang
    """,
    "north-star mixture-design metric: tokenizer fertility "
    "(BPE-ish tokens per whitespace word) per language — the "
    "statistic that converts word budgets into token budgets per "
    "stratum",
)
def token_fertility_by_lang(spark, sf_dir):
    """Per-language tokenizer fertility: Σ BPE-ish tokens / Σ
    whitespace words — exact BIGINT sums (order-independent), one
    final division; one map-side-combined aggregate over the same
    codegen token expressions `text_quality` uses. The number that
    turns a per-language word budget into the token budget
    `token_budget_sample` actually needs."""
    d = _t(spark, sf_dir, "documents")
    bpe = tx.bpe_token_count("text")
    ws = tx.whitespace_token_count("text")
    return d.groupBy("lang").agg(
        F.sum(bpe).alias("total_bpe_tokens"),
        F.sum(ws).alias("total_ws_tokens"),
        (
            F.sum(bpe).cast("double") / F.sum(ws).cast("double")
        ).alias("fertility"),
    )


@register(
    "downtime_incidents",
    """
    WITH s AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT user_id, prev AS gap_start_ts, ts AS gap_end_ts,
           CAST(epoch_us(ts) - epoch_us(prev) AS BIGINT) AS gap_us
    FROM s
    WHERE prev IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev) > 1800000000
    """,
    "R-family extension: downtime incident report — gaps between "
    "consecutive readings beyond the threshold (the WHEN/how-long "
    "inverse of heartbeat_agg), two-tier lag so no corpus-row window "
    "keys on the bare sensor id",
)
def downtime_incidents(spark, sf_dir):
    """Every >30-min silence per sensor key with its exact start/end/
    duration: in-partition lag over (key, day) plus a boundary stitch
    over the per-day aggregate — the VERDICT r3 skew rule applied to
    gap detection."""
    e = _t(spark, sf_dir, "events")
    return hf.gap_incidents(e, "ts", "user_id", "event_id", 1800)


@register(
    "state_agg_user_event",
    """
    WITH s AS (
      SELECT user_id, event_type, epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt
      FROM events WHERE event_type IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT user_id, event_type,
           CAST(sum(nxt - t) AS BIGINT) AS duration_us,
           count(*) AS n_samples
    FROM s WHERE nxt IS NOT NULL
    GROUP BY 1, 2
    """,
    "R-family extension: TimescaleDB state_agg — time-in-state per "
    "(key, state) under LOCF, exact BIGINT microseconds; the "
    "channel_state/channel_flags read "
    "(PurpleAirPSQLQueryStatements.py:28-31), two-tier lead so no "
    "corpus-row window keys on the bare sensor id",
)
def state_agg_user_event(spark, sf_dir):
    """How long each sensor key spent in each state (event_type as
    the categorical), LOCF semantics — each reading's state holds
    until the next reading; the last reading's open tail contributes
    nothing (the streaming mirrors own the live tail).
    `hf.state_agg`: bounded (key, day) lead windows + a boundary
    stitch over the per-day aggregate."""
    e = _t(spark, sf_dir, "events")
    return hf.state_agg(e, "ts", "user_id", "event_type", "event_id")


@register(
    "state_durations_hourly",
    """
    WITH s AS (
      SELECT user_id, event_type, epoch_us(ts) AS t, event_id,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS nxt
      FROM events WHERE event_type IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ), iv AS (
      SELECT * FROM s WHERE nxt IS NOT NULL AND nxt > t
    ), ex AS (
      SELECT user_id, event_type, t, nxt,
             unnest(range(t // 3600000000, (nxt - 1) // 3600000000 + 1))
               AS b
      FROM iv
    )
    SELECT user_id, event_type,
           make_timestamp(b * 3600000000) AS bucket_ts,
           CAST(sum(least(nxt, (b + 1) * 3600000000)
                    - greatest(t, b * 3600000000)) AS BIGINT) AS duration_us
    FROM ex GROUP BY 1, 2, 3
    """,
    "R-family extension: TimescaleDB duration_in(state, agg, bucket) "
    "— per-(key, state, hour) exact time-in-state under LOCF; the "
    "state_agg totals resolved onto the dashboard time axis via the "
    "heartbeat clip-explode",
)
def state_durations_hourly(spark, sf_dir):
    """Hourly seconds-in-state per (sensor, state): LOCF intervals
    from the two-tier lead, exploded onto the hours they span
    (JVM-side sequence) and clipped exactly — consecutive intervals
    never overlap so clipped lengths sum without a merge pass.
    `hf.state_agg_bucketed`."""
    e = _t(spark, sf_dir, "events")
    return hf.state_agg_bucketed(
        e, "ts", "user_id", "event_type", "event_id", 3600
    )


@register(
    "state_timeline_transitions",
    """
    WITH s AS (
      SELECT user_id, ts, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_st
      FROM events WHERE event_type IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT user_id, ts AS transition_ts,
           prev_st AS from_state, event_type AS to_state
    FROM s WHERE prev_st IS NOT NULL AND prev_st <> event_type
    """,
    "R-family extension: TimescaleDB timeline_agg — the ordered "
    "state-transition edge list (WHEN each key changed state), "
    "two-tier lag with a deterministic struct-max boundary stitch",
)
def state_timeline_transitions(spark, sf_dir):
    """Every state CHANGE per sensor key: (key, transition_ts,
    from_state, to_state) — the companion read to state_agg's
    per-state totals. `hf.state_timeline`: in-partition lag over
    (key, day) plus previous-day-last-state stitch via a
    lexicographic struct max (deterministic under duplicate
    timestamps)."""
    e = _t(spark, sf_dir, "events")
    return hf.state_timeline(e, "ts", "user_id", "event_type", "event_id")


@register(
    "scd2_user_state",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
             ) AS prev_st
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND event_type IS NOT NULL
    ),
    chg AS (
      SELECT user_id, ts, event_id, event_type FROM s
      WHERE prev_st IS NULL OR prev_st <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           lead(ts) OVER w IS NULL AS is_current,
           CAST(row_number() OVER w AS BIGINT) AS version_n
    FROM chg
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
    "warehouse-standard SCD type-2 dimension build from the event "
    "changelog: one row per state EPISODE with [valid_from, valid_to) "
    "validity, is_current, per-key version numbers — consecutive "
    "equal states collapse, deterministic (ts, id) versioning",
)
def scd2_user_state(spark, sf_dir):
    """The versioned user-state dimension (`operators/scd.py`): what
    state was each user in, when, as the interval table facts join
    against (the `range_join_click_error` shape) — the TABLE form of
    the state family next to state_agg's totals and state_timeline's
    transition edges, and the batch analog of the CDC snapshot diff.

    Scale: one key-shuffle window finds change points; the closing /
    numbering windows run over change rows only (a small fraction of
    any log that observes faster than it changes)."""
    from purpleair_data_logger_spark.operators import scd

    e = _t(spark, sf_dir, "events")
    return scd.scd2_from_changelog(
        e, ["user_id"], "ts", "event_id", "event_type"
    )


@register(
    "dq_report_events",
    """
    WITH g AS (
      SELECT count(*) AS n,
             sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v0,
             count(*) - count(DISTINCT struct_pack(k := event_id)) AS v1,
             sum(CASE WHEN value IS NOT NULL
                       AND (value < 0 OR value > 1000) THEN 1 ELSE 0 END)
               AS v2,
             sum(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                      ('click','error','purchase','signup','view')
                      THEN 1 ELSE 0 END) AS v3,
             sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS v4
      FROM events
    )
    SELECT c.constraint, g.n AS n_rows,
           CAST(CASE c.i WHEN 0 THEN g.v0 WHEN 1 THEN g.v1 WHEN 2 THEN g.v2
                         WHEN 3 THEN g.v3 ELSE g.v4 END AS BIGINT)
               AS violations,
           (CASE c.i WHEN 0 THEN g.v0 WHEN 1 THEN g.v1 WHEN 2 THEN g.v2
                     WHEN 3 THEN g.v3 ELSE g.v4 END) = 0 AS passed
    FROM g CROSS JOIN (VALUES
        (0, 'not_null(event_id)'),
        (1, 'unique(event_id)'),
        (2, 'in_range(value,0.0,1000.0)'),
        (3, 'accepted_values(event_type)'),
        (4, 'not_null(ts)')) c(i, "constraint")
    """,
    "write-gate extension: declarative data-quality report "
    "(Deequ/expectations pattern) — N constraints compiled into ONE "
    "map-side-combined aggregate pass, exact violation counts, "
    "engine-portable verdicts",
)
def dq_report_events(spark, sf_dir):
    """The pre-publish quality gate on the events batch: five
    constraints (PK not-null + unique, value range, accepted event
    types, timestamp present) computed in one aggregate scan and
    exploded into one report row each — `operators/quality.py`, with
    `check_or_raise` gating writes on the same report."""
    from purpleair_data_logger_spark.operators import quality as dq

    e = _t(spark, sf_dir, "events")
    return dq.quality_report(
        e,
        [
            dq.not_null("event_id"),
            dq.unique(["event_id"]),
            dq.in_range("value", 0.0, 1000.0),
            dq.accepted_values(
                "event_type",
                ["click", "error", "purchase", "signup", "view"],
            ),
            dq.not_null("ts"),
        ],
    )




@register(
    "corpus_snapshot_diff",
    """
WITH o AS (SELECT doc_id, text, TRUE AS in_old FROM documents),
n AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN translate(text, 'a', '4')
              ELSE text END AS text,
         TRUE AS in_new
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 20000000, text, TRUE FROM documents WHERE doc_id % 17 = 0),
j AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN in_old IS NULL THEN 'added'
              WHEN in_new IS NULL THEN 'removed'
              WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
              ELSE 'unchanged' END AS change
  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id, change FROM j WHERE change <> 'unchanged'
""",
    "north-star corpus lifecycle: snapshot diff between two builds -> "
    "(doc_id, added/removed/changed), the incremental-retraining driver",
)
def corpus_snapshot_diff(spark, sf_dir):
    """`corpus_lake.diff_corpus` over two deterministic corpus builds:
    the new snapshot drops every 13th doc (removed), rewrites every
    11th survivor's text (changed, null-safe IS DISTINCT FROM
    comparison), and appends a +20M-id copy of every 17th doc (added).
    Output is O(changes), never O(corpus) — at scale both snapshots
    come out of `write_corpus` with deterministic routing, stored
    bucketed on doc_id, and the one full-outer join plans with zero
    exchanges. The operator is the executable form of corpus_lake's
    "diffable across builds" layout promise; a pipeline re-embeds and
    re-packs exactly added ∪ changed and retires removed."""
    from purpleair_data_logger_spark.sinks.corpus_lake import diff_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 11 == 0, F.translate("text", "a", "4")
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
            )
        )
    )
    return diff_corpus(d, new, "doc_id", compare_cols=["text"])
