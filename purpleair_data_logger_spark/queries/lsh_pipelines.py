"""E: LSH pipelines in the portable md5 hash family so the FULL pipeline is replayed by generated DuckDB oracle SQL.

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
# E. LSH pipelines — run in the portable md5 hash family so the FULL
#    pipeline (shingle → minhash → bands → candidate join) is replayed
#    by DuckDB oracle SQL, generated below. Production keeps the
#    xxhash64 default in operators.dedup; pytest covers that config
#    with recall assertions instead.
# ---------------------------------------------------------------------------


def _minhash_lsh_oracle(num_hashes: int, bands: int, shingle_n: int) -> str:
    return (
        _minhash_lsh_cte(num_hashes, bands, shingle_n)
        + "SELECT doc_id_a, doc_id_b FROM cand"
    )


def _neardup_lsh_verified_oracle(
    num_hashes: int,
    bands: int,
    shingle_n: int,
    threshold: float,
    max_bucket_size: int | None = None,
) -> str:
    jac = (
        "round(len(list_intersect(sa.shing, sb.shing)) * 1.0"
        " / len(list_distinct(list_concat(sa.shing, sb.shing))), 4)"
    )
    return (
        _minhash_lsh_cte(
            num_hashes, bands, shingle_n, max_bucket_size=max_bucket_size
        )
        + f"""
    SELECT c.doc_id_a, c.doc_id_b, {jac} AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_id_a
    JOIN sh sb ON sb.doc_id = c.doc_id_b
    WHERE {jac} >= {threshold}
    """
    )


def _simhash_oracle(n_bits: int, band_bits: int, max_hamming: int) -> str:
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    votes = ",\n           ".join(
        f"sum(CASE WHEN (_h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS _v{i}"
        for i in range(n_bits)
    )
    fp_expr = "\n             + ".join(
        f"(CASE WHEN _v{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END)"
        for i in range(n_bits)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, fp, {b} AS band_idx,"
        f" (fp >> {b * band_bits}) & {mask} AS band_val FROM fp"
        for b in range(n_bands)
    )
    return f"""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS s FROM documents),
    h AS (SELECT doc_id, {_hex60_sql("md5(s)")} AS _h FROM tok),
    v AS (SELECT doc_id,
           {votes}
          FROM h GROUP BY doc_id),
    fp AS (SELECT doc_id,
             {fp_expr}
             AS fp
           FROM v),
    bnd AS ({band_selects}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             a.fp AS fp_a, b.fp AS fp_b
      FROM bnd a JOIN bnd b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id)
    SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming_distance
    FROM pairs
    WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    """


@register(
    "minhash_lsh_candidates",
    _minhash_lsh_oracle(num_hashes=64, bands=16, shingle_n=3),
    "north-star MinHash+LSH near-dup (portable md5 banding, full-pipeline oracle)",
)
def minhash_lsh_candidates(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return dd.minhash_lsh_candidates(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3,
        hash_family="md5",
    )


@register(
    "neardup_lsh_verified",
    _neardup_lsh_verified_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star scale-safe near-dup: LSH candidates -> exact Jaccard verify (retires quadratic blocking)",
)
def neardup_lsh_verified(spark, sf_dir):
    """The 100 TB near-dup composition: banded MinHash candidates, then
    exact shingle-Jaccard on candidates only — pair generation is
    O(band collisions), never O(block²) like a blocked self-join on a
    low-cardinality key."""
    d = _t(spark, sf_dir, "documents")
    return dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )


@register(
    "neardup_lsh_capped",
    _neardup_lsh_verified_oracle(
        num_hashes=64, bands=16, shingle_n=3, threshold=0.8,
        max_bucket_size=2,
    ),
    "north-star degenerate-bucket mitigation end-to-end: bucket-capped "
    "LSH candidates -> exact Jaccard verify (full-pipeline oracle incl. "
    "the cap semi-join)",
)
def neardup_lsh_capped(spark, sf_dir):
    """`neardup_lsh_verified` with the r12 degenerate-bucket ceiling ON
    (`max_bucket_size=2`): over-cap buckets are semi-join-dropped
    before the band join (`dedup.keep_buckets_within_cap`), so the
    worst-case candidate count is bounded at cap·(cap−1)/2 per bucket
    regardless of boilerplate density. The oracle replays the ENTIRE
    capped pipeline — banding, the bucket-size HAVING filter, the
    candidate join over kept rows, the exact verify — so the cap's
    recall contract (a pair survives iff some ≤-cap band still holds
    it) is hash-checked against DuckDB on the real corpus, where cap 2
    genuinely drops a planted 3-doc family (`lsh_capped_drop_report`
    prices it per band). The uncapped row stays registered as the
    default-config gate."""
    d = _t(spark, sf_dir, "documents")
    return dd.neardup_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
        max_bucket_size=2,
    )


def _containment_lsh_oracle(
    num_hashes: int, bands: int, shingle_n: int, threshold: float
) -> str:
    cont = (
        "round(len(list_intersect(sa.shing, sb.shing)) * 1.0"
        " / least(len(sa.shing), len(sb.shing)), 4)"
    )
    return (
        _minhash_lsh_cte(num_hashes, bands, shingle_n)
        + f"""
    SELECT c.doc_id_a, c.doc_id_b, {cont} AS containment
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_id_a
    JOIN sh sb ON sb.doc_id = c.doc_id_b
    WHERE {cont} >= {threshold}
    """
    )


@register(
    "containment_neardups",
    _containment_lsh_oracle(num_hashes=64, bands=16, shingle_n=3, threshold=0.8),
    "north-star asymmetric near-dup: max-containment |A∩B|/min(|A|,|B|) over LSH candidates (partial-dup signal)",
)
def containment_neardups(spark, sf_dir):
    """Max-containment verification over the banded candidates — flags
    subset/quote-style partial duplication that symmetric Jaccard
    under-scores; the result set is a superset of neardup_lsh_verified
    at the same threshold."""
    d = _t(spark, sf_dir, "documents")
    return dd.containment_lsh_verified(
        d, "doc_id", "text", threshold=0.8,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )


@register(
    "simhash_neardups",
    _simhash_oracle(n_bits=60, band_bits=15, max_hamming=8),
    "north-star SimHash near-dup (portable 60-bit fingerprint banding, full-pipeline oracle)",
)
def simhash_neardups(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        dd.simhash_neardup_candidates(d, "doc_id", "text", hash_family="md5")
        .filter(F.col("hamming_distance") <= 8)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.col("hamming_distance").cast("int").alias("hamming_distance"),
        )
    )


@register(
    "knn_lsh_bucketed",
    _knn_lsh_oracle(n_planes=36, bands=12, dim=64, k=5, q_below=8),
    "north-star ANN scale path: banded random-hyperplane LSH join (full-pipeline oracle)",
)
def knn_lsh_bucketed(spark, sf_dir):
    """OR-amplified hyperplane LSH (3 bits × 12 bands) + exact rank on
    candidates. The splitmix hyperplanes are engine-independent, so the
    DuckDB oracle replays the full pipeline (banding → candidate join →
    exact-cosine rank); recall ≥ 0.8 vs the brute-force baseline is
    additionally asserted in tests/test_llm_ops.py."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    return sim.knn_lsh(em, queries, "vec_id", "embedding", k=5, n_planes=36, bands=12)


@register(
    "knn_ivf",
    None,
    "north-star ANN scale path #2: IVF k-means coarse quantizer + nprobe list probing (recall floor pinned in pytest)",
)
def knn_ivf(spark, sf_dir):
    """Inverted-file ANN: k-means centroids (iterative training — not
    SQL-expressible, so rows-only at the gate), cosine list assignment,
    probe 4/16 lists per query, exact rank inside. Recall ≥ 0.8 vs the
    brute-force baseline is asserted in tests/test_llm_ops.py.

    The quantizer is an offline index-build artifact, trained once per
    corpus and reused across queries (in a serving deployment it lives
    next to the data, like any ANN index) — memoized here per
    (sf_dir) so repeated catalog calls measure the query path."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    centroids = _ivf_centroids_cached(spark, sf_dir, n_lists=16)
    return sim.knn_ivf(
        em, queries, "vec_id", "embedding", k=5, n_lists=16, nprobe=4,
        centroids=centroids,
    )


_IVF_CENTROID_CACHE: dict[tuple[str, int], list[list[float]]] = {}


def _ivf_centroids_cached(
    spark, sf_dir: str, *, n_lists: int, base_mod10: bool = False
) -> list[list[float]]:
    """``base_mod10`` trains on the `ann_index_append` base split only
    (every 10th vector held out) — a frozen quantizer must never have
    seen the append batch, or the row would test nothing."""
    key = (sf_dir, n_lists, base_mod10)
    if key not in _IVF_CENTROID_CACHE:
        em = _t(spark, sf_dir, "embeddings")
        if base_mod10:
            em = em.filter(F.col("vec_id") % 10 != 0)
        _IVF_CENTROID_CACHE[key] = sim.train_ivf_centroids(
            em, "embedding", n_lists=n_lists
        )
    return _IVF_CENTROID_CACHE[key]


_SQ8_CALIBRATION_CACHE: dict[tuple, tuple[list[float], list[float]]] = {}


def _sq8_calibration_cached(
    spark, sf_dir: str, *, base_mod10: bool = False
) -> tuple[list[float], list[float]]:
    key = (sf_dir, base_mod10)
    if key not in _SQ8_CALIBRATION_CACHE:
        em = _t(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
        if base_mod10:
            em = em.filter(F.col("vec_id") % 10 != 0)
        _SQ8_CALIBRATION_CACHE[key] = sim.quantization_calibration(
            em, "embedding"
        )
    return _SQ8_CALIBRATION_CACHE[key]


@register(
    "knn_ivf_quantized",
    None,
    "the composed ANN endpoint: IVF list pruning + centered-int8 candidate scoring + float rescore (IVF-SQ8; recall floor pinned in pytest)",
)
def knn_ivf_quantized(spark, sf_dir):
    """The ANN ladder's top rung (VERDICT r5 #3): IVF coarse pruning
    (sublinear scan) composed with SQ8 integer candidate scoring (64
    B/vector) and exact float rescoring of |q|·C survivors. Rows-only
    at the gate for the same reason as `knn_ivf` — k-means training is
    iterative — with recall ≥ 0.8 vs brute force pinned in
    tests/test_llm_ops.py and the broadcast-equi-join/no-cross-join
    plan shape pinned in tests/test_plans.py. Both index artifacts
    (centroids, calibration) are offline index-build products,
    memoized per sf_dir so repeated catalog calls measure the query
    path (the `knn_ivf` precedent)."""
    em = _t(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    queries = em.filter(F.col("vec_id") < 8)
    return sim.knn_ivf_quantized(
        em, queries, "vec_id", "embedding", k=5, n_lists=16, nprobe=4,
        centroids=_ivf_centroids_cached(spark, sf_dir, n_lists=16),
        calibration=_sq8_calibration_cached(spark, sf_dir),
    )


@register(
    "ann_index_append",
    """
    WITH d AS (
      SELECT DISTINCT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    base AS (SELECT vec_id, ve FROM d WHERE vec_id % 10 <> 0),
    -- frozen coarse quantizer: Forgy seeds = the 16 smallest base ids
    cent AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                 AS list_id,
             ve AS cv
      FROM (SELECT vec_id, ve FROM base ORDER BY vec_id LIMIT 16)
    ),
    -- frozen SQ8 calibration from the BASE split only
    be AS (SELECT vec_id, i AS pos, ve[i] AS v
           FROM base, LATERAL unnest(range(1, len(ve) + 1)) t(i)),
    cal AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM be GROUP BY 1),
    -- assign EVERY vector under the frozen quantizer (append under
    -- frozen params == rebuild over base+new: the pinned equivalence)
    assign AS (
      SELECT vec_id, list_id FROM (
        SELECT d.vec_id, c.list_id,
               row_number() OVER (
                   PARTITION BY d.vec_id
                   ORDER BY list_cosine_similarity(d.ve, c.cv) DESC,
                            c.list_id) AS rn
        FROM d, cent c)
      WHERE rn <= 3
    ),
    ae AS (SELECT vec_id, i AS pos, ve[i] AS v
           FROM d, LATERAL unnest(range(1, len(ve) + 1)) t(i)),
    codes AS (
      SELECT ae.vec_id,
             string_agg(
               CAST(CASE WHEN cal.mx = cal.mn THEN 0
                    ELSE least(greatest(
                           CAST(round((ae.v - cal.mn) * 255.0
                                / (cal.mx - cal.mn)) AS BIGINT), 0), 255)
                    END AS VARCHAR), ',' ORDER BY ae.pos) AS codes_csv
      FROM ae JOIN cal USING (pos) GROUP BY 1
    )
    SELECT a.vec_id AS neighbor_id,
           CAST(a.list_id AS INTEGER) AS list_id,
           c.codes_csv,
           (a.vec_id % 10 = 0) AS is_appended
    FROM assign a JOIN codes c USING (vec_id)
    """,
    "incremental IVF-SQ8 index maintenance: assign + SQ8-encode new "
    "vectors under the frozen quantizer/calibration and union onto "
    "the base index (full-pipeline oracle; search-after-append + "
    "recall pinned in pytest)",
)
def ann_index_append(spark, sf_dir):
    """A 100 TB corpus grows after the index is built (VERDICT r6 #6):
    new vectors must enter the IVF lists WITHOUT re-encoding the
    existing corpus. This row exercises the maintenance cycle: build
    the posting index over the base corpus (every 10th vector held
    out), `ann_index_append` the held-out batch under the FROZEN
    centroids + SQ8 calibration (O(|new|) work — the
    `neardup_incremental_batch` discipline applied to ANN), and return
    the grown index's posting rows with codes CSV-serialized (the
    vocab_encode convention) and the appended rows flagged.

    Fully oracled since r12 (VERDICT r11 #3): the append leg is
    deterministic arithmetic over frozen artifacts, so the quantizer
    here is the SQL-replayable frozen form — Forgy seed centroids
    (the 16 smallest base vec_ids) + exact base min/span calibration —
    with assignment ranked by `nearest_lists_exact`'s ordered-fold
    cosine (bit-identical to DuckDB ``list_cosine_similarity``, the
    `knn_cosine_bruteforce` precedent). The oracle replays the grown
    index as one pass over base ∪ new under the same frozen artifacts,
    which is exactly the append≡rebuild equivalence pinned in
    tests/test_llm_ops.py. The TRAINED-quantizer variant (iterative
    k-means) remains rows-only by nature and keeps its pytest pins:
    recall-after-append ≥ 0.8 vs brute force on the grown corpus, and
    `calibration_drift` as the paired re-encode trigger."""
    em = _t(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    base = em.filter(F.col("vec_id") % 10 != 0)
    new = em.filter(F.col("vec_id") % 10 == 0)
    seeds = (
        base.select("vec_id", sim.as_double_array("embedding").alias("_v"))
        .orderBy("vec_id")
        .limit(16)
        .collect()
    )  # driver-sized by construction: 16 rows (the centroid-literal seam)
    centroids = [list(r["_v"]) for r in seeds]
    calibration = sim.quantization_calibration(base, "embedding")
    index = sim.build_ivf_sq8_index(
        base, "vec_id", "embedding",
        centroids=centroids, calibration=calibration, exact_assign=True,
    )
    grown = sim.ann_index_append(
        index, new, "vec_id", "embedding",
        centroids=centroids, calibration=calibration, exact_assign=True,
    )
    return grown.select(
        "neighbor_id",
        F.col("list_id").cast("int").alias("list_id"),
        F.concat_ws(
            ",", F.transform("_cc", lambda c: c.cast("string"))
        ).alias("codes_csv"),
        (F.col("neighbor_id") % 10 == 0).alias("is_appended"),
    )




_PHASH_NEARDUP_ORACLE = """
WITH m AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000, translate(text, 'e', '3')
  FROM documents WHERE doc_id %% 7 = 0),
px AS (
  SELECT media_id,
         CASE WHEN text IS NULL THEN NULL
              WHEN length(text) = 0 THEN list_transform(range(0,64), k -> 0)
              ELSE list_transform(range(0,64), k ->
                unicode(substr(text, CAST((k*length(text))//64 AS INT)+1, 1)))
         END AS p
  FROM m),
bands AS (
  SELECT media_id,
         list_transform(range(0,8), b ->
           CAST(list_sum(list_transform(range(0,8), j ->
             CASE WHEN p[CAST(8*b+j AS INT)+1]*64 >= list_sum(p)
                  THEN 1<<CAST(j AS INT) ELSE 0 END)) AS INT)) AS bd
  FROM px WHERE p IS NOT NULL),
long AS (
  SELECT media_id, CAST(r.b AS INT) AS b, bd[CAST(r.b AS INT)+1] AS v
  FROM bands, range(0,8) r(b)),
kept AS (
  SELECT l.* FROM long l
  JOIN (SELECT b, v FROM long GROUP BY b, v HAVING count(*) <= %(cap)d) c
  USING (b, v)),
cand AS (
  SELECT DISTINCT l1.media_id AS id1, l2.media_id AS id2
  FROM kept l1
  JOIN kept l2 ON l1.b = l2.b AND l1.v = l2.v AND l1.media_id < l2.media_id),
ham AS (
  SELECT c.id1 AS media_id_1, c.id2 AS media_id_2,
         CAST(list_sum(list_transform(range(0,8), i ->
           bit_count(xor(b1.bd[CAST(i AS INT)+1],
                         b2.bd[CAST(i AS INT)+1])))) AS INT) AS hamming
  FROM cand c
  JOIN bands b1 ON b1.media_id = c.id1
  JOIN bands b2 ON b2.media_id = c.id2)
SELECT media_id_1, media_id_2, hamming FROM ham WHERE hamming <= %(ham)d
""" % {"cap": 48, "ham": 6}


def _phash_corpus(spark, sf_dir):
    """The planted perceptual-near-dup corpus BOTH phash queries (and
    both %-formatted oracle constants) are defined over — one place to
    change the variant scheme so the pair query and the dedup decision
    built on it can never drift apart. Every 7th document reappears as
    a leetspeak substitution edit ('e'->'3'): length-preserving, so the
    strided thumbnail stays aligned and the variant lands Hamming-near
    its original."""
    d = _t(spark, sf_dir, "documents")
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.translate("text", "e", "3").alias("text"),
    )
    return d.select("doc_id", "text").unionByName(variants)


def _phash_pairs(spark, sf_dir):
    from purpleair_data_logger_spark.operators import multimodal as mm

    media = mm.attach_binary_payload(
        _phash_corpus(spark, sf_dir), "doc_id", "text"
    )
    return mm.phash_neardup_pairs(
        media,
        thumbnailer=mm.fake_thumbnailer,
        max_hamming=6,
        max_bucket_size=48,
    )


@register(
    "multimodal_phash_neardup",
    _PHASH_NEARDUP_ORACLE,
    "north-star multimodal near-dup: perceptual-hash (aHash) banded LSH "
    "over the stub-decoder seam, bucket-capped, Hamming-verified "
    "(VERDICT r12 missing #3)",
)
def multimodal_phash_neardup(spark, sf_dir):
    """The multimodal rung of the dedup ladder: average-hash perceptual
    signatures over binary payloads (locality-preserving fake
    thumbnailer — the injectable seam a real PIL/ffmpeg decoder plugs
    into), banded into 8 LSH bucket keys, degenerate buckets capped
    BEFORE the candidate self-join (`dedup.keep_buckets_within_cap`),
    candidates Hamming-verified JVM-side (zip_with + bit_count — no
    Python past the one Arrow signature stage).

    The corpus plants deterministic perceptual near-dups: every 7th
    document reappears as a leetspeak substitution edit ('e'→'3'),
    which preserves length so the strided thumbnail stays aligned —
    Hamming-small by construction, exactly how a re-encoded/
    lightly-edited image lands near its original under a real aHash.
    The oracle replays the ENTIRE pipeline (thumbnail arithmetic from
    text code points, integer-exact mean bits, band packing, the
    bucket-size HAVING cap, candidate join, Hamming verify) in DuckDB.

    Pigeonhole recall contract: max_hamming=6 < 8 bands, so every
    qualifying pair shares at least one exact band — recall 1 absent
    the cap; the cap's drops are the documented boilerplate trade
    (pinned with a planted blank-payload family in test_llm_ops)."""
    return _phash_pairs(spark, sf_dir)


_PHASH_BETWEEN_ORACLE = (
    _PHASH_NEARDUP_ORACLE.partition("kept AS (")[0]
    + """lb AS (SELECT * FROM long WHERE media_id < 10000000),
ln AS (SELECT * FROM long WHERE media_id >= 10000000),
kept AS (
  SELECT l.* FROM lb l
  JOIN (SELECT b, v FROM lb GROUP BY b, v HAVING count(*) <= 48) c
  USING (b, v)),
cand AS (
  SELECT DISTINCT n.media_id AS nid, k.media_id AS bid
  FROM ln n JOIN kept k ON n.b = k.b AND n.v = k.v),
ham AS (
  SELECT c.nid AS new_media_id, c.bid AS base_media_id,
         CAST(list_sum(list_transform(range(0,8), i ->
           bit_count(xor(b1.bd[CAST(i AS INT)+1],
                         b2.bd[CAST(i AS INT)+1])))) AS INT) AS hamming
  FROM cand c
  JOIN bands b1 ON b1.media_id = c.nid
  JOIN bands b2 ON b2.media_id = c.bid)
SELECT new_media_id, base_media_id, hamming FROM ham WHERE hamming <= 6
"""
)


@register(
    "multimodal_phash_between",
    _PHASH_BETWEEN_ORACLE,
    "north-star multimodal ingest dedup: new media batch vs an existing "
    "corpus's phash index, base buckets capped, Hamming-verified",
)
def multimodal_phash_between(spark, sf_dir):
    """The cross-side multimodal form — "is this image already in the
    corpus?" — the per-ingest (and per-micro-batch: `streaming/
    phash.py`) body of the multimodal dedup ladder. New side = the
    planted leetspeak variants, base = every original document's
    payload; only the new batch pays decode+signature cost against the
    persistable `multimodal.phash_index` artifacts, candidates are the
    cross-side band collisions (never all-pairs), the degenerate-
    bucket cap applies to the BASE index (the steady-state placement),
    and verification is exact JVM-side Hamming. The oracle replays the
    full chain with the band/long CTEs shared textually with
    `multimodal_phash_neardup`'s oracle, split cross-side by the id
    space. Streaming parity is pinned in
    test_storage_streaming (stream == this operator bit-exact)."""
    from purpleair_data_logger_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    base = mm.attach_binary_payload(d.select("doc_id", "text"), "doc_id", "text")
    variants = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.translate("text", "e", "3").alias("text"),
    )
    new = mm.attach_binary_payload(variants, "doc_id", "text")
    return mm.phash_neardup_between(
        new, base,
        thumbnailer=mm.fake_thumbnailer,
        max_hamming=6,
        max_base_bucket_size=48,
    )


_PHASH_CLUSTER_ORACLE = (
    _PHASH_NEARDUP_ORACLE.replace("WITH m AS", "WITH RECURSIVE m AS")
    .rpartition("SELECT media_id_1")[0]
    + """,
edges AS (
  SELECT media_id_1 AS u, media_id_2 AS v FROM ham WHERE hamming <= 6
  UNION
  SELECT media_id_2, media_id_1 FROM ham WHERE hamming <= 6),
cc(node, root) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, cc.root FROM cc JOIN edges e ON e.u = cc.node),
comp AS (SELECT node, min(root) AS cluster_id FROM cc GROUP BY node)
SELECT m.media_id,
       coalesce(comp.cluster_id, m.media_id) AS cluster_id,
       coalesce(comp.cluster_id, m.media_id) = m.media_id AS keep
FROM m LEFT JOIN comp ON comp.node = m.media_id
"""
)


@register(
    "multimodal_phash_dedup",
    _PHASH_CLUSTER_ORACLE,
    "north-star multimodal dedup decision: phash pairs -> connected "
    "components -> canonical survivor per media cluster",
)
def multimodal_phash_dedup(spark, sf_dir):
    """The multimodal ladder completed to the DECISION stage: the
    `multimodal_phash_neardup` pairs resolved to clusters (min-label
    propagation over edge-incident nodes only) with one canonical
    survivor per cluster — `clusters.cluster_dedup` composed over the
    perceptual-hash pair generator, the same final step the text
    ladder takes in `neardup_cluster_dedup`. Output is the full media
    assignment (media_id, cluster_id, keep); the oracle replays the
    whole chain, components included, as a recursive CTE."""
    from purpleair_data_logger_spark.operators import clusters as cl

    pairs = _phash_pairs(spark, sf_dir)
    ids = _phash_corpus(spark, sf_dir).select(
        F.col("doc_id").alias("media_id")
    )
    return cl.cluster_dedup(
        ids, "media_id", pairs, src_col="media_id_1", dst_col="media_id_2"
    )
