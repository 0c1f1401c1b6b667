"""F3: text/tokenizer analytics + retrieval (BM25, fusion, rerank) + TPC-H read shapes.

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

@register(
    "stats2d_click_error_by_user",
    """
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM b GROUP BY 1
    )
    SELECT user_id, n AS n_pairs, sx AS sum_x, sy AS sum_y,
      CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
        CAST(n * sxy - sx * sy AS DOUBLE)
          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                 * CAST(n * syy - sy * sy AS DOUBLE))
      END AS corr_click_error,
      CASE WHEN (n * sxx - sx * sx) > 0 THEN
        CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      END AS slope,
      CASE WHEN (n * sxx - sx * sx) > 0 THEN
        (CAST(sy AS DOUBLE) - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
          / CAST(n AS DOUBLE)
      END AS intercept
    FROM s
    """,
    "A-family extension: TimescaleDB stats_agg(y, x) 2-D — per-key "
    "corr/OLS slope/intercept between hourly click and error counts, "
    "from exact BIGINT power sums (float corr() aggregates are "
    "summation-order-divergent across engines)",
)
def stats2d_click_error_by_user(spark, sf_dir):
    """Does clicking correlate with erroring, per user? Hourly count
    pairs (spine = every hour the user emitted ANY event), then the
    six exact integer power sums collapse each user to one row; the
    closed forms are evaluated in one fixed float expression each —
    bit-identical cross-engine. Two map-side-combined shuffles, the
    second on the narrower bare key."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", agg.time_bucket("ts", 3600).alias("bucket_ts")
    ).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    return hf.stats2d_exact(
        hourly,
        "user_id",
        "x",
        "y",
        corr_alias="corr_click_error",
    )


@register(
    "acf_value_by_user",
    """
    WITH s AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
             lead(CAST(round(value * 100) AS BIGINT), 1) OVER w AS y1,
             lead(CAST(round(value * 100) AS BIGINT), 2) OVER w AS y2,
             lead(CAST(round(value * 100) AS BIGINT), 3) OVER w AS y3
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL AND value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    p AS (
      SELECT user_id, 1 AS lag, x, y1 AS y FROM s WHERE y1 IS NOT NULL
      UNION ALL
      SELECT user_id, 2, x, y2 FROM s WHERE y2 IS NOT NULL
      UNION ALL
      SELECT user_id, 3, x, y3 FROM s WHERE y3 IS NOT NULL
    ),
    g AS (
      SELECT user_id, lag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM p GROUP BY 1, 2
    )
    SELECT user_id, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           sx AS sum_x, sy AS sum_y,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
           END AS acf
    FROM g ORDER BY user_id, lag
    """,
    "A-family extension: per-key lag-1..3 autocorrelation from exact "
    "BIGINT power sums (one window pass computes every lag's lead, "
    "one aggregate finishes) — the seasonality/stickiness probe, "
    "bit-identical cross-engine where float corr aggregates are not",
)
def acf_value_by_user(spark, sf_dir):
    """Is each user's value series sticky or mean-reverting? ACF at
    observation-lags 1-3 per user (`hyperfunctions.autocorr_exact`):
    decimal-scaled exact power sums per (user, lag), one float
    expression at the end. One window shuffle computes all three
    leads; the explode emits 3 pairs/row; one map-side-combined
    aggregate per (user, lag) finishes. sum_y rides along as the
    shift audit (differs from sum_x only by the k-row head/tail)."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return hf.autocorr_exact(
        e, ["user_id"], "ts", "event_id", "value", lags=(1, 2, 3)
    ).orderBy("user_id", "lag")


@register(
    "embedding_quantize_int8",
    """
    WITH d AS (
      SELECT DISTINCT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, i AS pos, ve[i] AS v
      FROM d, LATERAL unnest(range(1, len(ve) + 1)) t(i)
    ),
    c AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1),
    q AS (
      SELECT e.vec_id, e.pos,
             CASE WHEN c.mx = c.mn THEN 0
                  ELSE least(greatest(
                         CAST(round((e.v - c.mn) * 255.0 / (c.mx - c.mn))
                              AS BIGINT), 0), 255)
             END AS code
      FROM e JOIN c USING (pos)
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(code) AS BIGINT) AS code_sum,
           string_agg(CAST(code AS VARCHAR), ',' ORDER BY pos) AS codes_csv
    FROM q GROUP BY vec_id
    """,
    "north-star ANN scale path, encode stage: affine int8 scalar "
    "quantization (SQ8) against per-dimension corpus calibration — 4x "
    "less memory/IO than float32; codes are single fixed float "
    "expressions ending in half-away-from-zero rounding, bit-identical "
    "cross-engine",
)
def embedding_quantize_int8(spark, sf_dir):
    """SQ8-encode every corpus vector against the corpus's own
    per-dimension min/span calibration; serialize codes in dimension
    order (the vocab_encode CSV convention for array-valued gates).
    Vector identity is the PK: a re-ingested duplicate vec_id row
    collapses before encoding (fuzz r6 — the oracle's unnest-regroup
    collapses duplicates implicitly, so both engines must)."""
    em = _t(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    mins, spans = sim.quantization_calibration(em, "embedding")
    codes = sim.quantize_int8(em, "vec_id", "embedding", mins, spans)
    return codes.select(
        "vec_id",
        F.size("codes").cast("long").alias("n_dims"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("code_sum"),
        F.array_join(F.transform("codes", lambda x: x.cast("string")), ",")
        .alias("codes_csv"),
    )


@register(
    "knn_quantized_rescored",
    """
    WITH d AS (
      SELECT DISTINCT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, i AS pos, ve[i] AS v
      FROM d, LATERAL unnest(range(1, len(ve) + 1)) t(i)
    ),
    c AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM e GROUP BY 1),
    q AS (
      SELECT e.vec_id, e.pos,
             CASE WHEN c.mx = c.mn THEN 0
                  ELSE least(greatest(
                         CAST(round((e.v - c.mn) * 255.0 / (c.mx - c.mn))
                              AS BIGINT), 0), 255)
             END - 128 AS cc
      FROM e JOIN c USING (pos)
    ),
    qq AS (SELECT vec_id AS query_id, pos, cc FROM q WHERE vec_id < 8),
    scores AS (
      SELECT qq.query_id, q.vec_id AS neighbor_id,
             CAST(sum(qq.cc * q.cc) AS BIGINT) AS iscore
      FROM qq JOIN q ON qq.pos = q.pos AND q.vec_id <> qq.query_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY iscore DESC, neighbor_id) AS rk
      FROM scores
    ),
    resc AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_cosine_similarity(dq.ve, dn.ve) AS s
      FROM cand
      JOIN d dq ON dq.vec_id = cand.query_id
      JOIN d dn ON dn.vec_id = cand.neighbor_id
      WHERE cand.rk <= 40
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id)
                  AS INTEGER) AS knn_rank
      FROM resc
    )
    SELECT query_id, neighbor_id, knn_rank FROM ranked WHERE knn_rank <= 5
    """,
    "north-star ANN scale path, search stage: SQ8 centered-int8-dot "
    "candidate generation (exact BIGINT scores - deterministic "
    "candidate set) + exact cosine rescoring of top-8k candidates "
    "only; the corpus-wide pass reads 64 bytes/vector instead of 256",
)
def knn_quantized_rescored(spark, sf_dir):
    """Two-stage SQ8 ANN: integer-dot candidates (C = 8k, exact BIGINT,
    ties by id — the candidate SET is cross-engine deterministic),
    then exact float cosine on the C candidates per query. Recall vs
    the brute-force baseline is pytest-pinned."""
    em = _t(spark, sf_dir, "embeddings").dropDuplicates(["vec_id"])
    queries = em.filter(F.col("vec_id") < 8)
    return sim.knn_quantized_rescored(
        em, queries, "vec_id", "embedding", k=5, candidate_factor=8
    )


@register(
    "pricing_summary",
    """
    WITH b AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
             CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    ),
    g AS (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(qty) AS BIGINT) AS sum_qty,
             CAST(sum(price_c) AS BIGINT) AS sbp,
             CAST(sum(price_c * (100 - disc_pct)) AS BIGINT) AS sdp,
             CAST(sum(price_c * (100 - disc_pct) * (100 + tax_pct))
                  AS BIGINT) AS sch,
             CAST(sum(disc_pct) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS count_order
      FROM b GROUP BY 1, 2
    )
    SELECT l_returnflag, l_linestatus, sum_qty,
           CAST(sbp AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sdp AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sch AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
           CAST(sbp AS DOUBLE) / count_order / 100.0 AS avg_price,
           CAST(sd AS DOUBLE) / count_order / 100.0 AS avg_disc,
           count_order
    FROM g
    """,
    "A-family flagship: the TPC-H Q1 pricing summary (pushdown date "
    "filter, ONE map-side-combined aggregate over the fact table) in "
    "exact-cents BIGINT arithmetic — float sums are summation-order "
    "nondeterministic, so every money column is scaled to its decimal "
    "granularity, summed as integers, and divided once at the end",
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape over the lineitem fact table: per
    (returnflag, linestatus) quantity/price/discount/charge sums and
    means. All money arithmetic is exact — cents, basis-point discount
    and tax factors — so sums are BIGINT (order-independent) and the
    only float ops are the final fixed-order divisions mirrored in the
    oracle. The scan reads 6 of 11 columns with the date predicate
    pushed to parquet; one Exchange total (plan-pinned).

    Overflow contract: Σ price_c·(100−d)·(100+t) < 2⁶³ holds to ~10⁸
    lineitems per group at TPC-H price scale; beyond that, widen the
    charge sum to DECIMAL(38,0) (same expression, same determinism).
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100).cast("long")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("sum_qty"),
        F.sum(price_c).alias("_sbp"),
        F.sum(price_c * (F.lit(100) - disc_pct)).alias("_sdp"),
        F.sum(
            price_c * (F.lit(100) - disc_pct) * (F.lit(100) + tax_pct)
        ).alias("_sch"),
        F.sum(disc_pct).alias("_sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        (F.col("_sbp").cast("double") / F.lit(100.0)).alias("sum_base_price"),
        (F.col("_sdp").cast("double") / F.lit(10000.0)).alias("sum_disc_price"),
        (F.col("_sch").cast("double") / F.lit(1000000.0)).alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias(
            "avg_qty"
        ),
        (
            F.col("_sbp").cast("double") / F.col("count_order") / F.lit(100.0)
        ).alias("avg_price"),
        (
            F.col("_sd").cast("double") / F.col("count_order") / F.lit(100.0)
        ).alias("avg_disc"),
        "count_order",
    )


@register(
    "revenue_rollup_region_nation",
    """
    WITH o AS (
      SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
      FROM orders WHERE o_custkey IS NOT NULL
    ),
    j AS (
      SELECT r.r_name, n.n_name, o.total_c
      FROM o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
    )
    SELECT r_name, n_name,
           CAST(2 * GROUPING(r_name) + GROUPING(n_name) AS INTEGER) AS lvl,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(total_c) AS DOUBLE) / 100.0 AS revenue
    FROM j GROUP BY ROLLUP (r_name, n_name)
    """,
    "multi-level aggregate (GROUPING SETS family): ROLLUP over the "
    "region→nation dimension hierarchy with GROUPING-disambiguated "
    "subtotal levels — the OLAP cube shape the read-path ladder lacked",
)
def revenue_rollup_region_nation(spark, sf_dir):
    """Order revenue rolled up the region→nation hierarchy in ONE pass:
    leaf rows, per-region subtotals, and the grand total, each tagged
    with the grouping level (2·grouping(region)+grouping(nation)) so a
    NULL dimension value is distinguishable from a subtotal row.

    Spark plans rollup as a single Expand node feeding ONE hash
    aggregate — three grouping sets share one shuffle, not three scans
    + a union (what a user without grouping sets would write). Money is
    exact-cents BIGINT summed per set with one final division.

    Scale shape: Expand triples the aggregate input rows but the
    map-side partial aggregate collapses them before the one shuffle;
    the dimension joins broadcast (region/nation are tiny, customer
    rides AQE). No second scan of orders at any level.
    """
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total_c"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("r_name", "n_name", "total_c")
    )
    return j.rollup("r_name", "n_name").agg(
        (F.lit(2) * F.grouping("r_name") + F.grouping("n_name"))
        .cast("int")
        .alias("lvl"),
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum("total_c").cast("double") / F.lit(100.0)).alias("revenue"),
    )


@register(
    "late_sole_supplier",
    """
    WITH li AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_suppkey IS NOT NULL
    ),
    late AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM li
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_suppkey
    LIMIT 100
    """,
    "TPC-H Q21 shape: EXISTS + NOT EXISTS over the same fact table "
    "(the sole late supplier on multi-supplier orders), decorrelated "
    "into two per-order aggregates — never a per-row re-scan",
)
def late_sole_supplier(spark, sf_dir):
    """Suppliers who were the ONLY late shipper on a multi-supplier
    order (late = shipped >60 days after the order date), ranked by
    how many orders they alone held up — the TPC-H Q21
    EXISTS/NOT-EXISTS pattern.

    The oracle states it in the classic correlated form; the Spark
    plan is the set-algebra decorrelation: ONE per-order distinct-
    supplier count (EXISTS another supplier ⇔ n_suppliers ≥ 2) and ONE
    per-order late-supplier count (NOT EXISTS another late ⇔
    n_late = 1), each an equi-join back on l_orderkey — the optimizer-
    correct shape vs re-scanning lineitem per candidate row.

    Scale shape: lineitem→orders is the one fact-fact equi-join (AQE
    picks sort-merge, both sides pre-bucketable on orderkey); both
    per-order aggregates are map-side combined on the SAME key so AQE
    reuses the exchange; supplier is a broadcast dim; the top-100
    plans as TakeOrderedAndProject with a deterministic s_suppkey
    tie-break, never a global sort.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    late = (
        li.filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_n_supp"))
        .filter(F.col("_n_supp") >= 2)
        .select("l_orderkey")
    )
    sole_late = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_n_late"))
        .filter(F.col("_n_late") == 1)
        .select("l_orderkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        late.join(multi, "l_orderkey", "left_semi")
        .join(sole_late, "l_orderkey", "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(100)
    )


#: Fixed lexical query for the ranked-retrieval gate rows — four mid-
#: frequency corpus terms; the oracles inline the same literals.
_BM25_TERMS = ["vector", "hash", "merge", "scan"]

_BM25_SCORE_SQL = """
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks
      FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    f AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
             CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS tf0,
             CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf1,
             CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT) AS tf2,
             CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf3
      FROM t
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, CAST(sum(dl) AS DOUBLE) AS l,
             CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
             CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
             CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
             CAST(sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df3
      FROM f
    ),
    sc AS (
      SELECT doc_id, dl, tf0 + tf1 + tf2 + tf3 AS tf_total,
             (n - df0 + 0.5)/(df0 + 0.5) * (CAST(tf0 AS DOUBLE) * 2.2)
               / (CAST(tf0 AS DOUBLE)
                  + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)*n/l))
           + (n - df1 + 0.5)/(df1 + 0.5) * (CAST(tf1 AS DOUBLE) * 2.2)
               / (CAST(tf1 AS DOUBLE)
                  + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)*n/l))
           + (n - df2 + 0.5)/(df2 + 0.5) * (CAST(tf2 AS DOUBLE) * 2.2)
               / (CAST(tf2 AS DOUBLE)
                  + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)*n/l))
           + (n - df3 + 0.5)/(df3 + 0.5) * (CAST(tf3 AS DOUBLE) * 2.2)
               / (CAST(tf3 AS DOUBLE)
                  + 1.2*(0.25 + 0.75*CAST(dl AS DOUBLE)*n/l))
             AS score
      FROM f, s
    )
"""


@register(
    "bm25_topk_docs",
    _BM25_SCORE_SQL
    + """
    SELECT doc_id, dl, tf_total, score,
           CAST(rnk AS INTEGER) AS bm25_rank
    FROM (SELECT doc_id, dl, tf_total, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM sc WHERE tf_total > 0)
    WHERE rnk <= 50
    """,
    "north-star ranked retrieval: BM25 top-k lexical search (odds-idf, "
    "log-free determinism form) over the documents corpus",
)
def bm25_topk_docs(spark, sf_dir):
    """Top-50 documents by BM25 for a fixed 4-term query — the lexical
    ranker of the retrieval stack (`operators/ranking.py`; determinism
    contract in the module docstring: integer tf/df/dl/N/L, fixed
    left-associated float tree, odds-form idf — no cross-engine ln).

    Scale shape: per-doc tf/dl are higher-order array ops in one
    codegen'd projection (no explode); corpus stats are one broadcast
    aggregate; the top-50 cut is TakeOrderedAndProject and ranks are
    assigned by a window over the 50 survivors only — no global sort.
    """
    from purpleair_data_logger_spark.operators import ranking as rk

    d = _t(spark, sf_dir, "documents")
    return rk.bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=50)


@register(
    "hybrid_rank_fusion",
    _BM25_SCORE_SQL
    + """
    , br AS (
      SELECT doc_id AS item_id, CAST(rnk AS INTEGER) AS bm25_rank
      FROM (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
                     AS rnk
            FROM sc WHERE tf_total > 0)
      WHERE rnk <= 200
    ),
    q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      FROM embeddings WHERE vec_id = 0
    ),
    cr AS (
      SELECT item_id, CAST(rnk AS INTEGER) AS cos_rank
      FROM (SELECT e.vec_id AS item_id,
                   row_number() OVER (
                     ORDER BY list_cosine_similarity(
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
                       q.qe) DESC, e.vec_id) AS rnk
            FROM embeddings e, q WHERE e.vec_id <> 0)
      WHERE rnk <= 200
    ),
    fused AS (
      SELECT COALESCE(b.item_id, c.item_id) AS item_id,
             b.bm25_rank, c.cos_rank,
             COALESCE(CAST(floor(1000000.0
                 / CAST(b.bm25_rank + 60 AS DOUBLE)) AS BIGINT), 0)
           + COALESCE(CAST(floor(1000000.0
                 / CAST(c.cos_rank + 60 AS DOUBLE)) AS BIGINT), 0)
               AS rrf_scaled
      FROM br b FULL OUTER JOIN cr c ON b.item_id = c.item_id
    )
    SELECT item_id, bm25_rank, cos_rank, rrf_scaled,
           CAST(rnk AS INTEGER) AS fused_rank
    FROM (SELECT *, row_number() OVER (ORDER BY rrf_scaled DESC, item_id)
                      AS rnk
          FROM fused)
    WHERE rnk <= 50
    """,
    "north-star hybrid search: reciprocal-rank fusion of the BM25 "
    "lexical ranking and the embedding-cosine vector ranking "
    "(integer-scaled RRF, k=60) — the retrieval fuser every RAG "
    "curation pipeline runs",
)
def hybrid_rank_fusion(spark, sf_dir):
    """RRF fusion of lexical (BM25 top-200) and vector (cosine top-200
    to the vec_id=0 query embedding) rankings over the shared
    doc_id/vec_id id space; fused top-50 with both source ranks.

    Contributions are ⌊1e6/(60+rank)⌋ BIGINTs, so the fused score is
    an exact integer sum — order-free and hash-comparable; an item on
    one list only contributes 0 from the other.

    Scale shape: each signal is cut to top-R BEFORE the fusion join
    (TakeOrderedAndProject per signal), so the full-outer join is
    rank-list-sized — at 100 TB the corpus never reaches the fuser,
    only two R-row lists do.
    """
    from purpleair_data_logger_spark.operators import ranking as rk

    d = _t(spark, sf_dir, "documents")
    em = _t(spark, sf_dir, "embeddings")
    br = rk.bm25_topk(d, "doc_id", "text", _BM25_TERMS, k=200).select(
        F.col("doc_id").alias("item_id"), "bm25_rank"
    )
    cr = sim.knn_bruteforce(
        em, em.filter(F.col("vec_id") == 0), "vec_id", "embedding", k=200
    ).select(F.col("neighbor_id").alias("item_id"), F.col("knn_rank").alias("cos_rank"))
    from purpleair_data_logger_spark.operators.ranking import rrf_fuse

    return rrf_fuse(br, cr, "item_id", "bm25_rank", "cos_rank", topk=50)


@register(
    "temporal_split_embargo",
    """
    SELECT event_id, ts,
           CASE WHEN ts < TIMESTAMP '2024-01-23' THEN 'train'
                WHEN ts >= TIMESTAMP '2024-01-25' THEN 'test'
                ELSE 'embargo' END AS split
    FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
    """,
    "north-star leakage-safe TEMPORAL split: train < embargo start, "
    "test >= cutoff, the embargo gap labeled and kept visible — the "
    "time-axis complement of the cluster-keyed content split",
)
def temporal_split_embargo(spark, sf_dir):
    """Time-based train/test assignment with a 2-day embargo before
    the 2024-01-25 cutoff (`operators/sampling.py::temporal_split`).
    `leakage_safe_split` guards content leakage (near-dup clusters
    straddling splits); this guards TEMPORAL leakage (trailing-window
    features near the boundary seeing post-cutoff behavior) — the
    standard backtesting discipline.

    Scale shape: one codegen'd CASE projection, zero shuffles;
    timestamp comparisons are exact microsecond integers cross-engine.
    """
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
        .select("event_id", "ts")
    )
    return smp.temporal_split(
        e, "ts", cutoff="2024-01-25", embargo="2024-01-23"
    )


#: Ground-truth ranking replay shared by the ANN eval oracle — the
#: `knn_cosine_bruteforce` oracle body as a CTE chain fragment.
_KNN_GT_SQL = """
    gtq AS (SELECT vec_id AS query_id, embedding AS qe
            FROM embeddings WHERE vec_id < 8),
    gtp AS (
      SELECT gtq.query_id, e.vec_id AS neighbor_id,
             list_cosine_similarity(
                 list_transform(gtq.qe, x -> CAST(x AS DOUBLE)),
                 list_transform(e.embedding, x -> CAST(x AS DOUBLE))) AS s
      FROM gtq, embeddings e WHERE e.vec_id <> gtq.query_id),
    gt AS (
      SELECT query_id, neighbor_id, knn_rank
      FROM (SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY s DESC, neighbor_id) AS INTEGER) AS knn_rank
            FROM gtp)
      WHERE knn_rank <= 5)
"""


@register(
    "ann_recall_eval",
    "WITH cand AS ("
    + _knn_lsh_oracle(n_planes=36, bands=12, dim=64, k=5, q_below=8)
    + "),\n"
    + _KNN_GT_SQL
    + """
    , hits AS (
      -- EXISTS, not JOIN: the Spark side is a left-semi join, which
      -- counts each candidate row ONCE however many ground-truth rows
      -- match it — a duplicated corpus vector (sf0.01 fuzz twin, r10)
      -- occupies two gt ranks and double-counted the hit under JOIN
      SELECT c.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM cand c
      WHERE EXISTS (SELECT 1 FROM gt g
                    WHERE g.query_id = c.query_id
                      AND g.neighbor_id = c.neighbor_id)
      GROUP BY 1),
    top1 AS (SELECT query_id, neighbor_id FROM gt WHERE knn_rank = 1),
    rr AS (
      SELECT c.query_id,
             CAST(floor(1000000.0 / CAST(c.knn_rank AS DOUBLE)) AS BIGINT)
               AS rr_scaled
      FROM cand c JOIN top1 t
        ON t.query_id = c.query_id AND t.neighbor_id = c.neighbor_id),
    qs AS (SELECT DISTINCT query_id FROM gt)
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 5.0 AS recall_at_k,
           COALESCE(r.rr_scaled, CAST(0 AS BIGINT)) AS rr_scaled
    FROM qs q
    LEFT JOIN hits h ON h.query_id = q.query_id
    LEFT JOIN rr r ON r.query_id = q.query_id
    """,
    "retrieval-quality evaluation as a query: per-query recall@5 and "
    "scaled reciprocal rank of the LSH ANN rung against the "
    "brute-force ground truth — the index-quality report a 100 TB "
    "ANN deployment runs after every index build",
)
def ann_recall_eval(spark, sf_dir):
    """Evaluate `knn_lsh_bucketed` against `knn_cosine_bruteforce`
    per query (`operators/ranking.py::retrieval_eval`): hits in the
    top-5, recall@5, and the ⌊1e6/rank⌋-scaled reciprocal rank of the
    ground truth's nearest neighbor. pytest pins aggregate recall
    floors (test_llm_ops.py); this makes the evaluation itself a
    first-class, oracle-replayable query — queries with ZERO hits
    still emit a row, so silent index misses surface.

    Scale shape: both rankings are the already-bounded k-row-per-query
    lists, so every eval join is rank-list-sized (broadcast); exact
    integer hit counts and floor-scaled BIGINT reciprocal ranks — no
    float means, hash-comparable cross-engine.
    """
    from purpleair_data_logger_spark.operators import ranking as rk

    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    gt = sim.knn_bruteforce(em, queries, "vec_id", "embedding", k=5)
    cand = sim.knn_lsh(
        em, queries, "vec_id", "embedding", k=5, n_planes=36, bands=12
    )
    return rk.retrieval_eval(
        gt, cand, "query_id", "neighbor_id", "knn_rank", k=5
    )


@register(
    "rerank_crossencoder",
    f"""
    WITH q AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, qtext
      FROM (VALUES (1, 'vector hash join'),
                   (2, 'merge scan window'),
                   (3, 'stream batch spark')) v(query_id, qtext)
    ),
    d AS (
      SELECT doc_id, text FROM documents
      WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ),
    tok AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' ')))
               AS tok
      FROM d
    ),
    qf AS (
      SELECT query_id, qtext, string_split(qtext, ' ')[1] AS tok FROM q
    ),
    cand AS (
      SELECT DISTINCT qf.query_id, t.doc_id
      FROM tok t JOIN qf ON qf.tok = t.tok
    ),
    scored AS (
      SELECT c.query_id, c.doc_id,
             {_hex60_sql("sha256(qf.qtext || chr(31) || d.text)")}
               AS ce_score
      FROM cand c
      JOIN d ON d.doc_id = c.doc_id
      JOIN qf ON qf.query_id = c.query_id
    ),
    r AS (
      SELECT query_id, doc_id, ce_score,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY ce_score DESC, doc_id
             ) AS INT) AS rerank
      FROM scored
    )
    SELECT query_id, doc_id, ce_score, rerank FROM r WHERE rerank <= 10
    ORDER BY query_id, rerank
    """,
    "retrieval stage 3: cross-encoder RERANKING of first-stage "
    "candidates (inverted-index term lookup here; BM25/ANN in "
    "production) — joint (query, doc) scoring through ONE candidate-"
    "bounded mapInPandas Arrow stage with an injectable scorer "
    "(deterministic sha256 stub, the encoder/multimodal seam), "
    "WindowGroupLimit top-k per query",
)
def rerank_crossencoder(spark, sf_dir):
    """Rerank each query's candidate documents with the injectable
    cross-encoder (`ranking.rerank_topk`): first stage = an
    inverted-index equi-join (query's first term ∈ doc token set —
    never a corpus×queries nested loop), then the scorer runs once
    per candidate pair inside a single Arrow stage (stub here; a
    model runtime in production — `fake_cross_scorer` is the 60-bit
    sha256 hash the oracle nibble-parses), then a per-query
    WindowGroupLimit top-10. The corpus is touched by exactly one id
    equi-join; the query table broadcasts."""
    from purpleair_data_logger_spark.operators import ranking as rk

    queries = spark.createDataFrame(
        [(1, "vector hash join"), (2, "merge scan window"),
         (3, "stream batch spark")],
        "query_id long, qtext string",
    )
    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("_tok"),
    )
    qfirst = queries.select(
        "query_id", F.split("qtext", " ").getItem(0).alias("_tok")
    )
    cand = (
        tok.join(F.broadcast(qfirst), "_tok")
        .select("query_id", "doc_id")
        .distinct()
    )
    return rk.rerank_topk(
        cand, queries, d,
        query_id_col="query_id", doc_id_col="doc_id",
        query_text_col="qtext", doc_text_col="text",
        k=10, scorer=rk.fake_cross_scorer,
    ).orderBy("query_id", "rerank")


@register(
    "orders_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey IS NOT NULL
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
      FROM old WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice,
             o_orderpriority
      FROM old WHERE o_orderkey % 83 = 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                WHEN (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
                  OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
                  OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
                  THEN 'changed' END AS status
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL) OR (n.o_orderkey IS NULL)
       OR (o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
       OR (o.o_totalprice IS DISTINCT FROM n.o_totalprice)
       OR (o.o_orderpriority IS DISTINCT FROM n.o_orderpriority)
    """,
    "snapshot reconciliation (CDC diff): row-level inserted/deleted/"
    "changed classification between two table versions — one "
    "co-partitioned full-outer PK join, NULL-safe column compare, "
    "unchanged rows pruned before anything downstream",
)
def orders_snapshot_diff(spark, sf_dir):
    """Diff two deterministic versions of the orders table
    (`operators/diff.py::snapshot_diff`): the 'new' snapshot drops
    every 97th key (deleted), bumps every 89th total (changed), and
    re-keys every 83rd row past the key space (inserted) — a
    synthetic-but-exact CDC fixture derived in-query from the same
    scan, so the diff's output is fully predictable and replayable.

    NULL contract: NULL keys filtered both sides (unaddressable rows
    can't be reconciled); NULL→value flips in compared columns ARE
    changes (NULL-safe equality, `eqNullSafe` ↔ IS DISTINCT FROM).

    Scale shape: one full-outer equi-join on the PK (co-partitioned /
    bucketed layouts make it exchange-free), NULL-safe comparisons in
    codegen — no row hashing, no Python; the unchanged filter prunes
    ~97% of the join output immediately.
    """
    from purpleair_data_logger_spark.operators.diff import snapshot_diff

    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    old = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(*cols)
    )
    new = (
        old.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.when(
                F.col("o_orderkey") % 89 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderpriority",
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 83 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
                "o_orderpriority",
            )
        )
    )
    return snapshot_diff(
        old,
        new,
        ["o_orderkey"],
        ["o_orderstatus", "o_totalprice", "o_orderpriority"],
    )


@register(
    "substring_search_trigram",
    """
    SELECT doc_id,
           CAST((length(text) - length(replace(text, 'scan merge', '')))
                / length('scan merge') AS BIGINT) AS n_occurrences
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
      AND position('scan merge' IN text) > 0
    """,
    "grep-at-scale: literal substring search via a character-trigram "
    "inverted-index candidate pass + exact verify — candidates bounded "
    "by the rarest gram's posting list, never a corpus-wide contains()",
)
def substring_search_trigram(spark, sf_dir):
    """Documents containing the literal 'scan merge' with exact
    occurrence counts (`operators/text.py::substring_search`). The
    oracle states the semantic spec (position + replace-length
    identity); the Spark plan is the index formulation: distinct-gram
    explode semi-joined against the broadcast query-gram set, full-
    coverage candidates only, exact contains verify on candidates —
    at 100 TB the exploded (gram, doc) pairs are a persisted inverted
    index and the scan-every-byte LIKE never runs corpus-wide.
    """
    d = _t(spark, sf_dir, "documents")
    return tx.substring_search(d, "doc_id", "text", "scan merge")


@register(
    "heavy_part_suppliers",
    """
    WITH heavy AS (
      SELECT l_partkey FROM (
        SELECT l.l_partkey, p.p_size,
               CAST(sum(round(l.l_quantity)) AS BIGINT) AS qty_1995
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_partkey IS NOT NULL AND l.l_suppkey IS NOT NULL
          AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate < TIMESTAMP '1996-01-01'
        GROUP BY 1, 2)
      WHERE qty_1995 > 20 * p_size
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(count(DISTINCT l.l_partkey) AS BIGINT) AS n_heavy_parts
    FROM supplier s JOIN lineitem l ON l.l_suppkey = s.s_suppkey
    WHERE l.l_partkey IN (SELECT l_partkey FROM heavy)
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-01-01'
    GROUP BY 1, 2
    ORDER BY n_heavy_parts DESC, s_suppkey
    LIMIT 100
    """,
    "TPC-H Q20 shape: IN-subquery whose members are defined by a "
    "correlated aggregate threshold (parts shipped beyond 20x their "
    "size in 1995), resolved to the suppliers moving them — "
    "decorrelated to one aggregate + semi joins, never a per-row "
    "re-scan",
)
def heavy_part_suppliers(spark, sf_dir):
    """Suppliers ranked by how many 'heavy' parts they shipped in
    1995, where heavy means the part's total 1995 shipped quantity
    exceeds 20× its size — the TPC-H Q20 pattern (an IN-subquery whose
    membership is itself a correlated aggregate comparison; the
    reference schema has no partsupp table, so p_size stands in for
    the availability threshold — the SHAPE is the point).

    The oracle states the classic IN form; the Spark plan decorrelates
    it: ONE per-(partkey, size) aggregate over the date-pruned
    lineitem scan produces the heavy-part key set, which semi-joins
    back into the same date-pruned fact — never a per-row re-scan of
    lineitem per candidate.

    Scale shape: the date predicate is pushed to both lineitem scans
    (partition pruning at scale); the quantity threshold is exact
    integer cross-multiplication (Σround(qty) > 20·size — BIGINT, no
    float avg); the heavy-key set is aggregate-output-sized so AQE
    broadcasts the semi join; supplier is a broadcast dim; distinct
    part counting is a two-phase aggregate on the surviving rows; the
    top-100 plans as TakeOrderedAndProject with a deterministic
    s_suppkey tie-break.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_partkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_quantity")).cast("long").alias("qty"),
        )
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "p_size")
        .agg(F.sum("qty").alias("_qty"))
        .filter(F.col("_qty") > F.lit(20) * F.col("p_size"))
        .select("l_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.join(heavy, "l_partkey", "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.countDistinct("l_partkey").alias("n_heavy_parts"))
        .orderBy(F.desc("n_heavy_parts"), F.asc("s_suppkey"))
        .limit(100)
    )


@register(
    "order_count_distribution",
    """
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY 1
    )
    GROUP BY 1
    ORDER BY n_customers DESC, n_orders DESC
    """,
    "TPC-H Q13 shape: outer-join histogram — customers by how many "
    "non-urgent orders they placed, INCLUDING the zero-order bucket "
    "(the filter must live in the join condition, not WHERE)",
)
def order_count_distribution(spark, sf_dir):
    """Distribution of customers by their count of non-urgent orders —
    the TPC-H Q13 shape (left outer join + double aggregation). The
    classic trap: putting the priority filter in WHERE silently turns
    the outer join inner and drops the zero-order customers that ARE
    the point of the histogram; it stays in the join condition.

    Scale shape: customer and orders shuffle once on custkey (both
    fact-sized at 100 TB — no broadcast); the per-customer count is a
    map-side-combinable aggregate; the second aggregate runs over one
    row per customer and the final histogram is tiny. The priority
    predicate is evaluated join-side so Catalyst still pushes the
    orders column pruning (custkey, orderkey, priority only) to the
    scan.
    """
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


@register(
    "large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem
      GROUP BY 1
      HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents,
           b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY total_cents DESC, o.o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18 shape: group-filter IN-subquery (orders whose total "
    "shipped quantity exceeds a threshold) resolved to the customers "
    "placing them — aggregate once, join the tiny survivor set back",
)
def large_volume_customers(spark, sf_dir):
    """The 100 largest orders by value among those moving more than
    250 units, with their customers — the TPC-H Q18 pattern (an
    IN-subquery whose membership is a HAVING-filtered aggregate over
    the fact table).

    Decorrelated Spark plan: ONE per-orderkey aggregate over lineitem
    (quantity summed as exact BIGINT units) filtered to the >250
    survivors, which then drive equi-joins into orders and customer —
    never a per-order re-scan of lineitem; money is exact cents.

    Scale shape: lineitem shuffles once on l_orderkey (map-side
    combine first). The survivor set is p99-SIZED — small relative to
    orders but still SF-proportional — so the join strategy is left
    to AQE (it broadcasts at test scale and shuffles at 100 TB, where
    a forced broadcast of ~1% of all orderkeys would OOM executors);
    customer likewise joins under AQE's choice. The top-100 plans as
    TakeOrderedAndProject with a deterministic orderkey tie-break.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            F.round(F.col("l_quantity")).cast("long").alias("_qty"),
        )
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("_qty").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "total_cents", "sum_qty",
        )
        .orderBy(F.desc("total_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "supplier_part_breadth",
    """
    SELECT p.p_brand, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND l.l_suppkey IS NOT NULL AND l.l_partkey IS NOT NULL
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                              WHERE s_acctbal < 0
                                AND s_suppkey IS NOT NULL)
    GROUP BY 1, 2
    ORDER BY supplier_cnt DESC, p_brand, p_size
    LIMIT 100
    """,
    "TPC-H Q16 shape: supplier breadth per part attribute with a "
    "NOT-IN exclusion list — anti-join against the (tiny) excluded "
    "supplier set, then a distinct-count aggregate",
)
def supplier_part_breadth(spark, sf_dir):
    """How many distinct suppliers ship each (brand, size) of part,
    excluding one brand and every supplier in arrears — the TPC-H Q16
    pattern (NOT IN exclusion + COUNT(DISTINCT) over a dimension
    attribute rollup; the reference schema has no partsupp table, so
    observed lineitem (part, supplier) pairs stand in for it).

    The NOT IN resolves to a broadcast left-anti join against the
    negative-balance supplier list (exclusion lists are always tiny
    relative to the fact); the brand filter pushes into the part
    dimension BEFORE its broadcast join; the distinct count is
    Spark's two-phase partial-distinct aggregate — dedup on
    (brand, size, suppkey) map-side, count reduce-side — never a
    global sort.

    Scale shape: one shuffle on the group keys; part and the
    exclusion list broadcast; top-100 is TakeOrderedAndProject with
    (brand, size) completing a deterministic total order.
    """
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter((F.col("s_acctbal") < 0) & F.col("s_suppkey").isNotNull())
        .select("s_suppkey")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#45")
        .select("p_partkey", "p_brand", "p_size")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_suppkey").isNotNull() & F.col("l_partkey").isNotNull()
    ).select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size"))
        .limit(100)
    )


@register(
    "idle_rich_customers",
    """
    WITH bal AS (
      SELECT c_custkey, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
      WHERE c_custkey IS NOT NULL AND c_mktsegment IS NOT NULL
    ),
    stat AS (
      SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
             CAST(count(*) AS BIGINT) AS n_c
      FROM bal WHERE bal_c > 0
    )
    SELECT c_mktsegment AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(bal_c) AS BIGINT) AS total_bal_cents
    FROM bal, stat
    WHERE bal_c * n_c > sum_c
      AND c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderdate >= TIMESTAMP '2000-01-01'
                              AND o_custkey IS NOT NULL)
    GROUP BY 1
    ORDER BY 1
    """,
    "TPC-H Q22 shape: above-average balances with NO recent activity "
    "— global scalar aggregate broadcast + anti-join against the "
    "date-pruned fact",
)
def idle_rich_customers(spark, sf_dir):
    """Customers whose balance beats the positive-balance average but
    who placed no order since 2000 — the TPC-H Q22 pattern (a global
    scalar subquery feeding a per-row comparison, plus a NOT EXISTS
    anti-join; idleness here is recency-based since every customer in
    the testdata has SOME order).

    The scalar average never re-executes per row: one 1-row aggregate
    (sum, count as exact cents/BIGINT) cross-joins broadcast, and the
    comparison is exact integer cross-multiplication
    ``bal_c * n > sum_c`` — no float-average boundary. The NOT IN is a
    left-anti join against orders date-pruned BEFORE the join (at
    scale that predicate is partition pruning, and the distinct
    custkey set it leaves is months-sized, not history-sized).

    Scale shape: customer scans once for the scalar and once for the
    probe (two column-pruned reads); the anti join shuffles on
    custkey or broadcasts the pruned side under AQE; final rollup is
    segment-sized.

    NULL contract: a NULL custkey/segment carries no observation
    (filtered both engines); a NULL o_custkey in the subquery would
    null the oracle's entire NOT IN under three-valued logic while
    Spark's anti join shrugs it off — the classic NOT-IN trap, found
    by the fuzz sweep — so it is filtered explicitly on BOTH sides.
    """
    bal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isNotNull() & F.col("c_mktsegment").isNotNull())
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        )
    )
    stat = bal.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("_sum_c"), F.count(F.lit(1)).alias("_n_c")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
            & F.col("o_custkey").isNotNull()
        )
        .select("o_custkey")
    )
    return (
        bal.crossJoin(F.broadcast(stat))
        .filter(F.col("bal_c") * F.col("_n_c") > F.col("_sum_c"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_c").alias("total_bal_cents"),
        )
        .orderBy("segment")
    )


@register(
    "min_cost_supplier",
    """
    WITH offer AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice) AS min_price
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, min(min_price) AS best_price FROM offer GROUP BY 1
    )
    SELECT o.l_partkey AS p_partkey, o.l_suppkey AS s_suppkey, s.s_name,
           n.n_name AS nation,
           CAST(round(o.min_price * 100) AS BIGINT) AS best_price_cents
    FROM offer o
    JOIN best b ON b.l_partkey = o.l_partkey AND o.min_price = b.best_price
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    ORDER BY p_partkey, s_suppkey
    LIMIT 200
    """,
    "TPC-H Q2 shape: the per-part MINIMUM-cost supplier (correlated "
    "min subquery) — decorrelated to one aggregate + a window min, "
    "ties kept, never a per-part re-scan",
)
def min_cost_supplier(spark, sf_dir):
    """For each part, the supplier(s) observed offering its lowest
    price — the TPC-H Q2 pattern (a correlated MIN subquery selecting
    the argmin row per group; lineitem's observed (part, supplier,
    price) triples stand in for the missing partsupp table).

    Decorrelated Spark plan: one (partkey, suppkey) min-price
    aggregate shrinks the fact, then a window MIN over partkey on the
    AGGREGATE (one row per pair, not per lineitem) with an equality
    filter keeps every tied argmin — semantically identical to the
    oracle's aggregate + self-join, one shuffle cheaper. Price
    equality compares untouched parquet doubles (no arithmetic), so
    it is bit-exact cross-engine; cents conversion happens only in
    the output projection.

    Scale shape: the fact shuffles once on (partkey, suppkey), the
    window reuses the partkey prefix of that partitioning; supplier
    and nation broadcast; top-200 is TakeOrderedAndProject on the
    deterministic (partkey, suppkey) order.
    """
    offer = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("min_price"))
    )
    w = Window.partitionBy("l_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        offer.withColumn("_best", F.min("min_price").over(w))
        .filter(F.col("min_price") == F.col("_best"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("min_price") * 100).cast("long")
            .alias("best_price_cents"),
        )
        .orderBy("p_partkey", "s_suppkey")
        .limit(200)
    )


@register(
    "pagerank_copurchase",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
    pr(iter, node, rank) AS (
      SELECT 0, u, CAST(1000000000 AS BIGINT) FROM deg
      UNION ALL
      SELECT p.iter + 1, e.v,
             CAST(150000000 + (sum(p.rank // d.d) * 85) // 100 AS BIGINT)
      FROM pr p
      JOIN edges e ON e.u = p.node
      JOIN deg d ON d.u = p.node
      WHERE p.iter < 8
      GROUP BY p.iter + 1, e.v
    )
    SELECT node AS part_id, rank AS rank_e9 FROM pr WHERE iter = 8
    ORDER BY rank_e9 DESC, part_id
    LIMIT 50
    """,
    "link analysis: 8-iteration PageRank over the co-purchase graph "
    "in exact BIGINT fixed-point — bit-identical across partitionings "
    "and engines, two shuffles per round, lineage truncated per round",
)
def pagerank_copurchase(spark, sf_dir):
    """The 50 highest-authority parts in the co-purchase graph
    (`operators/graph.py::pagerank`) — an ITERATIVE algorithm held to
    a full value-hash oracle: the exact-integer recurrence
    (share = rank DIV deg; rank' = 0.15·scale + (Σshares·85) DIV 100)
    makes every round order-independent, so DuckDB's recursive CTE
    replays all 8 rounds bit-for-bit. The co-purchase edge set is the
    `copurchase_pairs` basket-bounded self-join, kept symmetric (a<>b,
    both orientations) so the graph has no dangling nodes.

    Scale shape: the quadratic edge term is basket-bounded (never
    corpus²); each round is one adjacency⋈ranks equi-join plus one
    map-side-combinable BIGINT sum — two shuffles; no window over the
    corpus, no Python, no rank vectors on the driver; the top-50 is
    TakeOrderedAndProject. Overflow contract: scale·N·85 < 2^63 ⇒
    N < 1.08e8 nodes at scale 1e9 (documented in operators/graph.py).
    """
    from purpleair_data_logger_spark.operators import graph as gr

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("u") != F.col("v"))
        .select("u", "v")
    )
    ranks = gr.pagerank(edges, "u", "v", n_iter=8, directed=True)
    # directed=True because the basket self-join above already emits
    # BOTH orientations (u <> v, not u < v) — re-symmetrizing inside
    # pagerank would only add a redundant union before the distinct.
    return (
        ranks.select(F.col("node").alias("part_id"), F.col("rank").alias("rank_e9"))
        .orderBy(F.desc("rank_e9"), F.asc("part_id"))
        .limit(50)
    )


def _countmin_oracle(width: int, depth: int) -> str:
    """DuckDB replay of the Count-Min build + point-query pipeline:
    same md5 row-salted buckets (via `_hex60_sql`), same cell sums,
    same min-over-rows estimate — the sketch is deterministic, so the
    'approximate' operator still gets a full value-hash oracle."""
    rows_values = ", ".join(f"({r})" for r in range(depth))
    h_cell = _hex60_sql("md5(concat('cm', CAST(r.r AS VARCHAR), '|', tok))")
    h_query = _hex60_sql(
        "md5(concat('cm', CAST(r.r AS VARCHAR), '|', e.tok))"
    )
    return f"""
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
               FROM documents),
    rws(r) AS (VALUES {rows_values}),
    cells AS (
      SELECT r.r AS row, {h_cell} % {width} AS bucket,
             CAST(count(*) AS BIGINT) AS cnt
      FROM t CROSS JOIN rws r
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
      FROM t GROUP BY 1
      ORDER BY n_exact DESC, tok LIMIT 30
    ),
    q AS (
      SELECT e.tok, e.n_exact, CAST(min(c.cnt) AS BIGINT) AS n_est
      FROM exact e CROSS JOIN rws r
      JOIN cells c ON c.row = r.r AND c.bucket = {h_query} % {width}
      GROUP BY 1, 2
    )
    SELECT tok, n_exact, n_est, n_est - n_exact AS overestimate
    FROM q ORDER BY n_exact DESC, tok
    """


@register(
    "countmin_token_counts",
    _countmin_oracle(width=2048, depth=4),
    "mergeable Count-Min frequency sketch (portable md5 rows, "
    "deterministic → fully oracled) point-queried at the exact top-30 "
    "tokens; the build shuffle carries at most depth*width cells per "
    "partition regardless of corpus size",
)
def countmin_token_counts(spark, sf_dir):
    """Count-Min sketch over the document token stream
    (`operators/sketches.py`), point-queried at the exact top-30
    tokens — output (tok, n_exact, n_est, overestimate) makes the
    sketch's one-sided error VISIBLE row by row (n_est >= n_exact
    always; the driver hash pins the exact overestimates since the
    md5 hash family is engine-portable).

    Scale shape: the build is one scan + depth-way explode + one
    map-side-combined (row, bucket) sum — the summary is <= depth*width
    rows however big the corpus, so it BROADCASTS into the point
    query; the exact top-30 side exists only to exhibit the error and
    is itself one aggregate + TakeOrderedAndProject. At 100 TB the
    sketch is the artifact you persist per day/partition and
    `countmin_merge` (cell-wise sum) rolls up — the HLL union algebra
    with counts.
    """
    from purpleair_data_logger_spark.operators import sketches as sk

    # Spread the few-partition scan before the token explode (r13,
    # guide §2.6): the depth-way md5 bucketing (4 hashes per token)
    # and the exact-count explode both otherwise run in ONE task over
    # the single-row-group parquet. No-op at scale
    # (`dd.parallelize_small_scan`).
    d = dd.parallelize_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(F.explode(tx.tokens("text")).alias("tok"))
    sketch = sk.countmin_table(toks, "tok", width=2048, depth=4)
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("tok"))
        .limit(30)
    )
    est = sk.countmin_estimate(sketch, exact, "tok", width=2048, depth=4)
    return est.select(
        "tok",
        "n_exact",
        "n_est",
        (F.col("n_est") - F.col("n_exact")).alias("overestimate"),
    ).orderBy(F.desc("n_exact"), F.asc("tok"))


@register(
    "quantile_sketch_events",
    f"""
    WITH src AS (
      SELECT event_type, event_id, value,
             {_hex60_sql("md5('bk|' || CAST(event_id AS VARCHAR))")} AS h
      FROM events
      WHERE event_type IS NOT NULL AND event_id IS NOT NULL
        AND value IS NOT NULL
    ),
    samp AS (
      SELECT event_type, event_id, value FROM (
        SELECT event_type, event_id, value,
               row_number() OVER (
                 PARTITION BY event_type ORDER BY h, event_id, value
               ) AS rn
        FROM src) WHERE rn <= 256
    ),
    sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_sample
           FROM samp GROUP BY 1),
    rk AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS vr
      FROM samp
    ),
    est AS (
      SELECT s.event_type, CAST(q.q_pct AS BIGINT) AS q_pct,
             s.n_sample, r.value AS est_value
      FROM sz s
      CROSS JOIN (VALUES (10), (50), (90), (99)) q(q_pct)
      JOIN rk r ON r.event_type = s.event_type
               AND r.vr = 1 + (q.q_pct * (s.n_sample - 1)) // 100
    ),
    audit AS (
      SELECT e.event_type, e.q_pct,
             CAST(sum(CASE WHEN x.value <= e.est_value THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_le,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM est e JOIN src x ON x.event_type = e.event_type
      GROUP BY 1, 2
    )
    SELECT e.event_type, e.q_pct, e.n_sample, e.est_value,
           (10000 * a.n_le) // a.n_rows AS true_rank_bp
    FROM est e JOIN audit a
      ON a.event_type = e.event_type AND a.q_pct = e.q_pct
    ORDER BY e.event_type, e.q_pct
    """,
    "mergeable bottom-k quantile sketch (deterministic md5 priorities "
    "-> fully oracled, rare for a quantile sketch) with an exact "
    "rank-error audit column; one key-shuffle of O(groups*k) rows "
    "however large the input (map-side WindowGroupLimit)",
)
def quantile_sketch_events(spark, sf_dir):
    """Percentile estimates (p10/p50/p90/p99) of `value` per event
    type from a 256-row bottom-k-by-md5 sample, AUDITED against the
    full table: `true_rank_bp` is the exact rank (basis points) the
    estimate actually lands at, so every gate run re-measures the
    sketch's rank error instead of trusting the O(1/sqrt(k)) bound
    (`operators/sketches.py::bottomk_quantiles`).

    Scale shape: the sample is one key-shuffle whose reduce side sees
    at most k rows per group (WindowGroupLimit collapses map-side);
    the audit is one more scan aggregated per (key, q) against the
    BROADCAST <=20-row estimate table. At 100 TB the per-partition
    samples are the persisted artifact and `bottomk_merge` (union,
    re-take k smallest) rolls them up exactly — the CMS/HLL merge
    algebra applied to rank queries.
    """
    from purpleair_data_logger_spark.operators import sketches as sk

    e = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isNotNull()
            & F.col("event_id").isNotNull()
            & F.col("value").isNotNull()
        )
        .select("event_type", "event_id", "value")
    )
    est = sk.bottomk_quantiles(
        e, ["event_type"], "value", "event_id", k=256
    )
    audit = (
        e.join(
            F.broadcast(est.select("event_type", "q_pct", "est_value")),
            "event_type",
        )
        .groupBy("event_type", "q_pct")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("est_value"), 1).otherwise(0)
            ).cast("long").alias("n_le"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return (
        est.join(audit, ["event_type", "q_pct"])
        .select(
            "event_type",
            "q_pct",
            "n_sample",
            "est_value",
            F.expr("(10000 * n_le) DIV n_rows").alias("true_rank_bp"),
        )
        .orderBy("event_type", "q_pct")
    )


