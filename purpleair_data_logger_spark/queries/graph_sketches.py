"""F4: graph algorithms, sketches, hyperfunctions, incremental embedding/index maintenance, LSH ops tooling.

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
    "market_share_by_year",
    """
    WITH rev AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS order_year,
             r.r_name AS region,
             n.n_name AS cust_nation,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_c4
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n   ON n.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE l.l_orderkey IS NOT NULL AND o.o_custkey IS NOT NULL
    )
    SELECT order_year, region,
           CAST(sum(CASE WHEN cust_nation = 'NATION_7' THEN rev_c4
                         ELSE 0 END) AS BIGINT) AS nation_rev_c4,
           CAST(sum(rev_c4) AS BIGINT) AS total_rev_c4,
           CAST(sum(CASE WHEN cust_nation = 'NATION_7' THEN rev_c4
                         ELSE 0 END) AS DOUBLE)
             / CAST(sum(rev_c4) AS DOUBLE) AS mkt_share
    FROM rev
    GROUP BY 1, 2
    HAVING sum(CASE WHEN cust_nation = 'NATION_7' THEN rev_c4
               ELSE 0 END) > 0
    ORDER BY order_year, region
    """,
    "TPC-H Q8 shape: market share — a conditional aggregate against "
    "its own group total (CASE-in-sum over one multi-way join tree, "
    "no self-join, no second scan); money exact to the 4th decimal",
)
def market_share_by_year(spark, sf_dir):
    """NATION_7's share of customer revenue per (year, region) — the
    TPC-H Q8 market-share pattern: the numerator is a CASE-gated sum
    over the SAME rows as the denominator, so one scan of one join
    tree yields both (the naive form scans or self-joins twice).

    Money is exact: price cents × integer discount percent gives
    BIGINT 10⁻⁴-dollar units, both sums order-independent; the share
    is ONE float division of two identical-integer operands —
    bit-identical cross-engine.

    Scale shape: lineitem joins orders on the fact key (both shuffle
    once; at this SF AQE broadcasts orders), then customer, nation,
    region attach as broadcast dims; the (year, region) rollup is
    map-side combined; HAVING prunes empty groups post-aggregate.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull())
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (
                    F.lit(100)
                    - F.round(F.col("l_discount") * 100).cast("long")
                )
            ).alias("rev_c4"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.year("o_orderdate").alias("order_year"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", F.col("n_name").alias("cust_nation")
    )
    r = _t(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    nation_rev = F.sum(
        F.when(F.col("cust_nation") == "NATION_7", F.col("rev_c4")).otherwise(
            F.lit(0).cast("long")
        )
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("order_year", "region")
        .agg(
            nation_rev.alias("nation_rev_c4"),
            F.sum("rev_c4").alias("total_rev_c4"),
            (
                nation_rev.cast("double")
                / F.sum("rev_c4").cast("double")
            ).alias("mkt_share"),
        )
        .filter(F.col("nation_rev_c4") > 0)
        .orderBy("order_year", "region")
    )


@register(
    "value_drift_report",
    """
    WITH binned AS (
      SELECT CAST(floor(value / CAST(5.0 AS DOUBLE)) AS BIGINT) AS bin,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 0
                           ELSE 1 END) AS BIGINT) AS n_ref,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1
                           ELSE 0 END) AS BIGINT) AS n_cur
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
             CAST(sum(n_cur) AS BIGINT) AS t_cur
      FROM binned
    ),
    per_bin AS (
      SELECT bin, CAST(bin AS DOUBLE) * CAST(5.0 AS DOUBLE) AS bin_lo,
             n_ref, n_cur,
             CASE WHEN t_ref > 0 THEN (n_ref * 10000) // t_ref
                  ELSE 0 END AS share_ref_bp,
             CASE WHEN t_cur > 0 THEN (n_cur * 10000) // t_cur
                  ELSE 0 END AS share_cur_bp
      FROM binned CROSS JOIN tot
    ),
    d AS (
      SELECT *,
             abs(share_cur_bp - share_ref_bp) AS drift_bp
      FROM per_bin
    ),
    tvd AS (SELECT CAST(sum(drift_bp) // 2 AS BIGINT) AS tvd_bp FROM d)
    SELECT bin, bin_lo, n_ref, n_cur, share_ref_bp, share_cur_bp,
           drift_bp, tvd_bp
    FROM d CROSS JOIN tvd
    """,
    "pipeline monitoring: per-bin distribution drift between two time "
    "windows in exact floored basis points + report-level total-"
    "variation distance — one CASE-gated scan, 1-row broadcasts, "
    "no ln() (the PSI/KL shape without cross-engine float logs)",
)
def value_drift_report(spark, sf_dir):
    """Value-distribution drift of the events stream across the
    2024-01-16 split (`operators/aggregations.py::distribution_drift`):
    per occupied bin, both windows' counts and floored-basis-point
    shares, the absolute share drift, and the report-level TVD — the
    monitoring read that catches schema-valid-but-differently-
    distributed data before it poisons a training mix. All arithmetic
    exact integers; output |bins| rows regardless of input size."""
    e = _t(spark, sf_dir, "events")
    return agg.distribution_drift(
        e, "ts", "value", split_ts="2024-01-16", bin_width=5.0
    )


@register(
    "triangle_census_copurchase",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
      GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.a
                  ELSE e0.b END AS u,
             CASE WHEN (da.d, e0.a) < (db.d, e0.b) THEN e0.b
                  ELSE e0.a END AS v
      FROM e0 JOIN deg da ON da.node = e0.a
              JOIN deg db ON db.node = e0.b
    ),
    tri AS (
      SELECT CAST(count(*) AS BIGINT) AS n_triangles
      FROM o x JOIN o y ON x.v = y.u
      WHERE EXISTS (SELECT 1 FROM o z WHERE z.u = x.u AND z.v = y.v)
    ),
    nd AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    ),
    ec AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e0)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           (3 * n_triangles * 1000000) // n_wedges AS gcc_ppm,
           CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE) AS gcc
    FROM nd, ec, tri
    """,
    "graph analytics: exact triangle census + global clustering "
    "coefficient via degree orientation — every triangle counted "
    "once, wedge-join fan-out bounded O(sqrt(m)) on any graph (the "
    "hub-skew answer); support-pruned co-purchase edges",
)
def triangle_census_copurchase(spark, sf_dir):
    """Triangle count and global clustering coefficient of the
    support-pruned co-purchase graph (edges appearing in >= 2 baskets
    — the noise floor for co-occurrence graphs, and what keeps the
    edge set basket-signal-sized instead of hairball-sized at any SF:
    ~3.5k edges here at sf0.01 AND sf0.1).
    `operators/graph.py::triangle_stats`: degree-oriented wedge join +
    closure semi-join — the node-iterator++ shape whose fan-out stays
    O(sqrt(m)) even with celebrity hubs. All counts exact BIGINT; the
    coefficient is also emitted as exact ppm.
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
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("pa", "pb")
    )
    return gr.triangle_stats(edges, "pa", "pb")


@register(
    "bfs_hops_copurchase",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
    walk(node, hops) AS (
      SELECT DISTINCT l_partkey, CAST(0 AS BIGINT) FROM li
      WHERE l_partkey < 5
      UNION
      SELECT e.v, w.hops + 1 FROM walk w JOIN e ON e.u = w.node
      WHERE w.hops < 12
    ),
    d AS (SELECT node, CAST(min(hops) AS BIGINT) AS hops
          FROM walk GROUP BY 1)
    SELECT hops, CAST(count(*) AS BIGINT) AS n_parts
    FROM d GROUP BY 1 ORDER BY 1
    """,
    "graph analytics: multi-source BFS hop histogram over the "
    "support-pruned co-purchase graph — frontier-expansion rounds "
    "(diameter-bounded, early-exit), exact min-hop integers",
)
def bfs_hops_copurchase(spark, sf_dir):
    """How many hops separate every part from the seed set (parts
    0-4) in the support-pruned co-purchase graph, as a hop histogram
    (`operators/graph.py::bfs_hops`). The oracle replays BFS as a
    recursive reachability CTE with min-hop aggregation; the Spark
    plan is frontier expansion with per-round settled anti-joins and
    early exit at an empty frontier — rounds = graph diameter, not
    the hop cap. Unreached parts are absent (∞)."""
    from purpleair_data_logger_spark.operators import graph as gr

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("pa", "pb")
    )
    sources = li.filter(F.col("l_partkey") < 5).select("l_partkey")
    hops = gr.bfs_hops(edges, "pa", "pb", sources, "l_partkey", max_hops=12)
    return (
        hops.groupBy("hops")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("hops")
    )


@register(
    "sssp_copurchase",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    e0 AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b,
             CASE WHEN count(*) >= 4 THEN 1
                  WHEN count(*) = 3 THEN 2 ELSE 3 END AS w
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    e AS (SELECT a AS u, b AS v, w FROM e0 UNION SELECT b, a, w FROM e0),
    walk(node, dist) AS (
      SELECT DISTINCT l_partkey, CAST(0 AS BIGINT) FROM li
      WHERE l_partkey < 5
      UNION
      SELECT e.v, wk.dist + e.w FROM walk wk JOIN e ON e.u = wk.node
      WHERE wk.dist + e.w <= 15
    ),
    d AS (SELECT node, CAST(min(dist) AS BIGINT) AS dist
          FROM walk GROUP BY 1)
    SELECT dist AS cost, CAST(count(*) AS BIGINT) AS n_parts
    FROM d GROUP BY 1 ORDER BY 1
    """,
    "graph analytics: multi-source WEIGHTED shortest paths "
    "(distributed Bellman-Ford, frontier-pruned relaxation rounds, "
    "early exit at fixpoint) — affinity-priced co-purchase edges, "
    "exact BIGINT path costs, cost-bounded recursive-CTE oracle",
)
def sssp_copurchase(spark, sf_dir):
    """Cheapest-path cost histogram from the seed parts (0-4) when
    co-purchase edges are PRICED by affinity: support >= 4 baskets
    costs 1, exactly 3 costs 2, the support floor (2) costs 3 — so the
    cheapest route prefers strong ties and the answer genuinely
    differs from the BFS hop histogram over the same graph.
    `operators/graph.py::shortest_paths`: frontier-pruned Bellman-Ford
    relaxation with exact integer costs; the oracle replays it as a
    cost-bounded recursive reachability CTE (states bounded by
    nodes x cap, positive weights make cost bound hops) with min-cost
    aggregation. The cost cap (15) is applied INSIDE both searches —
    `max_dist` prunes the Spark frontier (bounding relaxation rounds
    at the cap, so a long cheap chain can never exhaust max_rounds on
    nodes the query would discard), the CTE's WHERE bounds the
    enumeration; unreached parts are absent (infinity)."""
    from purpleair_data_logger_spark.operators import graph as gr

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select(
            "pa",
            "pb",
            F.when(F.col("_w") >= 4, 1)
            .when(F.col("_w") == 3, 2)
            .otherwise(3)
            .cast("long")
            .alias("cost"),
        )
    )
    sources = li.filter(F.col("l_partkey") < 5).select("l_partkey")
    dist = gr.shortest_paths(
        edges, "pa", "pb", "cost", sources, "l_partkey", max_dist=15
    )
    return (
        dist.filter(F.col("dist") <= 15)
        .groupBy(F.col("dist").alias("cost"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("cost")
    )


@register(
    "local_supplier_volume",
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_c4
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_orderkey IS NOT NULL AND l.l_suppkey IS NOT NULL
      AND o.o_custkey IS NOT NULL
    GROUP BY 1
    ORDER BY revenue_c4 DESC, nation
    """,
    "TPC-H Q5 shape: LOCAL-supplier volume — the cross-dimension "
    "equality (customer nation == supplier nation) rides the join "
    "tree as a post-join predicate, one scan, exact money",
)
def local_supplier_volume(spark, sf_dir):
    """1996 revenue where the customer and the line's supplier share a
    nation — the TPC-H Q5 pattern, whose distinctive feature is the
    EQUALITY BETWEEN TWO DIMENSIONS (c_nationkey = s_nationkey)
    threaded through the fact: it is not a join key of either dim but
    a predicate that only resolves after both have attached.

    Scale shape: the date predicate prunes orders at the scan (and
    partitions, at scale) BEFORE the fact join; customer, supplier,
    nation broadcast; the nation equality evaluates post-join on
    attached integer keys (no extra shuffle); money is exact
    10⁻⁴-dollar BIGINT; the rollup is nation-sized.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_custkey").isNotNull()
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("nation")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .orderBy(F.desc("revenue_c4"), F.asc("nation"))
    )


@register(
    "returned_revenue_customers",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS lost_revenue_c4,
           CAST(count(*) AS BIGINT) AS n_returned_items
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND l.l_orderkey IS NOT NULL AND o.o_custkey IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue_c4 DESC, c_custkey
    LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue ranking — flag predicate "
    "pushed to the fact scan, date-pruned orders, broadcast dims, "
    "top-20 TakeOrderedAndProject",
)
def returned_revenue_customers(spark, sf_dir):
    """The 20 customers who returned the most revenue in 1997-H1 — the
    TPC-H Q10 pattern (fact-side flag predicate × order-side date
    range × customer rollup × top-k). Both predicates reach their
    scans (returnflag on lineitem, the date range on orders — at
    scale, partition pruning); customer and nation broadcast; money
    exact; the top-20 plans as TakeOrderedAndProject with a custkey
    tie-break."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "R") & F.col("l_orderkey").isNotNull()
        )
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_custkey").isNotNull()
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", "nation")
        .agg(
            F.sum("rev_c4").alias("lost_revenue_c4"),
            F.count(F.lit(1)).alias("n_returned_items"),
        )
        .orderBy(F.desc("lost_revenue_c4"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "kcore_copurchase",
    # Peeling IS recursive-CTE expressible despite the data-dependent
    # round count: each recursive step re-derives per-node degrees with
    # window functions over the working edge set and keeps only edges
    # whose both endpoints still have degree >= k; a bool_and() OVER ()
    # fixpoint flag stops the recursion the round nothing changes. The
    # one-more-filter at the end makes the "peeled to empty" and
    # "reached fixpoint" terminations read identically. (r9 VERDICT #6:
    # the PageRank recursive-CTE precedent, extended with windows.)
    """
    WITH RECURSIVE lp AS (
      SELECT DISTINCT l_orderkey, l_partkey
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    ),
    sym AS (
      SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v FROM co
      UNION ALL
      SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM co
    ),
    peel(iter, u, v) AS (
      SELECT 0, u, v FROM sym
      UNION ALL
      SELECT iter + 1, u, v FROM (
        SELECT iter, u, v, du, dv,
               bool_and(du >= 3 AND dv >= 3) OVER () AS all_ok
        FROM (
          SELECT iter, u, v,
                 count(*) OVER (PARTITION BY u) AS du,
                 count(*) OVER (PARTITION BY v) AS dv
          FROM peel
        )
      )
      WHERE du >= 3 AND dv >= 3 AND NOT all_ok
    ),
    last_round AS (
      SELECT u, v FROM peel WHERE iter = (SELECT max(iter) FROM peel)
    ),
    fixpoint AS (
      SELECT u FROM (
        SELECT u,
               count(*) OVER (PARTITION BY u) AS du,
               count(*) OVER (PARTITION BY v) AS dv
        FROM last_round
      ) WHERE du >= 3 AND dv >= 3
    )
    SELECT DISTINCT u AS node FROM fixpoint ORDER BY node
    """,
    "graph analytics: 3-core of the support-pruned co-purchase graph "
    "— the dense kernel that survives stripping hangers-on; peeling "
    "rounds with AQE-planned anti-joins, unique fixpoint, oracled via "
    "a windowed recursive CTE",
)
def kcore_copurchase(spark, sf_dir):
    """Parts in the 3-core of the support-pruned co-purchase graph
    (`operators/graph.py::kcore`): every member co-purchases with >= 3
    other members WITHIN the core — the robust-hub set for
    recommendation seeding. The k-core is unique, so the row set is
    deterministic. k=3 (r9 VERDICT #1): at the driver's gate scale
    factor (sf0.01) the support-pruned graph has no 4-core, so the old
    k=4 gate row was vacuously empty; k=3 keeps a non-trivial core at
    every test SF (935/2000 nodes at sf0.01, 200/200 at sf0.001) and
    `tests/test_graph.py` pins non-emptiness so the gate row can never
    go vacuous again."""
    from purpleair_data_logger_spark.operators import graph as gr

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    edges = (
        a.join(b, on="l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("_w"))
        .filter(F.col("_w") >= 2)
        .select("pa", "pb")
    )
    return gr.kcore(edges, "pa", "pb", k=3).orderBy("node")


@register(
    "forecast_revenue_change",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                    * CAST(round(l_discount * 100) AS BIGINT))
                AS BIGINT) AS promo_revenue_c4,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: THE pushdown probe — one scan, every predicate "
    "at the parquet reader, one map-side-combined exact-money "
    "aggregate, zero joins",
)
def forecast_revenue_change(spark, sf_dir):
    """Revenue that would have been gained by eliminating mid-range
    discounts on small 1996 orders — the TPC-H Q6 pattern. The whole
    query is one scan whose FOUR predicates (date range, discount
    band, quantity cap) must all reach the parquet reader — row-group
    statistics then skip most of a 100 TB fact before a byte
    decompresses — feeding one map-side-combined aggregate. Money is
    the exact price-cents × discount-percent BIGINT product; no join,
    no window, no shuffle beyond the 1-row final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * F.round(F.col("l_discount") * 100).cast("long")
            ).alias("promo_revenue_c4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@register(
    "top_supplier_revenue",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS total_rev_c4
      FROM lineitem
      WHERE l_suppkey IS NOT NULL
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1
    ),
    best AS (SELECT max(total_rev_c4) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, r.total_rev_c4
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev_c4 = (SELECT m FROM best)
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 shape: the row(s) attaining a GLOBAL max-over-"
    "aggregate (the classic view + scalar subquery), decorrelated to "
    "one aggregate + a global-window max with ties kept",
)
def top_supplier_revenue(spark, sf_dir):
    """The supplier(s) with the highest 1996-Q1 revenue — the TPC-H
    Q15 pattern (a revenue VIEW consulted twice: once for the max,
    once to select the attaining rows — ties must all surface). The
    Spark plan aggregates ONCE and takes the max as a global window
    over the aggregate's supplier-count-sized rows, then equality-
    filters — exact BIGINT money makes the tie comparison exact, and
    the fact is never scanned twice. Supplier attaches broadcast."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_suppkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (
                    F.lit(100)
                    - F.round(F.col("l_discount") * 100).cast("long")
                )
            ).alias("total_rev_c4")
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    best = Window.partitionBy()
    return (
        rev.withColumn("_m", F.max("total_rev_c4").over(best))
        .filter(F.col("total_rev_c4") == F.col("_m"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_c4")
        .orderBy("s_suppkey")
    )


_PQ_CODEBOOK_CACHE: dict[str, list] = {}


@register(
    "knn_pq",
    None,  # k-means codebook training is iterative (the knn_ivf
    # precedent) and ADC scores are floats, so rows-only at the gate;
    # recall vs brute force + encode determinism pinned in pytest.
    "ANN ladder memory endpoint: product quantization (Jégou 2011) — "
    "8 one-byte codebook ids per vector (32x vs float64), ADC "
    "lookup-table scoring, exact rescore of survivors; recall pinned",
)
def knn_pq(spark, sf_dir):
    """PQ-ADC top-5 neighbors for the first 8 vectors
    (`operators/similarity.py::knn_pq`): the corpus-wide candidate
    pass reads 8 BYTES per vector (n_sub=8 subspaces × 256-centroid
    codebooks — one byte per code, 32x smaller than the float64
    vector) and scores each with 8 table lookups; only the top-40
    candidates per query pay exact float cosine. The codebook is an
    offline index artifact (trained once per corpus on a bounded
    deterministic sample, memoized per sf_dir like the IVF quantizer)
    so repeated catalog calls measure the query path."""
    em = _t(spark, sf_dir, "embeddings")
    queries = em.filter(F.col("vec_id") < 8)
    if sf_dir not in _PQ_CODEBOOK_CACHE:
        _PQ_CODEBOOK_CACHE[sf_dir] = sim.train_pq_codebooks(
            em, "embedding", n_sub=8, k_codes=256
        )
    return sim.knn_pq(
        em, queries, "vec_id", "embedding",
        k=5, n_sub=8, k_codes=256, codebooks=_PQ_CODEBOOK_CACHE[sf_dir],
    )


@register(
    "disjunctive_brand_revenue",
    """
    SELECT p.p_brand,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
                AS BIGINT) AS revenue_c4,
           CAST(count(*) AS BIGINT) AS n_lineitems
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND l.l_partkey IS NOT NULL
      AND (
            (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
             AND l.l_quantity BETWEEN 1 AND 11)
         OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
             AND l.l_quantity BETWEEN 10 AND 20)
         OR (p.p_brand = 'Brand#5'  AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 20 AND 30)
      )
    GROUP BY 1
    ORDER BY p_brand
    """,
    "TPC-H Q19 shape: disjunction of conjunct groups across the "
    "fact and a dimension — the derived common conjuncts (quantity "
    "envelope, brand IN-list, size ceiling) are hoisted to the scans "
    "by hand because no optimizer infers them through a join",
)
def disjunctive_brand_revenue(spark, sf_dir):
    """Revenue from three brand-specific (size-range x quantity-range)
    channels — the TPC-H Q19 pattern (reference workload analog: the
    dashboard panels' multi-predicate OR filters, Grafana JSON). The
    optimizer lesson this adds over the other 16 TPC-H shapes: an
    OR-of-ANDs that references BOTH join sides cannot be pushed
    through the join by Catalyst, so its derived single-side
    implications must be hoisted manually — `l_quantity BETWEEN 1 AND
    30` + the ship-date range reach the lineitem scan, `p_brand IN
    (...) AND p_size BETWEEN 1 AND 15` reach the part scan — and only
    the residual disjunction evaluates post-join. Without the hoist
    the fact scan reads every quantity at 100 TB; with it the scan is
    row-group-pruned on both columns (plan-pinned).

    Scale shape: part prunes to three brands before its broadcast;
    one fact scan, zero shuffles before the 3-group aggregate; exact
    10^-4-dollar BIGINT money."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_partkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            # derived conjunct of the OR (hoisted: reaches the scan)
            & F.col("l_quantity").between(1, 30)
        )
        .select(
            "l_partkey",
            "l_quantity",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            # derived conjuncts of the OR (hoisted: reach the scan)
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#5")
            & F.col("p_size").between(1, 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    ch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(ch)
        .groupBy("p_brand")
        .agg(
            F.sum("rev_c4").alias("revenue_c4"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("p_brand")
    )


@register(
    "two_nation_trade_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(rev_c4) AS BIGINT) AS revenue_c4
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
             CAST(round(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_c4
      FROM lineitem l
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
        AND l.l_orderkey IS NOT NULL AND l.l_suppkey IS NOT NULL
        AND o.o_custkey IS NOT NULL
    )
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    "TPC-H Q7 shape: two-nation pair predicate threaded through the "
    "fact — both nation filters push into the dimension scans BEFORE "
    "their broadcasts, the pair disjunction resolves post-join",
)
def two_nation_trade_volume(spark, sf_dir):
    """Shipping volume between two nations by direction and year —
    the TPC-H Q7 pattern. The distinctive plan lesson: the pair
    predicate names the SAME dimension (nation) twice in different
    roles (supplier's vs customer's), so the single-nation implication
    `n_name IN (pair)` is pushed into BOTH dimension attach paths
    before their broadcasts — supplier and customer each shrink to two
    nations' worth of keys before touching the fact — and only the
    direction disjunction (which needs both roles attached) evaluates
    post-join.

    Scale shape: nation filters prune both dim broadcasts; the fact
    scan is date-pruned; zero non-broadcast joins besides the
    orders attach (orderkey shuffle, AQE-planned); exact money; the
    rollup is 2 directions x 2 years."""
    pair = ("NATION_13", "NATION_19")
    n_pair = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*pair))
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n_pair),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n_pair),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select("o_orderkey", "o_custkey")
    )
    direction = (
        (F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1])
    ) | (
        (F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0])
    )
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .filter(direction)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_c4").alias("revenue_c4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "priority_lines_by_returnflag",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
      AND l.l_orderkey IS NOT NULL
      AND l.l_returnflag IS NOT NULL
      AND o.o_orderpriority IS NOT NULL
    GROUP BY 1
    ORDER BY 1
    """,
    "TPC-H Q12 shape: two-channel CASE-in-sum — one pass splits the "
    "joined rows into high/low priority counts; no self-join, no "
    "second scan, no pivot shuffle",
)
def priority_lines_by_returnflag(spark, sf_dir):
    """Per return-flag counts of lineitems on high- vs low-priority
    orders, 1997 shipments — the TPC-H Q12 pattern. The plan lesson:
    splitting one population into N labeled channels is a CASE
    expression INSIDE each aggregate, not a per-channel self-join or a
    pivot — one scan of each table, one shuffle, and the channel
    arithmetic rides the existing partial aggregation (map-side
    combine sees both counters).

    Scale shape: the date range prunes the fact scan; the
    orderkey join shuffles both sides once (orders is not
    broadcastable at scale — AQE plans it); the aggregate output is
    |returnflag| = 3 rows; counts are exact BIGINTs."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull()
            & F.col("l_returnflag").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_returnflag")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isNotNull())
        .select("o_orderkey", "o_orderpriority")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(is_high, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


#: Shared by document_embeddings / document_embeddings_incremental:
#: the 16 per-dim integer numerators recovered from the chunk sha256
#: hex digests (oracle side) and from the float32 embedding (Spark
#: side). Factored so a precision fix applies to both queries at once.
_EMB_SUM_SQL = """CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 1, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 2, 1))-1))) AS BIGINT) AS s0,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 3, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 4, 1))-1))) AS BIGINT) AS s1,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 5, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 6, 1))-1))) AS BIGINT) AS s2,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 7, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 8, 1))-1))) AS BIGINT) AS s3,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 9, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 10, 1))-1))) AS BIGINT) AS s4,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 11, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 12, 1))-1))) AS BIGINT) AS s5,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 13, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 14, 1))-1))) AS BIGINT) AS s6,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 15, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 16, 1))-1))) AS BIGINT) AS s7,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 17, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 18, 1))-1))) AS BIGINT) AS s8,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 19, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 20, 1))-1))) AS BIGINT) AS s9,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 21, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 22, 1))-1))) AS BIGINT) AS s10,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 23, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 24, 1))-1))) AS BIGINT) AS s11,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 25, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 26, 1))-1))) AS BIGINT) AS s12,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 27, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 28, 1))-1))) AS BIGINT) AS s13,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 29, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 30, 1))-1))) AS BIGINT) AS s14,
           CAST(list_sum(list_transform(hs, hx -> (strpos('0123456789abcdef', substr(hx, 31, 1))-1)*16 + (strpos('0123456789abcdef', substr(hx, 32, 1))-1))) AS BIGINT) AS s15"""


def _emb_recovery_cols():
    """round(e_i * 255 * n_chunks) recovers the exact per-dim integer
    sum — cast to double BEFORE the multiplies (float32 arithmetic
    would add ~2 more ulp on top of the unavoidable float32 STORAGE
    rounding); exact while the per-dim sum < 2^23, i.e. n_chunks <=
    32_896 (~4 MB of text at 128-char chunks), far past any real
    document."""
    return [
        F.round(
            F.element_at("embedding", i + 1).cast("double")
            * 255
            * F.col("n_chunks")
        )
        .cast("long")
        .alias(f"s{i}")
        for i in range(16)
    ]


@register(
    "document_embeddings",
    """
    WITH d AS (
      SELECT doc_id, text,
             CAST(greatest(1, ceil(length(text) / 128.0)) AS BIGINT) AS nch
      FROM documents
      WHERE text IS NOT NULL AND doc_id IS NOT NULL
    ),
    ch AS (
      SELECT doc_id, nch,
             list_transform(range(0, nch), k ->
               sha256(substr(text, CAST(k * 128 + 1 AS INT), 128))) AS hs
      FROM d
    )
    SELECT doc_id, CAST(nch AS BIGINT) AS n_chunks,
           """ + _EMB_SUM_SQL + """
    FROM ch
    """,
    "north-star embedding generation: chunk -> encode -> mean-pool via "
    "one mapInPandas Arrow stage (stub model, injectable) — the "
    "corpus->embeddings edge of the ANN ladder",
)
def document_embeddings(spark, sf_dir):
    """Generate the ``embedding array<float>`` column the whole ANN
    ladder consumes (`operators/encoder.py::encode_documents`): split
    each document into 128-character chunks, encode every chunk with
    the injectable encoder (deterministic sha256 stub here; a model
    runtime in production), mean-pool back to one vector per document
    — all inside ONE Arrow stage, no chunk-row explode, no shuffle
    (plan-pinned). Pooling keeps integer sums and divides once by
    255*n_chunks, so the gate recovers each per-dim integer numerator
    exactly (``round(e_i * 255 * n_chunks)``) and DuckDB replays the
    full chunk/encode/pool pipeline from sha256 hex."""
    from purpleair_data_logger_spark.operators import encoder as enc

    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    emb = enc.encode_documents(
        d, "doc_id", "text", dim=16, chunk_chars=128,
        encoder=enc.fake_encoder,
    )
    return emb.select("doc_id", "n_chunks", *_emb_recovery_cols())


@register(
    "promo_revenue_share",
    """
    SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN rev_c4 ELSE 0 END)
                AS BIGINT) AS promo_rev_c4,
           CAST(sum(rev_c4) AS BIGINT) AS total_rev_c4,
           100.0 * sum(CASE WHEN p.p_type = 'PROMO' THEN rev_c4 ELSE 0 END)
                 / sum(rev_c4) AS promo_share_pct
    FROM (
      SELECT l_partkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_c4
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
        AND l_partkey IS NOT NULL
    ) l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    "TPC-H Q14 shape: promo revenue share — CASE-gated sum beside the "
    "plain sum in ONE pass, type predicate evaluated post-broadcast, "
    "share as one float division of identical integers",
)
def promo_revenue_share(spark, sf_dir):
    """What fraction of one month's revenue came from PROMO parts —
    the TPC-H Q14 pattern. Like Q8, numerator and denominator are ONE
    scan (CASE inside the sum, never a second scan or self-join); the
    month prunes the fact scan (partition pruning at scale), part
    broadcasts, and the percentage is a single float division of two
    exact BIGINTs (bit-stable cross-engine)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_partkey").isNotNull()
            & (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select(
            "l_partkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    promo = F.when(F.col("p_type") == "PROMO", F.col("rev_c4")).otherwise(
        F.lit(0).cast("long")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(promo).alias("promo_rev_c4"),
            F.sum("rev_c4").alias("total_rev_c4"),
        )
        .select(
            "promo_rev_c4",
            "total_rev_c4",
            (
                F.lit(100.0)
                * F.col("promo_rev_c4")
                / F.col("total_rev_c4")
            ).alias("promo_share_pct"),
        )
    )


@register(
    "top_revenue_parts_share",
    """
    WITH pr AS (
      SELECT l_partkey AS partkey,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                  AS BIGINT) AS rev_c4
      FROM lineitem
      WHERE l_partkey IS NOT NULL
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(rev_c4) AS BIGINT) AS total_c4,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM pr
    )
    SELECT partkey, rev_c4
    FROM pr, tot
    WHERE 2 * rev_c4 * n_parts > 3 * total_c4
    ORDER BY rev_c4 DESC, partkey
    """,
    "TPC-H Q11 shape: HAVING against a global aggregate OF THE SAME "
    "aggregate tree — per-key rollup, 1-row scalar broadcast back, "
    "exact-integer cross-multiplied share threshold",
)
def top_revenue_parts_share(spark, sf_dir):
    """Parts whose lifetime revenue exceeds 1.5x the uniform share —
    the TPC-H Q11 pattern (a HAVING clause whose right side is a
    GLOBAL aggregate over the same groups). Decorrelated the same way
    Q11's spec intends: aggregate per part ONCE, roll that aggregate
    up to one (total, count) row, broadcast it back over the per-part
    rows, and compare with exact-BIGINT cross-multiplication
    (2 * rev * n_parts > 3 * total) — never a float share, never a
    second scan of the fact. The threshold scales with the part count
    and sits below the observed ~1.75x max share, so the row is
    non-vacuous at every test SF (2 parts at sf0.001, 29 at sf0.01 —
    the kcore vacuous-gate lesson, r9 VERDICT #1).

    Scale shape: one fact shuffle (the per-part aggregate); the global
    rollup reads the AGGREGATE (part-count-sized, AQE reuses the
    exchange); the scalar crossJoin is a 1-row broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_partkey").isNotNull())
    pr = (
        li.select(
            F.col("l_partkey").alias("partkey"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
        )
        .groupBy("partkey")
        .agg(F.sum("rev_c4").alias("rev_c4"))
    )
    tot = pr.agg(
        F.sum("rev_c4").alias("total_c4"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(2 * F.col("rev_c4") * F.col("n_parts") > 3 * F.col("total_c4"))
        .select("partkey", "rev_c4")
        .orderBy(F.desc("rev_c4"), F.asc("partkey"))
    )


@register(
    "product_profit_by_nation_year",
    """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
                    - CAST(round(p.p_retailprice * 100) AS BIGINT)
                      * CAST(round(l.l_quantity) AS BIGINT) * 100)
                AS BIGINT) AS profit_c4
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
      AND l.l_partkey IS NOT NULL AND l.l_suppkey IS NOT NULL
    GROUP BY 1, 2
    ORDER BY nation, l_year DESC
    """,
    "TPC-H Q9 shape: product-line profit by supplier nation and year "
    "— substring LIKE pruned into the part dimension before its "
    "broadcast, profit as exact-integer arithmetic in the sum",
)
def product_profit_by_nation_year(spark, sf_dir):
    """Profit on one product line (name contains 'widget') by the
    supplier's nation and ship year — the TPC-H Q9 pattern. The
    reference schema has no partsupp, so unit cost is the part's
    retail price (profit = revenue - retailprice x quantity), keeping
    Q9's distinctive shape: a SUBSTRING predicate that prunes the part
    dimension before its broadcast, two dimension attach paths
    (part by partkey, nation through supplier), and a profit
    EXPRESSION (not a bare measure) inside the sum — all in exact
    10^-4-dollar BIGINT arithmetic so the sum is order-independent.

    Scale shape: part shrinks to the product line before broadcast;
    supplier/nation broadcast; one fact scan, one rollup shuffle on
    (nation, year)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isNotNull() & F.col("l_suppkey").isNotNull())
        .select(
            "l_partkey",
            "l_suppkey",
            F.year("l_shipdate").cast("long").alias("l_year"),
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("rev_c4"),
            (
                F.round(F.col("l_quantity")).cast("long") * F.lit(100)
            ).alias("qty_x100"),
        )
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("retail_c2"),
        )
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("nation", "l_year")
        .agg(
            F.sum(
                F.col("rev_c4") - F.col("retail_c2") * F.col("qty_x100")
            ).alias("profit_c4")
        )
        .orderBy(F.asc("nation"), F.desc("l_year"))
    )


def _lsh_skew_oracle(num_hashes: int, bands: int, shingle_n: int) -> str:
    return (
        _minhash_lsh_cte(num_hashes, bands, shingle_n)
        + """
    , bsz AS (
      SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS c
      FROM bnd GROUP BY 1, 2
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(c) AS BIGINT) AS max_bucket_size,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS colliding_docs,
           CAST(sum(c * (c - 1) // 2) AS BIGINT) AS candidate_pairs
    FROM bsz
    GROUP BY 1
    ORDER BY 1
    """
    )


@register(
    "lsh_bucket_skew_report",
    _lsh_skew_oracle(num_hashes=64, bands=16, shingle_n=3),
    "north-star LSH ops tooling: per-band bucket-skew report — the "
    "degenerate-bucket check run BEFORE the band join at 100 TB",
)
def lsh_bucket_skew_report(spark, sf_dir):
    """Per-band skew diagnostics over the MinHash LSH index
    (`operators/dedup.py::lsh_bucket_skew_report`): bucket count, max
    bucket size, colliding docs, and the EXACT candidate-pair total
    the band join would generate. The band join's cost is quadratic in
    each bucket — one boilerplate family collapsing thousands of docs
    into one (band_idx, band_hash) turns 'collision-bounded' into
    all-pairs silently; this report is the pre-join alert that makes
    that hazard visible as data (the remediation is upstream exact /
    boilerplate dedup). Two map-side-combined aggregates over the band
    index; exact BIGINT pair arithmetic (integer DIV — c·(c−1) is
    even)."""
    d = _t(spark, sf_dir, "documents")
    return dd.lsh_bucket_skew_report(
        d, "doc_id", "text", num_hashes=64, bands=16, shingle_n=3,
        hash_family="md5",
    )


def _lsh_capped_drop_oracle(
    num_hashes: int, bands: int, shingle_n: int, cap: int
) -> str:
    return (
        _minhash_lsh_cte(num_hashes, bands, shingle_n)
        + f"""
    , bsz AS (
      SELECT band_idx, band_hash, CAST(count(*) AS BIGINT) AS c
      FROM bnd GROUP BY 1, 2
    )
    SELECT CAST(band_idx AS BIGINT) AS band_idx,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN c > {cap} THEN 1 ELSE 0 END) AS BIGINT)
               AS buckets_over_cap,
           CAST(sum(CASE WHEN c > {cap} THEN c ELSE 0 END) AS BIGINT)
               AS docs_dropped,
           CAST(sum(CASE WHEN c > {cap} THEN c * (c - 1) // 2 ELSE 0 END)
               AS BIGINT) AS pairs_dropped,
           CAST(sum(CASE WHEN c <= {cap} THEN c * (c - 1) // 2 ELSE 0 END)
               AS BIGINT) AS pairs_kept
    FROM bsz
    GROUP BY 1
    ORDER BY 1
    """
    )


@register(
    "lsh_capped_drop_report",
    _lsh_capped_drop_oracle(num_hashes=64, bands=16, shingle_n=3, cap=2),
    "north-star LSH ops tooling: per-band audit of what a degenerate-"
    "bucket ceiling would drop — run before enabling max_bucket_size",
)
def lsh_capped_drop_report(spark, sf_dir):
    """Per-band accounting of the bucket-size ceiling's cost
    (`operators/dedup.py::lsh_capped_drop_report`, VERDICT r11 #1):
    with a cap of 2, how many buckets exceed it, the docs and exact
    candidate pairs the `keep_buckets_within_cap` semi-join would
    drop, and the pairs kept. The mitigation itself ships as
    ``max_bucket_size`` on `minhash_lsh_candidates` /
    `neardup_lsh_verified` / `cosine_neardup_lsh_verified` (off by
    default — this report is how a deployment prices the cap before
    turning it on; the recall contract and bounded-candidates proof
    live in tests/test_llm_ops.py's planted-boilerplate pins)."""
    d = _t(spark, sf_dir, "documents")
    return dd.lsh_capped_drop_report(
        d, "doc_id", "text", max_bucket_size=2,
        num_hashes=64, bands=16, shingle_n=3, hash_family="md5",
    )


@register(
    "document_embeddings_incremental",
    """
    WITH todo AS (
      SELECT doc_id, text FROM documents d
      WHERE d.text IS NOT NULL AND d.doc_id IS NOT NULL
        AND NOT EXISTS (SELECT 1 FROM embeddings e
                        WHERE e.vec_id = d.doc_id
                          AND e.vec_id % 5 <> 0)
    ),
    d AS (
      SELECT doc_id, text,
             CAST(greatest(1, ceil(length(text) / 128.0)) AS BIGINT) AS nch
      FROM todo
    ),
    ch AS (
      SELECT doc_id, nch,
             list_transform(range(0, nch), k ->
               sha256(substr(text, CAST(k * 128 + 1 AS INT), 128))) AS hs
      FROM d
    )
    SELECT doc_id, CAST(nch AS BIGINT) AS n_chunks,
           """ + _EMB_SUM_SQL + """
    FROM ch
    """,
    "north-star embedding generation, steady-state ingest shape: "
    "anti-join against the already-encoded id set, then ONE Arrow "
    "encode pass over only the new documents",
)
def document_embeddings_incremental(spark, sf_dir):
    """Encode only the documents that do not yet have an embedding —
    the per-ingest shape of the corpus->embeddings edge (the
    `neardup_lsh_between` precedent: the accumulated artifact is never
    recomputed, each batch pays only for itself). The already-encoded
    id set (embeddings.vec_id here) attaches as a LEFT ANTI equi-join
    BEFORE the Arrow stage, so the model-cost-dominated encode pass
    runs over |new docs| rows only; at 100 TB the id set is far past
    broadcast size, so the anti-join is a shuffle AQE plans (or a
    runtime bloom filter prunes map-side — the id column is narrow).
    Same chunk/encode/pool arithmetic as `document_embeddings`, fully
    DuckDB-replayed including the NOT EXISTS.

    Fixture note: the testdata's embeddings table covers EVERY doc_id,
    which would make this row vacuously empty (the kcore r9 lesson) —
    so the 'already encoded' set is carved deterministically in-query
    (vec_id % 5 <> 0 counts as encoded, leaving a 20% backlog at every
    SF), the `orders_snapshot_diff` synthetic-fixture pattern."""
    from purpleair_data_logger_spark.operators import encoder as enc

    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    done = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 != 0)
        .select(F.col("vec_id").alias("doc_id"))
    )
    todo = d.join(done, "doc_id", "left_anti")
    emb = enc.encode_documents(
        todo, "doc_id", "text", dim=16, chunk_chars=128,
        encoder=enc.fake_encoder,
    )
    return emb.select("doc_id", "n_chunks", *_emb_recovery_cols())


def _corpus_overlap_oracle(num_hashes: int, shingle_n: int) -> str:
    """Replay of `dedup.corpus_overlap_minhash` (portable md5 family):
    per side, the same shingle/md5/affine chain as `_minhash_lsh_cte`
    collapsed to ONE global min per seed; agreement counted
    component-wise on the 1x1 join."""
    p31 = dd.MERSENNE_P31
    seeds = dd.affine_seeds(num_hashes)

    def side(tag: str, pred: str) -> str:
        mins = ",\n             ".join(
            f"min((_h * {a} + {b}) % {p31}) AS {tag}{i}"
            for i, (a, b) in enumerate(seeds)
        )
        return f"""
    toks_{tag} AS (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE text IS NOT NULL AND doc_id IS NOT NULL
                     AND {pred}),
    sh_{tag} AS (SELECT list_distinct(list_transform(
                   range(1, greatest(len(t)-{shingle_n - 1}, 1)+1),
                   i -> array_to_string(t[i:i+{shingle_n - 1}], ' '))) AS shing
                 FROM toks_{tag}),
    exh_{tag} AS (SELECT {_hex60_sql("md5(s)")} % {p31} AS _h
                  FROM (SELECT unnest(shing) AS s FROM sh_{tag})),
    mh_{tag} AS (SELECT {mins}
                 FROM exh_{tag})"""

    agree = "\n             + ".join(
        f"(CASE WHEN _a{i} = _b{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH {side('_a', 'doc_id % 2 = 0')},
    {side('_b', 'doc_id % 2 = 1')}
    SELECT CAST({num_hashes} AS BIGINT) AS n_hashes,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST({agree} AS DOUBLE) / {num_hashes}.0 AS jaccard_est
    FROM mh__a, mh__b
    """


@register(
    "corpus_overlap_minhash",
    _corpus_overlap_oracle(num_hashes=64, shingle_n=3),
    "north-star dedup planning sketch: corpus-level MinHash Jaccard "
    "estimate between two crawls — one global min-aggregate per side, "
    "never a shingle-granularity join",
)
def corpus_overlap_minhash(spark, sf_dir):
    """Estimate the shingle-set Jaccard between two corpus halves
    (`operators/dedup.py::corpus_overlap_minhash`) — the answer to
    "do these two crawls overlap enough to pay for a cross-corpus
    near-dup pass?" computed from one cheap scan of each side. The
    halves are the even/odd doc_id split (true shingle Jaccard ~ 0.25
    at both test SFs, so the row is never vacuous and the estimator
    has something real to estimate); the pytest pins the estimate
    against the exact Jaccard within the Broder stderr bound.

    Scale shape: one global map-side-combinable min-aggregate per
    corpus (reduce side sees 64 values/partition), one 1x1 broadcast
    cross join — the exact overlap this estimates would instead
    shuffle every distinct shingle of both corpora."""
    d = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull() & F.col("text").isNotNull()
    )
    return dd.corpus_overlap_minhash(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "text",
        num_hashes=64,
        shingle_n=3,
        hash_family="md5",
    )


