"""F2: event analytics — windows, gapfill, percentiles, funnels, state timelines, TPC-H pricing shapes.

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
    "value_trend_by_user",
    """
    WITH s AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL
    ), t0s AS (
      SELECT user_id, min(t) AS t0 FROM s GROUP BY 1
    ), g AS (
      SELECT s.user_id, count(*) AS n, min(t0s.t0) AS t0,
             sum(s.c) AS sc,
             sum(s.t - t0s.t0) AS st,
             sum(s.c * (s.t - t0s.t0)) AS sct,
             sum((s.t - t0s.t0) * (s.t - t0s.t0)) AS stt
      FROM s JOIN t0s USING (user_id) GROUP BY 1
    )
    SELECT user_id, n, make_timestamp(t0 * 1000000) AS t0,
           CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0.0
                THEN (CAST(n AS DOUBLE) * CAST(sct AS DOUBLE)
                      - CAST(sc AS DOUBLE) * CAST(st AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                        - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                     * 3600.0 / 100
           END AS slope_per_hour,
           CASE WHEN CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) <> 0.0
                THEN (CAST(sc AS DOUBLE)
                      - (CAST(n AS DOUBLE) * CAST(sct AS DOUBLE)
                         - CAST(sc AS DOUBLE) * CAST(st AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                           - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
                        * CAST(st AS DOUBLE))
                     / CAST(n AS DOUBLE) / 100
                ELSE CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100
           END AS intercept
    FROM g
    """,
    "A-family extension: TimescaleDB stats_agg→slope/intercept — "
    "per-key least-squares trend with an exact-BIGINT Gram matrix "
    "(rebased timestamps, scaled values) and fixed-order final "
    "divisions",
)
def value_trend_by_user(spark, sf_dir):
    """Per-user linear drift rate of value over time: exact integer
    Gram sums (rebased seconds × centi-scaled values), five
    fixed-order float ops at the end — the sensor-drift read,
    bit-identical cross-engine."""
    e = _t(spark, sf_dir, "events")
    return hf.trend_stats(e, "ts", "user_id", "value")


@register(
    "mode_value_by_event_type",
    """
    WITH vals AS (
      SELECT event_type, value, count(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    )
    SELECT event_type,
           (max(struct_pack(c := cnt, v := value))).v AS mode,
           CAST((max(struct_pack(c := cnt, v := value))).c AS BIGINT)
               AS mode_count,
           count(*) AS n_distinct
    FROM vals GROUP BY 1
    """,
    "A-family extension: exact per-group mode as a lexicographic "
    "struct argmax over the distinct-value count table — no sort, no "
    "window, deterministic greatest-value tie rule",
)
def mode_value_by_event_type(spark, sf_dir):
    """Most frequent value per event type: max(struct(count, value))
    over the map-side-combined count table — the same struct-extreme
    trick as M4, ties to the greatest value by contract."""
    e = _t(spark, sf_dir, "events")
    return agg.grouped_mode_exact(e, "event_type", "value")


@register(
    "winsorized_event_values",
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
    ),
    p AS (
      SELECT event_type, p.p_bp, value AS pctl_value
      FROM ranked CROSS JOIN (VALUES (500), (9500)) p(p_bp)
      WHERE rnk <= (p.p_bp * n + 9999) // 10000
        AND (p.p_bp * n + 9999) // 10000 <= rnk + cnt - 1
    ),
    cuts AS (
      SELECT event_type,
             min(CASE WHEN p_bp = 500 THEN pctl_value END) AS lo_cut,
             min(CASE WHEN p_bp = 9500 THEN pctl_value END) AS hi_cut
      FROM p GROUP BY 1
    ),
    clipped AS (
      SELECT e.event_type, c.lo_cut, c.hi_cut, e.value,
             CAST(round(least(greatest(e.value, c.lo_cut), c.hi_cut)
                        * 100) AS BIGINT) AS cv
      FROM events e JOIN cuts c USING (event_type)
      WHERE e.value IS NOT NULL
    )
    SELECT event_type,
           min(lo_cut) AS lo_cut, min(hi_cut) AS hi_cut,
           count(*) AS n,
           CAST(sum(CASE WHEN value < lo_cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_low,
           CAST(sum(CASE WHEN value > hi_cut THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clipped_high,
           CAST(sum(cv) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 100.0
               AS winsorized_mean
    FROM clipped GROUP BY 1
    """,
    "A-family extension: winsorized robust mean — values clipped to "
    "the group's exact nearest-rank [P5, P95] (observed cutoffs, "
    "broadcast back), aggregated as exact scaled BIGINTs with a "
    "fixed-order final division",
)
def winsorized_event_values(spark, sf_dir):
    """Outlier-robust per-group mean: clip to the exact [P5, P95]
    observed cutoffs (the `grouped_percentiles_exact` machinery,
    broadcast back as a 2-row-per-group table), sum the clipped
    values as scaled BIGINTs, divide once by n and once by the scale
    — bit-identical cross-engine, corpus never sorted."""
    e = _t(spark, sf_dir, "events")
    return agg.winsorized_stats(
        e, "event_type", "value", lo_bp=500, hi_bp=9500
    )


@register(
    "asof_next_error",
    """
    WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
         errs AS (SELECT * FROM events WHERE event_type = 'error')
    SELECT c.event_id, c.user_id, c.ts,
           (SELECT e.ts FROM errs e
            WHERE e.user_id = c.user_id AND e.ts >= c.ts
            ORDER BY e.ts, e.event_id LIMIT 1) AS asof_ts,
           (SELECT e.value FROM errs e
            WHERE e.user_id = c.user_id AND e.ts >= c.ts
            ORDER BY e.ts, e.event_id LIMIT 1) AS asof_value
    FROM clicks c
    """,
    "temporal-join family: FORWARD as-of join (earliest match "
    "at-or-after) — the 'next state change after this event' "
    "direction DuckDB's native ASOF lacks; same merge-scan, mirrored "
    "sort",
)
def asof_next_error(spark, sf_dir):
    """For each click, the user's next error at-or-after it:
    `operators.asof.asof_join(direction="forward")` — the merge-scan
    over descending timestamps (right rows first at equal ts, so the
    boundary stays inclusive). One shuffle + one sort, no per-row
    probe, no range blowup."""
    from purpleair_data_logger_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    errs = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value", "event_id"
    )
    return asof_join(
        clicks,
        errs,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["ts", "value"],
        direction="forward",
        # pins WHICH same-timestamp error wins, replaying the oracle's
        # ORDER BY e.ts, e.event_id LIMIT 1 (smallest id at the
        # boundary ts) — without it the carried payload is
        # partitioning-dependent when (user_id, ts) collides
        tiebreaker="event_id",
    ).select("event_id", "user_id", "ts", "asof_ts", "asof_value")


@register(
    "sliding_active_users",
    """
    WITH bounds AS (
      SELECT time_bucket(INTERVAL '15 minutes', min(ts))
               - INTERVAL '45 minutes' AS lo,
             max(ts) AS hi
      FROM events
    ), starts AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '15 minutes')) AS ws
      FROM bounds
    )
    SELECT s.ws AS window_start,
           count(DISTINCT e.user_id) AS active_users,
           count(*) AS n_events
    FROM starts s
    JOIN events e ON e.ts >= s.ws AND e.ts < s.ws + INTERVAL '1 hour'
    GROUP BY 1
    """,
    "A/R-family extension: sliding-window distinct actives (1 h "
    "window, 15 min slide) — the overlapping-window mode the tumbling "
    "A1-A3 family doesn't exercise; Spark window(ts, len, slide) "
    "replicated by a window-start spine range-join in the oracle",
)
def sliding_active_users(spark, sf_dir):
    """Hourly active sensors/users at 15-minute granularity: Spark's
    sliding `window()` assigns each event to its 4 overlapping
    epoch-aligned windows (a ×(len/slide) Expand, then one exact
    distinct aggregate). Only non-empty windows emit — matching the
    oracle's inner spine join."""
    e = _t(spark, sf_dir, "events")
    w = F.window("ts", "1 hour", "15 minutes")
    return (
        e.groupBy(w.alias("_w"))
        .agg(
            F.countDistinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("_w.start").alias("window_start"),
            "active_users",
            "n_events",
        )
    )


@register(
    "lttb_downsample_events",
    # The chain-dependent argmax is replayable since the kernel went
    # exact-integer (VERDICT r10 #8): the recursive CTE carries the
    # previous kept point per key and re-derives each bucket's pick by
    # the SAME c-scaled integer cross product, so the selection — not
    # just the aggregate — is re-derived independently. bounds replay
    # np.linspace bit-for-bit (i*step + 1 in IEEE double, trunc, with
    # the endpoint pinned to n-1 exactly as np sets it).
    """
    WITH RECURSIVE f AS (
      SELECT user_id, ts, value FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    ),
    o AS (
      SELECT user_id, ts, value,
             CAST(row_number() OVER w - 1 AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(round(value * 100) AS BIGINT) AS v,
             (epoch_us(ts) - first_value(epoch_us(ts)) OVER w) // 1000000
               AS x
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    big AS MATERIALIZED (SELECT * FROM o WHERE n > 50),
    keys AS (SELECT DISTINCT user_id, n FROM big),
    bnd AS (
      SELECT k.user_id, k.n, t.i,
             CASE WHEN t.i = 48 THEN k.n - 1
                  ELSE CAST(trunc(CAST(t.i AS DOUBLE)
                       * ((CAST(k.n AS DOUBLE) - 2) / 48.0) + 1.0)
                       AS BIGINT)
             END AS b
      FROM keys k, range(49) t(i)
    ),
    bkt AS MATERIALIZED (
      SELECT a.user_id, a.i, a.b AS lo, h.b AS hi, h.b AS nlo,
             CASE WHEN a.i <= 46 THEN n2.b ELSE a.n END AS nhi
      FROM bnd a
      JOIN bnd h ON h.user_id = a.user_id AND h.i = a.i + 1
      LEFT JOIN bnd n2 ON n2.user_id = a.user_id AND n2.i = a.i + 2
      WHERE a.i <= 47
    ),
    cent AS MATERIALIZED (
      SELECT bk.user_id, bk.i,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(o.x) AS BIGINT) AS sx,
             CAST(sum(o.v) AS BIGINT) AS sv
      FROM bkt bk JOIN big o
        ON o.user_id = bk.user_id AND o.rn >= bk.nlo AND o.rn < bk.nhi
      GROUP BY 1, 2
    ),
    rec AS (
      SELECT user_id, CAST(-1 AS BIGINT) AS i,
             rn AS a_rn, x AS a_x, v AS a_v
      FROM big WHERE rn = 0
      UNION ALL
      SELECT user_id, i, a_rn, a_x, a_v FROM (
        SELECT r.user_id, r.i + 1 AS i,
               o.rn AS a_rn, o.x AS a_x, o.v AS a_v,
               row_number() OVER (
                 PARTITION BY r.user_id
                 ORDER BY abs((c.c * r.a_x - c.sx) * (o.v - r.a_v)
                              - (r.a_x - o.x) * (c.sv - c.c * r.a_v))
                            DESC,
                          o.rn ASC
               ) AS rk
        FROM rec r
        JOIN bkt bk ON bk.user_id = r.user_id AND bk.i = r.i + 1
        JOIN cent c ON c.user_id = r.user_id AND c.i = r.i + 1
        JOIN big o ON o.user_id = r.user_id
                  AND o.rn >= bk.lo AND o.rn < bk.hi
        WHERE r.i < 47
      ) WHERE rk = 1
    ),
    sel AS (
      SELECT user_id, a_rn AS rn FROM rec
      UNION ALL
      SELECT user_id, n - 1 AS rn FROM keys
    )
    SELECT b.user_id, b.ts, b.value
    FROM big b JOIN sel s ON s.user_id = b.user_id AND s.rn = b.rn
    UNION ALL
    SELECT user_id, ts, value FROM o WHERE n <= 50
    ORDER BY user_id, ts, value
    """,
    "A2 extension: LTTB perception-optimal downsampling (Steinarsson "
    "2013) — exact-integer selection, so the sequential chain is "
    "replayed by a per-key recursive-CTE argmax (the kcore oracle "
    "precedent)",
)
def lttb_downsample_events(spark, sf_dir):
    """Per sensor key, the 50 points that best preserve the series
    shape (largest-triangle-three-buckets): one shuffle on the key,
    one Arrow batch + numpy kernel per series — the documented
    pandas-UDF case for chain-dependent algorithms. Selection runs on
    exact integers (1 s x resolution, 2-decimal scaled values — see
    `lttb_indices`), so the chain-dependent argmax is bit-replayable
    by the recursive-CTE oracle."""
    e = _t(spark, sf_dir, "events")
    return hf.lttb_downsample(e, "ts", "user_id", "value", 50)


@register(
    "frequent_tokens_docs",
    """
    WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
               FROM documents),
    n AS (SELECT count(*) AS total FROM t)
    SELECT tok, count(*) AS n_occurrences,
           (SELECT total FROM n) AS n_total,
           CAST(count(*) AS DOUBLE) / (SELECT CAST(total AS DOUBLE) FROM n)
               AS freq
    FROM t GROUP BY tok
    HAVING count(*) * 10000 >= 100 * (SELECT total FROM n)
    """,
    "north-star heavy hitters: exact frequent tokens (support >= 1%) "
    "via the two-scan candidate/verify formulation — per-partition "
    "pigeonhole candidates, broadcast-semi-join verify; the shuffle "
    "carries candidates, never the distinct-token table",
)
def frequent_tokens_docs(spark, sf_dir):
    """Every token at >= 1% of the corpus with its exact count —
    stopword discovery / hot-key detection. `agg.frequent_items`: a
    partition emits only values locally above support (provable
    superset by pigeonhole), the corpus is re-scanned once to
    exact-count the candidates; all thresholds are integer
    cross-multiplications."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens("text")).alias("tok"))
    return agg.frequent_items(toks, "tok", support_bp=100)


@register(
    "frequent_tokens_by_lang",
    """
    WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    n AS (SELECT lang, count(*) AS total FROM t GROUP BY 1)
    SELECT t.lang, t.tok, count(*) AS n_occurrences,
           CAST(min(n.total) AS BIGINT) AS n_total,
           CAST(count(*) AS DOUBLE) / CAST(min(n.total) AS DOUBLE) AS freq
    FROM t JOIN n ON t.lang = n.lang
    GROUP BY 1, 2
    HAVING count(*) * 10000 >= 100 * min(n.total)
    """,
    "north-star per-group heavy hitters: per-language frequent tokens "
    "(>= 1% of the language's corpus) — the pigeonhole candidate/"
    "verify shape applied per (partition, group); per-language "
    "stopword discovery",
)
def frequent_tokens_by_lang(spark, sf_dir):
    """Per-language stopword discovery: within each language, every
    token at >= 1% of that language's token mass with exact counts.
    `agg.grouped_frequent_items`: candidates clear the support against
    the GROUP's rows in each partition, totals attach by broadcast,
    thresholds stay integer cross-multiplications."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(tx.tokens("text")).alias("tok"))
    return agg.grouped_frequent_items(
        toks, ["lang"], "tok", support_bp=100
    )


@register(
    "asap_smooth_events",
    None,  # Oracle-impossibility note (VERDICT r10 #8 follow-up —
    # the LTTB exact-integer treatment was evaluated and does NOT
    # extend here): replaying the window search needs the kurtosis
    # constraint kurt(smoothed_w) >= kurt(original) decided exactly.
    # In scaled integers that is m·Σu⁴·(Σv²)² >= n·Σv⁴·(Σu²)² with
    # u_i = m·S_i − ΣS (S_i the w-window sums) — the 4th-power sums
    # alone reach ~10²⁶ at this data's magnitudes and the
    # cross-multiplied comparison ~10⁶⁸, past BIGINT (~9·10¹⁸) and
    # HUGEINT/int128 (~1.7·10³⁸) in any SQL engine; evaluating it in
    # float instead reintroduces exactly the np-pairwise-summation vs
    # SQL-streaming-sum divergence that forced LTTB to integers.
    # Correctness is therefore pinned the other way: the kernel
    # against an independent plain-loop reference, the operator
    # against the kernel, plus a rows-only driver check.
    "A2/A4 extension: ASAP smoothing (Rong & Bailis VLDB'17; "
    "TimescaleDB asap_smooth) — the auto-parameterized "
    "roughness-minimal, kurtosis-preserving moving average a "
    "dashboard draws instead of a hand-tuned one. Rows-only by "
    "arithmetic necessity: deciding the kurtosis constraint exactly "
    "needs ~10^68 cross-multiplied integer magnitudes (4th-power "
    "sums x squared 2nd-power sums), beyond int64 AND int128 — see "
    "the registration note",
)
def asap_smooth_events(spark, sf_dir):
    """Smooth each sensor's hourly mean series with the ASAP-chosen
    window: minimal roughness among windows that preserve kurtosis
    (spikes survive). Pre-aggregated to the calendar-bounded hourly
    series first — the same series-fits-one-worker contract as LTTB —
    then one Arrow-batched kernel pass per key."""
    e = _t(spark, sf_dir, "events")
    hourly = e.groupBy(
        agg.time_bucket("ts", 3600).alias("bucket_ts"), "user_id"
    ).agg(F.avg("value").alias("v"))
    return hf.asap_smooth(hourly, "bucket_ts", "user_id", "v", max_window=24)


@register(
    "m4_lttb_downsample_events",
    # Fully oracled since the LTTB kernel went exact-integer (VERDICT
    # r10 #8): the M4 stage is the oracled m4_downsample_15min struct-
    # extreme shape, its ≤4 points per bucket unnest + dedup into the
    # composed series, and the SAME recursive-CTE argmax chain as
    # lttb_downsample_events replays the selection.
    """
    WITH RECURSIVE s AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts) AS b,
             user_id, ts, value
      FROM events WHERE value IS NOT NULL
    ),
    a AS (
      SELECT b, user_id,
             min(struct_pack(t := ts, v := value)) AS fs,
             max(struct_pack(t := ts, v := value)) AS ls,
             min(struct_pack(v := value, t := ts)) AS lo,
             max(struct_pack(v := value, t := ts)) AS hi
      FROM s GROUP BY 1, 2
    ),
    px AS (
      SELECT user_id,
             unnest([fs, ls,
                     struct_pack(t := lo.t, v := lo.v),
                     struct_pack(t := hi.t, v := hi.v)]) AS u
      FROM a
    ),
    f AS (
      SELECT DISTINCT user_id, u.t AS ts, u.v AS value FROM px
      WHERE user_id IS NOT NULL AND u.t IS NOT NULL
    ),
    o AS (
      SELECT user_id, ts, value,
             CAST(row_number() OVER w - 1 AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
             CAST(round(value * 100) AS BIGINT) AS v,
             (epoch_us(ts) - first_value(epoch_us(ts)) OVER w) // 1000000
               AS x
      FROM f
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, value)
    ),
    big AS MATERIALIZED (SELECT * FROM o WHERE n > 50),
    keys AS (SELECT DISTINCT user_id, n FROM big),
    bnd AS (
      SELECT k.user_id, k.n, t.i,
             CASE WHEN t.i = 48 THEN k.n - 1
                  ELSE CAST(trunc(CAST(t.i AS DOUBLE)
                       * ((CAST(k.n AS DOUBLE) - 2) / 48.0) + 1.0)
                       AS BIGINT)
             END AS b
      FROM keys k, range(49) t(i)
    ),
    bkt AS MATERIALIZED (
      SELECT a2.user_id, a2.i, a2.b AS lo, h.b AS hi, h.b AS nlo,
             CASE WHEN a2.i <= 46 THEN n2.b ELSE a2.n END AS nhi
      FROM bnd a2
      JOIN bnd h ON h.user_id = a2.user_id AND h.i = a2.i + 1
      LEFT JOIN bnd n2 ON n2.user_id = a2.user_id AND n2.i = a2.i + 2
      WHERE a2.i <= 47
    ),
    cent AS MATERIALIZED (
      SELECT bk.user_id, bk.i,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(o.x) AS BIGINT) AS sx,
             CAST(sum(o.v) AS BIGINT) AS sv
      FROM bkt bk JOIN big o
        ON o.user_id = bk.user_id AND o.rn >= bk.nlo AND o.rn < bk.nhi
      GROUP BY 1, 2
    ),
    rec AS (
      SELECT user_id, CAST(-1 AS BIGINT) AS i,
             rn AS a_rn, x AS a_x, v AS a_v
      FROM big WHERE rn = 0
      UNION ALL
      SELECT user_id, i, a_rn, a_x, a_v FROM (
        SELECT r.user_id, r.i + 1 AS i,
               o.rn AS a_rn, o.x AS a_x, o.v AS a_v,
               row_number() OVER (
                 PARTITION BY r.user_id
                 ORDER BY abs((c.c * r.a_x - c.sx) * (o.v - r.a_v)
                              - (r.a_x - o.x) * (c.sv - c.c * r.a_v))
                            DESC,
                          o.rn ASC
               ) AS rk
        FROM rec r
        JOIN bkt bk ON bk.user_id = r.user_id AND bk.i = r.i + 1
        JOIN cent c ON c.user_id = r.user_id AND c.i = r.i + 1
        JOIN big o ON o.user_id = r.user_id
                  AND o.rn >= bk.lo AND o.rn < bk.hi
        WHERE r.i < 47
      ) WHERE rk = 1
    ),
    sel AS (
      SELECT user_id, a_rn AS rn FROM rec
      UNION ALL
      SELECT user_id, n - 1 AS rn FROM keys
    )
    SELECT b2.user_id, b2.ts, b2.value
    FROM big b2 JOIN sel s2 ON s2.user_id = b2.user_id AND s2.rn = b2.rn
    UNION ALL
    SELECT user_id, ts, value FROM o WHERE n <= 50
    ORDER BY user_id, ts, value
    """,
    "A2 extension: the SCALE.md corpus-series path as ONE operator — "
    "M4 pre-aggregation (distributed, ≤4 points/bucket) feeding LTTB "
    "over the bounded extreme-point series (VERDICT r4 #8); fully "
    "oracled end-to-end via the exact-integer recursive-CTE chain",
)
def m4_lttb_downsample_events(spark, sf_dir):
    """Downsample each sensor's series to 50 shape-preserving points
    without ever shipping a raw series to one worker: M4 15-min
    extremes first (pure aggregate — the stage that must scale),
    then LTTB over the ≤4-points-per-bucket result. This is the
    contract users are told to follow for series that exceed one
    worker; `hf.m4_then_lttb` pins it as a single call."""
    e = _t(spark, sf_dir, "events")
    return hf.m4_then_lttb(e, "ts", "user_id", "value", 900, 50)


@register(
    "conversion_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           p.t_purchase IS NOT NULL AS converted
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
    "events-analytics extension: ordered view->click->purchase funnel "
    "(stage-anchored conditional minima, no per-user sequence scan)",
)
def conversion_funnel(spark, sf_dir):
    """Ordered funnel: first view, first click AFTER that view, first
    purchase AFTER that click, per user. Each stage is one map-side-
    combined aggregate anchored on the previous stage's timestamp
    (attached by an equi-join on user) — never a per-user ordered
    window scan over raw events, so a hot user is an AQE-splittable
    join key rather than one sort partition. At 100 TB each stage's
    output is one row per surviving user."""
    e = _t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.col("t_purchase").isNotNull().alias("converted"),
        )
    )


@register(
    "weekly_retention_cohorts",
    """
    WITH fw AS (
      SELECT user_id,
             CAST(min(epoch_us(ts) // 604800000000) AS BIGINT)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, fw.cohort_week,
             CAST(epoch_us(e.ts) // 604800000000 AS BIGINT)
               AS active_week
      FROM events e JOIN fw ON e.user_id = fw.user_id
    )
    SELECT cohort_week,
           CAST(active_week - cohort_week AS BIGINT) AS weeks_since_first,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM act
    GROUP BY 1, 2
    """,
    "events-analytics extension: retention cohort matrix (first-seen "
    "week x weeks-since, distinct active users)",
)
def weekly_retention_cohorts(spark, sf_dir):
    """The retention triangle: users bucketed by first-seen epoch week,
    counted distinct per (cohort, weeks-since-first). Two aggregates +
    one join on user_id; the distinct collapses map-side on (user,
    week) before the final count — integer week arithmetic end to
    end."""
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / (7 * 86400 * 1_000_000))
        .cast("long")
        .alias("week"),
    )
    fw = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = e.join(fw, "user_id").select("user_id", "cohort_week", F.col("week").alias("active_week")).distinct()
    return (
        act.groupBy(
            "cohort_week",
            (F.col("active_week") - F.col("cohort_week")).alias("weeks_since_first"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "corpus_accounting_rollup",
    """
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
    "O-family extension: multi-level ROLLUP accounting (the subtotal "
    "reporting shape Spark executes as one Expand+aggregate pass)",
)
def corpus_accounting_rollup(spark, sf_dir):
    """Corpus accounting at every aggregation level in one query:
    (lang, source), per-lang subtotals, and the grand total via
    ROLLUP — Spark plans this as a single Expand + hash aggregate
    (each input row expands to its 3 grouping sets map-side and
    partial-aggregates before the one shuffle), not three scans.
    Exact integer counts/sums, so subtotal rows hash cross-engine."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.whitespace_token_count("text")).alias("total_tokens"),
    )


@register(
    "event_type_pivot",
    """
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view
    FROM events
    GROUP BY user_id
    """,
    "O-family extension: pivot (long->wide reshaping with an explicit "
    "pivot-value list)",
)
def event_type_pivot(spark, sf_dir):
    """Per-user event counts pivoted to one column per event type —
    the long→wide reshaping every dashboard/feature-matrix export
    needs. The pivot VALUES are explicit: with them, Spark pivots off
    ONE scan (a (user, type) pre-aggregate feeding the pivot
    aggregate — both map-side combined); without them it would burn an
    extra distinct-scan job to discover the columns, and the output
    schema would depend on the data (a rerun hazard at 100 TB).
    Unmatched cells coalesce to 0 to match COUNT FILTER semantics."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    pivoted = e.groupBy("user_id").pivot("event_type", types).count()
    return pivoted.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in types
        ],
    )


@register(
    "ccnet_quality_buckets",
    """
    WITH pdt AS (
      SELECT doc_id, tok, count(*) AS occ
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY doc_id, tok
    ),
    tc AS (SELECT tok, CAST(sum(occ) AS BIGINT) AS corpus_tf FROM pdt GROUP BY tok),
    n AS (SELECT CAST(sum(corpus_tf) AS BIGINT) AS corpus_total FROM tc),
    r AS (
      SELECT pdt.doc_id,
             CAST(sum(occ * corpus_tf) AS DOUBLE)
               / CAST(CAST(sum(occ) AS BIGINT) * min(corpus_total) AS DOUBLE)
               AS mcp
      FROM pdt JOIN tc ON pdt.tok = tc.tok CROSS JOIN n
      GROUP BY pdt.doc_id
    ),
    s AS (
      SELECT d.doc_id, d.lang,
             CAST(floor(r.mcp * 1000000) AS BIGINT) AS score_q
      FROM r JOIN documents d ON r.doc_id = d.doc_id
    ),
    vals AS (SELECT lang, score_q, count(*) AS cnt FROM s GROUP BY 1, 2),
    ranked AS (
      SELECT lang, score_q,
             sum(cnt) OVER (PARTITION BY lang ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1
               AS rnk,
             sum(cnt) OVER (PARTITION BY lang) AS n
      FROM vals
    ),
    prt AS (
      SELECT lang, score_q,
             CASE WHEN n > 1 THEN CAST(rnk - 1 AS DOUBLE)
                                  / CAST(n - 1 AS DOUBLE)
                  ELSE 0.0 END AS pr
      FROM ranked
    )
    SELECT s.doc_id, s.lang, s.score_q, prt.pr,
           CASE WHEN prt.pr >= 2.0/3.0 THEN 'head'
                WHEN prt.pr >= 1.0/3.0 THEN 'middle'
                ELSE 'tail' END AS ccnet_bucket
    FROM s JOIN prt ON s.lang = prt.lang AND s.score_q = prt.score_q
    """,
    "north-star composed curation: CCNet head/middle/tail perplexity "
    "buckets (unigram-LM score -> per-language percentile tertiles)",
)
def ccnet_quality_buckets(spark, sf_dir):
    """CCNet's head/middle/tail stratification (Wenzek et al. 2020):
    per-language tertiles of the log-free unigram-LM score. The
    continuous score is floor-quantized to an integer first (the
    documented `percent_rank_filter` contract for continuous scores —
    floor of identical doubles is engine-exact where round() is not),
    then the percentile attaches via the two-pass rank-over-aggregate
    table: the corpus is never window-partitioned by the ~5-value
    language key."""
    d = _t(spark, sf_dir, "documents")
    r = tx.unigram_rarity(d, "doc_id", "text", rare_max_tf=2)
    s = r.select(
        "doc_id",
        F.floor(F.col("mean_corpus_prob") * 1_000_000)
        .cast("long")
        .alias("score_q"),
    ).join(d.select("doc_id", "lang"), "doc_id")
    prt = agg.percent_rank_table(s, "lang", "score_q")
    third = F.lit(1.0) / F.lit(3.0)
    return s.join(F.broadcast(prt), ["lang", "score_q"]).select(
        "doc_id",
        "lang",
        "score_q",
        "pr",
        F.when(F.col("pr") >= F.lit(2.0) / F.lit(3.0), F.lit("head"))
        .when(F.col("pr") >= third, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ccnet_bucket"),
    )


@register(
    "shipping_priority_topk",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    "J-family 3-way fact join + top-k (the TPC-H Q3 shape over the "
    "customer/orders/lineitem tables)",
)
def shipping_priority_topk(spark, sf_dir):
    """Unshipped-revenue shipping priority: segment-filtered customers
    ⨝ orders ⨝ lineitem, per-order revenue, global top-10. The filtered
    customer key set broadcasts; both date predicates push to their
    scans; the top-k is orderBy+limit = TakeOrderedAndProject (a
    per-partition top-k merged on the driver — the full aggregate
    never sits in one partition). Full tiebreak (revenue DESC, date,
    orderkey-unique) makes the limit deterministic cross-engine;
    revenue uses the round(sum, 4) contract part_brand_revenue pinned.
    """
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
                ),
                4,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "bpe_train_encode",
    None,  # training is iterative (one merge depends on all previous);
    # not SQL-expressible — parity is pinned in tests/test_bpe.py
    # against an independently-written reference trainer, like knn_ivf.
    "north-star tokenizer surface: BPE training (corpus-scale word "
    "count + bounded driver loop) and distinct-word-joined encoding",
)
def bpe_train_encode(spark, sf_dir):
    """Train a BPE tokenizer on the corpus (ONE map-side-combined word
    count; the merge loop runs over the bounded top-m word table, the
    IVF-quantizer collect pattern) and encode every document with it —
    Python touches only the distinct-word table, the corpus side is
    posexplode + equi-join + order-restoring reassembly."""
    from purpleair_data_logger_spark.operators import bpe

    d = _t(spark, sf_dir, "documents")
    wf = bpe.word_frequency_table(d, "text", top_m=30_000)
    merges = bpe.train_bpe(wf, num_merges=40)
    return bpe.encode_corpus(d, "doc_id", "text", merges).select(
        "doc_id",
        F.concat_ws(" ", "bpe_tokens").alias("bpe_text"),
        "n_bpe_tokens",
    )


@register(
    "bigram_lm_fluency",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    g AS (SELECT doc_id, arr[i] AS w1, arr[i+1] AS w2
          FROM toks, LATERAL unnest(range(1, len(arr))) t(i)),
    pd AS (SELECT doc_id, w1, w2, count(*) AS occ FROM g GROUP BY 1, 2, 3),
    bg AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS c2 FROM pd GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM bg GROUP BY 1)
    SELECT pd.doc_id,
           CAST(sum(occ) AS BIGINT) AS n_bigrams,
           CAST(sum(occ * c2) AS DOUBLE) / CAST(sum(occ * c1) AS DOUBLE)
             AS cond_prob_wmean,
           CAST(sum(CASE WHEN c2 >= 2 THEN occ ELSE 0 END) AS DOUBLE)
             / CAST(sum(occ) AS DOUBLE) AS seen_bigram_frac,
           CAST(min(c2) AS BIGINT) AS min_bigram_tf
    FROM pd JOIN bg USING (w1, w2) JOIN ctx USING (w1)
    GROUP BY pd.doc_id
    """,
    "north-star text analysis: bigram-LM fluency proxy (log-free KenLM-"
    "gate analog over word transitions)",
)
def bigram_lm_fluency(spark, sf_dir):
    """Corpus-typicality of word-to-word transitions per document —
    the fluency signal a unigram model misses (word salad has
    plausible unigrams, implausible bigrams). All scores are ratios
    of exact BIGINT sums; conditional contexts derive from the bigram
    table itself (no separate unigram pass)."""
    d = _t(spark, sf_dir, "documents")
    return tx.bigram_lm_score(d, "doc_id", "text")


@register(
    "gapfill_locf_hourly",
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_ts, user_id,
             max(value) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b
    ), spine AS (
      SELECT u.user_id, g.bucket_ts
      FROM (SELECT DISTINCT user_id FROM b) u
      CROSS JOIN bounds
      CROSS JOIN LATERAL (SELECT unnest(generate_series(bounds.lo,
                     bounds.hi, INTERVAL '1 hour')) AS bucket_ts) g
    )
    SELECT s.user_id, s.bucket_ts,
           last_value(b.v IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.bucket_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
           b.v IS NULL AS is_gapfilled
    FROM spine s
    LEFT JOIN b ON s.user_id = b.user_id AND s.bucket_ts = b.bucket_ts
    """,
    "A-family extension: TimescaleDB time_bucket_gapfill + locf "
    "(the reference stack's gap-filling read path, "
    "PurpleAirPSQLQueryStatements.py:564-580 context)",
)
def gapfill_locf_hourly(spark, sf_dir):
    """Dense hourly series per sensor key with last-observation-
    carried-forward fill; output rows = |keys| x calendar buckets,
    independent of input size (corpus touched once, map-side combined).
    """
    e = _t(spark, sf_dir, "events")
    return agg.gapfill_locf(e, "ts", 3600, ["user_id"], "value")


@register(
    "gapfill_interpolate_hourly",
    """
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_ts, user_id,
             max(value) AS v
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM b
    ), spine AS (
      SELECT u.user_id, g.bucket_ts
      FROM (SELECT DISTINCT user_id FROM b) u
      CROSS JOIN bounds
      CROSS JOIN LATERAL (SELECT unnest(generate_series(bounds.lo,
                     bounds.hi, INTERVAL '1 hour')) AS bucket_ts) g
    ), j AS (
      SELECT s.user_id, s.bucket_ts, b.v,
             epoch_us(s.bucket_ts) // 3600000000 AS idx
      FROM spine s
      LEFT JOIN b ON s.user_id = b.user_id AND s.bucket_ts = b.bucket_ts
    ), w AS (
      SELECT user_id, bucket_ts, v, idx,
             last_value(v IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
               OVER wp AS pi,
             first_value(v IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS)
               OVER wn AS ni
      FROM j
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY bucket_ts
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket_ts,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) * (CAST(idx - pi AS DOUBLE)
                                       / CAST(ni - pi AS DOUBLE)) END
             AS value_filled,
           v IS NULL AS is_gapfilled
    FROM w
    """,
    "A-family extension: TimescaleDB time_bucket_gapfill + interpolate "
    "(linear fill between observed neighbors; edges stay NULL)",
)
def gapfill_interpolate_hourly(spark, sf_dir):
    """Linear interpolation across missing hourly buckets per sensor
    key — the trend-true companion to LOCF. The interpolation fraction
    is a division of two exact bucket-index integers, so the filled
    doubles agree bit-for-bit across engines."""
    e = _t(spark, sf_dir, "events")
    return agg.gapfill_interpolate(e, "ts", 3600, ["user_id"], "value")


@register(
    "time_weighted_hourly",
    """
    WITH staged AS (
      SELECT user_id, event_id,
             time_bucket(INTERVAL '1 hour', ts) AS bucket_ts,
             epoch_us(ts) AS ts_us,
             epoch_us(time_bucket(INTERVAL '1 hour', ts)) + 3600000000
               AS end_us,
             CAST(round(value * 100) AS BIGINT) AS v_scaled
      FROM events
    ), d AS (
      SELECT *, coalesce(lead(ts_us) OVER (
                  PARTITION BY user_id, bucket_ts
                  ORDER BY ts_us, event_id), end_us) - ts_us AS d_us
      FROM staged
    )
    SELECT user_id, bucket_ts,
           CAST(sum(v_scaled * d_us) AS DOUBLE)
             / CAST(sum(d_us) AS DOUBLE) / 100.0 AS time_weighted_avg,
           CAST(sum(d_us) AS BIGINT) AS covered_us, count(*) AS n_samples
    FROM d GROUP BY 1, 2
    """,
    "A-family extension: TimescaleDB time_weight('LOCF') -> average "
    "per bucket; exact-BIGINT numerator/denominator, one final division",
)
def time_weighted_hourly(spark, sf_dir):
    """Irregular-sample duration-weighted mean per (sensor, hour):
    each reading weighted by how long it stayed current (LOCF
    weighting, last reading extends to the bucket end)."""
    e = _t(spark, sf_dir, "events")
    return agg.time_weighted_avg(
        e, "ts", 3600, ["user_id"], "value", "event_id"
    )


@register(
    "sensor_spike_detection",
    """
    WITH staged AS (
      SELECT event_id, user_id, value,
             CAST(round(value * 100) AS BIGINT) AS c,
             epoch_us(ts) AS ts_us
      FROM events
    ), wz AS (
      SELECT event_id, user_id, value, c,
             count(*) OVER w AS n_window,
             sum(c) OVER w AS s1, sum(c * c) OVER w AS s2
      FROM staged
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                   RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, value, n_window,
           (n_window >= 8 AND (n_window * c - s1) > 0
            AND (n_window * c - s1) * (n_window * c - s1)
                > 9 * (n_window * s2 - s1 * s1)) AS is_spike
    FROM wz
    """,
    "A4 extension: trailing z-score exceedance alert in exact integer "
    "arithmetic (no float variance, no sqrt)",
)
def sensor_spike_detection(spark, sf_dir):
    """Upward >3-sigma exceedance vs the sensor's own trailing-7-day
    history — the alerting read a monitoring deployment runs on this
    data. Integer-exact test: (n*c - S1)^2 > 9*(n*S2 - S1^2)."""
    e = _t(spark, sf_dir, "events")
    return agg.rolling_zscore_flags(
        e,
        "ts",
        "user_id",
        "value",
        "event_id",
        trailing_seconds=7 * 86400,
        z_threshold=3,
        min_samples=8,
    )


@register(
    "cusum_drift_by_user",
    """
    WITH f AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ),
    t AS (
      SELECT user_id,
             CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      FROM f GROUP BY 1
    ),
    d AS (
      SELECT f.user_id, f.event_id, f.ts, f.value, f.v - t.mu - 200 AS dd
      FROM f JOIN t USING (user_id)
    ),
    p AS (
      SELECT *, CAST(sum(dd) OVER w AS BIGINT) AS ps
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT *, ps - least(CAST(0 AS BIGINT), min(ps) OVER w2) AS sc
      FROM p
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, value, CAST(sc AS DOUBLE) / 100.0 AS cusum
    FROM s WHERE sc > 30000
    """,
    "A4/R3 extension: Page's one-sided CUSUM drift detector as pure "
    "window algebra — S_i = P_i - min prefix(P), exact scaled-BIGINT "
    "arithmetic, the slow-drift alert a MAX-threshold panel misses",
)
def cusum_drift_by_user(spark, sf_dir):
    """Upward CUSUM alarms per sensor key against its own truncating
    integer-scaled mean, slack 2.00 and threshold 300.00 value units.
    The sequential recurrence max(0, S+d) is rewritten as prefix-sum
    minus running-min-of-prefix-sum — two windows, no UDF — and runs
    two-tier over (key, calendar-day) partitions per the skew rule."""
    e = _t(spark, sf_dir, "events")
    return hf.cusum_scan(
        e,
        "ts",
        "user_id",
        "value",
        "event_id",
        slack=2.0,
        threshold=300.0,
    )


@register(
    "cusum_twosided_by_user",
    """
    WITH f AS (
      SELECT user_id, event_id, ts, value,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
        AND user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    ),
    t AS (
      SELECT user_id,
             CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      FROM f GROUP BY 1
    ),
    d AS (
      SELECT f.user_id, f.event_id, f.ts, f.value,
             f.v - t.mu - 200 AS du, f.v - t.mu + 200 AS dd
      FROM f JOIN t USING (user_id)
    ),
    p AS (
      SELECT *, CAST(sum(du) OVER w AS BIGINT) AS psu,
                CAST(sum(dd) OVER w AS BIGINT) AS psd
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    s AS (
      SELECT *,
             psu - least(CAST(0 AS BIGINT), min(psu) OVER w2) AS su,
             greatest(CAST(0 AS BIGINT), max(psd) OVER w2) - psd AS sd
      FROM p
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts, value,
           CAST(su AS DOUBLE) / 100.0 AS cusum_high,
           CAST(sd AS DOUBLE) / 100.0 AS cusum_low,
           CASE WHEN su > 30000 AND sd > 30000 THEN 'both'
                WHEN su > 30000 THEN 'up' ELSE 'down' END AS alarm_side
    FROM s WHERE su > 30000 OR sd > 30000
    """,
    "two-sided Page CUSUM: the downward-drift accumulator (clogged "
    "sensor under-reading) runs beside the upward one in the same "
    "Window node — running max of prefix mirrors the running min",
)
def cusum_twosided_by_user(spark, sf_dir):
    """Two-sided CUSUM alarms per sensor key (VERDICT r5 #4): both
    Page accumulators via the symmetric prefix identities (S⁺ = P⁺ −
    min prefix, S⁻ = max prefix − P⁻), exact scaled-BIGINT, one
    Window node per tier — same shuffle count as the one-sided scan."""
    e = _t(spark, sf_dir, "events")
    return hf.cusum_scan_twosided(
        e,
        "ts",
        "user_id",
        "value",
        "event_id",
        slack=2.0,
        threshold=300.0,
    )


@register(
    "edit_distance_neardups",
    """
    WITH base AS (
      SELECT doc_id, lang, n_chars, n_chars // 64 AS band,
             lower(substr(text, 1, 48)) AS pfx
      FROM documents
      WHERE text IS NOT NULL AND n_chars IS NOT NULL AND lang IS NOT NULL
    ),
    p AS (
      SELECT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b,
             levenshtein(a.pfx, b.pfx) AS ed
      FROM base a JOIN base b
        ON a.lang = b.lang
       AND (b.band = a.band OR b.band = a.band + 1)
       AND (a.band <> b.band OR a.doc_id < b.doc_id)
       AND abs(a.n_chars - b.n_chars) <= 64
    )
    SELECT DISTINCT id_a, id_b, CAST(ed AS INT) AS edit_dist
    FROM p WHERE ed <= 12
    """,
    "character-level fuzzy dedup: blocked Levenshtein pairs (typo/OCR "
    "variants token-set methods miss) — banded O(t·n) DP on a capped "
    "prefix; adjacent-band hash join + exact |dlen|<=64 residual so "
    "boundary-straddling pairs are kept (VERDICT r10 #2), never a "
    "corpus cross join",
)
def edit_distance_neardups(spark, sf_dir):
    """Edit-distance near-dup pairs over lang blocks with an exact
    |dlen| <= 64 length constraint (adjacent 64-char length bands
    joined via a 2-way explode so it stays one hash equi-join) and
    the threshold-banded Levenshtein DP on a 48-char lowercased
    prefix. Completes the near-dup ladder at the character
    level (MinHash = token sets, SimHash = weighted features,
    embedding-LSH = semantics, Levenshtein = keystrokes); the full
    blocking → capped-DP → threshold pipeline replays in DuckDB."""
    d = _t(spark, sf_dir, "documents")
    return dd.edit_distance_neardups(
        d, "doc_id", "text", block_cols=["lang"], len_col="n_chars"
    )


@register(
    "late_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    "TPC-H Q4 shape: EXISTS-correlated semi-join from the order table "
    "into the fact table with a per-order lateness predicate, then a "
    "tiny priority rollup",
)
def late_order_priority(spark, sf_dir):
    """Orders placed in 1995 with at least one line item shipped more
    than 60 days after the order date, counted per priority class —
    the TPC-H Q4 pattern (EXISTS → left-semi equi-join on the order
    key with the non-equi lateness predicate evaluated inside the
    join). Scale shape: the date predicate prunes the orders side
    before the join; the semi join shuffles on o_orderkey (AQE
    broadcast when the pruned side is small), emits each order at
    most once regardless of line-item fan-out, and the final rollup
    is a map-side-combined aggregate over |orders| rows."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("o_orderkey") == F.col("l_orderkey")) & (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, on=cond, how="left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


@register(
    "copurchase_pairs",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
    ),
    p AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
    FROM p GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b LIMIT 100
    """,
    "market-basket pair mining: per-order self-join bounded by basket "
    "size, pair-count aggregate, deterministic top-100",
)
def copurchase_pairs(spark, sf_dir):
    """Top co-purchased part pairs: distinct (order, part) → self
    equi-join on the order key → pair-count rollup → deterministic
    top-100 (ties broken on the pair). Scale shape: the quadratic
    term is bounded by basket size (≤ C(12,2) = 66 pairs per order
    here, a data invariant — never corpus²); the self-join shuffles
    once on l_orderkey and both sides reuse that partitioning; the
    pair aggregate is map-side combined and the top-100 plans as
    TakeOrderedAndProject, never a global sort of all pairs."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, on="l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(100)
    )


@register(
    "small_quantity_revenue",
    """
    WITH li AS (
      SELECT l_partkey, CAST(round(l_quantity) AS BIGINT) AS qty,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
      FROM lineitem
      WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
    )
    SELECT CAST(sum(l.price_c) AS DOUBLE) / 7.0 / 100.0 AS avg_yearly
    FROM li l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND 0 < (SELECT sum(l2.qty - 5 * l.qty) FROM li l2
               WHERE l2.l_partkey = l.l_partkey)
    """,
    "TPC-H Q17 shape: correlated scalar subquery (each lineitem vs its "
    "part's average quantity) decorrelated into ONE per-partkey "
    "aggregate + ONE equi-join — never a per-row re-scan",
)
def small_quantity_revenue(spark, sf_dir):
    """Average yearly revenue lost if small-quantity orders (below 20%
    of the part's average order quantity) were no longer taken, for one
    brand — the TPC-H Q17 correlated-scalar-subquery pattern (VERDICT
    r6 #3).

    The oracle states it in the classic correlated form (the inner
    aggregate references the outer row); the Spark plan is the
    decorrelated equivalent: ONE per-partkey aggregate scan producing
    (sum_qty, n_li), joined back to the fact rows on the equi-key, with
    the per-row comparison evaluated post-join — the optimizer-correct
    shape vs re-executing the subquery per row. The comparison
    ``l_quantity < 0.2 * avg(l_quantity)`` is order-dependent in
    floats (the avg is a summation), so both sides evaluate the exact
    integer equivalent ``5 * qty * n < sum_qty`` — BIGINT, no division,
    no summation-order hazard on the boundary.

    Scale shape: the brand predicate is pushed to the part scan and the
    surviving keys ride a broadcast semi-style equi-join into BOTH
    lineitem branches BEFORE the group aggregate (valid because the
    group key is the join key — a whole partkey is either in the brand
    or not), so the per-partkey aggregate runs over |brand's lineitems|
    not |lineitem|; the stats join is an equi-join on l_partkey (AQE
    broadcasts the aggregate side when it fits, shuffles otherwise);
    the final rollup is a single-row map-side-combined aggregate. Money
    stays exact-cents BIGINT until the one final division, mirroring
    `pricing_summary`'s overflow contract.
    """
    li = (
        _t(spark, sf_dir, "lineitem")
        # NULL contract (sf0.01 fuzz twin, r10): a NULL quantity
        # carries no observation — without this filter the oracle's
        # correlated sum skips the NULL terms while the decorrelated
        # count(*) counts the rows, so the 5·qty·n < Σqty comparison
        # diverges on parts containing a NULL-qty lineitem.
        .filter(F.col("l_partkey").isNotNull() & F.col("l_quantity").isNotNull())
        .select(
            "l_partkey",
            F.round(F.col("l_quantity")).cast("long").alias("qty"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("price_c"),
        )
    )
    sel = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li_sel = li.join(
        F.broadcast(sel), F.col("l_partkey") == F.col("p_partkey")
    ).drop("p_partkey")
    stats = li_sel.groupBy("l_partkey").agg(
        F.sum("qty").alias("_sum_qty"), F.count(F.lit(1)).alias("_n_li")
    )
    return (
        li_sel.join(stats, "l_partkey")
        .filter(F.lit(5) * F.col("qty") * F.col("_n_li") < F.col("_sum_qty"))
        .agg(
            (
                F.sum("price_c").cast("double") / F.lit(7.0) / F.lit(100.0)
            ).alias("avg_yearly")
        )
    )


@register(
    "above_avg_orders",
    """
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS total_c
      FROM orders
      WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
    )
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_big_orders,
           CAST(sum(total_c) AS DOUBLE) / 100.0 AS big_order_revenue
    FROM o
    WHERE 0 < (SELECT sum(2 * o.total_c - 3 * o2.total_c) FROM o o2
               WHERE o2.o_custkey = o.o_custkey)
    GROUP BY 1
    """,
    "correlated scalar subquery against the row's OWN group (orders "
    "50% above the customer's average), decorrelated to one aggregate "
    "+ one equi-join",
)
def above_avg_orders(spark, sf_dir):
    """Orders more than 50% above their own customer's average order
    value, rolled up by priority — the self-correlated variant of the
    Q17 pattern (the subquery aggregates the SAME table the outer row
    comes from, so the naive plan re-scans `orders` per order row).

    Decorrelated Spark plan: one per-custkey aggregate (sum, count),
    one equi-join back on o_custkey, comparison post-join, tiny final
    rollup. The predicate ``total > 1.5 * avg(total)`` is evaluated in
    exact integer form ``2 * total_c * n > 3 * sum_c`` (equivalently
    the oracle's Σ(2·total_c − 3·total_c2) > 0), dodging the float
    summation-order boundary exactly as `small_quantity_revenue` does.

    Scale shape: both sides of the join shuffle once on o_custkey (the
    aggregate reuses the probe side's partitioning under AQE); no
    per-row re-scan, no nested loop; the priority rollup is map-side
    combined over the filtered rows.
    """
    o = (
        _t(spark, sf_dir, "orders")
        # NULL total carries no observation (the small_quantity_revenue
        # fuzz lesson, r10: a NULL measure diverges the correlated-sum
        # oracle from the decorrelated count) — latent here only while
        # the fuzzer leaves o_totalprice unmutated.
        .filter(F.col("o_custkey").isNotNull() & F.col("o_totalprice").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("total_c"),
        )
    )
    stats = o.groupBy("o_custkey").agg(
        F.sum("total_c").alias("_sum_c"), F.count(F.lit(1)).alias("_n_o")
    )
    return (
        o.join(stats, "o_custkey")
        .filter(
            F.lit(2) * F.col("total_c") * F.col("_n_o")
            > F.lit(3) * F.col("_sum_c")
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_big_orders"),
            (F.sum("total_c").cast("double") / F.lit(100.0)).alias(
                "big_order_revenue"
            ),
        )
    )


@register(
    "mad_outliers_by_event_type",
    """
    WITH e AS (
      SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
    ),
    vals1 AS (SELECT event_type, value, count(*) AS cnt FROM e GROUP BY 1, 2),
    rank1 AS (
      SELECT event_type, value,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1
               AS rnk,
             cnt, sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM vals1
    ),
    med AS (
      SELECT event_type, value AS group_median FROM rank1
      WHERE rnk <= (n + 1) // 2 AND (n + 1) // 2 <= rnk + cnt - 1
    ),
    d AS (
      SELECT e.event_id, e.event_type, e.value, med.group_median,
             abs(e.value - med.group_median) AS adev
      FROM e JOIN med USING (event_type)
    ),
    vals2 AS (SELECT event_type, adev, count(*) AS cnt FROM d GROUP BY 1, 2),
    rank2 AS (
      SELECT event_type, adev,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY adev
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1
               AS rnk,
             cnt, sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM vals2
    ),
    mad AS (
      SELECT event_type, adev AS group_mad FROM rank2
      WHERE rnk <= (n + 1) // 2 AND (n + 1) // 2 <= rnk + cnt - 1
    )
    SELECT d.event_id, d.event_type, d.value, d.group_median, mad.group_mad,
           (d.value - d.group_median) / mad.group_mad AS robust_z
    FROM d JOIN mad USING (event_type)
    WHERE mad.group_mad > 0 AND d.adev > 3.5 * mad.group_mad
    """,
    "exact-order-statistics family extension: median-absolute-deviation "
    "robust outlier flags (Iglewicz–Hodges k=3.5) — the 50%-breakdown "
    "alternative to the z-score spike detector, and the outlier-filter "
    "pass a training-data pipeline runs before normalization",
)
def mad_outliers_by_event_type(spark, sf_dir):
    """Rows whose |value − group median| exceeds 3.5 × the group MAD —
    both center and spread are exact lower medians over the
    distinct-value count table (no corpus sort, no interpolation), so
    the flagged set is bit-identical across engines."""
    e = _t(spark, sf_dir, "events")
    return agg.mad_outliers(e, "event_type", "value", ["event_id"], k=3.5)


