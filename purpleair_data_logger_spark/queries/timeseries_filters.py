"""A/B: time-series aggregation (the Grafana/continuous-aggregate read path) + filter/predicate workload and scalar functions.

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
# A. Time-series aggregation workload (the Grafana/continuous-aggregate
#    read path) over the `events` stream table.
# ---------------------------------------------------------------------------


@register(
    "hourly_continuous_aggregate",
    """
    SELECT date_trunc('hour', ts) AS bucket_hour, user_id,
           count(*) AS n_events, max(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    "A1 (continuous aggregate, PurpleAirPSQLQueryStatements.py:564-571)",
)
def hourly_continuous_aggregate(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket_hour"),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))


@register(
    "dashboard_bucketed_max",
    """
    SELECT time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts, event_type,
           max(value) AS max_value, min(value) AS min_value, count(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      AND event_type IN ('click', 'view', 'error')
    GROUP BY 1, 2
    """,
    "A2+F7 (dashboard $__timeGroup max panels); F1/F2 filters",
)
def dashboard_bucketed_max(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    filtered = e.filter(
        (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
        & F.col("event_type").isin("click", "view", "error")
    )
    return agg.bucketed_agg(
        filtered,
        "ts",
        900,
        ["event_type"],
        [
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


@register(
    "tumbling_avg_10min",
    """
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_ts, event_type,
           round(sum(value), 2) / count(*) AS avg_value, count(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    "A3 (historic `average` downsampling, PurpleAirAPI.py:261-262)",
)
def tumbling_avg_10min(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # mean = round(sum, data-granularity) / n, no outer round: the
    # 2-decimal-granular sum rounds to a bit-identical double in any
    # engine, and identical dividends divide to identical quotients
    # (see module docstring on cross-engine round() divergence).
    return agg.bucketed_agg(
        e,
        "ts",
        600,
        ["event_type"],
        [
            (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


@register(
    "rolling_avg_trailing_1h",
    """
    SELECT event_id,
           round(sum(value) OVER w, 2) / count(*) OVER w AS rolling_avg_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
    "A4 (pm2.5 pseudo running averages recomputation)",
)
def rolling_avg_trailing_1h(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    rolled = agg.rolling_window_agg(
        e,
        "ts",
        ["user_id"],
        3600,
        {"_sum": F.sum("value"), "_n": F.count(F.lit(1))},
    )
    return rolled.select(
        "event_id",
        (F.round(F.col("_sum"), 2) / F.col("_n")).alias("rolling_avg_1h"),
    )


@register(
    "rolling_pseudo_averages",
    """
    SELECT event_id,
           round(sum(value) OVER w10, 2) / count(*) OVER w10 AS avg_10minute,
           round(sum(value) OVER w30, 2) / count(*) OVER w30 AS avg_30minute,
           round(sum(value) OVER w60, 2) / count(*) OVER w60 AS avg_60minute,
           round(sum(value) OVER w6h, 2) / count(*) OVER w6h AS avg_6hour
    FROM events
    WINDOW
      w10 AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW),
      w30 AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW),
      w60 AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 60 MINUTE PRECEDING AND CURRENT ROW),
      w6h AS (PARTITION BY user_id ORDER BY ts
              RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
    """,
    "A4 (pm2.5 pseudo running averages: 10m/30m/60m/6h trailing frames "
    "recomputed from raw readings, PurpleAirAPIConstants.py:40-41)",
)
def rolling_pseudo_averages(spark, sf_dir):
    """All trailing frames share one partition+sort (same window spec
    family), so Spark evaluates them in a single Window operator: one
    shuffle on user_id, one sort, four frame scans."""
    e = _t(spark, sf_dir, "events")

    def frame(seconds):
        return (
            Window.partitionBy("user_id")
            .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
            .rangeBetween(-seconds * 1_000_000, 0)
        )

    def rolled_avg(seconds):
        w = frame(seconds)
        return F.round(F.sum("value").over(w), 2) / F.count(F.lit(1)).over(w)

    return e.select(
        "event_id",
        rolled_avg(600).alias("avg_10minute"),
        rolled_avg(1800).alias("avg_30minute"),
        rolled_avg(3600).alias("avg_60minute"),
        rolled_avg(21600).alias("avg_6hour"),
    )


@register(
    "sensor_directory",
    """
    SELECT DISTINCT c_custkey AS sensor_index,
           c_name || ', ' || CAST(c_custkey AS VARCHAR) AS name_and_sensor_index
    FROM customer
    """,
    "A5+X1+O2 (Grafana template-variable DISTINCT/CONCAT query)",
)
def sensor_directory(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return agg.distinct_directory(c, "c_custkey", "c_name")


@register(
    "directory_parse_index",
    """
    SELECT DISTINCT c_custkey AS sensor_index,
           CAST(string_split(c_name || ', ' || CAST(c_custkey AS VARCHAR), ', ')[2]
                AS INTEGER) AS parsed_sensor_index
    FROM customer
    """,
    # the X2 parse runs over the DISTINCT directory (A5) on the Spark
    # side, so the oracle must dedup too: duplicate customer rows
    # (sf0.01 fuzz twin, r10) otherwise inflate the raw parse
    "X2 (string_to_array + 1-based element extraction, over the "
    "DISTINCT directory)",
)
def directory_parse_index(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    d = agg.distinct_directory(c, "c_custkey", "c_name")
    return agg.parse_directory_index(d, "name_and_sensor_index").select(
        "sensor_index", "parsed_sensor_index"
    )


# ---------------------------------------------------------------------------
# B. Filter / predicate workload (F1-F6) and scalar functions.
# ---------------------------------------------------------------------------


@register(
    "snapshot_filters",
    """
    SELECT event_id, ts, user_id, value
    FROM events
    WHERE event_type = 'click'
      AND user_id IN (3, 7, 11, 19, 23, 42, 77, 101)
      AND ts > TIMESTAMP '2024-01-10'
      AND value BETWEEN 50.0 AND 400.0
    """,
    "F1 (equality) + F2 (IN-list) + F3 (modified_since) + F5 (range box)",
)
def snapshot_filters(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.filter(
        (F.col("event_type") == "click")
        & F.col("user_id").isin(3, 7, 11, 19, 23, 42, 77, 101)
        & (F.col("ts") > F.lit("2024-01-10").cast("timestamp"))
        & F.col("value").between(50.0, 400.0)
    ).select("event_id", "ts", "user_id", "value")


@register(
    "historic_range_downsample",
    """
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket_ts, event_type,
           round(sum(value), 2) / count(*) AS avg_value, max(value) AS max_value,
           min(value) AS min_value, count(*) AS n_events
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08' AND ts < TIMESTAMP '2024-01-15'
    GROUP BY 1, 2
    """,
    "S3+F6+A3 (historic half-open range scan with server-side downsample)",
)
def historic_range_downsample(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    filtered = e.filter(
        (F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
    )
    return agg.bucketed_agg(
        filtered,
        "ts",
        1800,
        ["event_type"],
        [
            (F.round(F.sum("value"), 2) / F.count(F.lit(1))).alias("avg_value"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    )


@register(
    "max_age_recency",
    """
    SELECT event_type, count(*) AS n_events, max(value) AS max_value
    FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOUR FROM events)
    GROUP BY event_type
    """,
    "F4 (max_age recency window, PurpleAirAPI.py:209-211)",
)
def max_age_recency(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    cutoff = e.agg(
        (F.max("ts") - F.expr("INTERVAL 24 HOURS")).alias("_cutoff")
    )
    return (
        e.crossJoin(F.broadcast(cutoff))
        .filter(F.col("ts") >= F.col("_cutoff"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
    )


@register(
    "epoch_roundtrip",
    """
    SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_seconds
    FROM events
    """,
    "T5+X5 (epoch<->timestamp conversion, PurpleAirPSQLDataLogger.py:138-151)",
)
def epoch_roundtrip(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.unix_timestamp(F.col("ts")).alias("epoch_seconds")
    )


@register(
    "json_props_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
    "X7 (JSON parse, PurpleAirAPI.py:335)",
)
def json_props_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("prop_k"),
    )


