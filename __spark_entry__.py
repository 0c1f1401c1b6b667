"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All query logic lives in ``purpleair_data_logger_spark``. This module
adapts the engine's query catalog to the driver's interface and owns
the one thing only the driver cares about: the ORDER of ``queries()``,
since the driver's correctness gate records the first ``GATE_WINDOW``
entries per round.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from purpleair_data_logger_spark import catalog  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Oracled queries RETIRED from the driver-gate rotation (VERDICT r11
#: #4: the rotation capacity is GATE_WINDOW × FRESHNESS_HORIZON_ROUNDS
#: = 200 and the catalog was 35 registrations from saturating it).
#: Retirement rule — written out in COVERAGE.md §"Gate rotation &
#: retirement", checked by tests/test_catalog_oracle.py:
#:   (a) the query has at least one green driver-gate round in the
#:       committed CORRECTNESS_r*.json artifacts;
#:   (b) every operator/plan shape it exercises stays exercised by the
#:       named still-rotating cover query (or by the entry() smoke /
#:       a pytest plan pin, stated explicitly);
#:   (c) retirement ONLY removes the row from the 50-row driver-gate
#:       rotation — it stays in the catalog, the full driver_sim
#:       sweep, the fuzz twin, and bench.py, all of which run every
#:       registered query every round;
#:   (d) the rationale + cover are recorded here, value = one line.
_GATE_RETIRED: dict[str, str] = {
    "lttb_downsample_events": "strict subset of m4_lttb_downsample_events (same exact-integer LTTB kernel inside the M4 prefilter; cover green r11)",
    "topk_orders": "global ORDER BY + LIMIT (TakeOrderedAndProject); cover shipping_priority_topk, same physical shape with a join on top; 6 green rounds",
    "above_avg_orders": "uncorrelated scalar-subquery threshold filter; cover small_quantity_revenue (same broadcast-scalar shape on lineitem)",
    "anti_join_inactive": "broadcast left-anti join; cover document_embeddings_incremental + neardup_incremental_batch (anti-join backlog paths); 6 green rounds",
    "cardinality_profile": "exact countDistinct profile; cover weekly_retention_cohorts (countDistinct per cohort) + approx_distinct_profile's exact pins; 6 green rounds",
    "union_priority_tiers": "union + priority dedup; cover corpus_build_final (unions + survivor selection inside the composition); 6 green rounds",
    "epoch_roundtrip": "T5 epoch<->timestamp casts; cover hourly_continuous_aggregate + time_weighted_hourly (every bucketed row casts epochs) + the T5 pytest pins; 6 green rounds",
    "max_age_recency": "F4 recency filter vs max(ts); cover snapshot_filters (F-family, still rotating) + the F4 pytest pin; 6 green rounds",
    "directory_parse_index": "X2 string_to_array + element_at; cover sensor_directory (X1/A5/O2 directory family, still rotating) + the X2 pytest pin; 6 green rounds",
    "pk_dedup": "R6 PK dedup via row_number; cover dedup_exact_docs (same hash-groupBy survivor shape) + the exactly-once sink crash suite; 6 green rounds",
    "tumbling_avg_10min": "A3 tumbling mean; cover hourly_continuous_aggregate (A1, same date_trunc bucket agg) + m4_downsample_15min; 6 green rounds",
    "dashboard_bucketed_max": "A2 panel MAX; cover m4_downsample_15min (strict superset: per-bucket max plus first/last/min); stays a bench.py headline row; 6 green rounds",
    "reconstruction_join": "J1 9-way PK rejoin; cover entry()'s every-round smoke (same query), the broadcast-dims plan pin, and vertical_split_rejoin; 6 green rounds",
    "rolling_pseudo_averages": "A4 rolling family; cover rolling_avg_trailing_1h (same trailing range frame, still rotating) + sensor_spike_detection; 5 green rounds",
    "embedding_norms": "single-projection norm; cover embedding_quantize_int8 + the knn family (norms inline in every cosine); 5 green rounds",
    "doc_fingerprint": "rolling-hash fingerprint projection; cover dedup_exact_docs (doc-hash family) + simhash_neardups; 5 green rounds",
    "text_normalize": "string-normalize projection; cover text_quality + pii_scrub (same codegen string-projection family); 5 green rounds",
    "doc_repetition_ratio": "cover dup_ngram_fraction (superset: same tagged-gram explode machinery with the cross-doc join on top); 5 green rounds",
    "frequent_tokens_docs": "cover frequent_tokens_by_lang (strict superset: same token counts grouped per language); 3 green rounds",
    "gapfill_locf_hourly": "cover gapfill_interpolate_hourly (same bucket-spine generate + fill; LOCF vs interpolate is the only delta, both pytest-pinned); 3 green rounds",
    "median_value_by_event_type": "p50 special case of value_percentiles_by_event_type (still rotating); 3 green rounds",
    "event_value_histogram": "width_bucket groupBy; cover m4_downsample_15min + value_percentiles_by_event_type (its own defer-note family); 3 green rounds",
}
# r14 retirement candidate (blocked this round by the no-gate-history
# guard — the r13 registrations have no CORRECTNESS_r*.json row yet):
# multimodal_phash_neardup is a strict subset of multimodal_phash_dedup
# (the decision stage replays the entire pair chain, then adds
# components) and shares its oracle CTEs with multimodal_phash_between;
# retiring it restores headroom 50 -> 51 once r13's gate artifact lands.

#: The driver records the first GATE_WINDOW rows of queries() per
#: round; an oracled query may go at most FRESHNESS_HORIZON_ROUNDS
#: rounds without a green driver row (the judge's freshness contract).
GATE_WINDOW = 50
FRESHNESS_HORIZON_ROUNDS = 4
#: Minimum spare rotation capacity after retirements (VERDICT r11 #4):
#: capacity (GATE_WINDOW × FRESHNESS_HORIZON_ROUNDS) minus ACTIVE
#: oracled registrations must stay ≥ this, so a round can add queries
#: without silently aging others past the horizon.
GATE_HEADROOM_MIN = 50


def _artifact_rounds() -> dict[str, int]:
    """Newest driver-gate round per query, read from the committed
    ``CORRECTNESS_r*.json`` artifacts next to this file (empty when
    none are present)."""
    newest: dict[str, int] = {}
    for f in sorted(Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        if not m:
            continue
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        rnd = int(m.group(1))
        for q in data:
            newest[q] = max(newest.get(q, 0), rnd)
    return newest


def _gate_ordered() -> dict[str, catalog.Query]:
    """The catalog in DRIVER-GATE order (VERDICT r5 #1 — the rotation
    is computed from the committed artifacts, not hand-maintained).

    Sort key: rotating oracled queries first, then gate-retired ones
    (still in the catalog and every sweep, never back in the window),
    then rows-only (``oracle=None``) ones, so the window stays
    all-oracled by construction; within a tier the oldest newest-
    artifact round leads (never-gated queries, round 0, first); ties
    keep registry order (the sort is stable). With no artifacts this is
    registry order with every oracled query ahead of every rows-only
    one."""
    reg = catalog.all_queries()
    newest = _artifact_rounds()
    names = sorted(
        reg,
        key=lambda n: (
            2 if reg[n].oracle is None else (1 if n in _GATE_RETIRED else 0),
            newest.get(n, 0),
        ),
    )
    return {n: reg[n] for n in names}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return catalog.all_queries()["reconstruction_join"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    driver-gate order."""
    return {name: q.fn for name, q in _gate_ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return {
        name: q.oracle
        for name, q in _gate_ordered().items()
        if q.oracle is not None
    }
