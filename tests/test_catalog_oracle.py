"""Every oracle-backed catalog query must match DuckDB at sf0.001.

This replicates the driver's t2 gate locally (the driver runs sf0.01;
we default to sf0.001 for speed — set SPARK_GRAFT_SMOKE_DIR to run
bigger)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from purpleair_data_logger_spark import catalog
from tests.oracle import compare

ORACLED = [q for q in catalog.all_queries().values() if q.oracle is not None]
ROWS_ONLY = [q for q in catalog.all_queries().values() if q.oracle is None]


@pytest.mark.parametrize("query", ORACLED, ids=[q.name for q in ORACLED])
def test_oracle_match(spark, sf_dir, query):
    df = query.fn(spark, sf_dir)
    ok, msg = compare(df, query.oracle, sf_dir)
    assert ok, f"{query.name}: {msg}"


@pytest.mark.parametrize("query", ROWS_ONLY, ids=[q.name for q in ROWS_ONLY])
def test_rows_only_runs(spark, sf_dir, query):
    df = query.fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_approx_distinct_within_hll_error_bounds(spark, sf_dir):
    """`approx_distinct_profile` has no SQL oracle (HLL sketches aren't
    portable across engines) — pin its correctness against the exact
    `cardinality_profile` instead. Spark's approx_count_distinct
    defaults to rsd=0.05; assert each estimate within 3x that relative
    error (HLL's error is Gaussian-ish; 3 sigma is a deterministic-in-
    practice bound for a fixed dataset since the sketch itself is
    deterministic for identical input)."""
    q = catalog.all_queries()
    exact = q["cardinality_profile"].fn(spark, sf_dir).first()
    approx = q["approx_distinct_profile"].fn(spark, sf_dir).first()
    for est, true in [
        (approx["approx_users"], exact["n_users"]),
        (approx["approx_types"], exact["n_types"]),
    ]:
        assert true > 0
        rel_err = abs(est - true) / true
        assert rel_err <= 0.15, f"HLL estimate {est} vs exact {true}: rel err {rel_err:.3f}"


def test_hll_sketch_merge_matches_exact_distincts(spark, sf_dir):
    """`hll_daily_users_merge` has no SQL oracle (DataSketches HLL
    bytes aren't engine-portable) — pin both levels against exact
    counts: every per-day estimate within HLL error of that day's
    exact distinct users, and the MERGED estimate within error of the
    all-time exact count (the property that makes per-day sketches a
    valid persisted artifact: union of sketches == sketch of union)."""
    from pyspark.sql import functions as F

    from purpleair_data_logger_spark.io import load_table

    q = catalog.all_queries()
    got = q["hll_daily_users_merge"].fn(spark, sf_dir).collect()
    assert got
    e = load_table(spark, sf_dir, "events")
    exact_day = {
        r["day"]: r["n"]
        for r in e.groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact_total = e.select("user_id").distinct().count()
    for r in got:
        true = exact_day[r["day"]]
        assert abs(r["est_day_users"] - true) / true <= 0.15, r
        assert (
            abs(r["est_total_users"] - exact_total) / exact_total <= 0.15
        ), r


def test_gate_window_rotates_oldest_artifact_first():
    """VERDICT r5 #1: the 50-row driver gate window is computed from
    the committed CORRECTNESS_r*.json artifacts — oracled queries in
    oldest-newest-artifact order, rows-only queries pushed past every
    oracled one — so rotation is automatic and no oracled query's
    newest driver row can exceed the freshness horizon. The catalog
    itself stays in plain registration order; only the driver contract
    (`__spark_entry__.queries()` / `oracle_sql()`) applies the gate
    order."""
    import json
    from pathlib import Path

    assert list(catalog.all_queries()) == catalog.registered_names()

    root = Path(entrymod.__file__).resolve().parent
    arts = sorted(root.glob("CORRECTNESS_r*.json"))
    assert arts, "driver artifacts expected in the repo checkout"
    newest: dict[str, int] = {}
    for f in arts:
        rnd = int(f.stem.split("_r")[1])
        for q in json.loads(f.read_text()):
            newest[q] = max(newest.get(q, 0), rnd)
    assert newest == entrymod._artifact_rounds()

    names = list(entrymod.queries())
    assert sorted(names) == sorted(catalog.registered_names())
    assert list(entrymod.oracle_sql()) == [
        n for n in names if catalog._REGISTRY[n].oracle is not None
    ]
    window = names[: entrymod.GATE_WINDOW]
    # window is all-oracled (the standing gate invariant) and never
    # contains a gate-retired query (VERDICT r11 #4)
    assert all(catalog._REGISTRY[n].oracle is not None for n in window)
    assert not any(n in entrymod._GATE_RETIRED for n in window)
    # ordering buckets: rotating-oracled < gate-retired < rows-only
    reg = catalog._REGISTRY

    def bucket(n):
        if reg[n].oracle is None:
            return 2
        return 1 if n in entrymod._GATE_RETIRED else 0

    buckets = [bucket(n) for n in names]
    assert buckets == sorted(buckets)
    first_retired = buckets.index(1) if 1 in buckets else len(names)

    def age(n):
        return newest.get(n, 0)

    # active oracled section is sorted by newest artifact round ascending
    rounds = [age(n) for n in names[:first_retired]]
    assert rounds == sorted(rounds)
    # a query never seen in any artifact (round 0) gates ahead of
    # everything
    assert min(rounds) == rounds[0]
    # freshness: no rotating query OUTSIDE the window is staler than
    # anything inside it
    if first_retired > entrymod.GATE_WINDOW:
        assert max(age(n) for n in window) <= min(
            age(n) for n in names[entrymod.GATE_WINDOW : first_retired]
        )
    # freshness horizon (VERDICT r5 #1): if the upcoming round gates
    # exactly this window, no rotating oracled query left outside it
    # ends up more than FRESHNESS_HORIZON_ROUNDS rounds old
    upcoming = max(newest.values()) + 1
    stale = [
        n
        for n in names[:first_retired]
        if n not in window
        and upcoming - newest.get(n, upcoming) > entrymod.FRESHNESS_HORIZON_ROUNDS
    ]
    assert not stale, f"past the freshness horizon at round {upcoming}: {stale}"


def test_gate_retirement_contract():
    """VERDICT r11 #4: retirement rule + capacity/headroom invariant,
    executable. Every retired name is a registered, oracled query with
    at least one recorded driver-gate round; the active oracled count
    fits the rotation capacity (GATE_WINDOW x FRESHNESS_HORIZON_ROUNDS)
    with >= GATE_HEADROOM_MIN spare slots after all retirements."""
    reg = catalog._REGISTRY
    retired = entrymod._GATE_RETIRED
    assert retired, "r12+ keeps a non-empty retirement ledger"
    for n, why in retired.items():
        assert n in reg, n
        assert reg[n].oracle is not None, f"{n}: rows-only cannot retire"
        assert why.strip(), f"{n}: rationale required"
    newest = entrymod._artifact_rounds()
    assert newest, "driver artifacts expected in the repo checkout"
    never_gated = [n for n in retired if not newest.get(n)]
    assert not never_gated, f"retired without a recorded gate round: {never_gated}"
    n_active = sum(
        1 for n, q in reg.items() if q.oracle is not None and n not in retired
    )
    capacity = entrymod.GATE_WINDOW * entrymod.FRESHNESS_HORIZON_ROUNDS
    assert n_active <= capacity, (n_active, capacity)
    assert capacity - n_active >= entrymod.GATE_HEADROOM_MIN, (
        n_active,
        capacity,
    )


def test_catalog_import_reads_no_artifacts(tmp_path):
    """Importing the engine's catalog opens no JSON file of the repo —
    in particular no CORRECTNESS_r*.json driver artifact. Run in a
    fresh interpreter from a cwd outside the repo, with an audit hook
    installed before the import. (PySpark's own packaged
    error-conditions.json is the one JSON file the import may open.)"""
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(catalog.__file__).resolve().parent.parent)
    code = (
        "import os, sys\n"
        "opened = []\n"
        "def hook(event, args):\n"
        "    if event == 'open' and isinstance(args[0], (str, bytes, os.PathLike)):\n"
        "        opened.append(os.path.abspath(os.fsdecode(args[0])))\n"
        "sys.addaudithook(hook)\n"
        "import purpleair_data_logger_spark.catalog\n"
        "print('\\n'.join(p for p in opened if p.endswith('.json')))\n"
    )
    env = {**os.environ, "PYTHONPATH": repo}
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert not [p for p in out if "CORRECTNESS_r" in p], out
    ours = [p for p in out if p.startswith(repo + os.sep)]
    assert not ours, f"catalog import opened repo JSON files: {ours}"
    assert all(os.sep + "pyspark" + os.sep in p for p in out), out
