#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload sensor_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation runs one workload: it
generates the seeded inputs, sets the engine up, measures whole
operations until ``--seconds`` have passed, checks every output against
DuckDB (untimed), and prints one JSON object as the last line of
stdout. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
repeats the run with spans, the Spark event log and the traced-only
layer probes on, and reports the per-layer metrics instead. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


WORKLOADS = {
    "sensor_ingest": ("sensor_ingest", "SensorIngest"),
    "corpus_build": ("corpus_build", "CorpusBuild"),
}

#: Spans that are one step of a workload; each gets an exec-layer row.
STEPS = ("poll", "catalog.row", "dashboard.query")


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics
    declared in BENCHMARK.json at the repository root."""
    with open("BENCHMARK.json") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Ctx:
    """What a workload gets: its seed, tracer, core count and a private
    work directory inside the checkout."""

    def __init__(self, seed: int, tracer, work: str, cores: int):
        self.seed = seed
        self.tracer = tracer
        self.work = work
        self.cores = cores


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "purpleair_data_logger_spark")):
        print(
            "perfbench: run from the repository root; the engine package "
            "purpleair_data_logger_spark is not here",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    os.environ["TZ"] = "UTC"
    time.tzset()

    import importlib

    import common
    from tracing import EventLog, Tracer

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(common.nproc())))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = common.spark_submit_args(event_dir)

    host = {
        "nproc": common.nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "before": common.host_snapshot(),
    }
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.seed, tracer, work, cores)
    module, cls = WORKLOADS[args.workload]
    wl = getattr(importlib.import_module(module), cls)(ctx)

    checks: list[dict] = []
    layer: dict = {}

    def guarded(name, fn, *a, **kw):
        """Run a traced-only probe or a check; an exception is recorded
        as a failed check instead of ending the run without a result."""
        try:
            return fn(*a, **kw)
        except Exception as e:
            checks.append({"name": name, "ok": False, "detail": repr(e)})
            return None

    try:
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("session.import"):
                from purpleair_data_logger_spark import session
                wl.import_engine()
            t_import = time.perf_counter() - t0
            with tracer.span("session.get_spark"):
                t1 = time.perf_counter()
                spark = session.get_spark(f"perfbench-{args.workload}")
                spark.sparkContext.setLogLevel("ERROR")
                get_spark_s = time.perf_counter() - t1
        if args.trace:
            tracer.cpu_clock = common.driver_cpu_clock(
                spark.sparkContext._gateway.proc.pid
            )
        # inputs are generated outside every timed and sampled region
        wl.generate()
        # memory is sampled over set-up and the measured operations only:
        # not over generation, probes or the DuckDB checks, which run in
        # this process. Traced runs report no memory and sample nothing,
        # which keeps the sampler's CPU out of the driver CPU clocks.
        with common.MemSampler(enabled=not args.trace) as mem:
            with tracer.span("setup"):
                t2 = time.perf_counter()
                wl.setup(spark)
                setup_s = t_import + get_spark_s + (time.perf_counter() - t2)
            ops = wl.measure(spark, time.perf_counter() + args.seconds)
        peak_pss_mb = mem.peak_bytes / 2**20
        if args.trace:
            layer = guarded("layer_probes", wl.layer_probes, spark) or {}
        checks += guarded("checks", wl.check, spark) or []
        common.stop_spark(spark)
    finally:
        host["after"] = common.host_snapshot()

    # latency and throughput cover the workload's own operations; an op
    # with ``in_e2e: False`` (a policy tick) is attempted and can fail,
    # but is timed only as a layer figure
    main = [o for o in ops if o.get("in_e2e", True)]
    latencies = [o["latency_s"] for o in main if o["ok"]] or [0.0]
    tail_s, tail_pct = common.tail(latencies)
    busy_s = sum(o["latency_s"] for o in main)
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": common.median(latencies) * 1000,
        "op_tail_ms": tail_s * 1000,
        "throughput_per_s": sum(o["items"] for o in main) / busy_s,
        "peak_pss_mb": peak_pss_mb,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "inputs": wl.input_properties(),
        "ops": ops,
        "op_tail_percentile": tail_pct,
        "op_samples": len(latencies),
        "checks": checks,
        "end_to_end": e2e,
    }
    if args.trace:
        evlog = EventLog(event_dir)
        evlog.attribute(tracer)
        layer.update(
            guarded("layer_metrics", wl.layer_metrics, evlog, get_spark_s=get_spark_s)
            or {}
        )
        layer["trace.setup_s"] = setup_s
        layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
        units = metric_units("per_layer")
        missing = sorted(set(units) - set(layer))
        metrics = {
            k: {"value": layer.get(k, 0), "unit": u} for k, u in units.items()
        }
        record["per_layer"] = layer
        record["per_layer_not_exercised"] = missing
        record["steps"] = [
            {"name": s.name, "trace_id": s.trace_id, **evlog.step_metrics(tracer, s, cores)}
            for s in tracer.spans
            if s.name in STEPS
        ]
        tracer.write(os.path.join(out_dir, f"{tag}.spans.jsonl"))
        with open(os.path.join(out_dir, f"{tag}.jobs.json"), "w") as fh:
            json.dump(evlog.jobs, fh, indent=1)
    else:
        units = metric_units("end_to_end")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    failed_ops = sum(1 for o in ops if not o["ok"])
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = len(ops)
    failed = min(attempted, failed_ops + len(failed_checks))
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    for c in failed_checks:
        print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": not failed_checks and failed_ops == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
