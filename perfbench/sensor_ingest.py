"""``sensor_ingest``: the paper's poll duty cycle, one closed-loop client.

One poll:

1. the generator lands a multi-sensor payload (untimed);
2. ``streaming.ingest.start_ingest(available_now=True, idempotent=True)``
   runs against a persistent checkpoint and appends to the nine tables;
3. the ``continuous_aggregate.streaming_hourly_aggregate`` catch-up runs
   (native state store);
4. the ``downtime.streaming_downtime_incidents`` catch-up runs
   (``applyInPandasWithState``).

A poll's latency runs from payload landed to the last stream committed.

The simulated clock advances one day per poll, so each delivery lands in
a new date partition. Every ``POLICY_EVERY`` polls,
``SensorTableStore.run_policies(now=<simulated>)``, the maintenance
tick, runs, and the retention and compression policies drop and rewrite
real partitions. The tick is its own operation (``in_e2e: False``): it
is attempted and can fail, but it is outside the poll latency and the
readings throughput. At the real 65 s poll cadence a daily tick comes
once every 1,329 polls, well under 1% of loop time; counted inside the
polls of a run it would be a tenth or more. Its time is the layer
figure ``sinks.tables.policy_s``.

Set-up runs one warm-up poll and tick. After the measured polls, the
last payload is re-delivered through the ingest stream (untimed): the
idempotent sink must commit nothing new.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import gen
import oracle
from common import median
from tracing import catalyst_phases_ms, exec_summary

#: sensors per poll, as in the measured 2,000 × 115-field poll
N_SENSORS = 2000
STEP_S = 86_400
THRESHOLD_S = STEP_S * 3 // 2
MIN_POLLS = 2
#: one tick per two polls: a two-poll run ends with one tick, whose
#: retention cut drops the warm-up's partition
POLICY_EVERY = 2
KEEP_DAYS = 1
MISSING_SHARE = 0.05
DARK_SHARE = 0.1
HORIZON = 5


def _files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else dict(p) for p in q.recentProgress]


class SensorIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self.polls: list[dict] = []
        self.ticks: list[dict] = []
        self.deliveries: list[int] = []  # delivery index == poll index
        self.last_cutoff: dt.date | None = None
        self.checks: list[dict] = []

    def import_engine(self) -> None:
        from purpleair_data_logger_spark import schema
        from purpleair_data_logger_spark.sinks.tables import SensorTableStore
        from purpleair_data_logger_spark.sources import spark_datasource
        from purpleair_data_logger_spark.streaming import (
            continuous_aggregate,
            downtime,
            ingest,
        )

        self.S = schema
        self.Store = SensorTableStore
        self.ds = spark_datasource
        self.ingest = ingest
        self.agg = continuous_aggregate
        self.downtime = downtime

    def generate(self) -> None:
        start = gen.EPOCH_2024 + (60 + self.ctx.seed % 28) * 86_400 + 6 * 3600
        self.feed = gen.SensorFeed(
            self.ctx.seed,
            n_sensors=N_SENSORS,
            step_s=STEP_S,
            start_epoch=start,
            missing_share=MISSING_SHARE,
            dark_share=DARK_SHARE,
            horizon=HORIZON,
        )
        w = self.ctx.work
        self.paths = {
            k: os.path.join(w, k)
            for k in ("store", "payload.json", "ck_ingest", "agg", "ck_agg", "dt", "ck_dt")
        }

    def input_properties(self) -> dict:
        return {
            "sensors": N_SENSORS,
            "fields_per_reading": len(self.S.FIELDS) + 2,
            "missing_field_share": MISSING_SHARE,
            "dark_sensor_share": DARK_SHARE,
            "dark_stretches": {str(k): v for k, v in self.feed.dark.items()},
            "simulated_step_s": STEP_S,
            "policy_tick_every_polls": POLICY_EVERY,
            "redelivery": "the last payload, once, before the checks",
        }

    # -- the duty cycle ----------------------------------------------------

    def setup(self, spark) -> None:
        tr = self.ctx.tracer
        with tr.span("sinks.tables.open"):
            self.store = self.Store(spark, self.paths["store"])
            for t in self.S.TABLE_NAMES:
                self.store.add_retention_policy(t, keep_days=KEEP_DAYS)
                self.store.add_compression_policy(t, after_days=0)
        with tr.span("warmup"):
            for rec in (self._poll(spark, 0), self._tick(0)):
                if not rec["ok"]:
                    raise RuntimeError(f"warm-up failed: {rec['error']}")

    def _ingest(self, spark):
        return self.ingest.start_ingest(
            spark,
            self.store,
            checkpoint_path=self.paths["ck_ingest"],
            source_options={"fixture_path": self.paths["payload.json"]},
            available_now=True,
            idempotent=True,
        )

    def _poll(self, spark, p: int) -> dict:
        tr = self.ctx.tracer
        self.deliveries.append(p)
        self.feed.write_payload(p, self.paths["payload.json"])
        rec = {"op": f"poll-{p}", "poll": p, "items": 0}
        before = _files(self.paths["store"]) if tr.enabled else None
        tr.new_trace(f"poll-{p}")
        queries = {}
        t0 = time.perf_counter()
        try:
            with tr.span("poll", poll=p) as span:
                with tr.span("streaming.ingest") as ingest_span:
                    ts = time.perf_counter()
                    q = self._ingest(spark)
                    rec["ingest_start_s"] = time.perf_counter() - ts
                    q.awaitTermination()
                    queries["ingest"] = q
                with tr.span("streaming.continuous_aggregate"):
                    q = self.agg.streaming_hourly_aggregate(
                        spark,
                        self.store.path(self.S.STATION),
                        self.paths["agg"],
                        self.paths["ck_agg"],
                    )
                    q.awaitTermination()
                    queries["agg"] = q
                with tr.span("streaming.downtime"):
                    q = self.downtime.streaming_downtime_incidents(
                        spark,
                        self.store.path(self.S.STATION),
                        self.paths["dt"],
                        self.paths["ck_dt"],
                        key_col="sensor_index",
                        ts_col="data_time_stamp",
                        id_col="rssi",
                        threshold_seconds=THRESHOLD_S,
                    )
                    q.awaitTermination()
                    queries["downtime"] = q
            rec["latency_s"] = time.perf_counter() - t0
            rec["ok"] = True
        except Exception as e:  # a failed poll is counted, not fatal
            rec.update(ok=False, error=repr(e), latency_s=time.perf_counter() - t0)
            return rec
        rec["items"] = len(self.feed.present(p))
        rec["span"] = span
        rec["ingest_span"] = ingest_span
        for name, q in queries.items():
            rec[name] = _progress(q)
        if before is not None:
            new = {k: v for k, v in _files(self.paths["store"]).items() if k not in before}
            rec["new_files"] = len(new)
            rec["new_bytes"] = sum(new.values())
        return rec

    def _tick(self, p: int) -> dict:
        """The daily maintenance tick at delivery ``p``'s simulated time."""
        tr = self.ctx.tracer
        rec = {"op": f"policy-{p}", "in_e2e": False, "items": 0}
        before = _files(self.paths["store"]) if tr.enabled else None
        now = dt.datetime.fromtimestamp(self.feed.stamp(p), dt.timezone.utc)
        t0 = time.perf_counter()
        try:
            with tr.span("sinks.tables.run_policies", poll=p):
                self.store.run_policies(now=now)
            rec.update(ok=True, latency_s=time.perf_counter() - t0)
        except Exception as e:  # a failed tick is counted, not fatal
            rec.update(ok=False, error=repr(e), latency_s=time.perf_counter() - t0)
            return rec
        self.last_cutoff = (now - dt.timedelta(days=KEEP_DAYS)).date()
        if before is not None:
            rec["bytes_rewritten"] = sum(
                v for k, v in _files(self.paths["store"]).items() if k not in before
            )
        return rec

    def measure(self, spark, deadline: float) -> list[dict]:
        p = 1
        while p <= MIN_POLLS or time.perf_counter() < deadline:
            self.polls.append(self._poll(spark, p))
            if p % POLICY_EVERY == 0:
                self.ticks.append(self._tick(p))
            p += 1
        # the untimed duplicate re-delivery of the last payload
        try:
            with self.ctx.tracer.span("streaming.ingest.redelivery"):
                self._ingest(spark).awaitTermination()
        except Exception as e:  # reported as a failed check
            self.checks.append({"name": "redelivery", "ok": False, "detail": repr(e)})
        keep = ("op", "in_e2e", "latency_s", "items", "ok", "error")
        return [{k: r[k] for k in keep if k in r} for r in self.polls + self.ticks]

    # -- correctness (untimed) ---------------------------------------------

    def _sent_keys(self) -> set[tuple[int, int]]:
        return {
            (self.feed.stamp(d), s)
            for d in self.deliveries
            for s in self.feed.present(d)
        }

    def _live_keys(self) -> set[tuple[int, int]]:
        """The sent keys the last retention cut keeps."""
        return {
            k for k in self._sent_keys()
            if self.last_cutoff is None
            or dt.datetime.fromtimestamp(k[0], dt.timezone.utc).date() >= self.last_cutoff
        }

    def check(self, spark) -> list[dict]:
        checks = list(self.checks)
        con = oracle.connect()
        sent = self._sent_keys()
        live = self._live_keys()
        for t in self.S.TABLE_NAMES:
            src = oracle.store_table(self.paths["store"], t)
            _, rows = oracle.query(
                con,
                f"SELECT CAST(epoch(data_time_stamp) AS BIGINT), sensor_index FROM {src}",
            )
            got = [tuple(r) for r in rows]
            ok = len(got) == len(set(got)) and set(got) == live
            checks.append({
                "name": f"table_keys:{t}",
                "ok": ok,
                "detail": f"{len(got)} rows, {len(set(got))} distinct, {len(live)} expected",
            })
        checks.append(self._check_aggregate(con, sent))
        checks.append(self._check_downtime(con))
        return checks

    def _check_aggregate(self, con, sent) -> dict:
        """Emitted hourly buckets equal a DuckDB GROUP BY over the sent
        readings, for every bucket the final watermark has closed."""
        if not self.polls[-1]["ok"]:
            return {"name": "hourly_aggregate", "ok": False, "detail": "last poll failed"}
        wm = self.polls[-1]["agg"][-1]["eventTime"].get("watermark")
        wm_s = dt.datetime.fromisoformat(wm.replace("Z", "+00:00")).timestamp()
        con.execute("CREATE TEMP TABLE sent(ts BIGINT, sensor_index INTEGER)")
        con.executemany("INSERT INTO sent VALUES (?, ?)", sorted(sent))
        _, exp = oracle.query(
            con,
            "SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, to_timestamp(ts))) AS BIGINT) AS b, "
            "sensor_index, count(*) FROM sent GROUP BY 1, 2 "
            "HAVING b + 3600 <= ?",
            [wm_s],
        )
        agg_glob = os.path.join(self.paths["agg"], "*.parquet")
        _, got = oracle.query(
            con,
            f"SELECT CAST(epoch(bucket_hour) AS BIGINT), sensor_index, n_readings "
            f"FROM read_parquet('{agg_glob}')",
        )
        ok, detail = oracle.same_rows(["b", "s", "n"], got, ["b", "s", "n"], exp)
        return {"name": "hourly_aggregate", "ok": ok, "detail": detail}

    def _check_downtime(self, con) -> dict:
        """Closed incidents equal the planted dark stretches that closed
        within the run; open alerts equal the sensors still dark whose
        silence the final watermark has proven."""
        seen: dict[int, list[int]] = {}
        for d in self.deliveries:
            for s in self.feed.present(d):
                seen.setdefault(s, []).append(self.feed.stamp(d))
        last = self.feed.stamp(self.deliveries[-1])
        wm = last - 600  # the stream's 10-minute watermark delay
        exp = []
        for s, stamps in seen.items():
            us = [t * 1_000_000 for t in stamps]
            exp += [
                (s, a, b, True)
                for a, b in zip(us, us[1:])
                if (b - a) > THRESHOLD_S * 1_000_000
            ]
            if stamps[-1] < last and stamps[-1] + THRESHOLD_S < wm:
                exp.append((s, us[-1], None, False))
        dt_glob = os.path.join(self.paths["dt"], "*.parquet")
        _, got = oracle.query(
            con,
            f"SELECT sensor_index, gap_start_us, gap_end_us, closed "
            f"FROM read_parquet('{dt_glob}')",
        )
        cols = ["s", "a", "b", "closed"]
        ok, detail = oracle.same_rows(cols, got, cols, exp)
        return {"name": "downtime_incidents", "ok": ok, "detail": detail}

    # -- traced-only layer figures -----------------------------------------

    def layer_probes(self, spark) -> dict:
        """Traced-only probes: the source scan, timed around its public
        reader over the last payload (median of three), and one Grafana
        refresh over the store this run wrote (see `_dashboard_probe`)."""
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            list(
                self.ds.PurpleAirBatchReader(
                    {"fixture_path": self.paths["payload.json"]}
                ).read(None)
            )
            times.append(time.perf_counter() - t0)
        files = _files(self.paths["store"])
        self._dashboard_probe(spark)
        return {
            "sources.scan_s": median(times),
            "sinks.tables.live_files": len(files),
            "sinks.tables.bytes_per_reading": sum(files.values()) / len(self._live_keys()),
        }

    def _dashboard_probe(self, spark) -> None:
        """The reference dashboard's template variable, 8 panels and 2
        text panels over the ingested store, each split into build, plan
        and collect; results are checked against DuckDB."""
        from purpleair_data_logger_spark import dashboard
        tr = self.ctx.tracer
        last = self.deliveries[-1]
        sensor = sorted(self.feed.present(last))[self.ctx.seed % len(self.feed.present(last))]
        lo, hi = self.feed.stamp(self.deliveries[0]), self.feed.stamp(last) + 1
        rng = dict(start_epoch=lo, end_epoch=hi)
        calls = {"directory": lambda: dashboard.directory(self.store)}
        for name in dashboard.PANELS:
            calls[name] = (
                lambda name=name: dashboard.panel(self.store, name, sensor_index=sensor, **rng)
            )
        calls["thingspeak_text"] = lambda: dashboard.thingspeak_text_panel(self.store, **rng)
        calls["station_text"] = lambda: dashboard.station_text_panel(self.store, **rng)
        self.panels = []
        tr.new_trace("dashboard-probe")
        for name, build in calls.items():
            with tr.span("dashboard.query", query=name) as span:
                with tr.span("dashboard.build"):
                    df = build()
                with tr.span("dashboard.plan"):
                    phases = catalyst_phases_ms(df)
                with tr.span("dashboard.exec"):
                    rows = [tuple(r) for r in df.collect()]
            self.panels.append({
                "name": name, "span": span, "phases_ms": phases,
                "columns": df.columns, "rows": rows,
            })
        self.checks.append(self._check_panels(sensor, lo, hi))

    def _check_panels(self, sensor: int, lo: int, hi: int) -> dict:
        from purpleair_data_logger_spark import dashboard

        con = oracle.connect()
        bad = []
        for p in self.panels:
            name = p["name"]
            if name == "directory":
                src = oracle.store_table(self.paths["store"], self.S.STATION)
                sql = (
                    "SELECT DISTINCT sensor_index, "
                    "name || ', ' || CAST(sensor_index AS VARCHAR) AS name_and_sensor_index "
                    f"FROM {src}"
                )
                params = []
            elif name in dashboard.PANELS:
                table, cols = dashboard.PANELS[name]
                src = oracle.store_table(self.paths["store"], table)
                aggs = ", ".join(f"max({c}) AS max_{c}" for c in cols)
                sql = (
                    "SELECT time_bucket(INTERVAL 300 SECOND, data_time_stamp) AS bucket_ts, "
                    f"{aggs} FROM {src} WHERE sensor_index = ? "
                    "AND data_time_stamp >= to_timestamp(?) AND data_time_stamp < to_timestamp(?) "
                    "GROUP BY 1"
                )
                params = [sensor, lo, hi]
            else:
                table = self.S.THINGSPEAK if name == "thingspeak_text" else self.S.STATION
                src = oracle.store_table(self.paths["store"], table)
                sql = (
                    f"SELECT {', '.join(p['columns'])} FROM {src} "
                    "WHERE data_time_stamp >= to_timestamp(?) AND data_time_stamp < to_timestamp(?)"
                )
                params = [lo, hi]
            ocols, orows = oracle.query(con, sql, params)
            ok, detail = oracle.same_rows(p["columns"], p["rows"], ocols, orows)
            if not ok:
                bad.append(f"{name}: {detail}")
        return {
            "name": "dashboard_panels",
            "ok": not bad,
            "detail": "; ".join(bad) or f"{len(self.panels)} queries equal",
        }

    def layer_metrics(self, evlog, *, get_spark_s: float) -> dict:
        tr = self.ctx.tracer
        polls = [r for r in self.polls if r["ok"]]
        ticks = [r for r in self.ticks if r["ok"]]
        out = {"session.get_spark_s": get_spark_s}

        def med(f, recs=polls):
            return median([f(r) for r in recs])

        def dur(r, name, key):
            return sum(p["durationMs"].get(key, 0) for p in r[name]) / 1000.0

        out.update({
            "sources.rows_per_poll": med(lambda r: sum(p["numInputRows"] for p in r["ingest"])),
            "streaming.ingest.start_s": med(lambda r: r["ingest_start_s"]),
            "streaming.ingest.trigger_s": med(lambda r: dur(r, "ingest", "triggerExecution")),
            "streaming.ingest.add_batch_s": med(lambda r: dur(r, "ingest", "addBatch")),
            "streaming.ingest.planning_s": med(lambda r: dur(r, "ingest", "queryPlanning")),
            "streaming.ingest.commit_s": med(
                lambda r: dur(r, "ingest", "walCommit") + dur(r, "ingest", "commitOffsets")
            ),
            "streaming.continuous_aggregate.trigger_s": med(
                lambda r: dur(r, "agg", "triggerExecution")
            ),
            "streaming.continuous_aggregate.state_rows": med(
                lambda r: r["agg"][-1]["stateOperators"][0]["numRowsTotal"]
            ),
            "streaming.continuous_aggregate.state_bytes": med(
                lambda r: r["agg"][-1]["stateOperators"][0]["memoryUsedBytes"]
            ),
            "streaming.downtime.trigger_s": med(lambda r: dur(r, "downtime", "triggerExecution")),
            "streaming.downtime.state_rows": med(
                lambda r: r["downtime"][-1]["stateOperators"][0]["numRowsTotal"]
            ),
            "sinks.tables.jobs_per_poll": med(
                lambda r: len(evlog.jobs_under(tr, r["ingest_span"]))
            ),
            "sinks.tables.files_per_poll": med(lambda r: r["new_files"]),
            "sinks.tables.bytes_per_poll": med(lambda r: r["new_bytes"]),
        })
        out["sinks.tables.policy_s"] = med(lambda r: r["latency_s"], ticks)
        out["sinks.tables.policy_bytes_rewritten"] = med(lambda r: r["bytes_rewritten"], ticks)
        out.update(exec_summary(evlog, tr, [r["span"] for r in polls], self.ctx.cores))
        out.update(self._dashboard_metrics(evlog))
        return out

    def _dashboard_metrics(self, evlog) -> dict:
        tr = self.ctx.tracer

        def part_ms(p, name):
            return 1000 * sum(
                s.end - s.start for s in tr.spans
                if s.name == name and s.parent == p["span"].sid
            )

        scans = [evlog.scans_under(tr, p["span"]) for p in self.panels]
        returned = sum(len(p["rows"]) for p in self.panels)
        return {
            "dashboard.build_ms": median([part_ms(p, "dashboard.build") for p in self.panels]),
            "dashboard.plan_ms": median([sum(p["phases_ms"].values()) for p in self.panels]),
            "dashboard.exec_ms": median([part_ms(p, "dashboard.exec") for p in self.panels]),
            "dashboard.jobs_per_query": median(
                [len(evlog.jobs_under(tr, p["span"])) for p in self.panels]
            ),
            "dashboard.files_scanned_per_query": median([f for f, _ in scans]),
            "dashboard.rows_scanned_per_row_returned": sum(r for _, r in scans) / max(returned, 1),
        }
