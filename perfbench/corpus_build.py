"""``corpus_build``: the catalog's LLM-corpus north-star rows, one
closed-loop client.

One pass runs three registered catalog rows through ``catalog`` against
a generated ``documents.parquet`` / ``embeddings.parquet`` in the
testdata schema, each collected to the client:

* ``corpus_build_final`` — LSH near-dup pairs, connected components,
  decontamination, splits, token accounting;
* ``embedding_cluster_dedup`` — hyperplane-LSH pairs, cosine verify,
  connected components;
* ``neardup_prefix_incremental`` — an index append: new documents
  (``doc_id % 10 == 0``) against the base under prefix filtering.

An operation is one pass; its rows' latencies are kept in the run
record. Set-up runs one warm-up pass. The corpus plants exact and
near-duplicate clusters, so candidate volume and cluster work are
stated properties of the input.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from common import median
from tracing import catalyst_phases_ms, exec_summary

ROWS = ("corpus_build_final", "embedding_cluster_dedup", "neardup_prefix_incremental")
N_DOCS = 500
N_VECS = 300
EXACT_CLUSTERS = 10
NEAR_CLUSTERS = 10
VEC_CLUSTERS = 10
CLUSTER_SIZE = 3
MIN_PASSES = 1


class CorpusBuild:
    def __init__(self, ctx):
        self.ctx = ctx
        self.ops: list[dict] = []
        self.last: dict[str, tuple[list[str], list]] = {}

    def import_engine(self) -> None:
        from purpleair_data_logger_spark import catalog
        from purpleair_data_logger_spark.queries import _core

        self.catalog = catalog
        self._core = _core

    def generate(self) -> None:
        self.dir = os.path.join(self.ctx.work, "corpus")
        os.makedirs(self.dir)
        self.planted = gen.write_corpus(
            self.ctx.seed,
            self.dir,
            n_docs=N_DOCS,
            n_vecs=N_VECS,
            exact_clusters=EXACT_CLUSTERS,
            near_clusters=NEAR_CLUSTERS,
            vec_clusters=VEC_CLUSTERS,
            cluster_size=CLUSTER_SIZE,
        )

    def input_properties(self) -> dict:
        return {
            "documents": N_DOCS,
            "embeddings": N_VECS,
            "planted_exact_doc_clusters": EXACT_CLUSTERS,
            "planted_near_doc_clusters": NEAR_CLUSTERS,
            "planted_vector_clusters": VEC_CLUSTERS,
            "cluster_size": CLUSTER_SIZE,
            "planted": self.planted,
        }

    def setup(self, spark) -> None:
        self.queries = {n: self.catalog.all_queries()[n] for n in ROWS}
        if self.ctx.tracer.enabled:
            self._wrap_load_table()
        with self.ctx.tracer.span("warmup"):
            for name in ROWS:
                self._row(spark, name, warm=True)

    def _wrap_load_table(self) -> None:
        """Traced runs time every ``io.load_table`` call the catalog
        makes, from outside, by wrapping the registry's loader."""
        tr = self.ctx.tracer
        inner = self._core.load_table

        def load_table(spark, sf_dir, name):
            with tr.span("io.load_table", table=name):
                return inner(spark, sf_dir, name)

        self._core.load_table = load_table

    def _row(self, spark, name: str, warm: bool = False) -> dict:
        tr = self.ctx.tracer
        q = self.queries[name]
        rec = {"op": name, "items": N_VECS if name.startswith("embedding") else N_DOCS}
        tr.new_trace(f"{'warm' if warm else 'pass'}-{len(self.ops)}-{name}")
        t0 = time.perf_counter()
        try:
            with tr.span("catalog.row", row=name) as span:
                with tr.span("catalog.build"):
                    df = q.fn(spark, self.dir)
                if tr.enabled:
                    with tr.span("catalog.plan"):
                        rec["phases_ms"] = catalyst_phases_ms(df)
                with tr.span("catalog.exec"):
                    rows = [tuple(r) for r in df.collect()]
            rec["latency_s"] = time.perf_counter() - t0
            rec["ok"] = True
            rec["span"] = span
            if not warm:
                self.last[name] = (df.columns, rows)
        except Exception as e:  # a failed row is counted, not fatal
            rec.update(ok=False, error=repr(e), latency_s=time.perf_counter() - t0)
            if warm:
                raise
        return rec

    def measure(self, spark, deadline: float) -> list[dict]:
        passes = []
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            rows = [self._row(spark, name) for name in ROWS]
            self.ops.extend(rows)
            passes.append({
                "op": f"pass-{len(passes)}",
                "latency_s": sum(r["latency_s"] for r in rows),
                "items": sum(r["items"] for r in rows),
                "ok": all(r["ok"] for r in rows),
                "rows": [
                    {k: v for k, v in r.items() if k not in ("span", "phases_ms")}
                    for r in rows
                ],
            })
        return passes

    # -- correctness (untimed) ---------------------------------------------

    def check(self, spark) -> list[dict]:
        con = oracle.connect(self.dir)
        checks = []
        for name in ROWS:
            if name not in self.last:
                checks.append({"name": f"oracle:{name}", "ok": False, "detail": "no result"})
                continue
            cols, rows = self.last[name]
            ocols, orows = oracle.query(con, oracle.materialized(self.queries[name].oracle))
            ok, detail = oracle.same_rows(cols, rows, ocols, orows)
            checks.append({"name": f"oracle:{name}", "ok": ok, "detail": detail})
        checks.append(self._check_vec_clusters())
        checks.append(self._check_near_clusters())
        return checks

    def _check_vec_clusters(self) -> dict:
        cols, rows = self.last.get("embedding_cluster_dedup", ([], []))
        if not rows:
            return {"name": "planted_vector_clusters", "ok": False, "detail": "no result"}
        cid = {r[cols.index("vec_id")]: r[cols.index("cluster_id")] for r in rows}
        missed = [m for m in self.planted["vec"] if len({cid.get(v) for v in m}) != 1]
        return {
            "name": "planted_vector_clusters",
            "ok": not missed,
            "detail": f"{len(self.planted['vec']) - len(missed)}/{len(self.planted['vec'])} found",
        }

    def _check_near_clusters(self) -> dict:
        cols, rows = self.last.get("neardup_prefix_incremental", ([], []))
        pairs = {(r[cols.index("new_doc_id")], r[cols.index("base_doc_id")]) for r in rows}
        missed = [
            m for m in self.planted["near"]
            if not all((m[0], b) in pairs for b in m[1:])
        ]
        return {
            "name": "planted_near_doc_clusters",
            "ok": not missed,
            "detail": f"{len(self.planted['near']) - len(missed)}/{len(self.planted['near'])} found",
        }

    # -- traced-only layer figures -----------------------------------------

    def layer_probes(self, spark) -> dict:
        """Operator counts, from the operators' public functions called on
        the same corpus with the catalog rows' parameters."""
        from pyspark.sql import functions as F

        from purpleair_data_logger_spark.io import load_table
        from purpleair_data_logger_spark.operators import clusters as cl
        from purpleair_data_logger_spark.operators import dedup as dd
        from purpleair_data_logger_spark.operators import similarity as sim

        tr = self.ctx.tracer
        lsh = dict(num_hashes=64, bands=16, shingle_n=3, hash_family="md5")
        d = load_table(spark, self.dir, "documents")
        cands = dd.minhash_lsh_candidates(d, "doc_id", "text", **lsh).count()
        pairs = dd.neardup_lsh_verified(d, "doc_id", "text", threshold=0.8, **lsh)
        verified = pairs.count()
        skew = dd.lsh_index_skew_report(dd.lsh_banded(d, "doc_id", "text", **lsh))
        max_bucket = skew.agg(F.max("max_bucket_size")).first()[0]
        with tr.span("operators.clusters.cluster_dedup") as cspan:
            assigned = cl.cluster_dedup(d, "doc_id", pairs)
        survivors = assigned.filter(F.col("keep")).count()
        self._cluster_span = cspan

        em = load_table(spark, self.dir, "embeddings").select("vec_id", "embedding")
        bands = sim.lsh_band_signatures(
            sim.as_double_array("embedding"), sim.random_hyperplanes(64, 64), 8
        )
        b = em.select("vec_id", F.posexplode(bands).alias("band_idx", "band_val"))
        x, y = b.alias("x"), b.alias("y")
        vec_cands = (
            x.join(
                y,
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_val") == F.col("y.band_val"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select("x.vec_id", "y.vec_id")
            .distinct()
            .count()
        )
        vec_verified = sim.cosine_neardup_lsh_verified(
            em, "vec_id", "embedding", threshold=0.9
        ).count()
        return {
            "operators.dedup.candidate_pairs": cands,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / cands if cands else 0.0,
            "operators.dedup.max_bucket_rows": max_bucket,
            "operators.similarity.candidate_pairs": vec_cands,
            "operators.similarity.verified_pairs": vec_verified,
            "operators.clusters.survivors": survivors,
        }

    def layer_metrics(self, evlog, *, get_spark_s: float) -> dict:
        tr = self.ctx.tracer
        rows = [o for o in self.ops if o["ok"]]

        def child(o, name):
            return [s for s in tr.spans if s.name == name and s.parent == o["span"].sid]

        def span_s(o, name):
            return sum(s.end - s.start for s in child(o, name))

        loads = [
            s for s in tr.spans
            if s.name == "io.load_table" and s.trace_id and s.trace_id.startswith("pass")
        ]
        out = {
            "session.get_spark_s": get_spark_s,
            "catalog.build_s": median([span_s(o, "catalog.build") for o in rows]),
            "catalog.build_jobs": median([
                sum(len(evlog.jobs_under(tr, s)) for s in child(o, "catalog.build"))
                for o in rows
            ]),
            "catalog.plan_s": median([sum(o["phases_ms"].values()) / 1000 for o in rows]),
            "catalog.exec_s": median([span_s(o, "catalog.exec") for o in rows]),
            "io.load_table_ms": median([(s.end - s.start) * 1000 for s in loads]),
            "io.load_table_jobs": median([len(evlog.jobs_under(tr, s)) for s in loads]),
            "operators.clusters.jobs": len(evlog.jobs_under(tr, self._cluster_span)),
        }
        out.update(exec_summary(evlog, tr, [o["span"] for o in rows], self.ctx.cores))
        return out
