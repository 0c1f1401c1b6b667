"""The materialize-once seam (r14, VERDICT r13 #3): every within-query
reuse point (LSH band indexes, candidate sets, prefix set tables, phash
signatures) goes through `materialize.materialize_once`, which defaults
to executor-memory localCheckpoint but swaps to reliable
``df.checkpoint()`` files under ``SPARK_GRAFT_CHECKPOINT_DIR`` — the
posture a cluster run needs so one lost executor does not kill a query
whose lineage was truncated."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from purpleair_data_logger_spark import materialize
from purpleair_data_logger_spark.operators import dedup as dd
from purpleair_data_logger_spark.operators import multimodal as mm
from purpleair_data_logger_spark.operators import similarity as sim


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different text with no overlap at all here"),
        (4, "the quick brown fox jumps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _collect_pairs(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_local_default_truncates_lineage(spark):
    out = materialize.materialize_once(_docs(spark))
    # lazy localCheckpoint: the stored-RDD scan (LogicalRDD) replaces
    # the upstream plan immediately, with no job run yet
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()


def test_reliable_checkpoint_dir_identical_results(spark, tmp_path, monkeypatch):
    """With the env var set, the seam must (a) actually write reliable
    checkpoint files and (b) leave every routed operator's output
    bit-identical to the local default."""
    docs = _docs(spark)
    base_pairs = _collect_pairs(
        dd.neardup_lsh_verified(docs, "doc_id", "text", threshold=0.8),
        ("doc_id_a", "doc_id_b", "jaccard"),
    )
    assert base_pairs  # fixture really exercises the band join + verify

    ckdir = str(tmp_path / "seam_ckpt")
    monkeypatch.setenv(materialize.CHECKPOINT_DIR_ENV, ckdir)
    try:
        reliable_pairs = _collect_pairs(
            dd.neardup_lsh_verified(docs, "doc_id", "text", threshold=0.8),
            ("doc_id_a", "doc_id_b", "jaccard"),
        )
        assert reliable_pairs == base_pairs
        # the reliable path wrote checkpoint files under the directory
        found = [
            name
            for root, _dirs, files in os.walk(ckdir)
            for name in files
        ]
        assert found, "reliable checkpoint produced no files"
    finally:
        # restore the session's local-default posture for later tests
        monkeypatch.delenv(materialize.CHECKPOINT_DIR_ENV, raising=False)


def _files_under(path):
    return sorted(
        os.path.join(root, name)
        for root, _dirs, files in os.walk(path)
        for name in files
    )


def test_explicit_and_env_checkpoint_dirs_stay_apart(spark, tmp_path, monkeypatch):
    """An explicit `clusters` checkpoint_dir and SPARK_GRAFT_CHECKPOINT_DIR
    share one SparkContext setting; whichever runs next must re-assert
    its own directory, in either order."""
    from purpleair_data_logger_spark.operators.clusters import _checkpointer

    dir_a = str(tmp_path / "explicit")
    dir_b = str(tmp_path / "env")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["src", "dst"])
    explicit = _checkpointer(edges, dir_a)
    explicit(edges).collect()
    written_a = _files_under(dir_a)
    assert written_a

    monkeypatch.setenv(materialize.CHECKPOINT_DIR_ENV, dir_b)
    try:
        materialize.materialize_once(edges.select("src")).collect()
        assert _files_under(dir_b), "env seam did not write under its dir"
        assert _files_under(dir_a) == written_a, "env seam wrote under the explicit dir"

        written_b = _files_under(dir_b)
        explicit(edges.select("dst")).collect()
        assert _files_under(dir_b) == written_b, "explicit round wrote under the env dir"
        assert len(_files_under(dir_a)) > len(written_a)
    finally:
        monkeypatch.delenv(materialize.CHECKPOINT_DIR_ENV, raising=False)


def test_seam_covers_every_query_path_site():
    """No bare localCheckpoint on batch query paths: every module outside
    `streaming/` must go through the seam so SPARK_GRAFT_CHECKPOINT_DIR
    governs them all. (Streaming fold paths keep their own eager
    localCheckpoints — state carried across micro-batches is a different
    lifecycle.)"""
    import pathlib

    pkg = pathlib.Path(materialize.__file__).parent
    offenders = []
    for p in pkg.rglob("*.py"):
        rel = p.relative_to(pkg)
        if rel.parts[0] == "streaming" or rel.name == "materialize.py":
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if ".localCheckpoint(" in line and "materialize" not in line:
                offenders.append(f"{rel}:{i}")
    assert not offenders, offenders


def test_cosine_lsh_signature_table_materialized_once(spark):
    """r14 pin for `cosine_neardup_lsh_verified`: the signature table
    (vector + band array, one Arrow matmul pass over the spread scan)
    is materialized once — the final plan joins two scans of the
    stored rows (ExistingRDD) and contains NO Python stage (the Arrow
    matmul ran in the materialization job, not once per join side)."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 7) + 0.01 * j for j in range(8)]) for i in range(20)]
        + [(100 + i, [float(i % 7) + 0.01 * j + 0.001 for j in range(8)]) for i in range(5)],
        ["vec_id", "embedding"],
    )
    out = sim.cosine_neardup_lsh_verified(
        vecs, "vec_id", "embedding", threshold=0.9, n_planes=16, bands=4, dim=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan      # both join sides scan stored rows
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "band_val" in plan          # candidates ride the band equi-join
    # near-identical planted rows verified at >= 0.9
    got = {(r["vec_id_a"], r["vec_id_b"]) for r in out.collect()}
    assert all(a < b for a, b in got)
    assert got  # the planted near-dups collide and verify


def test_phash_seam_results_unchanged(spark):
    media = mm.attach_binary_payload(
        _docs(spark).union(_docs(spark).select(F.col("doc_id") + 10, "text")),
        "doc_id",
        "text",
    )
    pairs = mm.phash_neardup_pairs(
        media, thumbnailer=mm.fake_thumbnailer, max_hamming=6
    )
    got = _collect_pairs(pairs, ("media_id_1", "media_id_2", "hamming"))
    # exact payload copies (1,4), (11,14), (1,14), (4,11), (1,11), (4,14)
    assert (1, 4, 0) in got and (11, 14, 0) in got
