"""Exactly-once under PARTIAL failure + commit atomicity under
concurrency — the round-2 hardening of the manifest/icepack contract.

Reference semantics being protected:
* a batch commits to ALL its sinks or to NONE (the pending-stream →
  finalize → BatchCommitWriteStreams flow,
  /root/reference/pkg/infra/bq/client.go:240-263);
* a retry of a failed batch reconciles to exactly one copy per sink
  (State.Acquired, /root/reference/pkg/domain/model/state.go:19-31).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from swarm_spark.datagen import generate_transcripts
from swarm_spark.pipeline import IngestPipeline, PipelineConfig
from swarm_spark.presets import (
    default_event_rules,
    default_schema_rules,
    default_tool_dim,
)
from swarm_spark.tablestore import IcepackCatalog, IcepackTable


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, 500, n_convs=20, seed=7).cache()


def make_pipeline(spark, tmp_path, **kw):
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
        **kw,
    )
    return IngestPipeline(spark, cfg)


class TestPartialFailureRollback:
    def test_failure_after_sink_commits_rolls_back_everything(
        self, spark, tmp_path, transcripts, monkeypatch
    ):
        """Sinks commit, then the aggregate step fails → every sink
        snapshot this attempt committed is rolled back; no table keeps
        any of the batch's rows."""
        p = make_pipeline(spark, tmp_path)

        def boom(routed):
            raise RuntimeError("agg exploded after sink commits")

        monkeypatch.setattr(p, "aggregate", boom)
        with pytest.raises(RuntimeError, match="agg exploded"):
            p.run(transcripts, batch_id="pf1")

        st = p.manifest.get("pf1")
        assert st.state == "failed"
        assert not st.snapshot_ids  # all rolled back → nothing recorded
        for sink in ("sink_errors", "sink_tools", "sink_assistant", "sink_user"):
            t = p.catalog.table(sink)
            assert not t.exists(), f"{sink} kept a rolled-back snapshot"

        # retry after the failure lands exactly one copy
        monkeypatch.undo()
        res = p.run(transcripts, batch_id="pf1")
        assert not res.skipped
        once = {s: p.catalog.table(s).read(spark).count()
                for s in res.per_sink_rows}
        assert once == res.per_sink_rows

    def test_retry_skips_unrollbackable_commits(
        self, spark, tmp_path, transcripts, monkeypatch
    ):
        """When rollback is impossible (another batch committed on
        top), the snapshot id stays in the manifest and the retry
        SKIPS that sink instead of double-appending."""
        p = make_pipeline(spark, tmp_path)

        def boom(routed):
            raise RuntimeError("late failure")

        monkeypatch.setattr(p, "aggregate", boom)
        # simulate 'another writer landed on top': rollback refuses
        monkeypatch.setattr(IcepackTable, "rollback", lambda self, sid: False)
        with pytest.raises(RuntimeError, match="late failure"):
            p.run(transcripts, batch_id="pf2")
        monkeypatch.undo()

        st = p.manifest.get("pf2")
        assert st.state == "failed"
        assert st.snapshot_ids  # sink commits recorded for resume-skip
        kept = dict(st.snapshot_ids)

        p2 = make_pipeline(spark, tmp_path)  # fresh instance, same warehouse
        res = p2.run(transcripts, batch_id="pf2")
        assert not res.skipped
        # previously-committed sinks were NOT re-appended
        for sink, sid in kept.items():
            assert res.snapshot_ids[sink] == sid
            assert p2.catalog.table(sink).read(spark).count() == res.per_sink_rows[sink]

    def test_failed_attempt_releases_cache(
        self, spark, tmp_path, transcripts, monkeypatch
    ):
        """A failed attempt unpersists its cached routed plan: after the
        aggregate-raises failure Spark's cache manager holds as many
        entries as before the run."""
        cache = spark._jsparkSession.sharedState().cacheManager()
        p = make_pipeline(spark, tmp_path)

        def boom(routed):
            raise RuntimeError("agg exploded after sink commits")

        monkeypatch.setattr(p, "aggregate", boom)
        before = cache.numCachedEntries()
        with pytest.raises(RuntimeError, match="agg exploded"):
            p.run(transcripts, batch_id="pf3")
        assert cache.numCachedEntries() == before

    def test_audit_started_at_is_batch_start(self, spark, tmp_path, transcripts):
        """`started_at` is the batch's start, not the time the audit
        row was written at the end of the batch."""
        import time

        p = make_pipeline(spark, tmp_path)
        wall0 = time.time()
        p.run(transcripts, batch_id="b")
        (started,) = p.catalog.table("_audit").read(spark).select(
            F.col("started_at").cast("double")).first()
        assert wall0 - 0.01 <= started <= wall0 + 0.5

    def test_count_mismatch_raises_not_assert(self):
        """The X6 written-vs-routed verify must survive python -O:
        a RuntimeError, never a bare assert."""
        import inspect

        import swarm_spark.pipeline as pl

        src = inspect.getsource(pl.IngestPipeline.run)
        assert "assert routed_rows" not in src
        assert "append-count mismatch" in src and "RuntimeError" in src


class TestCommitConcurrency:
    def test_concurrent_appends_no_lost_update(self, spark, tmp_path):
        """8 writers race on one table: every append survives (no
        clobbered snap file), ids are distinct, counts reconcile."""
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("race")
        dfs = [spark.createDataFrame([(i, j) for j in range(10)], "w int, v int")
               for i in range(8)]

        def do(i):
            return cat.table("race").append(dfs[i])

        with ThreadPoolExecutor(max_workers=8) as pool:
            snaps = list(pool.map(do, range(8)))

        sids = sorted(s["snapshot_id"] for s in snaps)
        assert sids == list(range(1, 9))  # all distinct, no clobber
        cur = t.current_snapshot()
        assert cur["row_count"] == 80  # rebase recomputed counts
        got = t.read(spark)
        assert got.count() == 80
        # every writer's rows present exactly once
        per_w = {r["w"]: r["n"] for r in
                 got.groupBy("w").agg(F.count("*").alias("n")).collect()}
        assert per_w == {i: 10 for i in range(8)}
        # no duplicated data dirs after rebases (the double-count bug)
        assert len(cur["data_dirs"]) == len(set(cur["data_dirs"])) == 8

    def test_orphaned_claim_adopted(self, spark, tmp_path):
        """A snap file claimed by a writer that died before advancing
        CURRENT does not wedge the table."""
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("orph")
        t.append(spark.createDataFrame([(1,)], "a int"))
        # fake a dead writer's claim on the next sid
        with open(t._snap_path(2), "w") as fh:
            fh.write("{}")
        snap = t.append(spark.createDataFrame([(2,)], "a int"))
        assert snap["snapshot_id"] == 2
        assert t.read(spark).count() == 2

    def test_rollback_restores_parent(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("rb")
        s1 = t.append(spark.createDataFrame([(1,)], "a int"))
        s2 = t.append(spark.createDataFrame([(2,)], "a int"))
        assert t.rollback(s2["snapshot_id"]) is True
        assert t.current_snapshot()["snapshot_id"] == s1["snapshot_id"]
        assert t.read(spark).collect()[0]["a"] == 1
        # the rolled-back snapshot's exclusive data dir is gone
        gone = [d for d in s2["data_dirs"] if d not in s1["data_dirs"]]
        assert gone and not any(os.path.isdir(d) for d in gone)
        # not-CURRENT → refused
        assert t.rollback(99) is False

    def test_rollback_first_snapshot_empties_table(self, spark, tmp_path):
        cat = IcepackCatalog(str(tmp_path))
        t = cat.table("rb0")
        s1 = t.append(spark.createDataFrame([(1,)], "a int"))
        assert t.rollback(s1["snapshot_id"]) is True
        assert not t.exists()


def test_batch_txn_owns_the_transaction():
    """The ingests never drive the manifest gate or a rollback
    themselves: acquire, record, roll back and complete go through
    manifest.BatchTxn only."""
    import ast
    import pathlib

    import swarm_spark

    pkg = pathlib.Path(swarm_spark.__file__).resolve().parent
    guarded = [pkg / "pipeline.py", pkg / "pipeline_json.py",
               *sorted(pkg.glob("streaming/*.py"))]
    assert len(guarded) >= 4
    hits = []
    for path in guarded:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            owner = ast.unparse(node.func.value).lower()
            if (attr in ("get_or_create", "rollback")
                    or (attr == "update" and "manifest" in owner)):
                hits.append(f"{path.relative_to(pkg)}:{node.lineno} .{attr}(")
    assert not hits, f"batch transaction driven outside BatchTxn: {hits}"
    for name in ("pipeline.py", "pipeline_json.py"):
        assert "BatchTxn(" in (pkg / name).read_text(), name
