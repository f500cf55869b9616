"""Dynamic-payload ingest: schema inference, monotonic evolution,
nil-strip + content-hash + float-ts semantics end to end."""

from __future__ import annotations

import gzip
import json

import pytest

from swarm_spark.pipeline_json import JsonIngest, JsonSchemaRule
from swarm_spark.rules import EventRule


def _write(path, content, gz=False):
    if gz:
        with gzip.open(str(path), "wt") as fh:
            fh.write(content)
    else:
        with open(str(path), "w") as fh:
            fh.write(content)


RULES = [JsonSchemaRule("access_log", sink_table="logs",
                        ts_path="$.event_time", id_path="$.log_id")]
EVENTS = [EventRule("e1", "path", "endswith", ".log", "access_log")]

LOG_LINES = "\n".join([
    json.dumps({"log_id": "a1", "event_time": 1500000000.25,
                "remote_ip": "10.0.0.1", "action": "get", "success": True,
                "junk": None}),
    json.dumps({"log_id": "a2", "event_time": 1500000060.0,
                "remote_ip": "10.0.0.2", "action": "put", "success": False}),
])


class TestJsonIngest:
    def test_end_to_end(self, spark, tmp_path):
        src = tmp_path / "in.log"
        _write(src, LOG_LINES)
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        res = ing.run(str(src), batch_id="b1")
        assert res["per_sink_rows"] == {"logs": 2}

        out = ing.catalog.table("logs").read(spark).orderBy("id").collect()
        assert [r.id for r in out] == ["a1", "a2"]
        assert out[0].timestamp.microsecond == 250000  # float-sec fraction
        d = out[0].data.asDict()
        assert d["remote_ip"] == "10.0.0.1" and d["success"] is True
        assert "junk" not in d  # nil-stripped before inference

    def test_schema_evolution_monotonic(self, spark, tmp_path):
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        _write(tmp_path / "one.log",
               json.dumps({"log_id": "x", "event_time": 1.0, "name": "n"}))
        ing.run(str(tmp_path / "one.log"), batch_id="b1")
        _write(tmp_path / "two.log",
               json.dumps({"log_id": "y", "event_time": 2.0, "age": 30}))
        ing.run(str(tmp_path / "two.log"), batch_id="b2")

        t = ing.catalog.table("logs")
        fields = [f.name for f in t.schema()["data"].dataType.fields]
        # union, old order preserved, new appended (migrate_test.go:77-113)
        assert fields == ["event_time", "log_id", "name", "age"]
        got = {r.id: r.data.asDict() for r in t.read(spark).collect()}
        assert got["x"]["name"] == "n" and got["x"]["age"] is None
        assert got["y"]["age"] == 30 and got["y"]["name"] is None

    def test_type_conflict_fails_batch(self, spark, tmp_path):
        from swarm_spark.tablestore import SchemaConflictError

        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        _write(tmp_path / "one.log",
               json.dumps({"log_id": "x", "event_time": 1.0, "age": 30}))
        ing.run(str(tmp_path / "one.log"), batch_id="b1")
        _write(tmp_path / "two.log",
               json.dumps({"log_id": "y", "event_time": 2.0, "age": "thirty"}))
        with pytest.raises(SchemaConflictError):
            ing.run(str(tmp_path / "two.log"), batch_id="b2")
        st = ing.manifest.get("b2")
        assert st.state == "failed"
        assert ing.catalog.table("logs").read(spark).count() == 1  # intact

    def test_content_hash_id_when_no_id_path(self, spark, tmp_path):
        rules = [JsonSchemaRule("access_log", sink_table="logs",
                                ts_path="$.event_time")]
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        _write(tmp_path / "one.log",
               json.dumps({"event_time": 1.0, "v": 1}) + "\n"
               + json.dumps({"v": 1, "event_time": 1.0}))
        ing.run(str(tmp_path / "one.log"), batch_id="b1")
        ids = [r.id for r in ing.catalog.table("logs").read(spark).collect()]
        # same canonical payload → same content hash (types.go:27-34)
        assert len(ids) == 2 and ids[0] == ids[1] and len(ids[0]) == 32

    def test_records_without_ts_skipped(self, spark, tmp_path):
        _write(tmp_path / "one.log",
               json.dumps({"log_id": "ok", "event_time": 5.0}) + "\n"
               + json.dumps({"log_id": "no_ts"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        res = ing.run(str(tmp_path / "one.log"), batch_id="b1")
        assert res["per_sink_rows"] == {"logs": 1}

    def test_batch_doc_explode_and_gzip(self, spark, tmp_path):
        doc = json.dumps({"Records": [
            {"log_id": f"r{i}", "event_time": 100.0 + i} for i in range(4)
        ]})
        _write(tmp_path / "batch.log.gz", doc, gz=True)
        ing = JsonIngest(spark, str(tmp_path / "wh"),
                         [EventRule("e", "path", "endswith", ".log.gz", "access_log")],
                         RULES)
        res = ing.run(str(tmp_path / "batch.log.gz"), batch_id="b1")
        assert res["per_sink_rows"] == {"logs": 4}

    def test_resume_skip(self, spark, tmp_path):
        _write(tmp_path / "one.log", json.dumps({"log_id": "x", "event_time": 1.0}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        r1 = ing.run(str(tmp_path / "one.log"), batch_id="b1")
        r2 = ing.run(str(tmp_path / "one.log"), batch_id="b1")
        assert r2["skipped"] and r2["snapshot_ids"] == r1["snapshot_ids"]


class TestTsFormats:
    def test_unix_ms(self, spark, tmp_path):
        rules = [JsonSchemaRule("access_log", sink_table="logs",
                                ts_path="$.t", ts_format="unix_ms", id_path="$.log_id")]
        _write(tmp_path / "a.log", json.dumps({"log_id": "x", "t": 1500000000250}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        (row,) = ing.catalog.table("logs").read(spark).collect()
        assert row.timestamp.year == 2017 and row.timestamp.microsecond == 250000

    def test_rfc3339(self, spark, tmp_path):
        rules = [JsonSchemaRule("access_log", sink_table="logs",
                                ts_path="$.t", ts_format="rfc3339", id_path="$.log_id")]
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "x", "t": "2026-03-01T12:30:45.5Z"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        (row,) = ing.catalog.table("logs").read(spark).collect()
        assert (row.timestamp.year, row.timestamp.minute) == (2026, 30)
        assert row.timestamp.microsecond == 500000

    def test_invalid_format_rejected(self):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            JsonSchemaRule("s", sink_table="t", ts_format="epoch")


class TestRecordPredicate:
    def test_per_record_gating(self, spark, tmp_path):
        rules = [JsonSchemaRule(
            "access_log", sink_table="logs", ts_path="$.event_time",
            id_path="$.log_id",
            record_predicate=("$.action", "eq", "get"),
        )]
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "k1", "event_time": 1.0, "action": "get"}) + "\n"
               + json.dumps({"log_id": "k2", "event_time": 2.0, "action": "put"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        res = ing.run(str(tmp_path / "a.log"), batch_id="b")
        assert res["per_sink_rows"] == {"logs": 1}
        (row,) = ing.catalog.table("logs").read(spark).collect()
        assert row.id == "k1"

    def test_invalid_predicate_rejected(self):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            JsonSchemaRule("s", sink_table="t",
                           record_predicate=("action", "eq", "x"))


class TestMultiSinkFanout:
    """Record-level 1→N fan-out: Rego schema rules are SET-valued per
    record (load.go:210-224) — one record matching two rules lands in
    BOTH sinks."""

    def test_record_lands_in_two_sinks(self, spark, tmp_path):
        rules = [
            JsonSchemaRule("access_log", sink_table="all_logs",
                           ts_path="$.event_time", id_path="$.log_id"),
            JsonSchemaRule("access_log", sink_table="get_logs",
                           ts_path="$.event_time", id_path="$.log_id",
                           record_predicate=("$.action", "eq", "get")),
        ]
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "k1", "event_time": 1.0, "action": "get"}) + "\n"
               + json.dumps({"log_id": "k2", "event_time": 2.0, "action": "put"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        res = ing.run(str(tmp_path / "a.log"), batch_id="b")
        assert res["per_sink_rows"] == {"all_logs": 2, "get_logs": 1}
        ids_all = {r.id for r in ing.catalog.table("all_logs").read(spark).collect()}
        ids_get = {r.id for r in ing.catalog.table("get_logs").read(spark).collect()}
        assert ids_all == {"k1", "k2"} and ids_get == {"k1"}

    def test_duplicate_sink_rejected(self, spark, tmp_path):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="duplicate sink"):
            JsonIngest(spark, str(tmp_path / "wh"), EVENTS,
                       [JsonSchemaRule("access_log", sink_table="s"),
                        JsonSchemaRule("access_log", sink_table="s")])


class TestDropPaths:
    def test_nested_path_removed(self, spark, tmp_path):
        rules = [JsonSchemaRule("access_log", sink_table="logs",
                                ts_path="$.event_time", id_path="$.log_id",
                                drop_paths=("$.meta.secret",))]
        _write(tmp_path / "a.log", json.dumps(
            {"log_id": "x", "event_time": 1.0,
             "meta": {"secret": "hide-me", "keep": "ok"}}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        (row,) = ing.catalog.table("logs").read(spark).collect()
        d = row.data.asDict()
        assert d["meta"].asDict() == {"keep": "ok"}

    def test_dollar_key_not_mangled(self, spark, tmp_path):
        # regression: lstrip("$.") stripped a CHARACTER SET, so a path
        # like '$.$type' lost its '$' prefix; p[2:] must not
        rules = [JsonSchemaRule("access_log", sink_table="logs",
                                ts_path="$.event_time", id_path="$.log_id",
                                drop_paths=("$.$type",))]
        _write(tmp_path / "a.log", json.dumps(
            {"log_id": "x", "event_time": 1.0, "$type": "gone", "type": "kept"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, rules)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        (row,) = ing.catalog.table("logs").read(spark).collect()
        d = row.data.asDict()
        assert "type" in d and d["type"] == "kept"
        assert "$type" not in d

    def test_invalid_drop_path_rejected(self):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="drop path"):
            JsonSchemaRule("s", sink_table="t", drop_paths=("meta.secret",))


class TestBoundedInference:
    def test_sample_miss_recovered_by_coverage_check(self, spark, tmp_path):
        """With sample_rows=1 the first sample misses the second
        record's keys; the JVM coverage round must pick them up —
        no silent field loss."""
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "a", "event_time": 1.0, "alpha": 1}) + "\n"
               + json.dumps({"log_id": "b", "event_time": 2.0, "beta": "x"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES,
                         infer_sample_rows=1)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        rows = {r.id: r.data.asDict() for r in
                ing.catalog.table("logs").read(spark).collect()}
        assert rows["a"]["alpha"] == 1 and rows["a"]["beta"] is None
        assert rows["b"]["beta"] == "x" and rows["b"]["alpha"] is None

    def test_live_table_schema_merged(self, spark, tmp_path):
        """A field seen only in batch 1 survives batch 2's inference
        (live-schema merge), landing as null."""
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "a", "event_time": 1.0, "only_b1": True}))
        _write(tmp_path / "b.log",
               json.dumps({"log_id": "b", "event_time": 2.0}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        ing.run(str(tmp_path / "a.log"), batch_id="b1")
        ing.run(str(tmp_path / "b.log"), batch_id="b2")
        t = ing.catalog.table("logs")
        fields = {f.name for f in t.schema()["data"].dataType.fields}
        assert "only_b1" in fields
        assert t.read(spark).count() == 2

    def test_sample_schema_matches_rdd_inference(self, spark):
        """The JVM-side sample inference gives exactly the schema
        spark.read.json(<rdd of str>) inferred, on the same bounded
        sample."""
        from swarm_spark.pipeline_json import _sample_schema

        docs = [json.dumps(d) for d in (
            {"a": 1, "b": {"c": [1, 2], "d": None}},
            {"a": 1.5, "e": "x", "b": {"c": [], "f": True}},
            {"a": None, "g": [{"h": 1}, {"i": "j"}]},
            {"late": 1},
        )]
        df = spark.createDataFrame([(d,) for d in docs], "data string").coalesce(1)
        for n in (3, 10):
            rdd = df.limit(n).rdd.map(lambda r: r[0])
            assert _sample_schema(df, n) == spark.read.json(rdd).schema

    def test_no_unbounded_rdd_hop_in_module(self):
        """Done-criterion from VERDICT r1: no .rdd on an unbounded DF
        anywhere in the JSON path — every hop is behind a limit()."""
        import inspect

        import swarm_spark.pipeline_json as pj

        import re

        src = inspect.getsource(pj)
        for ln in src.splitlines():
            if re.search(r"\.rdd\.", ln):  # code usage, not prose
                assert "limit(" in ln, f"unbounded rdd hop: {ln.strip()}"


class TestJsonPartialFailure:
    def test_failure_after_sink_commit_rolls_back(self, spark, tmp_path, monkeypatch):
        """Sink committed, then the audit append fails → the sink
        snapshot is rolled back; retry lands exactly one copy
        (same contract as IngestPipeline — ADVICE r1 high)."""
        from swarm_spark.tablestore import IcepackTable

        _write(tmp_path / "a.log",
               json.dumps({"log_id": "x", "event_time": 1.0}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)

        orig_append = IcepackTable.append

        def boom(self, df, **kw):
            if self.name == "_audit_json":
                raise RuntimeError("audit exploded")
            return orig_append(self, df, **kw)

        monkeypatch.setattr(IcepackTable, "append", boom)
        with pytest.raises(RuntimeError, match="audit exploded"):
            ing.run(str(tmp_path / "a.log"), batch_id="pf")
        monkeypatch.undo()

        st = ing.manifest.get("pf")
        assert st.state == "failed" and not st.snapshot_ids
        assert not ing.catalog.table("logs").exists()  # rolled back

        res = ing.run(str(tmp_path / "a.log"), batch_id="pf")
        assert not res["skipped"]
        assert ing.catalog.table("logs").read(spark).count() == 1


class TestInferenceConvergence:
    def test_many_key_cohorts_converge(self, spark, tmp_path):
        """5 disjoint top-level key cohorts with sample_rows=1: the
        coverage loop must pick each up within max_rounds and no field
        may be silently lost."""
        lines = [json.dumps({"log_id": f"r{i}", "event_time": float(i + 1),
                             f"cohort_{i % 4}": i}) for i in range(8)]
        _write(tmp_path / "a.log", "\n".join(lines))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES,
                         infer_sample_rows=2)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        t = ing.catalog.table("logs")
        fields = {f.name for f in t.schema()["data"].dataType.fields}
        assert {f"cohort_{i}" for i in range(4)} <= fields
        rows = {r.id: r.data.asDict() for r in t.read(spark).collect()}
        for i in range(8):
            assert rows[f"r{i}"][f"cohort_{i % 4}"] == i

    def test_nonconvergence_is_loud(self, spark, tmp_path):
        """More cohorts than max_rounds can cover with sample_rows=1
        must raise, never silently drop fields."""
        from swarm_spark.pipeline_json import infer_json_schema

        lines = [json.dumps({f"k{i}": i}) for i in range(10)]
        df = spark.createDataFrame([(ln,) for ln in lines], "data string")
        with pytest.raises(RuntimeError, match="did not converge"):
            infer_json_schema(spark, df, sample_rows=1, max_rounds=3)


class TestOptimisticCoverage:
    """r4: the coverage check rides the write job as an Observation;
    a sample miss costs one rollback+rewrite, and the final table
    carries exactly one live snapshot lineage (no residue of the
    narrow-schema attempt)."""

    def test_rewrite_leaves_single_clean_lineage(self, spark, tmp_path):
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "a", "event_time": 1.0, "alpha": 1}) + "\n"
               + json.dumps({"log_id": "b", "event_time": 2.0, "beta": "x"}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES,
                         infer_sample_rows=1)
        res = ing.run(str(tmp_path / "a.log"), batch_id="b")
        t = ing.catalog.table("logs")
        # the narrow-schema attempt was rolled back: exactly one live
        # snapshot, its row count equals the input, no double rows
        snaps = t.snapshots()
        assert len(snaps) == 1 and snaps[0]["added_rows"] == 2
        assert t.read(spark).count() == 2
        assert res["per_sink_rows"] == {"logs": 2}
        # manifest points at the REWRITTEN snapshot only
        st = ing.manifest.get("b")
        assert st.snapshot_ids["logs"] == snaps[0]["snapshot_id"]

    def test_converged_sample_writes_once(self, spark, tmp_path, monkeypatch):
        """Homogeneous batch: no rollback may happen (the optimistic
        pass must commit on the first write)."""
        from swarm_spark.tablestore import IcepackTable

        calls = {"rollback": 0}
        orig = IcepackTable.rollback

        def counting(self, sid):
            calls["rollback"] += 1
            return orig(self, sid)

        monkeypatch.setattr(IcepackTable, "rollback", counting)
        _write(tmp_path / "a.log",
               json.dumps({"log_id": "a", "event_time": 1.0, "k": 1}) + "\n"
               + json.dumps({"log_id": "b", "event_time": 2.0, "k": 2}))
        ing = JsonIngest(spark, str(tmp_path / "wh"), EVENTS, RULES)
        ing.run(str(tmp_path / "a.log"), batch_id="b")
        assert calls["rollback"] == 0
