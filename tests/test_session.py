"""session.py: host-honest defaults, and local_frame — the JVM-local
relation every driver-built table on the ingest and read paths goes
through. Equivalence tests pin each converted call site to what
`createDataFrame(rows, schema)` gave (rows AND schema, nullability
included); plan pins keep `Scan ExistingRDD` (a Python-worker job per
use) out of the routed, audit and empty-read plans; an AST guard keeps
`createDataFrame` out of those modules."""

from __future__ import annotations

import ast
import json
import pathlib

import pytest
from pyspark.errors import PySparkValueError
from pyspark.sql import types as T
from pyspark.testing import assertDataFrameEqual

from swarm_spark import session
from swarm_spark.session import local_frame

PKG = pathlib.Path(session.__file__).resolve().parent


def assert_same_frame(new, old):
    assert new.schema == old.schema  # names, types AND nullability
    assertDataFrameEqual(new, old)


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# host-honest defaults
# ---------------------------------------------------------------------------

class TestHostDefaults:
    def test_driver_memory_is_half_of_ram_capped(self):
        gib = 1 << 30
        assert session.driver_memory(15 * gib) == "7680m"
        assert session.driver_memory(512 * gib) == "32768m"  # 32g cap
        assert session.driver_memory(gib) == "1024m"          # 1g floor
        assert session.driver_memory(None) == "4g"

    def test_mem_total_from_meminfo(self, tmp_path):
        p = tmp_path / "meminfo"
        p.write_text("MemTotal:       15728640 kB\nMemFree:  1 kB\n")
        assert session.mem_total_bytes(str(p)) == 15728640 * 1024
        assert session.mem_total_bytes(str(tmp_path / "absent")) is None

    def test_env_overrides_win(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
        assert session.default_cpus() == 3
        assert session.default_driver_memory() == "2g"

    def test_derived_from_host_without_env(self, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
        assert session.default_cpus() == session.host_cpus() >= 1
        assert session.default_driver_memory() == session.driver_memory(
            session.mem_total_bytes())


# ---------------------------------------------------------------------------
# local_frame ≡ createDataFrame, per converted call site
# ---------------------------------------------------------------------------

class TestLocalFrameEquivalence:
    def test_rules_dim(self, spark):
        from swarm_spark.presets import default_schema_rules
        from swarm_spark.rules import RULES_DDL, rules_to_df

        rules = default_schema_rules()
        rows = [(r.schema_name, r.sink_table, r.partition_unit, r.id_field,
                 r.ts_field, list(r.drop_fields)) for r in rules]
        # drop_fields array<string>: both empty and non-empty lists
        assert {len(r[5]) for r in rows} == {0, 1}
        assert_same_frame(rules_to_df(spark, rules),
                          spark.createDataFrame(rows, RULES_DDL))

    def test_tool_dim(self, spark):
        from swarm_spark.presets import (TOOL_DIM_DDL, TOOL_DIM_ROWS,
                                         default_tool_dim)

        assert_same_frame(default_tool_dim(spark),
                          spark.createDataFrame(TOOL_DIM_ROWS, TOOL_DIM_DDL))

    def test_audit_row(self, spark):
        from swarm_spark.pipeline import AUDIT_DDL

        rows = [
            ("r1", "b1", True, None, 10, 9, 1.5,
             [("sink_a", 4, 7, True), ("sink_b", 5, None, None)]),
            ("r2", "b2", False, "boom", None, 0, 0.0, []),
            ("r3", "b3", None, None, 1 << 40, None, None, None),
        ]
        assert_same_frame(local_frame(spark, rows, AUDIT_DDL),
                          spark.createDataFrame(rows, AUDIT_DDL))

    def test_json_audit_row(self, spark):
        from swarm_spark.pipeline_json import AUDIT_JSON_DDL

        rows = [("r1", "b1", True, None, json.dumps({"logs": "{}"}),
                 json.dumps({"logs": 2}))]
        assert_same_frame(local_frame(spark, rows, AUDIT_JSON_DDL),
                          spark.createDataFrame(rows, AUDIT_JSON_DDL))

    def test_expectations_report(self, spark):
        from swarm_spark.operators.expectations import REPORT_DDL, validate

        df = spark.createDataFrame([(1, "x"), (2, None), (2, "y")],
                                   "k bigint, v string")
        got = validate(df, [("not_null", "v"), ("unique", ["k"])])
        exp = spark.createDataFrame(
            [("not_null", "v", 3, 1, False), ("unique", "k", 3, 1, False)],
            REPORT_DDL)
        assert_same_frame(got, exp)

    def test_zero_rows_keep_non_nullable_fields(self, spark):
        schema = T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField("_change_type", T.StringType(), False),
            T.StructField("_commit_snapshot_id", T.LongType(), False),
        ])
        assert_same_frame(local_frame(spark, [], schema),
                          spark.createDataFrame([], schema))

    def test_non_nullable_rows(self, spark):
        schema = T.StructType([
            T.StructField("a", T.StringType(), False),
            T.StructField("b", T.ArrayType(T.StructType([
                T.StructField("x", T.LongType(), False)]), False), False),
        ])
        rows = [("p", [(1,), (2,)]), ("q", []), {"b": [{"x": 3}], "a": "r"}]
        assert_same_frame(local_frame(spark, rows, schema),
                          spark.createDataFrame(rows, schema))

    def test_none_in_non_nullable_field_rejected_like_create(self, spark):
        schema = T.StructType([T.StructField("a", T.StringType(), False)])
        with pytest.raises(PySparkValueError):
            spark.createDataFrame([(None,)], schema)
        with pytest.raises(PySparkValueError):
            local_frame(spark, [(None,)], schema)

    def test_empty_changelog_schema(self, spark, tmp_path):
        """tablestore's empty results: read_changelog with nothing new
        keeps `_change_type` / `_commit_snapshot_id` NOT NULL."""
        from swarm_spark.tablestore import IcepackTable

        t = IcepackTable(str(tmp_path / "wh"), "t")
        t.append(spark.range(3).selectExpr("id AS k", "'v' AS s"))
        sid = t.current_snapshot()["snapshot_id"]
        got = t.read_changelog(spark, sid)
        table_schema = T.StructType.fromJson(
            json.loads(t.current_snapshot()["schema"]))
        exp_schema = T.StructType(
            list(table_schema.fields)
            + [T.StructField("_change_type", T.StringType(), False),
               T.StructField("_commit_snapshot_id", T.LongType(), False)])
        assert_same_frame(got, spark.createDataFrame([], exp_schema))
        assert "ExistingRDD" not in physical_plan(got)


# ---------------------------------------------------------------------------
# plan pins: no Python-RDD scan on the ingest and read paths
# ---------------------------------------------------------------------------

@pytest.fixture()
def transcripts_parquet(spark, tmp_path):
    from swarm_spark.datagen import generate_transcripts

    path = str(tmp_path / "src")
    generate_transcripts(spark, 600, n_convs=12, seed=7).write.parquet(path)
    return path


def _pipeline(spark, warehouse, tool_dim):
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import default_event_rules, default_schema_rules

    return IngestPipeline(spark, PipelineConfig(
        default_event_rules(), default_schema_rules(), warehouse,
        tool_dim=tool_dim))


class TestPlanPins:
    def test_routed_with_preset_tool_dim(self, spark, tmp_path,
                                         transcripts_parquet):
        from swarm_spark.presets import default_tool_dim

        pipe = _pipeline(spark, str(tmp_path / "wh"), default_tool_dim(spark))
        routed = pipe.routed(spark.read.parquet(transcripts_parquet))
        assert routed.collect()
        plan = physical_plan(routed)
        assert "ExistingRDD" not in plan
        # both dimensions still broadcast: schema_rules and tool_dim
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_python_built_tool_dim_shows_up(self, spark, tmp_path,
                                            transcripts_parquet):
        """Control: the pin can see a createDataFrame(<list>) dimension."""
        from swarm_spark.presets import TOOL_DIM_DDL, TOOL_DIM_ROWS

        dim = spark.createDataFrame(TOOL_DIM_ROWS, TOOL_DIM_DDL)
        pipe = _pipeline(spark, str(tmp_path / "wh"), dim)
        routed = pipe.routed(spark.read.parquet(transcripts_parquet))
        assert "ExistingRDD" in physical_plan(routed)

    def test_audit_frames(self, spark, tmp_path, monkeypatch,
                          transcripts_parquet):
        from swarm_spark.pipeline_json import JsonIngest, JsonSchemaRule
        from swarm_spark.presets import default_tool_dim
        from swarm_spark.rules import EventRule
        from swarm_spark.tablestore import IcepackTable

        appended = {}
        orig = IcepackTable.append

        def spy(self, df, *a, **kw):
            appended[self.name] = df
            return orig(self, df, *a, **kw)

        monkeypatch.setattr(IcepackTable, "append", spy)

        pipe = _pipeline(spark, str(tmp_path / "wh"), default_tool_dim(spark))
        pipe.run(spark.read.parquet(transcripts_parquet), batch_id="b1")

        src = tmp_path / "in.log"
        src.write_text(json.dumps({"log_id": "a1", "event_time": 1.0}) + "\n")
        ing = JsonIngest(
            spark, str(tmp_path / "jwh"),
            [EventRule("e1", "path", "endswith", ".log", "access_log")],
            [JsonSchemaRule("access_log", sink_table="logs",
                            ts_path="$.event_time", id_path="$.log_id")])
        ing.run(str(src), batch_id="j1")

        for name in ("_audit", "_audit_json"):
            assert "ExistingRDD" not in physical_plan(appended[name]), name
        assert spark.read.parquet(
            str(tmp_path / "wh" / "_audit" / "data")).count() == 1

    def test_all_pruned_read(self, spark, tmp_path):
        from swarm_spark.tablestore import IcepackTable

        t = IcepackTable(str(tmp_path / "wh"), "t")
        t.append(spark.range(50).selectExpr("id AS k", "CAST(id AS string) AS s"))
        df = t.read(spark, prune=[("k", "=", 1000)])
        assert t.prune_report([("k", "=", 1000)])["files_kept"] == 0
        assert df.collect() == []
        assert "ExistingRDD" not in physical_plan(df)


# ---------------------------------------------------------------------------
# tooling guard
# ---------------------------------------------------------------------------

GUARDED = sorted(
    [*PKG.glob("pipeline*.py"), PKG / "rules.py", PKG / "presets.py",
     PKG / "tablestore.py", *PKG.glob("streaming/*.py"),
     PKG / "operators" / "expectations.py"])


def test_no_create_dataframe_on_ingest_and_read_paths():
    """`createDataFrame(<list>)` plans a Python-worker `Scan ExistingRDD`;
    driver-built tables in these modules go through local_frame."""
    assert len(GUARDED) >= 8
    hits = []
    for path in GUARDED:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not hits, f"createDataFrame outside session.local_frame: {hits}"
