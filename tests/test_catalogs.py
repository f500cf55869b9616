"""SparkCatalog/Iceberg binding of the icepack table protocol — tested
against the jar-less default spark_catalog (parquet managed tables);
Iceberg-only surfaces (snapshots, time travel, rollback) degrade with
documented, explicit behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from swarm_spark.catalogs import IcebergCatalog


@pytest.fixture()
def cat(spark, tmp_path):
    # warehouse dir is a static conf; isolate via a unique db name
    c = IcebergCatalog(spark, f"db_{tmp_path.name.replace('-', '_')}", fmt="parquet")
    yield c
    spark.sql(f"DROP DATABASE IF EXISTS {c.namespace} CASCADE")


def test_create_append_read(spark, cat):
    t = cat.table("t1")
    assert not t.exists()
    snap = t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
    assert snap["added_rows"] == 1
    snap2 = t.append(spark.createDataFrame([(2, "b")], "id int, v string"))
    assert snap2["added_rows"] == 1
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b"}
    assert t.schema() is not None
    assert "t1" in cat.tables()


def test_missing_columns_land_null(spark, cat):
    t = cat.table("t2")
    t.append(spark.createDataFrame([(1, "a")], "id int, v string"))
    t.append(spark.createDataFrame([(2,)], "id int"))  # subset schema ok
    rows = {r.id: r.v for r in t.read(spark).collect()}
    assert rows == {1: "a", 2: None}


def test_evolution_requires_iceberg(spark, cat):
    t = cat.table("t3")
    t.append(spark.createDataFrame([(1,)], "id int"))
    with pytest.raises(ValueError, match="Iceberg"):
        t.append(spark.createDataFrame([(2, "new")], "id int, extra string"))


def test_snapshot_surfaces_degrade_explicitly(spark, cat):
    t = cat.table("t4")
    t.append(spark.createDataFrame([(1,)], "id int"))
    assert t.current_snapshot_id() == -1  # no snapshot log without Iceberg
    assert t.snapshots() == []
    assert t.rollback(123) is False       # caller falls back to resume-skip


def test_protocol_matches_icepack(spark):
    """The pipeline-facing protocol surface must stay aligned with
    IcepackTable so the catalog is a constructor-arg swap."""
    from swarm_spark.catalogs import SparkCatalogTable
    from swarm_spark.tablestore import IcepackTable

    for method in ("append", "read", "exists", "schema", "snapshots", "rollback",
                   "expire_snapshots"):
        assert hasattr(IcepackTable, method)
        assert hasattr(SparkCatalogTable, method)


def test_pipeline_runs_on_spark_catalog(spark, tmp_path, request):
    """The pipeline really is catalog-agnostic: full ingest over the
    default spark_catalog (managed parquet tables, no directory
    adoption: each sink appends its staged rows), as a full batch and
    as a light streaming epoch."""
    from swarm_spark.datagen import generate_transcripts
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )
    from swarm_spark.streaming.ingest import start_ingest_stream, stream_transcripts

    ns = f"wh_{tmp_path.name.replace('-', '_')}"
    cat = IcebergCatalog(spark, ns, fmt="parquet")
    request.addfinalizer(
        lambda: spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE"))
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "manifest_only"),
        tool_dim=default_tool_dim(spark),
    )
    pipe = IngestPipeline(spark, cfg, catalog=cat)
    t = generate_transcripts(spark, 400, n_convs=10, seed=3)
    res = pipe.run(t, batch_id="b")
    assert not res.skipped and res.routed_rows > 0
    for sink, n in res.per_sink_rows.items():
        assert cat.table(sink).read(spark).count() == n
    # the exactly-once gate still holds (manifest is catalog-independent)
    res2 = pipe.run(t, batch_id="b")
    assert res2.skipped

    # the same rows again as one light streaming epoch: every sink
    # doubles, and the epoch commits no aggregate or audit row
    src = str(tmp_path / "src")
    t.write.parquet(src)
    agg_rows = cat.table("_agg_hourly").read(spark).count()
    q = start_ingest_stream(stream_transcripts(spark, src), pipe,
                            str(tmp_path / "ckpt"), epoch_mode="light")
    q.awaitTermination(120)
    assert q.exception() is None
    for sink, n in res.per_sink_rows.items():
        assert cat.table(sink).read(spark).count() == 2 * n, sink
    assert cat.table("_agg_hourly").read(spark).count() == agg_rows
    assert cat.table("_audit").read(spark).count() == 1
    assert pipe.manifest.get("epoch-00000000").state == "completed"


class TestIcebergSqlGoldens:
    """The container has no Iceberg jars, so the Iceberg-only branches
    cannot execute against the engine they target (VERDICT r2 #2).
    These tests pin the EXACT statements emitted: golden equality with
    the documented Iceberg Spark syntax, a parser round-trip so any
    dialect drift (typo'd keyword, wrong CALL shape) fails here, and —
    where spark_catalog supports the same grammar — real execution."""

    def test_golden_strings(self):
        from swarm_spark.catalogs import (
            iceberg_sql_add_columns,
            iceberg_sql_expire_snapshots,
            iceberg_sql_rollback,
        )

        assert iceberg_sql_add_columns(
            "lake.db.t", [("x", "string"), ("y", "struct<a:bigint>")]
        ) == "ALTER TABLE lake.db.t ADD COLUMNS (x string, y struct<a:bigint>)"
        assert iceberg_sql_rollback("lake", "lake.db.t", 123) == (
            "CALL lake.system.rollback_to_snapshot('lake.db.t', 123)"
        )
        assert iceberg_sql_expire_snapshots("lake", "lake.db.t", 2) == (
            "CALL lake.system.expire_snapshots(table => 'lake.db.t', "
            "retain_last => 2)"
        )

    def test_statements_parse(self, spark):
        from swarm_spark.catalogs import (
            iceberg_sql_add_columns,
            iceberg_sql_expire_snapshots,
            iceberg_sql_rollback,
        )

        parser = spark._jsparkSession.sessionState().sqlParser()
        for sql in [
            iceberg_sql_add_columns("lake.db.t", [("x", "string")]),
            iceberg_sql_rollback("lake", "lake.db.t", 123),
            iceberg_sql_expire_snapshots("lake", "lake.db.t", 2),
        ]:
            parser.parsePlan(sql)  # raises ParseException on drift

    def test_add_columns_executes_on_spark_catalog(self, spark):
        """The evolution DDL actually runs where the grammar is shared:
        a spark_catalog parquet table accepts the same ADD COLUMNS."""
        from swarm_spark.catalogs import iceberg_sql_add_columns

        spark.sql("CREATE DATABASE IF NOT EXISTS r3sql_db")
        try:
            spark.createDataFrame([(1,)], "a bigint").write.format(
                "parquet"
            ).saveAsTable("r3sql_db.evolve_t")
            spark.sql(iceberg_sql_add_columns(
                "r3sql_db.evolve_t", [("b", "string"), ("c", "struct<x:bigint>")]
            ))
            cols = [f.name for f in spark.table("r3sql_db.evolve_t").schema.fields]
            assert cols == ["a", "b", "c"]
        finally:
            spark.sql("DROP DATABASE IF EXISTS r3sql_db CASCADE")
