"""End-to-end pipeline tests against a pure-pandas oracle
(SURVEY.md §5 rebuild test plan items a-c, e)."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from swarm_spark.datagen import generate_transcripts
from swarm_spark.pipeline import IngestPipeline, PipelineConfig
from swarm_spark.presets import (
    default_event_rules,
    default_schema_rules,
    default_tool_dim,
)

N_TURNS = 2000


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, N_TURNS, n_convs=40, seed=42).cache()


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
        sink_concurrency=2,
    )
    return IngestPipeline(spark, cfg)


def pandas_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    """Independent row-at-a-time implementation of parse+route."""
    rows = []
    for _, r in pdf.iterrows():
        m_tool = re.search(r"CALL tool=([a-z0-9_]+)", r.text)
        m_err = re.search(r"(ERR-[0-9]{4})", r.text)
        matched = []
        if m_err and m_err.group(1).startswith("ERR-"):
            matched.append(("error_events", "sink_errors"))
        if m_tool:
            matched.append(("tool_calls", "sink_tools"))
        if r.role == "assistant":
            matched.append(("assistant_log", "sink_assistant"))
        if r.role == "user":
            matched.append(("user_log", "sink_user"))
        for schema_name, sink in matched:
            rows.append(
                dict(conv_id=r.conv_id, turn_idx=r.turn_idx, role=r.role,
                     schema_name=schema_name, sink_table=sink,
                     called_tool=m_tool.group(1) if m_tool else None,
                     error_code=m_err.group(1) if m_err else None,
                     ts=r.ts)
            )
    return pd.DataFrame(rows)


def test_routed_set_equality(spark, transcripts, pipeline):
    """(b) routed-row set equality per sink vs the oracle."""
    got = (
        pipeline.routed(transcripts)
        .select("conv_id", "turn_idx", "schema_name", "sink_table",
                "called_tool", "error_code")
        .toPandas()
    )
    exp = pandas_oracle(transcripts.toPandas())
    key = ["conv_id", "turn_idx", "schema_name"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp[got.columns].sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, exp_s, check_dtype=False)


def test_aggregate_counts(spark, transcripts, pipeline):
    """(c) per-(sink, role, tool, hour) aggregate-count equality."""
    routed = pipeline.routed(transcripts)
    agg = pipeline.aggregate(routed).toPandas()
    exp_rows = pandas_oracle(transcripts.toPandas())
    tpdf = transcripts.toPandas()
    tool_by_key = {
        (r.conv_id, r.turn_idx): r.tool for _, r in tpdf.iterrows()
    }
    exp_rows["tool"] = exp_rows.apply(
        lambda r: r.called_tool if r.called_tool is not None
        else tool_by_key.get((r.conv_id, r.turn_idx)), axis=1
    )
    exp_rows["hour"] = pd.to_datetime(exp_rows.ts).dt.floor("h")
    exp = (
        exp_rows.groupby(["sink_table", "role", "tool", "hour"], dropna=False)
        .size().rename("n").reset_index()
        .rename(columns={"sink_table": "sink"})
    )
    key = ["sink", "role", "tool", "hour"]
    got_s = agg.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)[got_s.columns]
    pd.testing.assert_frame_equal(got_s, exp_s, check_dtype=False)


def test_per_turn_text_equality_under_ordering(spark, transcripts, pipeline):
    """(a) per-turn text equality under stable (conv_id, turn_idx) order."""
    parsed = pipeline.parsed(transcripts)
    got = (
        parsed.orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "turn_seq", "text")
        .toPandas()
    )
    exp = transcripts.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (got.turn_idx == got.turn_seq).all()  # dense, 0-based, stable
    assert got.text.tolist() == exp.text.tolist()
    assert got.conv_id.tolist() == exp.conv_id.tolist()


def test_run_and_resume_idempotent(spark, transcripts, pipeline):
    """(e) re-run of a completed batch is a no-op: identical sink contents."""
    res1 = pipeline.run(transcripts, batch_id="b1")
    assert not res1.skipped
    assert res1.routed_rows > 0

    sink = pipeline.catalog.table("sink_errors")
    before = sink.read(spark).count()
    snap_before = sink.current_snapshot()["snapshot_id"]

    res2 = pipeline.run(transcripts, batch_id="b1")
    assert res2.skipped
    assert res2.snapshot_ids == res1.snapshot_ids
    assert sink.read(spark).count() == before
    assert sink.current_snapshot()["snapshot_id"] == snap_before

    # distinct batch ids DO append
    res3 = pipeline.run(transcripts, batch_id="b2")
    assert not res3.skipped
    assert sink.read(spark).count() == 2 * before


def test_failed_batch_reacquirable(spark, transcripts, pipeline):
    bad = transcripts.withColumn(
        "text", F.raise_error(F.lit("boom"))
    )
    with pytest.raises(Exception):
        pipeline.run(bad, batch_id="bfail")
    st = pipeline.manifest.get("bfail")
    assert st.state == "failed"
    res = pipeline.run(transcripts, batch_id="bfail")  # failed → re-acquire
    assert not res.skipped


def test_audit_row_written(spark, transcripts, pipeline):
    res = pipeline.run(transcripts, batch_id="baud")
    audit = pipeline.catalog.table("_audit").read(spark).toPandas()
    assert len(audit) == 1
    row = audit.iloc[0]
    assert row.batch_id == "baud"
    assert row.success
    assert row.routed_rows == res.routed_rows
    assert {i["sink"]: i["log_count"] for i in row.ingests} == res.per_sink_rows


def test_unmatched_error_mode(spark, pipeline, transcripts):
    from swarm_spark.rules import EventRule, route

    only_err = [EventRule("e", "error_code", "startswith", "ERR-", "error_events")]
    with pytest.raises(Exception, match="ErrNoPolicyResult"):
        route(pipeline.parsed(transcripts), only_err, on_unmatched="error").count()


def test_dead_letter_sink(spark, transcripts, tmp_path):
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import default_tool_dim
    from swarm_spark.rules import EventRule, SchemaRule

    cfg = PipelineConfig(
        event_rules=[EventRule("e", "role", "eq", "assistant", "a_log")],
        schema_rules=[SchemaRule("a_log", sink_table="sink_a")],
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
        on_unmatched="keep",
        dead_letter_table="_dead",
    )
    pipe = IngestPipeline(spark, cfg)
    res = pipe.run(transcripts, batch_id="b")
    n_assistant = transcripts.filter("role = 'assistant'").count()
    n_total = transcripts.count()
    assert res.per_sink_rows["sink_a"] == n_assistant
    assert res.per_sink_rows["_dead"] == n_total - n_assistant
    assert pipe.catalog.table("_dead").read(spark).count() == n_total - n_assistant


def test_single_pass_equals_per_sink(spark, transcripts, tmp_path):
    """The ONE-write-job fan-out must produce byte-identical sink
    contents to the N-filtered-writes path, including drop_fields
    invisibility and per-sink partition units."""
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    results = {}
    for mode in ("single_pass", "per_sink"):
        cfg = PipelineConfig(
            event_rules=default_event_rules(),
            schema_rules=default_schema_rules(),
            warehouse=str(tmp_path / f"wh_{mode}"),
            tool_dim=default_tool_dim(spark),
            write_mode=mode,
        )
        pipe = IngestPipeline(spark, cfg)
        res = pipe.run(transcripts, batch_id="b")
        tables = {}
        for sink in res.per_sink_rows:
            pdf = pipe.catalog.table(sink).read(spark).drop("ingest_id", "ingested_at").toPandas()
            tables[sink] = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
        results[mode] = (res, tables)

    res_sp, t_sp = results["single_pass"]
    res_ps, t_ps = results["per_sink"]
    assert res_sp.per_sink_rows == res_ps.per_sink_rows
    assert res_sp.routed_rows == res_ps.routed_rows
    assert set(t_sp) == set(t_ps)
    import pandas as pd

    for sink in t_sp:
        assert list(t_sp[sink].columns) == list(t_ps[sink].columns), sink
        pd.testing.assert_frame_equal(t_sp[sink], t_ps[sink], check_dtype=False)


def test_single_pass_drop_fields_invisible_and_partitioned(spark, transcripts, tmp_path):
    import os

    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
    )
    assert cfg.write_mode == "single_pass"  # the default
    pipe = IngestPipeline(spark, cfg)
    pipe.run(transcripts, batch_id="b")
    dropped = {r.sink_table: set(r.drop_fields)
               for r in cfg.schema_rules if r.drop_fields}
    assert dropped, "presets should exercise drop_fields"
    for sink, drops in dropped.items():
        cols = set(pipe.catalog.table(sink).read(spark).columns)
        assert not (cols & drops), f"{sink} leaked {cols & drops}"
    # the staged _sink=... dir was ADOPTED (moved) under the table's
    # own data/ root as a `_s=` partition level
    t = pipe.catalog.table("sink_errors")
    snap = t.current_snapshot()
    (ddir,) = snap["data_dirs"]
    assert os.path.dirname(ddir) == t.data and "_s=" in os.path.basename(ddir)
    assert any(d.startswith("_p=") for d in os.listdir(ddir))
    # hour-partitioned (presets): _p format yyyy-MM-dd-HH
    p_dirs = [d for d in os.listdir(ddir) if d.startswith("_p=")]
    assert all(len(d.split("=")[1]) == 13 for d in p_dirs)


def test_file_uri_warehouse_commits_with_recount(spark, transcripts, tmp_path,
                                                 monkeypatch):
    """A `file:///…` warehouse: a full batch and a light streaming epoch
    both commit (the staged recount used to skip every `_sink=` dir it
    could not os.path.isdir, then abort the healthy batch with a count
    mismatch), and the recount is still enforced."""
    import os

    from swarm_spark import filestats
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.streaming.ingest import start_ingest_stream, stream_transcripts

    wh = tmp_path / "wh"
    uri = "file://" + str(wh)

    def pipe():
        return IngestPipeline(spark, PipelineConfig(
            event_rules=default_event_rules(),
            schema_rules=default_schema_rules(),
            warehouse=uri,
            tool_dim=default_tool_dim(spark),
        ))

    batch = pipe()
    assert batch.config.warehouse == str(wh)
    res = batch.run(transcripts, batch_id="b1")
    exp = {r.sink_table: r["count"] for r in
           batch.routed(transcripts).groupBy("sink_table").count().collect()}
    assert res.per_sink_rows == exp

    src = str(tmp_path / "src")
    transcripts.write.parquet(src)
    q = start_ingest_stream(stream_transcripts(spark, src), pipe(),
                            str(tmp_path / "ckpt"), epoch_mode="light")
    q.awaitTermination(120)
    assert q.exception() is None
    for sink, n in exp.items():
        assert batch.catalog.table(sink).read(spark).count() == 2 * n, sink
    assert not os.path.exists("file:")  # no cwd-relative 'file:' tree

    real = filestats.collect_dir_stats

    def one_row_short(ddir, *a, **kw):
        st = real(ddir, *a, **kw)
        f = next(iter(st["files"].values()))
        f["rows"] -= 1
        return st

    monkeypatch.setattr(filestats, "collect_dir_stats", one_row_short)
    with pytest.raises(RuntimeError, match="staged-write count mismatch"):
        pipe().run(transcripts, batch_id="b2")
