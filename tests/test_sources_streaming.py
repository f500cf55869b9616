"""Object-source parsing (gzip/NDJSON/multi-doc/explode golden cases,
FIXTURES.md §4) and streaming ingest."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F


def _write(path: str, content: str, gz: bool = False) -> None:
    if gz:
        with gzip.open(path, "wt") as fh:
            fh.write(content)
    else:
        with open(path, "w") as fh:
            fh.write(content)


# a CloudTrail-SHAPED fixture (structure only; synthetic values)
BATCH_DOC = json.dumps({
    "Records": [
        {"eventName": f"Evt{i}", "eventTime": f"2026-01-01T00:00:0{i}Z",
         "actor": {"name": f"user{i}", "id": i}}
        for i in range(4)
    ]
})

NDJSON = '{"a":1}\n{"a":2}\n{"a":3}\n'
CONCAT = '{"x":1}{"x":2} {"x":3}\n\n{"x":4}'


class TestMultiDocJson:
    def test_ndjson(self, spark, tmp_path):
        from swarm_spark.sources.objects import read_multidoc_json

        p = str(tmp_path / "a.json")
        _write(p, NDJSON)
        docs = read_multidoc_json(spark, p).orderBy("ordinal").collect()
        assert [json.loads(d.doc)["a"] for d in docs] == [1, 2, 3]

    def test_concatenated_docs(self, spark, tmp_path):
        from swarm_spark.sources.objects import read_multidoc_json

        p = str(tmp_path / "b.json")
        _write(p, CONCAT)
        docs = read_multidoc_json(spark, p).orderBy("ordinal").collect()
        assert [json.loads(d.doc)["x"] for d in docs] == [1, 2, 3, 4]

    def test_single_doc(self, spark, tmp_path):
        from swarm_spark.sources.objects import read_multidoc_json

        p = str(tmp_path / "c.json")
        _write(p, BATCH_DOC)
        docs = read_multidoc_json(spark, p).collect()
        assert len(docs) == 1

    def test_gzip_parity(self, spark, tmp_path):
        """FIXTURES.md §4: same object plain vs gzip → identical records."""
        from swarm_spark.sources.objects import read_multidoc_json

        plain = str(tmp_path / "d.json")
        gzed = str(tmp_path / "d.json.gz")
        _write(plain, BATCH_DOC)
        _write(gzed, BATCH_DOC, gz=True)
        a = [r.doc for r in read_multidoc_json(spark, plain).collect()]
        b = [r.doc for r in read_multidoc_json(spark, gzed).collect()]
        assert a == b

    def test_explode_records_1_to_n(self, spark, tmp_path):
        """FIXTURES.md §4: one record with Records:[4] → 4 routed rows."""
        from swarm_spark.sources.objects import explode_records, read_multidoc_json

        p = str(tmp_path / "e.json")
        _write(p, BATCH_DOC)
        recs = explode_records(read_multidoc_json(spark, p)).collect()
        assert len(recs) == 4
        names = sorted(json.loads(r.record)["eventName"] for r in recs)
        assert names == ["Evt0", "Evt1", "Evt2", "Evt3"]

    def test_explode_passthrough_without_records(self, spark, tmp_path):
        from swarm_spark.sources.objects import explode_records, read_multidoc_json

        p = str(tmp_path / "f.json")
        _write(p, '{"plain": true}')
        recs = explode_records(read_multidoc_json(spark, p)).collect()
        assert len(recs) == 1 and json.loads(recs[0].record)["plain"] is True


@pytest.fixture()
def stream_setup(spark, tmp_path):
    from swarm_spark.datagen import generate_transcripts
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    src = str(tmp_path / "src")
    t = generate_transcripts(spark, 1500, n_convs=30, seed=42)
    t.write.parquet(src)
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
    )
    return src, IngestPipeline(spark, cfg), t


class TestStreaming:
    def test_stream_ingest_matches_batch(self, spark, stream_setup, tmp_path):
        from swarm_spark.streaming.ingest import start_ingest_stream, stream_transcripts

        src, pipe, t = stream_setup
        stream = stream_transcripts(spark, src, max_files_per_trigger=2)
        q = start_ingest_stream(stream, pipe, str(tmp_path / "ckpt"))
        q.awaitTermination(120)

        # batch reference over the same rows (ordering-free path)
        pipe.config.assume_ordered = True
        exp = pipe.routed(t, ingest_id="x").groupBy("sink_table").count().collect()
        exp_counts = {r.sink_table: r["count"] for r in exp}
        got_counts = {
            s: pipe.catalog.table(s).read(spark).count() for s in exp_counts
        }
        assert got_counts == exp_counts

    def test_streaming_hourly_counts(self, spark, stream_setup, tmp_path):
        from swarm_spark.streaming.ingest import hourly_counts_stream, stream_transcripts

        src, pipe, t = stream_setup
        agg = hourly_counts_stream(stream_transcripts(spark, src), pipe)
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory").queryName("hourly_out")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt2"))
            .start()
        )
        q.awaitTermination(120)
        # full tuple-level equality vs the batch aggregate — not just
        # the grand total: every (sink, role, tool, hour) cell matches
        got = {
            (r.sink, r.role, r.tool, r.hour, r.n)
            for r in spark.sql("SELECT * FROM hourly_out").collect()
        }
        pipe.config.assume_ordered = True
        exp = {
            (r.sink, r.role, r.tool, r.hour, r.n)
            for r in pipe.aggregate(pipe.routed(t, ingest_id="x")).collect()
        }
        assert got == exp


class TestLightEpochs:
    """VERDICT r2 #6: streaming epochs can reuse the single-pass
    staged write WITHOUT the per-epoch aggregate/audit commits —
    lineage rides the manifest, the hourly aggregate rides the
    incremental streaming query."""

    def test_light_stream_matches_batch_without_agg_audit(
        self, spark, stream_setup, tmp_path
    ):
        from swarm_spark.streaming.ingest import (
            start_ingest_stream,
            stream_transcripts,
        )

        src, pipe, t = stream_setup
        stream = stream_transcripts(spark, src, max_files_per_trigger=2)
        q = start_ingest_stream(stream, pipe, str(tmp_path / "ckpt"),
                                epoch_mode="light")
        q.awaitTermination(120)

        pipe.config.assume_ordered = True
        exp = pipe.routed(t, ingest_id="x").groupBy("sink_table").count().collect()
        exp_counts = {r.sink_table: r["count"] for r in exp}
        got_counts = {
            s: pipe.catalog.table(s).read(spark).count() for s in exp_counts
        }
        assert got_counts == exp_counts
        # no per-epoch agg/audit commits in light mode
        assert not pipe.catalog.table(pipe.config.agg_table).exists()
        assert not pipe.catalog.table(pipe.config.audit_table).exists()
        # restart over the same checkpoint: no duplicate appends
        q2 = start_ingest_stream(
            stream_transcripts(spark, src, max_files_per_trigger=2),
            pipe, str(tmp_path / "ckpt"), epoch_mode="light")
        q2.awaitTermination(120)
        got2 = {s: pipe.catalog.table(s).read(spark).count() for s in exp_counts}
        assert got2 == exp_counts

    def test_light_epoch_is_one_spark_job(self, spark, stream_setup, tmp_path):
        """Pin the per-epoch job count: a light epoch costs ONE Spark
        job (the staged write); a full epoch costs that plus the agg
        and audit commits."""
        from swarm_spark.datagen import generate_transcripts
        from swarm_spark.pipeline import IngestPipeline, PipelineConfig
        from swarm_spark.presets import (
            default_event_rules,
            default_schema_rules,
            default_tool_dim,
        )

        t = generate_transcripts(spark, 500, n_convs=10, seed=3)
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def jobs_for(mode_kwargs, tag):
            cfg = PipelineConfig(
                event_rules=default_event_rules(),
                schema_rules=default_schema_rules(),
                warehouse=str(tmp_path / f"wh_{tag}"),
                tool_dim=default_tool_dim(spark),
                assume_ordered=True,
            )
            pipe = IngestPipeline(spark, cfg)
            sc.setJobGroup(f"jg-{tag}", tag)
            try:
                pipe.run(t, batch_id=f"b-{tag}", **mode_kwargs)
            finally:
                sc.setJobGroup(None, None)
            return len(tracker.getJobIdsForGroup(f"jg-{tag}"))

        full = jobs_for({}, "full")
        light = jobs_for({"with_agg": False, "with_audit": False}, "light")
        # One ACTION remains in light mode (the staged write); AQE
        # reports its broadcast/shuffle stages as separate job ids, so
        # the pin is an upper bound (measured: 5 light vs 11 full).
        assert light <= 5, f"light epoch ran {light} jobs"
        assert full > light, f"full={full} light={light}"


class TestDedupeDeliveries:
    def test_redelivered_rows_land_once(self, spark, stream_setup, tmp_path):
        """Every source row delivered TWICE (full redelivery) → sink
        counts equal the unique batch; dedup state is watermark-bounded
        rather than unbounded dropDuplicates."""
        from swarm_spark.streaming.ingest import (
            dedupe_deliveries,
            start_ingest_stream,
            stream_transcripts,
        )

        src, pipe, t = stream_setup
        dup_src = str(tmp_path / "dup_src")
        t.write.parquet(dup_src)
        t.write.mode("append").parquet(dup_src)  # redeliver everything

        stream = dedupe_deliveries(
            stream_transcripts(spark, dup_src, max_files_per_trigger=100))
        q = start_ingest_stream(stream, pipe, str(tmp_path / "ckpt_d"),
                                epoch_mode="light")
        q.awaitTermination(120)

        pipe.config.assume_ordered = True
        exp = {r["sink_table"]: r["count"]
               for r in pipe.routed(t, ingest_id="x")
               .groupBy("sink_table").count().collect()}
        got = {s: pipe.catalog.table(s).read(spark).count() for s in exp}
        assert got == exp


class TestStreamingSessionWindows:
    def test_session_window_stream_matches_batch_lag_cumsum(self, spark, tmp_path):
        """Native streaming session_window (gap-based, watermarked)
        produces the SAME sessions as the batch lag+cumsum
        construction (q_sessionize's shape) over identical events."""
        from pyspark.sql import Window

        rows = []
        # u1: two sessions (gap > 30 min between event 2 and 3)
        rows += [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
                 (1, "2024-01-01 11:00:01"), (1, "2024-01-01 11:05:00")]
        # u2: one long session chained by sub-gap steps
        rows += [(2, "2024-01-01 09:00:00"), (2, "2024-01-01 09:25:00"),
                 (2, "2024-01-01 09:50:00")]
        src = str(tmp_path / "ev")
        ev = spark.createDataFrame(rows, "user_id bigint, ts_s string") \
            .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
        ev.write.parquet(src)

        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(src)
        agg = (
            stream.withWatermark("ts", "2 hours")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("sess_start"), "n_events")
        )
        q = (agg.writeStream.outputMode("complete").format("memory")
             .queryName("sess_out").trigger(availableNow=True)
             .option("checkpointLocation", str(tmp_path / "ck")).start())
        q.awaitTermination(120)
        got = {(r["user_id"], str(r["sess_start"])): r["n_events"]
               for r in spark.sql("SELECT * FROM sess_out").collect()}

        # batch lag+cumsum reference (strict > gap matches session_window's
        # "new session when distance >= gap" at the 30-min boundary? —
        # session_window closes when the NEXT event starts at or after
        # end = last_ts + gap, i.e. diff >= 1800 starts a new session)
        w = Window.partitionBy("user_id").orderBy("ts")
        secs = F.unix_seconds(F.col("ts"))
        gap = F.when(secs - F.lag(secs).over(w) >= 1800, 1).otherwise(0)
        sess = ev.withColumn("g", gap).withColumn(
            "idx", F.sum("g").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        ref = sess.groupBy("user_id", "idx").agg(
            F.min("ts").alias("sess_start"), F.count(F.lit(1)).alias("n_events"))
        want = {(r["user_id"], str(r["sess_start"])): r["n_events"]
                for r in ref.collect()}
        assert got == want
        assert got[(1, "2024-01-01 10:00:00")] == 2
        assert got[(1, "2024-01-01 11:00:01")] == 2
        assert got[(2, "2024-01-01 09:00:00")] == 3
