"""The four closed-loop workloads: one client, one process.

Each workload has the same life cycle, driven by run.py:

* ``prepare()``  — seeded inputs that need no Spark (excluded from setup_s);
* ``warm()``     — one pass over every program path the workload uses, in
                   a throw-away warehouse (with the session start, this
                   is what setup_s times);
* ``build()``    — Spark-side inputs (sink_query's ingested tables);
* ``measure()``  — ops until their summed latency reaches ``seconds``, or
                   a fixed number of ops written up front (stream_10k,
                   push_json);
* ``check()``    — independent DuckDB checks of everything committed.

An op is one batch, one streaming epoch, one first-delivery message or
one query. Redeliveries are checked and counted as attempted, but carry
no rows and are not latency samples. ``gen_s`` is the time ``measure()``
spent writing inputs; run.py leaves it out of the measured phase.
"""

from __future__ import annotations

import base64
import datetime as dt
import http.client
import json
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import check
import gen

# Records in JsonIngest's default inference sample (infer_sample_rows).
INFER_SAMPLE_ROWS = 10_000

MIN_OPS = 3      # a run always measures at least this many ops
MAX_OPS = 400
# stream_10k and push_json run a fixed number of ops, one per OP_S of
# --seconds (an epoch or a message took about 2 s on a 4-core host when
# this benchmark was written), so a run's work does not depend on the
# host's speed or on where a time limit happens to cut it.
OP_S = 2.0


@dataclass
class Op:
    kind: str
    start: float
    end: float
    rows: int = 0
    ok: bool = True
    error: str = ""
    latency: bool = True   # counts as a latency sample

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Ctx:
    work: str
    seed: int
    seconds: float
    spark: object = None
    tracer: object = None       # spans.Tracer in the traced run
    layer: dict = field(default_factory=dict)   # extra per-layer numbers

    def op_span(self, name: str):
        from contextlib import nullcontext

        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, op=True)

    def span(self, name: str):
        from contextlib import nullcontext

        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, tag_jobs=True)


def _fixed_ops(seconds: float) -> int:
    return max(MIN_OPS, math.ceil(seconds / OP_S))


def _enough(ops: list[Op], seconds: float) -> bool:
    lat = [o for o in ops if o.latency]
    if len(lat) >= MAX_OPS:
        return True
    return len(lat) >= MIN_OPS and sum(o.dur for o in lat) >= seconds


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _pipeline(spark, warehouse: str):
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (default_event_rules, default_schema_rules,
                                     default_tool_dim)

    cfg = PipelineConfig(event_rules=default_event_rules(),
                         schema_rules=default_schema_rules(),
                         warehouse=warehouse, tool_dim=default_tool_dim(spark))
    return IngestPipeline(spark, cfg)


def _route_noop(ctx: Ctx, pipe, path: str) -> None:
    """Traced run only: the rules + extract compute of one op's input,
    run into Spark's noop sink."""
    t0 = time.time()
    df = ctx.spark.read.parquet(path)
    pipe.routed(df).write.format("noop").mode("overwrite").save()
    ctx.layer["pipeline.route_noop_s"] = time.time() - t0


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

class Batch:
    """Successive IngestPipeline.run batches (full mode: aggregate and
    audit) into one warehouse."""

    name = "batch_100k"
    rows = 100_000
    warm_rows = 10_000
    n_convs = 2_000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.src = gen.TranscriptSource(ctx.seed, self.n_convs)
        self.inputs: list[str] = []
        self.batch_ids: list[str] = []
        self.gen_s = 0.0

    def prepare(self) -> None:
        warm = gen.TranscriptSource(self.ctx.seed + 10_000, self.n_convs, tag="w")
        self.warm_input = gen.write_transcripts(
            warm.take(self.warm_rows), os.path.join(self.ctx.work, "in", "warm.parquet"))

    def warm(self) -> None:
        pipe = _pipeline(self.ctx.spark, _fresh(os.path.join(self.ctx.work, "warm")))
        pipe.run(self.ctx.spark.read.parquet(self.warm_input), batch_id="warm")

    def build(self) -> None:
        self.wh = _fresh(os.path.join(self.ctx.work, "wh"))
        self.pipe = _pipeline(self.ctx.spark, self.wh)

    def measure(self) -> list[Op]:
        ops: list[Op] = []
        while not _enough(ops, self.ctx.seconds):
            i = len(ops)
            g0 = time.time()
            path = gen.write_transcripts(
                self.src.take(self.rows),
                os.path.join(self.ctx.work, "in", f"batch-{i:04d}.parquet"))
            self.gen_s += time.time() - g0
            bid = f"batch-{i:04d}"
            t0 = time.time()
            try:
                with self.ctx.op_span("harness.batch"):
                    res = self.pipe.run(self.ctx.spark.read.parquet(path), batch_id=bid)
                op = Op("batch", t0, time.time(), rows=res.input_rows)
                if res.skipped or res.input_rows != self.rows:
                    op.ok, op.error = False, f"skipped={res.skipped} rows={res.input_rows}"
            except Exception as e:  # noqa: BLE001 — a failed op is a result
                op = Op("batch", t0, time.time(), ok=False, error=repr(e)[:300])
            ops.append(op)
            self.inputs.append(path)
            self.batch_ids.append(bid)
        return ops

    def traced_extras(self) -> None:
        _route_noop(self.ctx, self.pipe, self.inputs[-1])

    def check(self) -> list[str]:
        return check.check_transcript_ingest(self.wh, self.inputs, self.batch_ids,
                                             audit_rows=len(self.batch_ids))


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

class Stream:
    """start_ingest_stream (availableNow, maxFilesPerTrigger=1, light
    epochs) over ~10k-turn parquet files, each a contiguous event-time
    range with ~2% late rows. A run writes its files up front and drains
    them with one availableNow query into one warehouse."""

    name = "stream_10k"
    gen_s = 0.0          # inputs are all written in prepare()
    rows = 10_000
    late_share = 0.02
    n_convs = 2_000
    warm_files = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.epochs: list[int] = []
        self.progress: list[dict] = []

    def prepare(self) -> None:
        warm = gen.TranscriptSource(self.ctx.seed + 10_000, self.n_convs, tag="w")
        self.warm_src = _fresh(os.path.join(self.ctx.work, "in", "warm_src"))
        for k in range(self.warm_files):
            gen.write_transcripts(warm.take(self.rows, self.late_share),
                                  os.path.join(self.warm_src, f"part-{k:05d}.parquet"))
        src = gen.TranscriptSource(self.ctx.seed, self.n_convs)
        base = _fresh(os.path.join(self.ctx.work, "stream"))
        self.src_dir = _fresh(os.path.join(base, "src"))
        self.inputs = [gen.write_transcripts(
            src.take(self.rows, self.late_share),
            os.path.join(self.src_dir, f"part-{k:05d}.parquet"))
            for k in range(_fixed_ops(self.ctx.seconds))]
        self.wh = os.path.join(base, "wh")
        self.ckpt = os.path.join(base, "ckpt")

    def _drain(self, src_dir: str, ckpt: str, pipe) -> list:
        """Drain ``src_dir`` with one availableNow query; returns the
        progress of every epoch that read rows."""
        from swarm_spark.streaming.ingest import start_ingest_stream, stream_transcripts

        stream = stream_transcripts(self.ctx.spark, src_dir, max_files_per_trigger=1)
        q = start_ingest_stream(stream, pipe, checkpoint_dir=ckpt, epoch_mode="light")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception())[:300])
        return [p for p in q.recentProgress if p.numInputRows]

    def warm(self) -> None:
        base = _fresh(os.path.join(self.ctx.work, "warm"))
        pipe = _pipeline(self.ctx.spark, os.path.join(base, "wh"))
        self._drain(self.warm_src, os.path.join(base, "ckpt"), pipe)

    def build(self) -> None:
        self.pipe = _pipeline(self.ctx.spark, self.wh)

    def measure(self) -> list[Op]:
        t0 = time.time()
        try:
            progress = self._drain(self.src_dir, self.ckpt, self.pipe)
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            now = time.time()
            return [Op("epoch", t0, now, ok=False, error=repr(e)[:300])
                    for _ in self.inputs]
        ops: list[Op] = []
        for p in progress:
            d = p.durationMs
            start = dt.datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")).timestamp()
            end = start + d.get("triggerExecution", 0) / 1000.0
            ops.append(Op("epoch", start, end, rows=p.numInputRows,
                          ok=p.numInputRows == self.rows))
            self.epochs.append(p.batchId)
            self.progress.append({"start": start, "end": end, "d": dict(d)})
        if len(progress) != len(self.inputs):
            now = time.time()
            ops.append(Op("epoch", now, now, ok=False, latency=False,
                          error=f"{len(progress)} epochs for {len(self.inputs)} files"))
        return ops

    def traced_extras(self) -> None:
        tr = self.ctx.tracer
        for p in self.progress:
            tr.add_span("streaming.trigger", p["start"], p["end"], op=True)
        d = [p["d"] for p in self.progress]
        g = lambda *ks: sum(x.get(k, 0) for x in d for k in ks) / 1000.0  # noqa: E731
        self.ctx.layer.update({
            "streaming.epochs": len(d),
            "streaming.trigger_s": g("triggerExecution"),
            "streaming.add_batch_s": g("addBatch"),
            "streaming.planning_s": g("latestOffset", "getBatch", "queryPlanning"),
            "streaming.commit_s": g("walCommit", "commitOffsets"),
        })
        _route_noop(self.ctx, self.pipe, self.inputs[-1])

    def check(self) -> list[str]:
        return check.check_transcript_ingest(
            self.wh, self.inputs, [f"epoch-{e:08d}" for e in self.epochs],
            audit_rows=None)


# ---------------------------------------------------------------------------
# push_json
# ---------------------------------------------------------------------------

def _envelope(message_id: str, path: str) -> bytes:
    data = base64.b64encode(json.dumps({"path": path}).encode()).decode()
    return json.dumps({"message": {"messageId": message_id, "data": data}}).encode()


class Push:
    """One HTTP client POSTs Pub/Sub push envelopes to
    IngestServer(make_object_handler(JsonIngest)). Objects are gzip
    CloudTrail-shaped files of 2,000 records; every fifth instead holds
    11,000 and adds a field only after the default 10,000-record
    inference sample, every fourth is a concatenated multi-document
    file, and ~20% of POSTs redeliver a completed message id."""

    name = "push_json"
    gen_s = 0.0          # inputs are all written in prepare()
    records = 2_000
    table = "cloudtrail"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.statuses: dict[str, int] = {}

    def prepare(self) -> None:
        self.plan = gen.json_plan(self.ctx.seed, n_objects=_fixed_ops(self.ctx.seconds),
                                  records_per_object=self.records, evolve_every=5,
                                  multidoc_every=4, redeliver_share=0.2,
                                  beyond_sample=INFER_SAMPLE_ROWS)
        warm = gen.json_plan(self.ctx.seed + 10_000, n_objects=4,
                             records_per_object=self.records, evolve_every=3,
                             multidoc_every=4, redeliver_share=0.0,
                             beyond_sample=INFER_SAMPLE_ROWS)
        self.truths = [gen.write_json_object(self.plan["seed"], o,
                                             os.path.join(self.ctx.work, "in", "json"))
                       for o in self.plan["objects"]]
        wdir = os.path.join(self.ctx.work, "in", "warm_json")
        # a plain object, then one that both adds a field and is multi-document
        self.warm_objs = [gen.write_json_object(warm["seed"], warm["objects"][i], wdir)
                          for i in (1, 3)]

    def _serve(self, base: str):
        from swarm_spark.manifest import ManifestStore
        from swarm_spark.pipeline_json import JsonIngest, JsonSchemaRule
        from swarm_spark.rules import EventRule
        from swarm_spark.server import IngestServer, make_object_handler

        ing = JsonIngest(
            self.ctx.spark, os.path.join(base, "wh"),
            [EventRule("ct", "path", "endswith", ".json.gz", "cloudtrail")],
            [JsonSchemaRule("cloudtrail", sink_table=self.table, partition_unit="day",
                            ts_path="$.eventTime", ts_format="rfc3339",
                            id_path="$.eventID")])
        inner = make_object_handler(ing)

        def handler(data, message_id):
            if self.ctx.tracer is None:
                return inner(data, message_id)
            with self.ctx.tracer.span("server.handler", tag_jobs=True):
                return inner(data, message_id)

        srv = IngestServer(handler, ManifestStore(os.path.join(base, "msg_manifest")))
        return srv.start()

    def _post(self, port: int, body: bytes) -> tuple[int, str]:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
        try:
            conn.request("POST", "/event/pubsub", body=body,
                         headers={"Content-Type": "application/json"})
            r = conn.getresponse()
            return r.status, r.read().decode()
        finally:
            conn.close()

    def warm(self) -> None:
        base = _fresh(os.path.join(self.ctx.work, "warm"))
        srv = self._serve(base)
        try:
            posts = [(f"warm-{k}", o["path"], '"ok"') for k, o in enumerate(self.warm_objs)]
            posts.append(posts[-1][:2] + ("skipped",))   # and one redelivery
            for message_id, path, expect in posts:
                status, text = self._post(srv.port, _envelope(message_id, path))
                if status != 200 or expect not in text:
                    raise RuntimeError(f"warm-up POST: {status} {text[:200]}")
        finally:
            srv.stop()

    def build(self) -> None:
        self.base = _fresh(os.path.join(self.ctx.work, "push"))
        self.wh = os.path.join(self.base, "wh")
        self.srv = self._serve(self.base)

    def _current(self) -> str | None:
        try:
            with open(os.path.join(self.wh, self.table, "_meta", "CURRENT")) as fh:
                return fh.read()
        except OSError:
            return None

    def measure(self) -> list[Op]:
        ops: list[Op] = []
        objs = self.plan["objects"]
        try:
            for kind, i in self.plan["posts"]:
                o, path = objs[i], self.truths[i]["path"]
                before = self._current()
                t0 = time.time()
                try:
                    with self.ctx.op_span(f"server.{kind}"):
                        status, body = self._post(self.srv.port, _envelope(o["message_id"], path))
                    op = Op(kind, t0, time.time(), latency=kind == "first",
                            rows=o["records"] if kind == "first" else 0)
                except Exception as e:  # noqa: BLE001
                    ops.append(Op(kind, t0, time.time(), ok=False, error=repr(e)[:300],
                                  latency=kind == "first"))
                    continue
                key = ("status_200" if status == 200 else "status_409" if status == 409
                       else "status_500" if status >= 500 else "status_4xx")
                self.statuses[key] = self.statuses.get(key, 0) + 1
                if status != 200:
                    op.ok, op.error = False, f"HTTP {status}: {body[:200]}"
                elif kind == "first" and '"ok"' not in body:
                    op.ok, op.error = False, f"first delivery not ingested: {body[:200]}"
                elif kind == "redeliver" and ("skipped" not in body
                                              or self._current() != before):
                    op.ok, op.error = False, f"redelivery committed: {body[:200]}"
                ops.append(op)
        finally:
            self.srv.stop()
        return ops

    def traced_extras(self) -> None:
        for k in ("status_200", "status_409", "status_4xx", "status_500"):
            self.ctx.layer[f"server.{k}"] = self.statuses.get(k, 0)

    def check(self) -> list[str]:
        problems = check.check_json_ingest(self.wh, self.table, self.truths)
        states = check.manifest_states(os.path.join(self.base, "msg_manifest"))
        bad = {k: v for k, v in states.items() if v != "completed"}
        if bad:
            problems.append(f"message manifest not completed: {sorted(bad)[:3]}")
        if len(states) != len(self.truths):
            problems.append(f"{len(states)} message entries for {len(self.truths)} objects")
        return problems


# ---------------------------------------------------------------------------
# sink_query
# ---------------------------------------------------------------------------

class Query:
    """Read-only mix against sink tables the batch ingest path wrote:
    prune= point reads of hot and absent conv_ids (sink_assistant),
    event-time range reads (sink_errors, hourly partitions) and
    count_where of one conv_id in a time window (sink_user)."""

    name = "sink_query"
    gen_s = 0.0          # inputs are all written in prepare()
    batches = 3
    rows = 15_000
    warm_rows = 5_000
    n_convs = 1_000
    n_queries = 16
    sinks = {"point": "sink_assistant", "range": "sink_errors", "count": "sink_user"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def prepare(self) -> None:
        src = gen.TranscriptSource(self.ctx.seed, self.n_convs)
        self.tables = [src.take(self.rows, 0.02) for _ in range(self.batches)]
        self.inputs = [gen.write_transcripts(
            t, os.path.join(self.ctx.work, "in", f"q-{i:02d}.parquet"))
            for i, t in enumerate(self.tables)]
        import pyarrow as pa

        self.plan = gen.query_plan(self.ctx.seed, pa.concat_tables(self.tables),
                                   self.n_queries)
        self.warm_input = gen.write_transcripts(
            src.take(self.warm_rows), os.path.join(self.ctx.work, "in", "q-warm.parquet"))
        self.expected = [check.expected_query(self.inputs, self.sinks[q["kind"]], q)
                         for q in self.plan]

    def _ingest(self, wh: str, inputs: list[str]):
        """Sink tables written by the batch ingest path (without the
        per-batch aggregate and audit, which the queries never read)."""
        from swarm_spark.tablestore import IcepackCatalog

        pipe = _pipeline(self.ctx.spark, wh)
        for i, p in enumerate(inputs):
            pipe.run(self.ctx.spark.read.parquet(p), batch_id=f"q-{i:02d}",
                     with_agg=False, with_audit=False)
        return IcepackCatalog(wh)

    def _query(self, cat, q: dict):
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        tbl = cat.table(self.sinks[q["kind"]])
        if q["kind"] == "point":
            df = tbl.read(spark, prune=[("conv_id", "=", q["conv_id"])])
            with self.ctx.span("pyspark.action"):
                rows = df.select("conv_id", "turn_idx").collect()
            return sorted((r[0], r[1]) for r in rows), len(rows)
        if q["kind"] == "range":
            df = tbl.read(spark, ts_between=(q["lo"].isoformat(), q["hi"].isoformat()),
                          prune=[("timestamp", ">=", q["lo"]), ("timestamp", "<=", q["hi"])])
            with self.ctx.span("pyspark.action"):
                r = df.agg(F.count(F.lit(1)), F.coalesce(F.sum("turn_idx"), F.lit(0))).first()
            return (int(r[0]), int(r[1])), int(r[0])
        n = tbl.count_where(spark, [("conv_id", "=", q["conv_id"]),
                                    ("timestamp", ">=", q["lo"]),
                                    ("timestamp", "<=", q["hi"])])
        return int(n), int(n)

    def warm(self) -> None:
        cat = self._ingest(_fresh(os.path.join(self.ctx.work, "warm")), [self.warm_input])
        for q in self.plan[:4]:
            self._query(cat, q)

    def build(self) -> None:
        self.wh = _fresh(os.path.join(self.ctx.work, "wh"))
        self.cat = self._ingest(self.wh, self.inputs)

    def measure(self) -> list[Op]:
        ops: list[Op] = []
        while not _enough(ops, self.ctx.seconds):
            i = len(ops) % len(self.plan)
            q = self.plan[i]
            t0 = time.time()
            try:
                with self.ctx.op_span("harness.query"):
                    got, rows = self._query(self.cat, q)
                op = Op(q["kind"], t0, time.time(), rows=rows)
                if got != self.expected[i]:
                    op.ok, op.error = False, f"query {i} ({q['kind']}): result differs from DuckDB"
            except Exception as e:  # noqa: BLE001
                op = Op(q["kind"], t0, time.time(), ok=False, error=repr(e)[:300])
            ops.append(op)
        return ops

    def traced_extras(self) -> None:
        pass

    def check(self) -> list[str]:
        return check.check_transcript_ingest(
            self.wh, self.inputs, [f"q-{i:02d}" for i in range(len(self.inputs))],
            audit_rows=None)


WORKLOADS = {w.name: w for w in (Batch, Stream, Push, Query)}
