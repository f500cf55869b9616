"""Per-layer metrics of the traced run: which public functions to wrap,
and how spans plus the Spark event log become the per_layer numbers."""

from __future__ import annotations

import os
from collections import defaultdict

from spans import Tracer, covered, layer_of, self_times

# Modules Spark jobs are attributed to; any other launching span is "other".
SPARK_MODULES = ("pipeline", "pipeline_json", "tablestore", "filestats", "other")
# Driver-side layers whose self time is reported. "harness" is op time
# that no traced function and no Spark job covers.
SELF_LAYERS = ("pipeline", "pipeline_json", "sources.objects", "tablestore",
               "filestats", "metastore", "manifest", "server", "streaming",
               "pyspark", "harness")
SPARK_TOTALS = ("tasks", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "output_bytes", "output_records")
# Stages holding a mapInPandas step run the Python-worker JSON decode of
# sources.objects (read_multidoc_json / explode_records).
DECODE_SCOPES = ("MapInPandas",)


def install(tr: Tracer) -> None:
    from swarm_spark import filestats, manifest, metastore, pipeline, pipeline_json, tablestore
    from swarm_spark.sources import objects

    def new_dir(sp, snap):
        if isinstance(snap, dict) and snap.get("added_rows") and snap.get("data_dirs"):
            sp.info["dir"] = snap["data_dirs"][-1]

    tr.wrap(pipeline.IngestPipeline, "run", "pipeline.run")
    for fn in ("append", "adopt_dir"):
        tr.wrap(tablestore.IcepackTable, fn, f"tablestore.{fn}", on_result=new_dir)
    for fn in ("rollback", "read", "count_where"):
        tr.wrap(tablestore.IcepackTable, fn, f"tablestore.{fn}")
    tr.wrap(filestats, "collect_dir_stats", "filestats.collect_dir_stats",
            on_result=lambda sp, r: sp.info.update(files=len((r or {}).get("files") or {})))
    tr.wrap(filestats, "prune_files", "filestats.prune_files",
            on_result=lambda sp, r: sp.info.update(total=r[1], kept=r[2]))
    tr.wrap(metastore.PosixMetaStore, "try_commit", "metastore.try_commit",
            tag_jobs=False, on_result=lambda sp, r: sp.info.update(outcome=r))
    tr.wrap(metastore.PosixMetaStore, "read_snap", "metastore.read_snap", tag_jobs=False)

    def gate(sp, r):
        state, acquired = r
        sp.info["skipped"] = (not acquired) and state.state == manifest.STATE_COMPLETED

    tr.wrap(manifest.ManifestStore, "get_or_create", "manifest.get_or_create",
            tag_jobs=False, on_result=gate)
    for fn in ("get", "update", "wait"):
        tr.wrap(manifest.ManifestStore, fn, f"manifest.{fn}", tag_jobs=False)
    tr.wrap(pipeline_json.JsonIngest, "run", "pipeline_json.run")
    tr.wrap(pipeline_json, "infer_json_schema", "pipeline_json.infer_json_schema")
    for fn in ("read_multidoc_json", "explode_records"):
        tr.wrap(objects, fn, f"sources.objects.{fn}")


def _dir_files(d: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, fns in os.walk(d):
        for f in fns:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def metrics(tr: Tracer, jobs: dict, stages: dict, extra: dict,
            span_cost_s: float, tag_cost_s: float) -> dict[str, float]:
    """All per-layer numbers, totals over the measured ops."""
    tr.attach_orphans()
    ops = [s for s in tr.spans if s.op == s.sid]
    spans = [s for s in tr.spans if s.op is not None]

    def in_op(t: float) -> bool:
        return any(o.start <= t <= o.end for o in ops)

    op_jobs = [j for j in jobs.values() if j.end is not None and in_op(j.start)]
    job_iv = [(j.start, j.end) for j in op_jobs]
    selfs = self_times(spans, job_iv)
    by_layer: dict[str, float] = defaultdict(float)
    for s in spans:
        by_layer[layer_of(s.name)] += selfs[s.sid]

    def named(name: str) -> list:
        return [s for s in spans if s.name == name]

    def busy(name: str) -> float:
        return sum(s.dur for s in named(name))

    op_wall = sum(o.dur for o in ops)
    spark_in_ops = sum(covered(job_iv, o.start, o.end) for o in ops)
    m: dict[str, float] = {}
    m["trace.ops"] = len(ops)
    m["trace.op_wall_s"] = op_wall
    m["trace.spans"] = len(spans)
    m["trace.overhead_s"] = sum(span_cost_s + (tag_cost_s if s.info.get("tag") else 0.0)
                                for s in spans)
    m["driver_only_s"] = op_wall - spark_in_ops
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = by_layer.get(layer, 0.0)
    explained = spark_in_ops + sum(v for k, v in by_layer.items() if k != "harness")
    m["trace.accounted_ratio"] = explained / op_wall if op_wall else 0.0

    # Spark, by the traced function that launched each job
    mod_of_job = {}
    agg = {mod: defaultdict(float) for mod in SPARK_MODULES + ("sources.objects",)}
    for j in op_jobs:
        mod = layer_of(j.span) if j.span else "other"
        mod = mod if mod in SPARK_MODULES else "other"
        mod_of_job[j.job_id] = mod
        agg[mod]["jobs"] += 1
        agg[mod]["job_wall_s"] += j.end - j.start
    tot = defaultdict(float)
    for st in stages.values():
        if st.job_id not in mod_of_job:
            continue
        mod = ("sources.objects" if any(d in sc for sc in st.scopes for d in DECODE_SCOPES)
               else mod_of_job[st.job_id])
        agg[mod]["executor_run_s"] += st.run_s
        agg[mod]["executor_cpu_s"] += st.cpu_s
        for k in SPARK_TOTALS:
            tot[k] += getattr(st, k)
    for mod in SPARK_MODULES:
        for k in ("jobs", "job_wall_s", "executor_run_s", "executor_cpu_s"):
            m[f"spark.{mod}.{k}"] = agg[mod][k]
    for k in ("executor_run_s", "executor_cpu_s"):
        m[f"spark.sources.objects.{k}"] = agg["sources.objects"][k]
    for k in SPARK_TOTALS:
        m[f"spark.{k}"] = tot[k]

    m["pipeline.run_s"] = busy("pipeline.run")
    m["pipeline.route_noop_s"] = extra.get("pipeline.route_noop_s", 0.0)
    m["pipeline_json.run_s"] = busy("pipeline_json.run")
    m["pipeline_json.infer.calls"] = len(named("pipeline_json.infer_json_schema"))
    m["pipeline_json.infer.busy_s"] = busy("pipeline_json.infer_json_schema")

    cds = named("filestats.collect_dir_stats")
    m["filestats.collect_dir_stats.calls"] = len(cds)
    m["filestats.collect_dir_stats.busy_s"] = busy("filestats.collect_dir_stats")
    m["filestats.collect_dir_stats.files"] = sum(s.info.get("files", 0) for s in cds)
    pf = named("filestats.prune_files")
    m["filestats.prune_files.busy_s"] = busy("filestats.prune_files")
    total = sum(s.info.get("total", 0) for s in pf)
    m["filestats.files_kept_ratio"] = (sum(s.info.get("kept", 0) for s in pf) / total
                                       if total else 0.0)

    for fn in ("adopt_dir", "append"):
        m[f"tablestore.{fn}.calls"] = len(named(f"tablestore.{fn}"))
        m[f"tablestore.{fn}.busy_s"] = busy(f"tablestore.{fn}")
    m["tablestore.rollback.calls"] = len(named("tablestore.rollback"))
    m["tablestore.read.busy_s"] = busy("tablestore.read")
    files = size = 0
    for s in named("tablestore.adopt_dir") + named("tablestore.append"):
        if s.info.get("dir"):
            n, b = _dir_files(s.info["dir"])
            files, size = files + n, size + b
    m["tablestore.files_added"] = files
    m["tablestore.avg_file_bytes"] = size / files if files else 0.0

    tc = named("metastore.try_commit")
    m["metastore.try_commit.calls"] = len(tc)
    m["metastore.try_commit.busy_s"] = busy("metastore.try_commit")
    m["metastore.commit_conflicts"] = sum(1 for s in tc if s.info.get("outcome") != "committed")
    m["metastore.read_snap.per_op"] = len(named("metastore.read_snap")) / len(ops) if ops else 0.0

    by_id = {s.sid: s for s in spans}
    man = [s for s in spans if s.name.startswith("manifest.")]
    top = [s for s in man if s.parent not in by_id
           or not by_id[s.parent].name.startswith("manifest.")]
    m["manifest.calls"] = len(top)
    m["manifest.busy_s"] = sum(s.dur for s in top)
    m["manifest.skipped"] = sum(1 for s in man if s.info.get("skipped"))

    for k in ("streaming.epochs", "streaming.trigger_s", "streaming.add_batch_s",
              "streaming.planning_s", "streaming.commit_s"):
        m[k] = extra.get(k, 0.0)

    for k in ("status_200", "status_409", "status_4xx", "status_500"):
        m[f"server.{k}"] = extra.get(f"server.{k}", 0)
    m["server.handler_s"] = busy("server.handler")
    requests = named("server.first") + named("server.redeliver")
    m["server.http_overhead_s"] = (sum(s.dur for s in requests) - m["server.handler_s"]
                                   if requests else 0.0)
    return m


def unit_of(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_bytes", "bytes"), ("_ratio", "ratio"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"
