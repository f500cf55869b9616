"""Ingest benchmark for swarm_spark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Run from the root of a checkout. One closed-loop client drives the
public API of swarm_spark on local[nproc]. With --trace 0 the last line
of stdout is the end-to-end result; with --trace 1 it holds the
per-layer breakdown of a traced run instead. Every output is checked
against DuckDB; a failed check fails the op and the exit code.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# End-to-end metrics in the result line. latency_p75_s exists only with
# 40+ ops, failed_ratio is 0 on a healthy run (the result line carries
# attempted/failed instead), and peak_rss_mb swings with JVM heap growth
# far more than a regression bound allows; all three are printed above
# the result line, and peak RSS is a per-layer metric of the traced run.
GATED = ("setup_s", "rows_per_s", "latency_p50_s")


def host_settings(work: str) -> dict:
    """Host-sized Spark settings, set through the environment only."""
    import stats

    heap_mb = max(1024, min(4096, stats.mem_total_mb() // 5))
    env = {
        "SPARK_GRAFT_CPUS": str(stats.cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # keep the launcher JVM's hsperfdata out of the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # Python workers import swarm_spark (footer stats in executors)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[k], exist_ok=True)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return env


def start_session(work: str, trace: bool):
    from swarm_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    return get_spark("perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop Spark, the JVM it launched and every process under it."""
    import stats
    from pyspark import SparkContext

    kids = stats.descendants(os.getpid())
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in stats.wait_gone(kids, 20):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    stats.wait_gone(kids, 10)


def tag_cost(sc, n: int = 200) -> float:
    """Seconds the local-property tagging adds to one traced call."""
    from eventlog import SPAN_PROPERTY

    t0 = time.perf_counter()
    for _ in range(n):
        prev = sc.getLocalProperty(SPAN_PROPERTY)
        sc.setLocalProperty(SPAN_PROPERTY, "calibrate")
        sc.setLocalProperty(SPAN_PROPERTY, prev)
    return (time.perf_counter() - t0) / n


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    import shutil

    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = host_settings(work)
    try:
        return _run(name, seed, seconds, trace, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


def _run(name, seed, seconds, trace, work, env) -> int:
    import layers
    import spans
    import stats
    import workloads

    phases = {}
    t_phase = time.time()
    ctx = workloads.Ctx(work=work, seed=seed, seconds=seconds)
    wl = workloads.WORKLOADS[name](ctx)
    wl.prepare()
    phases["prepare"] = time.time() - t_phase

    try:
        t0 = time.time()
        ctx.spark = start_session(work, trace)
        wl.warm()
        setup_s = time.time() - t0
        t_phase = time.time()
        wl.build()
        phases["build"] = time.time() - t_phase

        t_phase = time.time()
        if trace:
            ctx.tracer = spans.Tracer()
            ctx.tracer.sc = ctx.spark.sparkContext
            layers.install(ctx.tracer)
        try:
            with stats.PeakRss() as rss:
                t0 = time.time()
                ops = wl.measure()
                measured_s = time.time() - t0 - wl.gen_s
        finally:
            if ctx.tracer is not None:
                ctx.tracer.unwrap_all()
        if trace:
            wl.traced_extras()
            tag_s = tag_cost(ctx.spark.sparkContext)
        phases["measure"] = time.time() - t_phase
        app_id = ctx.spark.sparkContext.applicationId
        t_phase = time.time()
        problems = wl.check()
        phases["check"] = time.time() - t_phase
    finally:
        if ctx.spark is not None:
            t_phase = time.time()
            shutdown(ctx.spark)
            phases["shutdown"] = time.time() - t_phase

    lat = [o.dur for o in ops if o.latency]
    failed = [o for o in ops if not o.ok] + [None] * len(problems)
    for o in ops:
        if not o.ok:
            print(f"perfbench: failed {o.kind} op: {o.error}", file=sys.stderr)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    attempted = len(ops) + len(problems)
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (sum(o.rows for o in ops if o.ok) / measured_s, "1/s"),
        "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        "latency_p75_s": (stats.p75(lat), "s"),
        "failed_ratio": (len(failed) / attempted, "ratio"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    stamp = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
             "nproc": int(env["SPARK_GRAFT_CPUS"]), "heap": env["SPARK_GRAFT_DRIVER_MEM"],
             "loadavg": [round(x, 2) for x in os.getloadavg()],
             "ops": len(lat), "op_latencies_s": [round(x, 3) for x in lat],
             "measured_s": round(measured_s, 3),
             "phases_s": {k: round(v, 2) for k, v in phases.items()}}
    print("perfbench-stamp " + json.dumps(stamp))
    for k, (v, unit) in e2e.items():
        shown = "omitted (fewer than %d ops)" % stats.P75_MIN_OPS if v is None else f"{v:.6g}"
        print(f"perfbench {name} {k} = {shown} {unit if v is not None else ''}".rstrip())

    if trace:
        ev = os.path.join(work, "events", app_id)
        import eventlog

        jobs, stages = eventlog.parse_file(ev)
        per_layer = layers.metrics(ctx.tracer, jobs, stages, ctx.layer,
                                   spans.calibrate_overhead(), tag_s)
        per_layer["trace.op_p50_s"] = e2e["latency_p50_s"][0]
        per_layer["process.peak_rss_mb"] = rss.peak_mb
        metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if k in GATED}
    print(json.dumps({"correct": not failed, "attempted": attempted,
                      "failed": len(failed), "metrics": metrics}))
    return 0 if not failed else 1


def run_all(args) -> int:
    """Every workload in its own process; the last line merges them."""
    import workloads

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        if p.returncode != 0 or not lines:
            code = 1
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "swarm_spark", "pipeline.py")):
        print(f"perfbench: no swarm_spark package under {ROOT}; "
              "run from the root of a swarm_spark checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
