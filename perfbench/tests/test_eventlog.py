"""Event-log parser and per-module attribution on a tiny recorded log:
an aggregation run while the tracer's span property read
``tablestore.append`` (two AQE jobs), then an untagged mapInPandas
parquet write (one job)."""

import os

import pytest

import eventlog
import layers
from spans import Tracer

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def parsed():
    return eventlog.parse_file(LOG)


def test_jobs(parsed):
    jobs, _ = parsed
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].span for i in (0, 1, 2)] == ["tablestore.append"] * 2 + [None]
    assert all(j.succeeded and j.end > j.start for j in jobs.values())
    assert jobs[0].end - jobs[0].start == pytest.approx(0.556)


def test_stage_metrics(parsed):
    _, stages = parsed
    assert stages[0].job_id == 0 and stages[0].tasks == 2
    assert stages[0].run_s == pytest.approx(0.5)
    assert stages[0].shuffle_write_bytes == 364 == stages[2].shuffle_read_bytes
    assert stages[1].tasks == 0  # skipped: its shuffle output was reused
    assert "MapInPandas" in stages[3].scopes
    assert (stages[3].output_records, stages[3].output_bytes) == (10, 533)


def test_attribution(parsed):
    jobs, stages = parsed
    tr = Tracer()
    t0 = min(j.start for j in jobs.values())
    t1 = max(j.end for j in jobs.values())
    tr.add_span("harness.batch", t0 - 1.0, t1 + 1.0, op=True)
    m = layers.metrics(tr, jobs, stages, {}, 0.0, 0.0)
    assert m["spark.tablestore.jobs"] == 2
    assert m["spark.other.jobs"] == 1
    assert m["spark.tablestore.executor_run_s"] == pytest.approx(0.5 + 0.096)
    # the mapInPandas stage is the Python-worker decode step
    assert m["spark.sources.objects.executor_run_s"] == pytest.approx(2.742)
    assert m["spark.other.executor_run_s"] == 0
    assert m["spark.output_records"] == 10
    assert m["spark.tasks"] == 4
    wall = sum(j.end - j.start for j in jobs.values())
    assert m["driver_only_s"] == pytest.approx(m["trace.op_wall_s"] - wall)
    assert m["harness.self_s"] == pytest.approx(m["driver_only_s"])
    assert m["trace.accounted_ratio"] == pytest.approx(wall / m["trace.op_wall_s"])


def test_benchmark_json_lists_every_metric(parsed):
    """BENCHMARK.json names exactly the metrics a run prints, with the
    units it prints them in."""
    import json

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    jobs, stages = parsed
    tr = Tracer()
    tr.add_span("harness.batch", 0.0, 1.0, op=True)
    names = list(layers.metrics(tr, jobs, stages, {}, 0.0, 0.0))
    names += ["trace.op_p50_s", "process.peak_rss_mb"]   # added by run.py
    assert sorted(m["name"] for m in bench["per_layer"]) == sorted(names)
    for m in bench["per_layer"]:
        assert m["unit"] == layers.unit_of(m["name"])
    assert sorted(m["name"] for m in bench["end_to_end"]) == sorted(run.GATED)
