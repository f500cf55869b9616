"""The DuckDB checker must catch a duplicate commit and a wrong per-sink
count. The warehouse here is written by hand in the icepack layout
(CURRENT pointer, snapshot JSON, parquet data dirs), no Spark."""

import json
import os

import duckdb
import pyarrow as pa
import pytest

import check
import gen


def _commit(wh, table, rows):
    """Write ``rows`` (a pyarrow table) as the table's only snapshot."""
    import pyarrow.parquet as pq

    ddir = os.path.join(wh, table, "data", "_s=0")
    os.makedirs(ddir, exist_ok=True)
    pq.write_table(rows, os.path.join(ddir, "part-0.parquet"))
    meta = os.path.join(wh, table, "_meta")
    os.makedirs(meta, exist_ok=True)
    with open(os.path.join(meta, "snap-000000000001.json"), "w") as fh:
        json.dump({"snapshot_id": 1, "data_dirs": [ddir], "schema": "{}"}, fh)
    with open(os.path.join(meta, "CURRENT"), "w") as fh:
        fh.write("1")


def _ingest_by_hand(wh, inp, batch_ids, duplicate=None, drop=None):
    con = duckdb.connect()
    for sink, pred in check.SINK_PREDICATES.items():
        rows = con.execute(
            f"SELECT md5(conv_id || ':' || turn_idx) AS id, conv_id, turn_idx "
            f"FROM read_parquet('{inp}') WHERE {pred}").arrow()
        if sink == duplicate:
            rows = pa.concat_tables([rows, rows.slice(0, 1)])
        if sink == drop:
            rows = rows.slice(0, rows.num_rows - 1)
        _commit(wh, sink, rows)
    man = os.path.join(wh, "_manifest")
    os.makedirs(man, exist_ok=True)
    for b in batch_ids:
        with open(os.path.join(man, f"{b}.json"), "w") as fh:
            json.dump({"id": b, "state": "completed"}, fh)


@pytest.fixture()
def inp(tmp_path):
    src = gen.TranscriptSource(seed=5, n_convs=50)
    return gen.write_transcripts(src.take(2_000), str(tmp_path / "in" / "b0.parquet"))


def test_clean_ingest_passes(tmp_path, inp):
    wh = str(tmp_path / "wh")
    _ingest_by_hand(wh, inp, ["b0"])
    assert check.check_transcript_ingest(wh, [inp], ["b0"], audit_rows=None) == []


def test_duplicate_commit_is_caught(tmp_path, inp):
    wh = str(tmp_path / "wh")
    _ingest_by_hand(wh, inp, ["b0"], duplicate="sink_tools")
    problems = check.check_transcript_ingest(wh, [inp], ["b0"], audit_rows=None)
    assert any("sink_tools" in p and "duplicate ids" in p for p in problems)
    assert any("sink_tools" in p and "expected" in p for p in problems)


def test_wrong_sink_count_is_caught(tmp_path, inp):
    wh = str(tmp_path / "wh")
    _ingest_by_hand(wh, inp, ["b0"], drop="sink_errors")
    problems = check.check_transcript_ingest(wh, [inp], ["b0"], audit_rows=None)
    assert len(problems) == 1 and problems[0].startswith("sink_errors:")


def test_unfinished_manifest_and_missing_audit_are_caught(tmp_path, inp):
    wh = str(tmp_path / "wh")
    _ingest_by_hand(wh, inp, ["b0"])
    problems = check.check_transcript_ingest(wh, [inp], ["b0", "b1"], audit_rows=1)
    assert any("manifest b1" in p for p in problems)
    assert any(p.startswith("_audit:") for p in problems)


def test_expected_counts_restate_the_rules(tmp_path):
    t = pa.table({
        "conv_id": ["c", "c", "c", "c"],
        "turn_idx": pa.array([0, 1, 2, 3], pa.int32()),
        "role": ["assistant", "user", "tool", "system"],
        "text": ['turn 0 actor:bob CALL tool=bash args={"q":1} ERR-0042',
                 "turn 1 actor:bob body", "turn 2 CALL tool=sql args={}",
                 "turn 3 ERR-12 short code"],
        "tool": ["bash", None, "sql", None],
        "ts": pa.array([0, 1, 2, 3], pa.timestamp("us", tz="UTC")),
    })
    p = gen.write_transcripts(t, str(tmp_path / "t.parquet"))
    assert check.expected_sink_counts([p]) == {
        "sink_errors": 1, "sink_tools": 2, "sink_assistant": 1, "sink_user": 1}
