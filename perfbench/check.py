"""Independent output checks: DuckDB over the generated inputs and over
the files the program committed, never through Spark or swarm_spark.

The routing rules and extract regexes of the default preset are
restated here in SQL, so a change to the program's rules or regexes
shows up as a count mismatch rather than passing silently.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pyarrow as pa

# Sink → SQL predicate over the raw transcript row (the default preset:
# error codes, tool calls, assistant turns, user turns).
SINK_PREDICATES = {
    "sink_errors": "regexp_extract(text, '(ERR-[0-9]{4})', 1) LIKE 'ERR-%'",
    "sink_tools": "regexp_extract(text, 'CALL tool=([a-z0-9_]+)', 1) <> ''",
    "sink_assistant": "role = 'assistant'",
    "sink_user": "role = 'user'",
}


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _plist(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def table_snapshot(warehouse: str, table: str) -> dict | None:
    """Current snapshot of an icepack table, read from its metadata
    files (CURRENT pointer → snap-<id>.json)."""
    meta = os.path.join(warehouse, table, "_meta")
    try:
        with open(os.path.join(meta, "CURRENT")) as fh:
            sid = int(fh.read().strip())
    except (OSError, ValueError):
        return None
    with open(os.path.join(meta, f"snap-{sid:012d}.json")) as fh:
        return json.load(fh)


def table_files(warehouse: str, table: str) -> list[str]:
    snap = table_snapshot(warehouse, table)
    if snap is None:
        return []
    files: list[str] = []
    for d in snap["data_dirs"]:
        files.extend(f for f in glob.glob(os.path.join(d, "**", "*.parquet"),
                                          recursive=True)
                     if not os.path.basename(f).startswith((".", "_")))
    return sorted(files)


def expected_sink_counts(inputs: list[str]) -> dict[str, int]:
    if not inputs:
        return {s: 0 for s in SINK_PREDICATES}
    con = _con()
    sel = ", ".join(f"count(*) FILTER (WHERE {p}) AS {s}"
                    for s, p in SINK_PREDICATES.items())
    row = con.execute(f"SELECT {sel} FROM read_parquet({_plist(inputs)})").fetchone()
    return dict(zip(SINK_PREDICATES, (int(v) for v in row)))


def sink_counts(warehouse: str) -> dict[str, tuple[int, int]]:
    """sink → (rows, distinct ids) over the committed files."""
    con = _con()
    out = {}
    for s in SINK_PREDICATES:
        files = table_files(warehouse, s)
        if not files:
            out[s] = (0, 0)
            continue
        n, d = con.execute(
            f"SELECT count(*), count(DISTINCT id) FROM read_parquet({_plist(files)}, "
            "hive_partitioning = false, union_by_name = true)").fetchone()
        out[s] = (int(n), int(d))
    return out


def manifest_states(manifest_dir: str) -> dict[str, str]:
    out = {}
    for p in glob.glob(os.path.join(manifest_dir, "*.json")):
        with open(p) as fh:
            st = json.load(fh)
        out[st["id"]] = st["state"]
    return out


def check_transcript_ingest(warehouse: str, inputs: list[str],
                            batch_ids: list[str], audit_rows: int | None) -> list[str]:
    """Per-sink row counts equal DuckDB over the input; no duplicate id
    per sink; every manifest entry of these batches is completed; the
    audit table holds ``audit_rows`` rows (None: no audit expected)."""
    problems = []
    want = expected_sink_counts(inputs)
    got = sink_counts(warehouse)
    for s, n in want.items():
        rows, distinct = got[s]
        if rows != n:
            problems.append(f"{s}: {rows} rows committed, {n} expected")
        if distinct != rows:
            problems.append(f"{s}: {rows - distinct} duplicate ids")
    states = manifest_states(os.path.join(warehouse, "_manifest"))
    for b in batch_ids:
        if states.get(b) != "completed":
            problems.append(f"manifest {b}: {states.get(b)!r}, expected 'completed'")
    extra = sorted(set(states) - set(batch_ids))
    if extra:
        problems.append(f"manifest has unexpected entries {extra[:3]}")
    if audit_rows is not None:
        files = table_files(warehouse, "_audit")
        n = 0
        if files:
            n = _con().execute(
                f"SELECT count(*) FROM read_parquet({_plist(files)}, "
                "hive_partitioning = false) WHERE success").fetchone()[0]
        if n != audit_rows:
            problems.append(f"_audit: {n} rows, expected {audit_rows}")
    return problems


def check_json_ingest(warehouse: str, table: str, truths: list[dict]) -> list[str]:
    """Sink rows equal the generated records (by event id, exactly
    once each) and the sink schema holds every generated field."""
    problems = []
    files = table_files(warehouse, table)
    want_ids = [i for t in truths for i in t["ids"]]
    if not files:
        return [f"{table}: no committed files"] if want_ids else []
    con = _con()
    n, d = con.execute(
        f"SELECT count(*), count(DISTINCT id) FROM read_parquet({_plist(files)}, "
        "hive_partitioning = false, union_by_name = true)").fetchone()
    if n != len(want_ids):
        problems.append(f"{table}: {n} rows committed, {len(want_ids)} expected")
    if d != n:
        problems.append(f"{table}: {n - d} duplicate ids")
    con.register("want", pa.table({"id": want_ids}))
    missing = con.execute(
        f"SELECT count(*) FROM want WHERE id NOT IN (SELECT id FROM read_parquet("
        f"{_plist(files)}, hive_partitioning = false, union_by_name = true))").fetchone()[0]
    if missing:
        problems.append(f"{table}: {missing} generated records missing")
    snap = table_snapshot(warehouse, table)
    data_fields: set[str] = set()
    for f in json.loads(snap["schema"])["fields"]:
        if f["name"] == "data" and isinstance(f["type"], dict):
            data_fields = {c["name"] for c in f["type"]["fields"]}
    want_fields = {f for t in truths for f in t["fields"]}
    lost = sorted(want_fields - data_fields)
    if lost:
        problems.append(f"{table}: schema lacks generated fields {lost}")
    return problems


def expected_query(inputs: list[str], sink: str, q: dict):
    """DuckDB answer to one sink_query op over the raw input."""
    con = _con()
    src = (f"SELECT * FROM read_parquet({_plist(inputs)}) "
           f"WHERE {SINK_PREDICATES[sink]}")
    if q["kind"] == "point":
        rows = con.execute(
            f"SELECT conv_id, turn_idx FROM ({src}) WHERE conv_id = ? "
            "ORDER BY conv_id, turn_idx", [q["conv_id"]]).fetchall()
        return [tuple(r) for r in rows]
    lo, hi = q["lo"], q["hi"]
    where = "ts >= ?::TIMESTAMP AND ts <= ?::TIMESTAMP"
    args = [lo.isoformat(), hi.isoformat()]
    if q["kind"] == "count":
        return int(con.execute(
            f"SELECT count(*) FROM ({src}) WHERE {where} AND conv_id = ?",
            args + [q["conv_id"]]).fetchone()[0])
    n, s = con.execute(
        f"SELECT count(*), coalesce(sum(turn_idx), 0) FROM ({src}) WHERE {where}",
        args).fetchone()
    return (int(n), int(s))
