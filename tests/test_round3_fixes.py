"""Round-3 regression tests for the advisor findings (ADVICE.md r2):

1. tablestore._commit adoption race: claim_fails resets when CURRENT
   advances, adoption is age-gated, and a clobbered claim is detected
   post-advance (the writer rebases instead of losing its data_dirs).
2. infer_json_schema coverage extends to NESTED keys and type
   conflicts (numeric widths widen; real conflicts hard-error).
3. SparkCatalogTable.append aligns + inherits partition_unit.
4. drop_fields never nulls envelope columns in single_pass mode.
5. auth.RowFilter op 'in' requires a real membership sequence.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from swarm_spark.auth import RowFilter
from swarm_spark.pipeline_json import infer_json_schema
from swarm_spark.tablestore import IcepackTable, SchemaConflictError


# ---------------------------------------------------------------- 1 --
def _plant_claim(t: IcepackTable, sid: int, mtime_ago: float = 0.0) -> str:
    path = t._snap_path(sid)
    with open(path, "w") as fh:
        json.dump({"_writer": "other-writer", "parent": sid - 1,
                   "op": "append", "data_dirs": [], "schema": "{}",
                   "snapshot_id": sid}, fh)
    if mtime_ago:
        past = time.time() - mtime_ago
        os.utime(path, (past, past))
    return path


def test_fresh_claim_is_not_adopted(spark, tmp_path):
    """A claim younger than the grace period belongs to a LIVE writer:
    the contender must back off (contention error), never clobber."""
    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(1,)], "a bigint"))
    _plant_claim(t, sid=2)  # fresh mtime = live writer mid-commit
    t.ADOPT_GRACE_SEC = 30.0  # instance override: far beyond the loop
    with pytest.raises(RuntimeError, match="contention"):
        t.append(spark.createDataFrame([(2,)], "a bigint"))
    # the live writer's claim file survives untouched
    with open(t._snap_path(2)) as fh:
        assert json.load(fh)["_writer"] == "other-writer"


def test_stale_claim_is_adopted(spark, tmp_path):
    """A claim whose writer died (old mtime, CURRENT never advanced)
    must not wedge the table: the contender adopts the sid."""
    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(1,)], "a bigint"))
    _plant_claim(t, sid=2, mtime_ago=60.0)
    snap = t.append(spark.createDataFrame([(2,)], "a bigint"))
    assert snap["snapshot_id"] == 2
    assert t.read(spark).count() == 2


def test_clobbered_claim_detected_and_rebased(spark, tmp_path, monkeypatch):
    """If an adopter replaces our claimed snap file during the
    claim->CURRENT window, the post-advance verification must notice
    (writer token mismatch) and rebase: our data_dirs reappear in the
    next snapshot instead of silently vanishing from lineage."""
    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(1,)], "a bigint"))
    base_dirs = list(t.current_snapshot()["data_dirs"])

    real_link = os.link
    state = {"clobbered": False}

    def link_and_clobber(src, dst, **kw):
        real_link(src, dst, **kw)
        if not state["clobbered"] and "snap-" in os.path.basename(dst):
            state["clobbered"] = True
            with open(dst) as fh:
                mine = json.load(fh)
            foreign = dict(mine)
            foreign["_writer"] = "adopter"
            foreign["data_dirs"] = base_dirs + ["FOREIGN_DIR"]
            foreign["row_count"] = mine.get("row_count", 0)
            with open(dst, "w") as fh:
                json.dump(foreign, fh)

    monkeypatch.setattr(os, "link", link_and_clobber)
    snap = t.append(spark.createDataFrame([(2,)], "a bigint"))
    # our commit retreated to a NEW sid on top of the adopter's
    assert snap["snapshot_id"] == 3
    cur = t.current_snapshot()
    assert cur["snapshot_id"] == 3
    my_new = [d for d in cur["data_dirs"]
              if d not in set(base_dirs) and d != "FOREIGN_DIR"]
    assert len(my_new) == 1          # our appended dir survived the race
    assert "FOREIGN_DIR" in cur["data_dirs"]  # the adopter's too


# ---------------------------------------------------------------- 2 --
def _docs_df(spark, docs: list[str]):
    return spark.createDataFrame([(d,) for d in docs], "data string").coalesce(1)


def test_infer_nested_key_coverage(spark):
    """Nested novelty beyond the sample (sample saw a.x, remainder
    carries a.y) must trigger another round, not silently null."""
    docs = ['{"a":{"x":1}}'] * 3 + ['{"a":{"y":2}}'] * 2
    schema = infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)
    a = {f.name: f for f in schema.fields}["a"].dataType
    assert {f.name for f in a.fields} == {"x", "y"}


def test_infer_numeric_widening(spark):
    """long-vs-double across sample cohorts widens (like Spark's own
    inference) instead of hard-failing or silently nulling 1.5."""
    docs = ['{"n":1}'] * 3 + ['{"n":1.5}'] * 2
    schema = infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)
    assert schema["n"].dataType.simpleString() == "double"


def test_infer_type_conflict_is_loud(spark):
    """A genuine type conflict (long vs string) raises — the bqs.Merge
    hard-error contract — rather than silently nulling values."""
    docs = ['{"v":1}'] * 3 + ['{"v":"abc"}'] * 2
    with pytest.raises(SchemaConflictError):
        infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)


def test_infer_homogeneous_one_round(spark):
    docs = ['{"a":{"x":1},"b":"s"}'] * 5
    schema = infer_json_schema(spark, _docs_df(spark, docs), sample_rows=10)
    assert {f.name for f in schema.fields} == {"a", "b"}


# ---------------------------------------------------------------- 3 --
def test_catalog_append_inherits_partition_and_aligns(spark, tmp_path):
    from swarm_spark.catalogs import IcebergCatalog

    cat = IcebergCatalog(spark, "r3cat_db", fmt="parquet")
    t = cat.table("part_tbl")
    try:
        df1 = spark.createDataFrame(
            [("a", "2024-01-01 10:00:00", 1)],
            "id string, timestamp string, extra bigint",
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        t.append(df1, partition_unit="day", ts_col="timestamp")

        # second append: NO partition_unit given, 'extra' column missing
        df2 = spark.createDataFrame(
            [("b", "2024-02-02 11:00:00")], "id string, timestamp string"
        ).withColumn("timestamp", F.to_timestamp("timestamp"))
        t.append(df2, ts_col="timestamp")  # must not throw, must partition

        got = spark.table(t.qualified).select("id", "_p", "extra").collect()
        by_id = {r["id"]: r for r in got}
        assert by_id["b"]["_p"] == "2024-02-02"   # inherited day transform
        assert by_id["b"]["extra"] is None        # null-filled alignment
        assert by_id["a"]["_p"] == "2024-01-01"
    finally:
        spark.sql("DROP DATABASE IF EXISTS r3cat_db CASCADE")


# ---------------------------------------------------------------- 4 --
def test_drop_fields_never_nulls_envelope(spark, tmp_path, request):
    """A rule listing an envelope name in drop_fields must not null
    the envelope in the staged write; the icepack run (directory
    adoption) and a spark_catalog parquet run (append of the staged
    rows) land the same sink contents."""
    from swarm_spark.catalogs import IcebergCatalog
    from swarm_spark.datagen import generate_transcripts
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    transcripts = generate_transcripts(spark, 400, n_convs=10, seed=7)
    rules = [
        dataclasses.replace(r, drop_fields=("text", "timestamp", "id"))
        for r in default_schema_rules()
    ]
    ns = f"r3drop_{tmp_path.name.replace('-', '_')}"
    request.addfinalizer(
        lambda: spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE"))
    catalogs = {"icepack": None,
                "spark_catalog": IcebergCatalog(spark, ns, fmt="parquet")}

    outs = {}
    for name, cat in catalogs.items():
        cfg = PipelineConfig(
            event_rules=default_event_rules(),
            schema_rules=rules,
            warehouse=str(tmp_path / f"wh_{name}"),
            tool_dim=default_tool_dim(spark),
        )
        pipe = IngestPipeline(spark, cfg, catalog=cat)
        res = pipe.run(transcripts, batch_id=f"b-{name}")
        sink = pipe.catalog.table("sink_tools").read(spark)
        assert sink.filter(F.col("timestamp").isNull()).count() == 0
        assert sink.filter(F.col("id").isNull()).count() == 0
        assert "text" not in sink.columns  # payload drop still applies
        outs[name] = sink.select(
            "id", "timestamp", "conv_id", "turn_idx"
        ).orderBy("conv_id", "turn_idx").collect()
        # every sink, every column but the per-run ingest stamps (and
        # the V1 table's storage partition column)
        for s in res.per_sink_rows:
            df = pipe.catalog.table(s).read(spark).drop(
                "ingest_id", "ingested_at", "_p")
            outs[(name, s)] = (df.columns, df.orderBy(*df.columns).collect())
    assert outs["icepack"] == outs["spark_catalog"]
    for s in res.per_sink_rows:
        assert outs[("icepack", s)] == outs[("spark_catalog", s)], s


# -------------------------------------------- GC / rewrite races ----
def test_compact_aborts_instead_of_dropping_concurrent_append(spark, tmp_path):
    """An append landing between compact's table read and its commit
    must NOT vanish: the rewrite aborts (CommitConflict) and re-runs
    from the new CURRENT."""
    from swarm_spark.tablestore import IcepackTable

    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(i,) for i in range(5)], "a bigint"))

    other = IcepackTable(str(tmp_path), "tbl")
    real_write = t._write_data
    state = {"injected": False}

    def write_then_append(df, unit, ts_col, **kw):
        out = real_write(df, unit, ts_col, **kw)
        if not state["injected"]:
            state["injected"] = True  # sneak an append in mid-rewrite
            other.append(spark.createDataFrame([(99,)], "a bigint"))
        return out

    t._write_data = write_then_append
    snap = t.compact(spark)
    assert snap["op"] == "compact"
    got = sorted(r["a"] for r in t.read(spark).collect())
    assert got == [0, 1, 2, 3, 4, 99]  # the concurrent row survived
    assert state["injected"]


def test_merge_upsert_retries_on_concurrent_append(spark, tmp_path):
    from swarm_spark.tablestore import IcepackTable

    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(1, "old"), (2, "old")], "k bigint, v string"))

    other = IcepackTable(str(tmp_path), "tbl")
    real_write = t._write_data
    state = {"injected": False}

    def write_then_append(df, unit, ts_col, **kw):
        out = real_write(df, unit, ts_col, **kw)
        if not state["injected"]:
            state["injected"] = True
            other.append(spark.createDataFrame([(3, "live")], "k bigint, v string"))
        return out

    t._write_data = write_then_append
    t.merge_upsert(spark, spark.createDataFrame([(2, "new")], "k bigint, v string"), ["k"])
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "old"), (2, "new"), (3, "live")}


def test_gc_race_no_dangling_dirs(spark, tmp_path):
    """Appenders racing a compact+expire maintenance loop: at the end,
    no kept snapshot references a deleted data dir, and not one
    appended row was lost (VERDICT r2 #8)."""
    import os as _os
    import threading

    from swarm_spark.tablestore import CommitConflict, IcepackTable

    root = str(tmp_path)
    IcepackTable(root, "tbl").append(
        spark.createDataFrame([(-1,)], "a bigint"))

    errors: list = []
    n_writers, n_appends = 3, 3

    def appender(w: int):
        try:
            t = IcepackTable(root, "tbl")
            for i in range(n_appends):
                t.append(spark.createDataFrame([(w * 100 + i,)], "a bigint"))
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def maintainer():
        try:
            t = IcepackTable(root, "tbl")
            for _ in range(3):
                try:
                    t.compact(spark)
                except CommitConflict:
                    pass  # acceptable under heavy contention
                t.expire_snapshots(keep_last=2)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(w,)) for w in range(n_writers)]
    threads.append(threading.Thread(target=maintainer))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []

    t = IcepackTable(root, "tbl")
    for s in t.snapshots():
        for d in s["data_dirs"]:
            assert _os.path.isdir(d), f"snapshot {s['snapshot_id']} references deleted {d}"
    got = sorted(r["a"] for r in t.read(spark).collect())
    expected = sorted([-1] + [w * 100 + i for w in range(n_writers) for i in range(n_appends)])
    assert got == expected


# ------------------------------------------------- dedup hardening --
def test_jaccard_inverted_oversize_guard(spark):
    """Corpus-scale calls must fail loudly: the exact inverted-index
    join is measured superlinear (SCALE.md), so >max_docs raises with
    guidance instead of a 40x wall-clock surprise."""
    from swarm_spark.operators.dedup import jaccard_pairs_inverted

    df = spark.createDataFrame([("d1", "a b c")], "doc_id string, text string")
    with pytest.raises(RuntimeError, match="superlinear"):
        jaccard_pairs_inverted(df, n_docs=200_000)
    # explicit opt-out still works
    jaccard_pairs_inverted(df, n_docs=200_000, max_docs=None,
                           max_doc_ratio=None)


def test_bands_for_threshold_table():
    from swarm_spark.operators.dedup import bands_for_threshold

    assert bands_for_threshold(0.8, 128) == 16
    assert bands_for_threshold(0.5, 128) == 32
    assert bands_for_threshold(0.3, 128) == 64
    assert bands_for_threshold(0.05, 128) == 128
    with pytest.raises(ValueError):
        bands_for_threshold(0.0)


def test_minhash_recall_below_default_threshold(spark):
    """Recall characterization at J in [0.55, 0.75): the default b=16
    banding is tuned for J>=0.8; bands_for_threshold(0.5) must keep
    recall high against the exact-Jaccard answer."""
    import random

    from swarm_spark.operators.dedup import (
        bands_for_threshold,
        jaccard_pairs_inverted,
        minhash_lsh_pairs,
    )

    rng = random.Random(123)
    vocab = [f"w{i:03d}" for i in range(4000)]
    rows = []
    for i in range(50):
        words = rng.sample(vocab, 40)
        rows.append((f"a{i:02d}", " ".join(words)))
        # partner shares the first m words -> shingle Jaccard
        # (m-2)/(76-(m-2)) in ~[0.55, 0.75) for m in [29, 35]
        m = rng.randint(29, 35)
        partner = words[:m] + rng.sample(vocab, 40 - m)
        rows.append((f"b{i:02d}", " ".join(partner)))
    df = spark.createDataFrame(rows, "doc_id string, text string")

    exact = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs_inverted(
            df, threshold=0.5, max_doc_ratio=None, max_docs=None
        ).collect()
    }
    assert len(exact) >= 40  # the construction planted ~50 such pairs
    b = bands_for_threshold(0.5, 128)
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(df, num_hashes=128, bands=b).collect()
        if r.jaccard >= 0.5
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8, f"recall {recall:.2f} with b={b}"


# ---------------------------------------------------------------- 5 --
def test_rowfilter_in_requires_sequence():
    with pytest.raises(ValueError, match="'in'"):
        RowFilter("role", "analyst", "sink", "in", "admin")


def test_rowfilter_in_membership(spark):
    rf = RowFilter("role", "analyst", "sink", "in", ("a", "sink_user"))
    df = spark.createDataFrame(
        [("sink_user",), ("a",), ("d",), ("admin",)], "sink string"
    )
    got = sorted(r["sink"] for r in df.filter(rf.predicate()).collect())
    assert got == ["a", "sink_user"]  # 'd'/'admin' no longer leak through


def test_rowfilter_unknown_op_rejected():
    with pytest.raises(ValueError, match="unknown op"):
        RowFilter("role", "analyst", "sink", "matches", "x")


def test_staged_write_files_are_conversation_clustered(spark, tmp_path):
    """The single-pass staged write sorts within partitions on
    (conv_id, turn_idx) — each landed parquet file must be physically
    sorted, which is the precondition for readers running with
    assume_ordered=True (and for RLE/dict compression wins). Verified
    on the actual files with pyarrow, not through Spark."""
    import glob

    import pyarrow.parquet as pq

    from swarm_spark.datagen import generate_transcripts
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    t = generate_transcripts(spark, 600, n_convs=12, seed=5)
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=str(tmp_path / "wh"),
        tool_dim=default_tool_dim(spark),
    )
    IngestPipeline(spark, cfg).run(t, batch_id="b1")

    files = glob.glob(str(tmp_path / "wh" / "sink_user" / "data" / "**" / "*.parquet"),
                      recursive=True)
    assert files
    checked = 0
    for f in files:
        tbl = pq.read_table(f, columns=["conv_id", "turn_idx"])
        pairs = list(zip(tbl["conv_id"].to_pylist(), tbl["turn_idx"].to_pylist()))
        assert pairs == sorted(pairs), f"unsorted file {f}"
        checked += 1
    assert checked > 0


def test_gen_sf_deterministic_and_fk_consistent(tmp_path):
    """The scale-factor upsampler is deterministic (two runs produce
    byte-identical tables) and keeps foreign keys valid across
    copies; document copies share zero 3-shingles with the originals
    (the property that keeps oracle cost linear in the copy count)."""
    import subprocess
    import sys

    import duckdb

    for tag in ("a", "b"):
        subprocess.run(
            [sys.executable, "tools/gen_sf.py", "--src", "/root/testdata/sf0.001",
             "--dst", str(tmp_path / tag), "--copies", "3"],
            check=True, cwd="/root/repo", capture_output=True,
        )
    import filecmp

    for tbl in ("orders", "documents", "embeddings"):
        assert filecmp.cmp(str(tmp_path / "a" / f"{tbl}.parquet"),
                           str(tmp_path / "b" / f"{tbl}.parquet"), shallow=False)

    con = duckdb.connect()
    d = str(tmp_path / "a")
    # FK integrity after key shifting
    orphans = con.sql(f"""
        SELECT count(*) FROM read_parquet('{d}/orders.parquet') o
        LEFT JOIN read_parquet('{d}/customer.parquet') c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL""").fetchone()[0]
    assert orphans == 0
    n_li = con.sql(f"""
        SELECT count(*) FROM read_parquet('{d}/lineitem.parquet') l
        LEFT JOIN read_parquet('{d}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IS NULL""").fetchone()[0]
    assert n_li == 0
    # copy-disjoint shingles: no doc text token survives un-mutated at
    # positions 0 mod 3, so original/copy 3-shingle overlap is zero
    overlap = con.sql(f"""
        WITH t AS (SELECT doc_id,
                          regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS t
                   FROM read_parquet('{d}/documents.parquet')),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) >= 3
                        THEN list_transform(generate_series(1, len(t) - 2),
                                            i -> array_to_string(t[i:i+2], ' '))
                        ELSE [array_to_string(t, ' ')] END AS shs
               FROM t),
        ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        bound AS (SELECT max(doc_id) AS m
                  FROM read_parquet('/root/testdata/sf0.001/documents.parquet')),
        orig AS (SELECT DISTINCT s FROM ex WHERE doc_id <= (SELECT m FROM bound)),
        copies AS (SELECT DISTINCT s FROM ex WHERE doc_id > (SELECT m FROM bound))
        SELECT count(*) FROM copies WHERE s IN (SELECT s FROM orig)""").fetchone()[0]
    assert overlap == 0
    n_copies = con.sql(f"""
        SELECT count(*) FROM read_parquet('{d}/documents.parquet')
        WHERE doc_id > (SELECT max(doc_id)
                        FROM read_parquet('/root/testdata/sf0.001/documents.parquet'))
        """).fetchone()[0]
    assert n_copies > 0  # the copies partition is non-empty (no vacuous pass)


def test_no_orphan_batch_staging_after_run(spark, tmp_path):
    """Successful single-pass runs must not leave one _batch/<request>
    dir per batch behind (metadata litter at 10^4-batch backfills);
    failed attempts reclaim their staging too."""
    from swarm_spark.datagen import generate_transcripts
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules,
        default_schema_rules,
        default_tool_dim,
    )

    t = generate_transcripts(spark, 300, n_convs=8, seed=2)
    wh = str(tmp_path / "wh")
    cfg = PipelineConfig(
        event_rules=default_event_rules(),
        schema_rules=default_schema_rules(),
        warehouse=wh,
        tool_dim=default_tool_dim(spark),
    )
    pipe = IngestPipeline(spark, cfg)
    pipe.run(t, batch_id="b1")
    pipe.run(t, batch_id="b2")
    leftover = os.listdir(os.path.join(wh, "_batch")) \
        if os.path.isdir(os.path.join(wh, "_batch")) else []
    assert leftover == []


def test_locked_claim_never_adopted_even_when_stale(spark, tmp_path):
    """A LIVE owner holds an flock on its claim inode across the whole
    commit window; a contender must refuse adoption while the lock is
    held — even when the file's mtime looks ancient (GC-pause / stall
    case) — and may adopt once it is released."""
    import fcntl

    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([(1,)], "a bigint"))
    path = _plant_claim(t, sid=2, mtime_ago=120.0)  # stale-looking
    fd = os.open(path, os.O_RDONLY)
    fcntl.flock(fd, fcntl.LOCK_EX)  # simulate the live stalled owner
    try:
        with pytest.raises(RuntimeError, match="contention"):
            t.append(spark.createDataFrame([(2,)], "a bigint"))
        with open(path) as fh:
            assert json.load(fh)["_writer"] == "other-writer"  # untouched
    finally:
        os.close(fd)
    # lock released (owner died): now adoptable
    snap = t.append(spark.createDataFrame([(3,)], "a bigint"))
    assert snap["snapshot_id"] == 2
    assert t.read(spark).count() == 2


def test_guarded_metadata_never_leaks_masked_columns(spark, tmp_path):
    """EVERY GuardedTable entry is gated and snapshot metadata is
    scrubbed: a masked column's name must not be learnable via
    current_snapshot()/snapshots(), and arbitrary methods re-check
    authorize (code-review r3 finding)."""
    from swarm_spark.auth import (
        AccessPolicy,
        AllowRule,
        GuardedTable,
        Unauthorized,
    )

    t = IcepackTable(str(tmp_path), "tbl")
    t.append(spark.createDataFrame([("a", "s")], "k string, secret string"))
    policy = AccessPolicy(
        allow_rules=[AllowRule("any", (("role", "in", ["analyst", "admin"]),))],
        column_masks={"analyst": ["secret"]},
    )
    req = {"role": "analyst"}
    g = GuardedTable(t, policy, req)
    snap = g.current_snapshot()
    assert "secret" not in snap["schema"]
    for s in g.snapshots():
        assert "secret" not in s["schema"]
    # admin still sees the full schema
    g_admin = GuardedTable(t, policy, {"role": "admin"})
    assert "secret" in g_admin.current_snapshot()["schema"]
    # denied principal: even incidental metadata methods are gated
    g_deny = GuardedTable(t, policy, {"role": "intern"})
    with pytest.raises(Unauthorized):
        g_deny.current_snapshot()
    with pytest.raises(Unauthorized):
        g_deny.exists()


def test_footer_rows_accepts_file_uri(spark, tmp_path):
    from swarm_spark.filestats import collect_dir_stats

    def footer_rows(path):
        st = collect_dir_stats(path)
        return None if st is None else sum(f["rows"] for f in st["files"].values())

    p = str(tmp_path / "t")
    spark.createDataFrame([(i,) for i in range(7)], "a bigint").write.parquet(p)
    assert footer_rows(p) == 7
    assert footer_rows("file:" + p) == 7
    assert footer_rows("file://" + p) == 7
    assert footer_rows("s3://bucket/x") is None


def test_infer_probe_path_detects_conflicts(spark, monkeypatch):
    """Above PROBE_LEAF_THRESHOLD the presence check switches to the
    all-strings probe parse — it must detect the same nested novelty
    and type conflicts as the per-leaf path."""
    import swarm_spark.pipeline_json as pj

    monkeypatch.setattr(pj, "PROBE_LEAF_THRESHOLD", 0)  # force probe
    docs = ['{"a":{"x":1}}'] * 3 + ['{"a":{"y":2}}'] * 2
    schema = infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)
    a = {f.name: f for f in schema.fields}["a"].dataType
    assert {f.name for f in a.fields} == {"x", "y"}

    docs = ['{"n":1}'] * 3 + ['{"n":1.5}'] * 2
    schema = infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)
    assert schema["n"].dataType.simpleString() == "double"

    docs = ['{"v":1}'] * 3 + ['{"v":"abc"}'] * 2
    with pytest.raises(SchemaConflictError):
        infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)


def test_guarded_mutator_returns_scrubbed_and_noncallables_gated(spark, tmp_path):
    """Snapshot dicts returned by MUTATORS are scrubbed too, and
    non-callable attributes are gated (second review pass)."""
    from swarm_spark.auth import (
        AccessPolicy,
        AllowRule,
        GuardedTable,
        Unauthorized,
    )

    t = IcepackTable(str(tmp_path), "tbl")
    policy = AccessPolicy(
        allow_rules=[AllowRule("any", (("role", "in", ["analyst"]),))],
        column_masks={"analyst": ["secret"]},
    )
    g = GuardedTable(t, policy, {"role": "analyst"})
    snap = g.append(spark.createDataFrame([("a", "s")], "k string, secret string"))
    assert "secret" not in snap["schema"]          # append's return scrubbed
    snap2 = g.overwrite(spark.createDataFrame([("b", "x")], "k string, secret string"))
    assert "secret" not in snap2["schema"]
    g_deny = GuardedTable(t, policy, {"role": "intern"})
    with pytest.raises(Unauthorized):
        g_deny.path  # identity/layout attrs are entries too
    with pytest.raises(Unauthorized):
        g_deny.name


def test_infer_probe_detects_struct_vs_scalar(spark, monkeypatch):
    """Probe mode must catch a SCALAR where the schema has a STRUCT
    (the probe preserves struct shape, so presence for nested fields
    comes from the raw path — second review pass)."""
    import swarm_spark.pipeline_json as pj

    monkeypatch.setattr(pj, "PROBE_LEAF_THRESHOLD", 0)  # force probe
    docs = ['{"a":{"x":1}}'] * 3 + ['{"a":5}'] * 2
    with pytest.raises(SchemaConflictError):
        infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)
    # array-vs-scalar likewise
    docs = ['{"a":[1,2]}'] * 3 + ['{"a":7}'] * 2
    with pytest.raises(SchemaConflictError):
        infer_json_schema(spark, _docs_df(spark, docs), sample_rows=2)


def test_footer_rows_path_with_special_chars(spark, tmp_path):
    from swarm_spark.filestats import collect_dir_stats

    p = str(tmp_path / "wh#prod")
    spark.createDataFrame([(1,), (2,)], "a bigint").write.parquet(p)
    st = collect_dir_stats(p)
    assert sum(f["rows"] for f in st["files"].values()) == 2  # '#' not a fragment
