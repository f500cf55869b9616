"""Round-6 optimization pins: the rewritten expression forms must be
bit-identical to the shapes they replaced, and the concurrency fixes
must behave as documented."""

import pyspark.sql.functions as F

from swarm_spark.operators.dedup import _band_buckets, minhash_signature
from swarm_spark.operators.util import spread


def test_minhash_signature_matches_unrolled(spark):
    """transform-over-sequence signature == the unrolled per-hash
    array_min subtrees it replaced."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs"),
         (3, "the quick brown fox jumps over the lazy cat")],
        "doc_id bigint, text string")
    from swarm_spark.operators.dedup import shingles

    base = docs.select(F.col("doc_id"), shingles("text").alias("_sh"))
    n, seed = 16, 42
    new = base.select("doc_id", minhash_signature("_sh", n, seed).alias("s")) \
        .orderBy("doc_id").collect()

    # the pre-round-6 unrolled form (single-arg closure per hash — a
    # two-arg lambda would make transform() pass the array index)
    def mk(i):
        return lambda s: F.xxhash64(s, F.lit(seed + i))

    mins = [F.array_min(F.transform(F.col("_sh"), mk(i))) for i in range(n)]
    old = base.select("doc_id", F.array(*mins).alias("s")) \
        .orderBy("doc_id").collect()
    assert [list(r["s"]) for r in new] == [list(r["s"]) for r in old]

    # band buckets: transform form == unrolled hash(slice, lit(b)) form
    sig = base.select("doc_id", minhash_signature("_sh", n, seed).alias("_sig"))
    rpb = n // 4
    new_b = sig.select("doc_id", _band_buckets(4, rpb).alias("b")) \
        .orderBy("doc_id").collect()
    old_arr = F.array(*[
        F.hash(F.slice(F.col("_sig"), b * rpb + 1, rpb), F.lit(b))
        for b in range(4)])
    old_b = sig.select("doc_id", old_arr.alias("b")).orderBy("doc_id").collect()
    assert [list(r["b"]) for r in new_b] == [list(r["b"]) for r in old_b]


def test_spread_is_noop_when_wide(spark):
    df = spark.range(100).repartition(64)
    assert spread(df) is df
    narrow = spark.range(100).coalesce(1)
    out = spread(narrow)
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_merge_rebuild_recomputes_per_attempt(spark, tmp_path):
    """merge_upsert(rebuild=) must re-invoke the builder on a conflict
    retry so a derived batch is recomputed from fresh state."""
    from swarm_spark.tablestore import IcepackCatalog

    t = IcepackCatalog(str(tmp_path)).table("m")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string"))

    calls = []

    def rebuild():
        calls.append(1)
        if len(calls) == 1:
            # simulate a concurrent append landing after the delta was
            # derived but before the merge commits
            t.append(spark.createDataFrame([(9, "z")], "k bigint, v string"))
        return spark.createDataFrame([(2, "B")], "k bigint, v string")

    snap = t.merge_upsert(spark, None, keys=["k"], rebuild=rebuild)
    assert len(calls) == 2  # conflicted once, rebuilt once
    rows = {(r["k"], r["v"]) for r in t.read(spark).collect()}
    assert rows == {(1, "a"), (2, "B"), (9, "z")}
    assert snap["rows_matched"] == 1


def test_merge_on_empty_table_commits_as_merge(spark, tmp_path):
    from swarm_spark.tablestore import IcepackCatalog

    t = IcepackCatalog(str(tmp_path)).table("m0")
    snap = t.merge_upsert(
        spark, spark.createDataFrame([(1, "a")], "k bigint, v string"),
        keys=["k"])
    assert t.current_snapshot()["op"] == "merge"
    assert snap["rows_inserted"] == 1
    assert {(r["k"], r["v"]) for r in t.read(spark).collect()} == {(1, "a")}
