"""Round-6 phase profiler (guide §1: measure first, noop sink).

Times the expensive bench queries phase by phase so optimization
targets the real cost, not a guess. Run:

    python tools/profile_r6.py [ingest|ann|dedup|all]

Prints one line per phase. Not part of the frozen bench contract —
bench.py is the measurement artifact; this is the microscope.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


class T:
    def __init__(self):
        self.t0 = time.time()
        self.last = self.t0

    def lap(self, label):
        now = time.time()
        print(f"  {label:<42} {now - self.last:7.3f}s")
        self.last = now

    def total(self, label="TOTAL"):
        print(f"  {label:<42} {time.time() - self.t0:7.3f}s")


def profile_ingest(spark):
    from swarm_spark.datagen import transcripts_from_events
    from swarm_spark.pipeline import IngestPipeline, PipelineConfig
    from swarm_spark.presets import (
        default_event_rules, default_schema_rules, default_tool_dim)

    t_path = tempfile.mkdtemp(prefix="prof_t_")
    transcripts_from_events(spark, SF_DIR).write.mode("overwrite").parquet(t_path)
    t = spark.read.parquet(t_path)

    def mkpipe():
        cfg = PipelineConfig(
            event_rules=default_event_rules(),
            schema_rules=default_schema_rules(),
            warehouse=tempfile.mkdtemp(prefix="prof_wh_"),
            tool_dim=default_tool_dim(spark),
        )
        return IngestPipeline(spark, cfg)

    # warm
    p = mkpipe()
    p.run(t, batch_id="warm")
    for tag in ("a", "b"):
        print(f"ingest_e2e phases ({tag}):")
        p = mkpipe()
        tm = T()
        noop(p.routed(t))
        tm.lap("routed plan (noop, no persist)")
        res = p.run(t, batch_id=f"prof{tag}")
        tm.lap(f"full run() [routed {res.routed_rows}]")
        tm.total()

    # inner phase split of run(): replicate its stages
    import uuid
    print("run() stage split:")
    p = mkpipe()
    tm = T()
    rid = uuid.uuid4().hex
    routed = p.routed(t, ingest_id=rid)
    from pyspark import StorageLevel
    routed = routed.persist(StorageLevel.MEMORY_AND_DISK)
    from pyspark.sql import Observation
    import pyspark.sql.functions as F
    sinks = sorted({r.sink_table for r in p.config.schema_rules})
    rule_by_sink = {r.sink_table: r for r in p.config.schema_rules}
    obs_in = Observation("prof-in")
    t_obs = t.observe(obs_in, F.count(F.lit(1)).alias("n"))
    routed2 = p.routed(t_obs, ingest_id=rid).persist(StorageLevel.MEMORY_AND_DISK)
    tm.lap("plan build")
    from swarm_spark.manifest import BatchTxn

    with BatchTxn(p.manifest, p.catalog, "prof-split", rid) as txn:
        out = p._single_pass_write(routed2, txn, sinks, rule_by_sink, "", obs_in)
    tm.lap("single_pass_write (write+verify+adopts)")
    agg = p.aggregate(routed2)
    p.catalog.table("_agg_hourly").append(
        agg.withColumn("batch_id", F.lit("prof"))
        .withColumn("timestamp", F.col("hour")), ts_col="timestamp")
    tm.lap("aggregate + append")
    routed2.unpersist()
    tm.total()
    print(f"  (routed rows {out[1]}, input {out[2]})")


def profile_ann(spark):
    import pyspark.sql.functions as F
    from swarm_spark.operators.clustering import fit_centroids, kmeans
    from swarm_spark.operators.similarity import pq_encode, pq_topk, pq_train
    from swarm_spark.operators.dedup import semantic_dedup_keep

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding")
    print("pq_ann phases:")
    tm = T()
    books = pq_train(emb, dim=64, m=4, k=16, iterations=1)
    tm.lap("pq_train (m=4 codebooks)")
    codes = pq_encode(emb, books)
    query = list(emb.orderBy("vec_id").first()["embedding"])
    tm.lap("query fetch (first)")
    pq_topk(codes, books, query, k=10).collect()
    tm.lap("pq_encode+pq_topk collect")
    tm.total()

    print("semantic_dedup phases:")
    tm = T()
    a = kmeans(emb, k=8, iterations=2)
    tm.lap("kmeans plan")
    noop(a)
    tm.lap("kmeans noop")
    dup = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000))
    n = semantic_dedup_keep(emb.unionByName(dup), k=8, iterations=2,
                            threshold=0.999).count()
    tm.lap(f"semantic_dedup_keep count ({n})")
    tm.total()


def profile_dedup(spark):
    import pyspark.sql.functions as F
    from swarm_spark.operators.dedup import minhash_lsh_pairs, dedup_exact
    from swarm_spark.operators.spans import duplicate_spans, shingle_positions

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    print("minhash phases:")
    tm = T()
    base = docs.select(F.col("doc_id").alias("_id"))
    noop(docs.select("doc_id", "text"))
    tm.lap("docs scan noop")
    from swarm_spark.operators.dedup import shingles, minhash_signature
    sh = docs.select(F.col("doc_id").alias("_id"), shingles("text").alias("_sh"))
    noop(sh)
    tm.lap("shingles noop")
    sig = sh.withColumn("_sig", minhash_signature("_sh", 64, 42))
    noop(sig)
    tm.lap("minhash signature (64) noop")
    pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=16)
    n = pairs.filter(F.col("inter") * 10 >= F.col("union_sz") * 8).count()
    tm.lap(f"full minhash_lsh_pairs count ({n})")
    tm.total()

    print("span_dedup phases:")
    tm = T()
    sp = shingle_positions(docs, k=8)
    noop(sp)
    tm.lap("shingle_positions noop")
    n = duplicate_spans(docs, k=8, min_freq=2, min_run=1).count()
    tm.lap(f"duplicate_spans count ({n})")
    tm.total()

    print("curation phases:")
    tm = T()
    n = dedup_exact(docs).count()
    tm.lap(f"dedup_exact count ({n})")
    import __spark_entry__ as e
    n = e.q_curation(spark, SF_DIR).count()
    tm.lap(f"q_curation count ({n})")
    tm.total()


def main():
    from swarm_spark.session import get_spark
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("profile_r6", cpus=CPUS, shuffle_partitions=CPUS)
    print(f"loadavg {os.getloadavg()}")
    if which in ("ingest", "all"):
        profile_ingest(spark)
    if which in ("ann", "all"):
        profile_ann(spark)
    if which in ("dedup", "all"):
        profile_dedup(spark)


if __name__ == "__main__":
    main()
