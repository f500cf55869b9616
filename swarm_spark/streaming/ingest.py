"""Streaming ingest — the rebuild of swarm's Pub/Sub serving paths.

swarm's two streaming modes (/root/reference/pkg/controller/server/
server.go:112-165 push, pkg/usecase/job.go:15-116 pull) both reduce
to: new objects arrive → parse → route → sink, with a dedup gate per
message. The Structured Streaming re-expression:

  * source  — file stream over a transcripts directory (at scale:
    Kafka/Kinesis; the transform graph is source-agnostic)
  * parse/route — the SAME plan builders as batch
    (IngestPipeline.routed with assume_ordered=True: windows over
    rows are not stream-expressible; ordering is the source contract)
  * windowed aggregate — event-time window + watermark for late turns
  * sink — foreachBatch into icepack tables keyed by epoch id:
    Spark's epoch + the manifest gate give exactly-once per
    micro-batch (the Firestore message-state analogue — a replayed
    epoch is skipped, mirroring server.go:126-144)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import IngestPipeline

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger or 16)
    )
    return reader.parquet(path)


def dedupe_deliveries(
    stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Redelivery guard at the stream level — the Pub/Sub
    at-least-once analogue (reference redelivers a whole object on
    nack, pkg/controller/server/server.go; here individual rows can
    also repeat): drop rows whose business key was already seen within
    the event-time watermark. dropDuplicatesWithinWatermark keeps the
    dedup STATE BOUNDED — keys older than the watermark are GC'd, so
    state size follows the watermark window, not stream lifetime
    (plain dropDuplicates on a stream grows state forever). Duplicates
    arriving later than the watermark are the manifest gate's job
    (batch-level exactly-once), not this operator's."""
    return stream.withWatermark(ts_col, watermark) \
        .dropDuplicatesWithinWatermark(list(keys))


def hourly_counts_stream(
    stream: DataFrame, pipe: IngestPipeline, watermark: str = "2 hours"
) -> DataFrame:
    """Per (sink, role, tool, hour) streaming counts with late-data
    watermark — the streaming twin of IngestPipeline.aggregate."""
    pipe.config.assume_ordered = True
    routed = pipe.routed(stream, ingest_id="stream")
    return (
        routed.withWatermark("timestamp", watermark)
        .groupBy(
            F.col("sink_table").alias("sink"),
            "role",
            F.coalesce("called_tool", "tool").alias("tool"),
            F.window("timestamp", "1 hour").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("sink", "role", "tool", F.col("w.start").alias("hour"), "n")
    )


def start_ingest_stream(
    stream: DataFrame,
    pipe: IngestPipeline,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    epoch_mode: str = "full",
):
    """Continuous ingest: every micro-batch runs the routed→sinks
    pipeline exactly once (manifest keyed by epoch). Replayed epochs
    after a crash are skipped — checkpoint + manifest together give
    end-to-end exactly-once into icepack.

    epoch_mode:
      'full'  — each epoch also commits the per-batch hourly aggregate
                and an audit row (3 Spark jobs/epoch). Right for big,
                infrequent epochs.
      'light' — each epoch is ONE Spark job on icepack: the
                single-pass staged write with per-sink directory
                adoption (a catalog without adoption appends each
                sink's staged rows: one more write per sink); counts
                ride the job as Observations and per-epoch lineage
                lives in the manifest entry (batch_id=epoch → snapshot
                ids), which the stream-level audit can be derived
                from. The hourly aggregate belongs to the
                INCREMENTAL streaming query (hourly_counts_stream)
                instead of a per-epoch batch shuffle — re-aggregating
                every epoch from scratch is exactly the fixed cost a
                small-epoch stream can't afford. With no aggregate,
                routed is read once per epoch and pipe.run caches
                nothing.
    """
    if epoch_mode not in ("full", "light"):
        raise ValueError(f"epoch_mode={epoch_mode!r}")
    light = epoch_mode == "light"
    pipe.config.assume_ordered = True

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        pipe.run(batch_df, batch_id=f"epoch-{epoch_id:08d}",
                 with_agg=not light, with_audit=not light)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
