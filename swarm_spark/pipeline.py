"""The end-to-end ingest DAG: parse → enrich → route → aggregate.

Re-expresses swarm's UseCase.Load (/root/reference/pkg/usecase/load.go:59-136)
as ONE declarative Spark plan over the transcripts table plus a short
driver-side fan-out loop for the per-sink writes:

    transcripts ──(window: stable turn order)──(regexp extract: JVM)──
      ──(event rules → schema_name explode)──(⋈ broadcast schema_rules)──
      ──(⋈ broadcast tool_dim)──(envelope: id/ts/ingest_id)── routed
    routed ──persist──┬── ONE partitionBy(_sink,_p) write job →
                      │     per-sink snapshot ADOPTION (metadata commits)
                      ├── groupBy(sink, role, tool, hour).count → agg table
                      └── audit LoadLog row

Scale notes (10^12 turns):
  * The parse/route/enrich segment is shuffle-free: narrow column
    expressions + broadcast joins only. The ONLY wide dependencies are
    the optional turn-ordering window (partitioned by conv_id — bounded
    per-conversation, never by global skew) and the aggregate shuffle
    (low-cardinality keys, map-side partial agg + AQE).
  * `assume_ordered=True` removes the window entirely when the source
    guarantees unique turn_idx per conv (Iceberg sort order at write).
  * The schema_rules and tool_dim dimension tables are JVM-local
    relations (session.local_frame), so their broadcasts are one-task
    JVM jobs. A caller-supplied tool_dim built with
    `createDataFrame(<list>)` instead pays a Python-worker job on every
    query that broadcasts it; build it with local_frame.
  * The multi-sink fan-out is ONE write job (write_mode='single_pass'):
    every sink's rows stage under one partitionBy(_sink, _p) output,
    adopted per-sink as snapshots — sink count costs metadata commits,
    not Spark jobs. This mirrors swarm's single parse + per-dest
    worker pool (load.go:96-121) without re-reading the source; the
    N-filtered-writes path survives as write_mode='per_sink' for A/B.
"""

from __future__ import annotations

import os
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .filestats import local_path
from .functions.extract import extract_columns
from .functions.normalize import content_hash_id
from .manifest import STATE_COMPLETED, STATE_FAILED, STATE_RUNNING, ManifestStore
from .rules import EventRule, SchemaRule, route, rules_to_df
from .session import local_frame
from .tablestore import IcepackCatalog

PAYLOAD_FIELDS = [
    "conv_id", "turn_idx", "role", "text", "tool",
    "called_tool", "call_args", "error_code", "actor",
    "tool_family", "is_privileged",
]

# one LoadLog row per batch (≙ model.LoadLog, bigquery.go:77-83)
AUDIT_DDL = (
    "request_id string, batch_id string, success boolean, error string, "
    "input_rows bigint, routed_rows bigint, elapsed_sec double, "
    "ingests array<struct<sink:string,log_count:bigint,snapshot_id:bigint,"
    "success:boolean>>"
)


@dataclass
class PipelineConfig:
    event_rules: list[EventRule]
    schema_rules: list[SchemaRule]
    warehouse: str
    # broadcast enrichment dimension (tool → family/privilege). Build it
    # with session.local_frame (as presets.default_tool_dim does): a
    # createDataFrame(<list>) dimension runs a Python-worker job on
    # every query that broadcasts it.
    tool_dim: DataFrame | None = None
    on_unmatched: str = "skip"       # record-level default (load.go:216-219)
    assume_ordered: bool = False     # skip the ordering window at scale
    # ≙ ingestTableConcurrency (usecase.go:37). Default 1: each write
    # is already fully parallel across executor cores, and measured
    # local steady state shows concurrent write JOBS over one cached
    # DF thrash (1M rows: 21 s sequential vs 53 s at pool=8). Raise
    # only on a wide cluster where single writes leave executors idle.
    sink_concurrency: int = 1
    # routed-DF caching across the per-sink fan-out: 'memory_and_disk'
    # (default), 'disk_only' (routed ≫ RAM), or 'none' (100TB batches:
    # re-deriving the narrow parse per sink beats caching the data —
    # SCALE.md "Memory")
    persist_routed: str = "memory_and_disk"
    # 'single_pass' (default): ONE partitionBy(_sink, _p) write job
    # stages every sink's rows, each table then ADOPTS its
    # subdirectory as a snapshot — N sinks cost one Spark write job +
    # N metadata commits, and the routed counts ride that job's
    # Observation (no separate .count() materialization).
    # 'per_sink': the N-filtered-writes fallback (one job per sink)
    # for A/B benchmarking.
    write_mode: str = "single_pass"
    audit_table: str = "_audit"
    agg_table: str = "_agg_hourly"
    # with on_unmatched='keep', rows no event rule matched are appended
    # here instead of being dropped silently — the operational middle
    # ground between swarm's event-level error and record-level skip
    dead_letter_table: str = ""
    # data-quality gate on the STAGED batch (write-audit-publish): sink
    # name → expectation rules (operators/expectations.py forms); key
    # "*" applies to every sink. Rules run over the staged files AFTER
    # the fan-out write and BEFORE any sink adopts its snapshot, so a
    # failing batch never becomes visible in ANY sink (all-or-nothing,
    # stronger than per-sink WAP). One fused agg job per audited sink.
    # single_pass mode only (the default).
    sink_expectations: dict | None = None
    manifest_dir: str = field(default="")

    def __post_init__(self):
        names = {r.schema_name for r in self.schema_rules}
        for er in self.event_rules:
            if er.schema_name not in names:
                raise ValueError(
                    f"event rule {er.rule_id} targets unknown schema "
                    f"{er.schema_name!r} (Source.Validate, policy.go:32-52)"
                )
        # the catalog, the manifest and the staged recount touch these
        # dirs from Python: a file: URI must name its plain path there
        self.warehouse = local_path(self.warehouse) or self.warehouse
        if not self.manifest_dir:
            self.manifest_dir = f"{self.warehouse}/_manifest"
        self.manifest_dir = local_path(self.manifest_dir) or self.manifest_dir


@dataclass
class LoadResult:
    batch_id: str
    request_id: str
    skipped: bool
    per_sink_rows: dict
    snapshot_ids: dict
    input_rows: int = 0
    routed_rows: int = 0
    elapsed_sec: float = 0.0

    @property
    def turns_per_sec(self) -> float:
        return self.input_rows / self.elapsed_sec if self.elapsed_sec else 0.0


def _parquet_footer_rows(root: str) -> int | None:
    """Row count of a staged parquet directory from file FOOTERS only
    (metadata, ~8 KB per file) — the independent append-count
    verification (X6, bq/client.go:240-248) without a Spark job. The
    Spark fallback (`read.parquet(dir).count()`) spawns ~1 task/file
    on tiny batches (measured 678 tasks for a 10k-row batch); this
    reads the same footers driver-side with a thread pool. Returns
    None for non-local paths (object stores) — the caller then uses
    the distributed count, which at that scale is metadata-bound
    anyway."""
    path = local_path(root)
    if path is None:
        return None  # object store → distributed fallback
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    files = []
    for dirpath, _, fns in os.walk(path):
        files.extend(
            os.path.join(dirpath, f)
            for f in fns
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    if not files:
        return 0
    with ThreadPoolExecutor(min(32, len(files))) as pool:
        return sum(pool.map(lambda f: pq.ParquetFile(f).metadata.num_rows, files))


class IngestPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig,
                 catalog=None):
        self.spark = spark
        self.config = config
        # any Catalog-protocol object works (catalogs.IcebergCatalog for
        # a real Spark/Iceberg catalog); icepack is the jar-less default.
        # Catalogs without adopt_dir (no directory adoption concept)
        # require write_mode='per_sink'.
        self.catalog = catalog if catalog is not None else IcepackCatalog(config.warehouse)
        if config.write_mode == "single_pass" and not getattr(
            self.catalog, "supports_adopt", False
        ):
            raise ValueError(
                "write_mode='single_pass' needs a catalog with directory "
                "adoption (icepack); use write_mode='per_sink' with this one"
            )
        self.manifest = ManifestStore(config.manifest_dir)
        # schema_rules are fixed for the pipeline's lifetime: build the
        # dimension once (compile-once, policy/client.go:111-118)
        self.rules_dim = rules_to_df(spark, config.schema_rules)

    # ------------------------------------------------------------------
    # plan builders (pure transformations — composable, testable)
    # ------------------------------------------------------------------
    def parsed(self, transcripts: DataFrame) -> DataFrame:
        """Stable turn ordering + vectorized field extraction.

        turn_seq is the per-conversation dense position (window over
        conv_id ORDER BY turn_idx — the north_star ordering contract);
        prev_role gives per-turn context for routing rules.
        """
        df = transcripts
        if not self.config.assume_ordered:
            w = Window.partitionBy("conv_id").orderBy("turn_idx")
            df = df.withColumn("turn_seq", F.row_number().over(w) - 1)
            df = df.withColumn("prev_role", F.lag("role").over(w))
        else:
            df = df.withColumn("turn_seq", F.col("turn_idx"))
            df = df.withColumn("prev_role", F.lit(None).cast("string"))
        return df.select("*", *extract_columns("text"))

    def enriched(self, parsed: DataFrame) -> DataFrame:
        """Broadcast lookup enrichment (tool metadata)."""
        if self.config.tool_dim is None:
            return parsed.withColumn("tool_family", F.lit(None).cast("string")) \
                         .withColumn("is_privileged", F.lit(None).cast("boolean"))
        dim = self.config.tool_dim.select(
            F.col("tool").alias("_dim_tool"), "tool_family", "is_privileged"
        )
        joined = parsed.join(
            F.broadcast(dim),
            F.coalesce(parsed["called_tool"], parsed["tool"]) == dim["_dim_tool"],
            "left",
        )
        return joined.drop("_dim_tool")

    def routed(self, transcripts: DataFrame, ingest_id: str | None = None) -> DataFrame:
        """Full routing plan: returns one row per (turn, matched schema)
        with envelope columns (id, ingest_id, timestamp, ingested_at)
        and sink metadata — the DataFrame analogue of LogRecordSet
        (/root/reference/pkg/domain/model/bigquery.go:122-128)."""
        cfg = self.config
        ingest_id = ingest_id or uuid.uuid4().hex
        df = self.enriched(self.parsed(transcripts))
        df = route(df, cfg.event_rules, on_unmatched=cfg.on_unmatched)

        # broadcast hash join against the schema_rules dimension;
        # 'keep' routes unmatched rows through with null sink_table so
        # run() can divert them to the dead-letter table
        join_how = "left" if cfg.on_unmatched == "keep" else "inner"
        df = df.join(F.broadcast(self.rules_dim), "schema_name", join_how)

        payload = F.struct(*[F.col(c) for c in PAYLOAD_FIELDS if c in df.columns])
        # id: per-rule id_field, else content hash (types.go:27-34)
        id_col = content_hash_id(payload)
        for r in cfg.schema_rules:
            if r.id_field:
                id_col = F.when(
                    F.col("schema_name") == r.schema_name,
                    F.col(r.id_field).cast("string"),
                ).otherwise(id_col)
        return (
            df.withColumn("id", id_col)
            .withColumn("ingest_id", F.lit(ingest_id))
            .withColumn("timestamp", F.col("ts"))
            .withColumn("ingested_at", F.current_timestamp())
        )

    def aggregate(self, routed: DataFrame) -> DataFrame:
        """Windowed counts per (sink, role, tool, hour) —
        BASELINE.json north_star A4. Map-side partial agg + AQE keep
        this shuffle trivial even under conv_id skew because the
        grouping keys are low-cardinality."""
        return (
            routed.groupBy(
                F.col("sink_table").alias("sink"),
                "role",
                F.coalesce("called_tool", "tool").alias("tool"),
                F.date_trunc("hour", "timestamp").alias("hour"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # ------------------------------------------------------------------
    # execution (actions; exactly-once gated)
    # ------------------------------------------------------------------
    def _single_pass_write(self, routed: DataFrame, request_id: str,
                           sinks: list[str], rule_by_sink: dict,
                           dl_name: str, commit_adopt, obs_in):
        """ONE Spark write job for every sink (the multi-sink fan-out
        that used to be N filtered writes):

            routed ──(null per-sink dropped fields)──(_p per-sink
              partition transform)──repartition(_sink,_p)──
              partitionBy(_sink,_p) parquet → <wh>/_batch/<request_id>

        then each sink table ADOPTS its `_sink=<name>` subdirectory as
        an append snapshot (metadata-only). Per-sink row counts ride
        the job as Observation aggregates — no .count()
        materialization pass, and the input-rows observation collects
        on the same job. A cross-check re-counts the staged files from
        parquet footers (a metadata-only job) so the commit counts
        stay independently verified (X6, bq/client.go:240-248)."""
        from pyspark.sql import Observation

        from .tablestore import _PART_FMT

        cfg = self.config
        staged = routed
        if dl_name:
            staged = staged.withColumn(
                "_sink", F.coalesce(F.col("sink_table"), F.lit(dl_name))
            )
        else:
            staged = staged.filter(F.col("sink_table").isNotNull()) \
                           .withColumn("_sink", F.col("sink_table"))

        payload_cols = [c for c in PAYLOAD_FIELDS if c in routed.columns]
        out_cols = []
        for c in ["id", "ingest_id", "timestamp", "ingested_at"] + payload_cols:
            # drop_fields applies to PAYLOAD columns only — envelope
            # columns (id, ingest_id, timestamp, ingested_at) are
            # immune in BOTH write modes (per_sink already filters
            # only payload; a rule naming 'timestamp' must not null
            # the sink's timestamp/_p here either)
            dropping = [r.sink_table for r in cfg.schema_rules
                        if c in PAYLOAD_FIELDS and c in set(r.drop_fields)]
            if dropping:
                # true removal semantics: the field is nulled for sinks
                # that drop it (and excluded from their logical schema)
                out_cols.append(
                    F.when(F.col("_sink").isin(dropping), F.lit(None))
                    .otherwise(F.col(c)).alias(c)
                )
            else:
                out_cols.append(F.col(c))
        p = F.lit(None).cast("string")
        for r in cfg.schema_rules:
            if r.partition_unit:
                p = F.when(F.col("_sink") == r.sink_table,
                           F.date_format("timestamp", _PART_FMT[r.partition_unit])
                           ).otherwise(p)
        staged = staged.select("_sink", *out_cols).withColumn("_p", p)

        all_sinks = sinks + ([dl_name] if dl_name else [])
        obs_w = Observation(f"w-{request_id[:8]}")
        aggs = [F.count(F.lit(1)).alias("_total")] + [
            F.sum(F.when(F.col("_sink") == s, 1).otherwise(0)).alias(f"n_{i}")
            for i, s in enumerate(all_sinks)
        ]
        staged = staged.observe(obs_w, *aggs)

        # explicit-count repartition on (_sink, _p): file creation stays
        # parallel across the task width AND one file per hive partition
        # (see tablestore._write_data for the two failure modes).
        # sortWithinPartitions(conv_id, turn_idx): files land
        # conversation-clustered and turn-ordered — better RLE/dict
        # compression and the physical precondition for readers that
        # run with assume_ordered=True (Iceberg sort-order analogue).
        n = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        batch_dir = os.path.join(cfg.warehouse, "_batch", request_id)
        sort_cols = [c for c in ("conv_id", "turn_idx") if c in staged.columns]
        (staged.repartition(n, F.col("_sink"), F.col("_p"))
         .sortWithinPartitions("_sink", "_p", *sort_cols)
         .write.mode("overwrite").partitionBy("_sink", "_p").parquet(batch_dir))

        vals = obs_w.get
        input_rows = int(obs_in.get["n"])
        counts = {s: int(vals[f"n_{i}"] or 0) for i, s in enumerate(all_sinks)}
        total = int(vals["_total"] or 0)
        if sum(counts.values()) != total:
            raise RuntimeError(
                f"single-pass fan-out accounting broken: {counts} vs {total}")
        # Independent recount from the staged parquet footers, FUSED
        # with the per-sink stats-sidecar build: one threaded footer
        # pass per sink dir yields both the min/max sidecar (which
        # adopt_dir would otherwise recompute after the move — the
        # sidecar rides the rename) and the per-file row counts whose
        # sum is the recount. Saves a whole extra footer sweep per
        # batch (two sweeps → one; ~0.5 s per 800-file batch, and per
        # streaming epoch).
        if total > 0:
            from . import filestats

            written: int | None = 0
            for s in all_sinks:
                sdir = os.path.join(batch_dir, f"_sink={s}")
                if not os.path.isdir(sdir):
                    continue
                st = filestats.collect_dir_stats(sdir, spark=self.spark)
                per_file = list((st or {}).get("files", {}).values())
                if st is None or any(
                    f is None or "rows" not in f for f in per_file
                ):
                    written = None  # stats unavailable → plain recount
                    break
                written += sum(f["rows"] for f in per_file)
            if written is None:
                written = _parquet_footer_rows(batch_dir)
            if written is None:  # non-local path → distributed fallback
                written = self.spark.read.parquet(batch_dir).count()
            if written != total:
                raise RuntimeError(
                    f"staged-write count mismatch: {written} written vs "
                    f"{total} observed")

        # write-audit-publish gate: expectations run over the STAGED
        # parquet (byte-identical to what will be adopted) before ANY
        # sink commits — a poisoned batch aborts with every table
        # untouched and the failure recorded in the audit table by the
        # caller's except path.
        if cfg.sink_expectations:
            from swarm_spark.operators.expectations import validate
            from swarm_spark.wap import AuditFailed

            failures: list[tuple[str, list]] = []
            for s in all_sinks:
                rules = list(cfg.sink_expectations.get("*", [])) + \
                    list(cfg.sink_expectations.get(s, []))
                sdir = os.path.join(batch_dir, f"_sink={s}")
                if not rules or not os.path.isdir(sdir):
                    continue
                rep = [r.asDict() for r in
                       validate(self.spark.read.parquet(sdir), rules).collect()]
                bad = [r for r in rep if not r["passed"]]
                if bad:
                    failures.append((s, bad))
            if failures:
                detail = "; ".join(
                    f"{s}: " + ", ".join(
                        f"{r['rule']}({r['target']})="
                        f"{r['violations']}/{r['checked']}" for r in bad)
                    for s, bad in failures)
                raise AuditFailed(
                    f"sink expectations failed — {detail}",
                    [r for _, bad in failures for r in bad])

        field_by_name = {f.name: f for f in routed.schema.fields}
        from pyspark.sql import types as T

        def sink_schema(keep: list[str]) -> T.StructType:
            env = [
                T.StructField("id", T.StringType()),
                T.StructField("ingest_id", T.StringType()),
                T.StructField("timestamp", T.TimestampType()),
                T.StructField("ingested_at", T.TimestampType()),
            ]
            return T.StructType(
                env + [T.StructField(c, field_by_name[c].dataType)
                       for c in keep]
            )

        per_sink_rows: dict[str, int] = {}
        snapshot_ids: dict[str, int] = {}
        for s in all_sinks:
            r = rule_by_sink.get(s)
            keep = [c for c in payload_cols
                    if r is None or c not in set(r.drop_fields)]
            ddir = os.path.join(batch_dir, f"_sink={s}")
            snap = commit_adopt(
                s, ddir if os.path.isdir(ddir) else None, counts[s],
                sink_schema(keep),
                r.partition_unit if r is not None else "",
            )
            per_sink_rows[s] = snap["added_rows"]
            snapshot_ids[s] = snap["snapshot_id"]
        # every _sink= subdir has been moved into (or skipped by) its
        # table; only writer marker files remain — don't leave one
        # orphan dir per batch behind (10^4-batch backfills would
        # litter the warehouse)
        import shutil

        shutil.rmtree(batch_dir, ignore_errors=True)
        routed_rows_total = total - counts.get(dl_name, 0)
        return per_sink_rows, snapshot_ids, routed_rows_total, input_rows

    def run(self, transcripts: DataFrame, batch_id: str,
            request_id: str | None = None, *,
            with_agg: bool = True, with_audit: bool = True) -> LoadResult:
        """with_agg/with_audit=False skip the per-batch aggregate and
        audit commits — the LIGHT-EPOCH mode for streaming: a
        micro-batch then costs ONE Spark job (the single-pass staged
        write; counts ride it as Observations, lineage rides the
        manifest entry keyed by epoch). The hourly aggregate belongs
        to the incremental streaming query (hourly_counts_stream) in
        that mode, not to a per-epoch batch shuffle."""
        cfg = self.config
        request_id = request_id or uuid.uuid4().hex
        state, acquired = self.manifest.get_or_create(batch_id, request_id)
        if not acquired:
            return LoadResult(batch_id, request_id, True, {}, state.snapshot_ids or {})

        # Exactly-once on PARTIAL failure: per-sink snapshot ids are
        # recorded in the manifest AS THEY COMMIT; on failure, the
        # except path rolls each back (newest first). If a rollback is
        # impossible (another batch committed on top) the id stays in
        # the manifest and the retry SKIPS that sink instead of
        # re-appending — either way a retry reconciles to exactly one
        # copy of the batch per sink (≙ State.Acquired + pending-stream
        # abort, state.go:19-31 / bq client.go:240-263).
        prior = dict(state.snapshot_ids or {})  # commits from a failed attempt
        committed = dict(prior)
        attempt: list[tuple[str, int]] = []  # this attempt's commits, in order
        import threading

        book_lock = threading.Lock()  # bookkeeping only; writes stay parallel

        def commit_append(table_name: str, df: DataFrame, **kw) -> dict:
            t = self.catalog.table(table_name)
            with book_lock:
                if table_name in prior:
                    for s in t.snapshots():
                        if s["snapshot_id"] == prior[table_name]:
                            return s  # already durably committed by the failed attempt
                    del prior[table_name]  # rolled back / expired: re-append
            snap = t.append(df, **kw)
            with book_lock:
                committed[table_name] = snap["snapshot_id"]
                attempt.append((table_name, snap["snapshot_id"]))
                self.manifest.update(batch_id, STATE_RUNNING, committed)
            return snap

        t0 = time.time()
        started_at = F.current_timestamp()
        try:
            # Input row count rides the plan as an Observation — it is
            # collected during cache materialization, never via a
            # second scan of the source (≙ SourceLog.RowCount,
            # load.go:208, without swarm's per-record counter).
            from pyspark.sql import Observation

            obs_in = Observation(f"in-{request_id[:8]}")
            transcripts = transcripts.observe(obs_in, F.count(F.lit(1)).alias("n"))

            routed = self.routed(transcripts, ingest_id=request_id)
            from pyspark import StorageLevel

            levels = {
                "memory_and_disk": StorageLevel.MEMORY_AND_DISK,
                "disk_only": StorageLevel.DISK_ONLY,
            }
            if cfg.persist_routed in levels:
                routed = routed.persist(levels[cfg.persist_routed])
            elif cfg.persist_routed != "none":
                raise ValueError(f"persist_routed={cfg.persist_routed!r}")

            sinks = sorted({r.sink_table for r in cfg.schema_rules})
            rule_by_sink = {r.sink_table: r for r in cfg.schema_rules}
            per_sink_rows: dict[str, int] = {}
            snapshot_ids: dict[str, int] = {}
            dl_name = (cfg.dead_letter_table
                       if cfg.dead_letter_table and cfg.on_unmatched == "keep"
                       else "")

            def commit_adopt(table_name: str, ddir: str | None, n: int,
                             schema, partition_unit: str = "") -> dict:
                import shutil

                t = self.catalog.table(table_name)
                with book_lock:
                    if table_name in prior:
                        for s_ in t.snapshots():
                            if s_["snapshot_id"] == prior[table_name]:
                                # already committed by the failed
                                # attempt — drop this attempt's staged
                                # copy and keep the durable snapshot
                                if ddir and os.path.isdir(ddir):
                                    shutil.rmtree(ddir, ignore_errors=True)
                                return s_
                        del prior[table_name]
                snap = t.adopt_dir(ddir, n, schema, partition_unit, "timestamp")
                with book_lock:
                    committed[table_name] = snap["snapshot_id"]
                    attempt.append((table_name, snap["snapshot_id"]))
                    self.manifest.update(batch_id, STATE_RUNNING, committed)
                return snap

            if cfg.write_mode == "single_pass":
                per_sink_rows, snapshot_ids, routed_rows_total, input_rows = \
                    self._single_pass_write(
                        routed, request_id, sinks, rule_by_sink, dl_name,
                        commit_adopt, obs_in,
                    )
            elif cfg.write_mode == "per_sink":
                # Materialize the cache ONCE before the per-sink
                # fan-out; otherwise N writer threads race to compute
                # the same plan N times before the cache is populated.
                # ONE conditional agg materializes the cache and yields
                # both totals (was: .count() then .filter().count() —
                # the second recomputed over the cache under keep mode)
                tot = routed.agg(
                    F.count(F.lit(1)).alias("all_rows"),
                    F.sum(F.col("sink_table").isNotNull().cast("long"))
                    .alias("sinked"),
                ).first()
                routed_rows_total = int(
                    (tot["sinked"] or 0) if cfg.on_unmatched == "keep"
                    else tot["all_rows"])
                input_rows = int(obs_in.get["n"])

                if dl_name:
                    dl = routed.filter(F.col("sink_table").isNull()).select(
                        "id", "ingest_id", "timestamp", "ingested_at",
                        *[c for c in PAYLOAD_FIELDS if c in routed.columns],
                    )
                    if not dl.isEmpty():
                        snap = commit_append(dl_name, dl, ts_col="timestamp")
                        per_sink_rows[dl_name] = snap["added_rows"]
                        snapshot_ids[dl_name] = snap["snapshot_id"]

                def write_sink(sink: str):
                    r = rule_by_sink[sink]
                    keep = [c for c in PAYLOAD_FIELDS
                            if c in routed.columns and c not in set(r.drop_fields)]
                    out = routed.filter(F.col("sink_table") == sink).select(
                        "id", "ingest_id", "timestamp", "ingested_at", *keep
                    )
                    snap = commit_append(
                        sink, out, partition_unit=r.partition_unit, ts_col="timestamp"
                    )
                    return sink, snap

                # per-dest worker pool ≙ load.go:96-121; each write
                # re-reads the PERSISTED routed DF, not the source.
                with ThreadPoolExecutor(max_workers=cfg.sink_concurrency) as pool:
                    for sink, snap in pool.map(write_sink, sinks):
                        per_sink_rows[sink] = snap["added_rows"]
                        snapshot_ids[sink] = snap["snapshot_id"]
            else:
                raise ValueError(f"write_mode={cfg.write_mode!r}")

            if with_agg:
                agg = self.aggregate(routed).withColumn("batch_id", F.lit(batch_id))
                agg_snap = commit_append(
                    cfg.agg_table, agg.withColumn("timestamp", F.col("hour")),
                    ts_col="timestamp",
                )
                snapshot_ids[cfg.agg_table] = agg_snap["snapshot_id"]

            routed_rows = sum(
                n for s, n in per_sink_rows.items() if s != cfg.dead_letter_table
            )
            # hard check, NOT assert: must survive python -O
            # (X6, bq/client.go:240-248); a mismatch aborts the batch
            # and the except path rolls every sink commit back
            if routed_rows != routed_rows_total:
                raise RuntimeError(
                    f"append-count mismatch: {routed_rows} written vs "
                    f"{routed_rows_total} routed"
                )
            elapsed = time.time() - t0

            if with_audit:
                audit = local_frame(
                    self.spark,
                    [(
                        request_id, batch_id, True, None,
                        input_rows, routed_rows, float(elapsed),
                        [(s, per_sink_rows[s], int(snapshot_ids[s]), True) for s in sinks],
                    )],
                    AUDIT_DDL,
                ).withColumn("started_at", started_at)
                # audit table month-partitioned on started_at (bigquery.go:77-83)
                commit_append(cfg.audit_table, audit,
                              partition_unit="month", ts_col="started_at")

            if cfg.persist_routed != "none":
                routed.unpersist()
            self.manifest.update(batch_id, STATE_COMPLETED, committed)
            return LoadResult(
                batch_id, request_id, False, per_sink_rows, dict(committed),
                input_rows=input_rows, routed_rows=routed_rows, elapsed_sec=elapsed,
            )
        except Exception:
            # roll back THIS attempt's commits, newest first; whatever
            # cannot be rolled back (another batch committed on top)
            # stays recorded so the retry skips it instead of
            # double-appending
            for table_name, sid in reversed(attempt):
                if self.catalog.table(table_name).rollback(sid):
                    committed.pop(table_name, None)
            # a failed attempt's staging is useless (the retry stages
            # under a fresh request_id) — reclaim it now
            import shutil

            shutil.rmtree(os.path.join(cfg.warehouse, "_batch", request_id),
                          ignore_errors=True)
            self.manifest.update(batch_id, STATE_FAILED, committed)
            raise
