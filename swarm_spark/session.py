"""SparkSession factory tuned for the swarm_spark pipeline.

Local-mode knobs mirror the parallelism defaults of the reference
(read concurrency 32: /root/reference/pkg/usecase/usecase.go:34) but are
expressed as Spark confs so the same code scales to a multi-executor
cluster: AQE re-plans shuffles at runtime (incl. skew-join splitting),
shuffle partitions default to the core count locally and should be set
to ~2-3x total cores on a real cluster.

Defaults are host-honest: the core count and driver heap come from the
machine the session starts on (``SPARK_GRAFT_CPUS`` /
``SPARK_GRAFT_DRIVER_MEM`` override them), never from a larger host.

`local_frame` is the one way the pipeline builds a small driver-side
table (rule/dimension tables, audit rows, empty results): a JVM-local
relation, so neither the broadcast of a dimension table nor a query
over an empty snapshot runs a Python-worker job.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger("swarm_spark")

# Driver heap ceiling: past ~32 GiB the JVM loses compressed oops.
MAX_DRIVER_MEM_BYTES = 32 << 30


def host_cpus() -> int:
    """CPUs this process may run on (what `nproc` reports)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int | None:
    """MemTotal from a /proc/meminfo-format file, or None if unreadable."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    return None


def driver_memory(total_bytes: int | None) -> str:
    """Driver heap for a host with `total_bytes` of RAM: half of it —
    in local mode the driver JVM holds every executor too, and the
    other half is left to Python workers, the page cache and the OS —
    capped at MAX_DRIVER_MEM_BYTES, never below 1 GiB. Unknown RAM
    falls back to a conservative 4g."""
    if not total_bytes:
        return "4g"
    mb = max(1024, min(MAX_DRIVER_MEM_BYTES, total_bytes // 2) >> 20)
    return f"{mb}m"


def default_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else this host's CPUs."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())


def default_driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else derived from this host's RAM."""
    return (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or driver_memory(mem_total_bytes()))


DEFAULT_CPUS = default_cpus()


def get_spark(
    app_name: str = "swarm_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the pipeline's tuning.

    All settings are cluster-safe: on a real cluster, drop the
    ``master`` override via ``SPARK_GRAFT_MASTER`` or spark-submit.
    """
    cpus = cpus or DEFAULT_CPUS
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    heap = default_driver_memory()
    log.info("spark session %s: master=%s driver_memory=%s "
             "shuffle_partitions=%d", app_name, master, heap,
             shuffle_partitions)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime shuffle coalescing + skew-join splitting — the
        # scale path for hot conv_id keys (SURVEY.md §7 "What's hard").
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic oracle comparison: UTC everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP_MICROS, not Spark's legacy INT96: Iceberg forbids
        # INT96, every modern reader takes INT64 micros, and INT96
        # columns carry NO parquet min/max statistics — which would
        # blind filestats.py's file skipping on every timestamp.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd, not snappy (Spark's default): measured on 500k
        # transcripts — 39% smaller files AND faster write+scan
        # (snappy 14.2 MB / 1.9 s write; zstd 8.7 MB / 0.7 s; gzip is
        # marginally smaller but decompression-slow at scale). At
        # 100 TB the storage+IO delta dominates; Iceberg's default is
        # zstd for the same reason.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Broadcast threshold: rules/dimension tables are tiny; keep the
        # default 10MB but make it explicit — the routing join must
        # NEVER shuffle the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # Target ~128MB input splits at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # v2 commit: tasks move their own files at completion instead of
        # a sequential driver-side rename per partition dir — a write
        # into many hive partitions (hour transform = 720 dirs/month)
        # is otherwise driver-commit bound. Safe here: icepack's
        # snapshot pointer provides the atomicity, not the committer.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", heap)
    )
    # Without the Hadoop native library (the pip-installed PySpark
    # norm), RawLocalFileSystem forks a `chmod` PROCESS per created
    # file/dir; a dynamic-partition write of ~800 dirs pays ~2000
    # fork/execs — measured ~3 s of a 4.5 s staged-write job, thread
    # dumps queued in Shell.runCommand. swarm-localfs.jar overrides
    # setPermission/mkOneDirWithMode to no-ops (local files already
    # carry the umask mode). file:// scheme only — a real deployment's
    # HDFS/S3 paths never touch this class. SPARK_GRAFT_FAST_LOCAL_FS=0
    # restores stock behavior.
    jar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "jars", "swarm-localfs.jar")
    if (os.environ.get("SPARK_GRAFT_FAST_LOCAL_FS", "1") != "0"
            and os.path.isfile(jar)):
        builder = (
            builder.config("spark.driver.extraClassPath", jar)
            .config("spark.executor.extraClassPath", jar)
            .config("spark.hadoop.fs.file.impl",
                    "swarmspark.fs.FastLocalFileSystem")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema: T.StructType | str
                ) -> DataFrame:
    """A small driver-built table as a JVM-local relation: the rows
    become one array-of-struct literal, inlined over a one-partition
    Range. Same rows and schema (names, types, nullability) as
    ``spark.createDataFrame(rows, schema)``, and the same up-front
    type check — but ``createDataFrame(<list>)`` plans a
    `Scan ExistingRDD` whose every use (each broadcast of a dimension
    table, each query over an empty result) is a Python-worker job
    with one task per default-parallelism slice; this plan has one
    JVM task and no Python in it. For tens of rows, not bulk data:
    every value is a literal in the plan."""
    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    verify = T._make_type_verifier(schema)
    structs = []
    for row in rows:
        verify(row)
        structs.append(_literal(row, schema))
    table = F.array(*structs).cast(T.ArrayType(schema, containsNull=False))
    return spark.range(0, 1, 1, 1).select(F.inline(table))


def _literal(value, dtype: T.DataType) -> Column:
    """`value` as a literal Column of exactly `dtype`. A non-null value
    stays a non-nullable literal, so the final cast can keep a field
    that the schema declares NOT NULL."""
    if value is None:
        return F.lit(None).cast(dtype)
    if isinstance(dtype, T.StructType):
        if isinstance(value, dict):  # by name, as the type check reads it
            value = [value.get(f.name) for f in dtype.fields]
        return F.struct(*[_literal(v, f.dataType).alias(f.name)
                          for v, f in zip(value, dtype.fields)])
    if isinstance(dtype, T.ArrayType):
        return F.array(*[_literal(v, dtype.elementType) for v in value]).cast(dtype)
    return F.lit(value).cast(dtype)
