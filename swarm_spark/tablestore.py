"""icepack — snapshot-committed parquet tables (the Iceberg stand-in).

This container ships no Iceberg/Delta jars, so the pipeline's table
semantics are provided by a minimal, self-contained table format that
mirrors the Iceberg behaviors the north_rule depends on:

* ATOMIC COMMIT: data files are written to a fresh snapshot directory
  first; the snapshot becomes visible only when the CURRENT pointer is
  atomically replaced (os.replace). Readers never observe partial
  writes — the analogue of swarm's pending-stream → finalize →
  BatchCommitWriteStreams flow (/root/reference/pkg/infra/bq/client.go:240-263)
  and of an Iceberg snapshot commit.
* MONOTONIC SCHEMA EVOLUTION: appends union-merge the incoming schema
  with the table schema by name — existing field order preserved, new
  fields appended, same-name-different-type → hard error — the exact
  contract of swarm's bqs.Merge/createOrUpdateTable
  (pkg/usecase/bigquery.go:15-62; pinned by pkg/usecase/migrate_test.go:77-132).
* OPTIMISTIC CONCURRENCY: commit re-reads CURRENT and retries the merge
  if another writer advanced it — the ETag-guarded update
  (pkg/infra/bq/client.go:282-288).
* TIME PARTITION TRANSFORMS: hour/day/month/year on a timestamp column
  (pkg/usecase/utils.go:170-194, types/types.go:51-57) materialize as a
  hidden `_p` hive-partition column, giving real partition pruning on
  read via `read(..., ts_between=...)`.
* TIME TRAVEL / LINEAGE: every snapshot records parent id, row count,
  and operation — the audit/resume substrate (north_rule "resumable
  from Iceberg snapshot/checkpoint state").

When real Iceberg jars are on the classpath,
swarm_spark.catalogs.IcebergCatalog implements the SAME Catalog/Table
protocol over the Spark SQL catalog API (writeTo/spark.table, hidden
partition transforms, snapshot procedures) — the pipeline depends only
on the small protocol below, so swapping is a constructor argument.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swarm_spark import filestats
from swarm_spark.session import local_frame

_PART_FMT = {
    "hour": "yyyy-MM-dd-HH",
    "day": "yyyy-MM-dd",
    "month": "yyyy-MM",
    "year": "yyyy",
}


class SchemaConflictError(ValueError):
    """Same-name different-type — the hard-error contract of
    bqs schema merge (migrate_test.go:115-132)."""


class IncrementalReadError(RuntimeError):
    """Raised when the snapshot range contains a non-append operation
    (overwrite/merge/compact), so an append-diff does not describe the
    change — the caller must fall back to a full recompute. Same
    restriction as Iceberg's incremental append scan."""


class CommitConflict(RuntimeError):
    """CURRENT advanced between reading the table and committing a
    REWRITE (compact / merge): blindly rebasing would silently drop
    the concurrent append's rows, so the commit aborts and the caller
    recomputes from the new CURRENT — the validation-exception-and-
    retry semantics of an Iceberg rewrite. Plain appends never raise
    this (their rebase is a pure union); overwrite() is an explicit
    replace-the-table op and keeps last-write-wins."""


def merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union-by-name: old field order preserved, new fields appended,
    nested structs merged recursively, type conflict → error."""
    by_name = {f.name: f for f in new.fields}
    out = []
    for f_old in old.fields:
        f_new = by_name.pop(f_old.name, None)
        if f_new is None:
            out.append(f_old)
            continue
        if isinstance(f_old.dataType, T.StructType) and isinstance(f_new.dataType, T.StructType):
            merged = merge_schemas(f_old.dataType, f_new.dataType)
            out.append(T.StructField(f_old.name, merged, True))
        elif f_old.dataType == f_new.dataType:
            out.append(T.StructField(f_old.name, f_old.dataType, True))
        else:
            raise SchemaConflictError(
                f"field {f_old.name!r}: {f_old.dataType.simpleString()} "
                f"vs {f_new.dataType.simpleString()}"
            )
    out.extend(by_name[f.name] for f in new.fields if f.name in by_name)
    return T.StructType(out)


class IcepackTable:
    # Minimum AGE of a claimed-but-unadvanced snap file before another
    # writer may adopt it as orphaned (its owner presumed dead). A
    # live writer's claim→CURRENT window is sub-millisecond, so 1 s is
    # a generous safety margin without wedging recovery.
    ADOPT_GRACE_SEC = 1.0

    def __init__(self, root: str, name: str, store=None):
        self.name = name
        self.path = os.path.join(root, name)
        self.meta = os.path.join(self.path, "_meta")
        self.data = os.path.join(self.path, "data")
        os.makedirs(self.meta, exist_ok=True)
        os.makedirs(self.data, exist_ok=True)
        # Snapshot metadata goes through a pluggable store (metastore.py):
        # PosixMetaStore (default, local fs) or CASMetaStore (conditional-
        # put object-store semantics). Data files are parquet on disk
        # either way — only pointer/claim atomicity differs.
        if store is None:
            from swarm_spark.metastore import PosixMetaStore

            store = PosixMetaStore(self.meta)
        self.store = store

    # -- metadata ----------------------------------------------------
    def _current_id(self) -> int | None:
        return self.store.current_id()

    def _snap_path(self, sid: int) -> str:
        # kept for the Posix default (tests/tools plant claim files);
        # store-agnostic code should use store.plant_claim instead
        return os.path.join(self.meta, f"snap-{sid:012d}.json")

    def current_snapshot(self) -> dict | None:
        sid = self._current_id()
        if sid is None:
            return None
        snap = self.store.read_snap(sid)
        if snap is None:
            raise FileNotFoundError(
                f"table {self.name}: CURRENT={sid} but snapshot is missing"
            )
        return snap

    def snapshots(self) -> list[dict]:
        out = []
        for sid in self.store.list_sids():
            snap = self.store.read_snap(sid)
            if snap is not None:
                out.append(snap)
        return out

    def exists(self) -> bool:
        return self._current_id() is not None

    # -- tags: named, expire-protected snapshot pins ------------------
    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under a name (Iceberg tag): `read(tag=name)`
        reads it forever — expire_snapshots never drops a tagged
        snapshot or its files. THE reproducible-training-run handle: a
        dataset release is a tag, and later appends/deletes/compacts
        can never change what the tag reads."""
        sid = snapshot_id if snapshot_id is not None else self._current_id()
        if sid is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        self.snapshot(sid)  # must exist
        self.store.set_tag(name, sid)
        return sid

    def drop_tag(self, name: str) -> bool:
        """Unpin; the snapshot becomes expirable again."""
        return self.store.delete_tag(name)

    def tags(self) -> dict:
        return self.store.list_tags()

    def schema(self) -> T.StructType | None:
        snap = self.current_snapshot()
        if snap is None:
            return None
        return T.StructType.fromJson(json.loads(snap["schema"]))

    # -- write -------------------------------------------------------
    def _commit(self, snap: dict) -> int:
        """Atomic pointer swap with optimistic retry (ETag analogue).

        The snapshot FILE itself is claimed exclusively with os.link
        (EEXIST if a concurrent writer already claimed the same sid),
        so two writers that both read the same CURRENT can never
        silently clobber each other's snap-<sid>.json — the loser
        loops back into the rebase path instead. CURRENT then advances
        via os.replace (atomic on POSIX). A claim whose owner died
        before advancing CURRENT is adopted after a grace period so an
        orphaned snap file cannot wedge the table forever.
        """
        base_dirs = snap.pop("_base_dirs", None) or []
        # Conditional commit: require the PARENT snapshot (whatever it is at
        # claim time, including after a rebase) to carry these metadata
        # key→values, else CommitConflict. This is how a checkpointed
        # consumer (incremental.refresh_agg) makes "append iff the
        # checkpoint is still X" atomic — two concurrent refreshes that
        # both read checkpoint X cannot BOTH land their delta, because the
        # winner's commit changes the checkpoint the loser requires.
        require_meta = snap.pop("_require_parent_meta", None)
        # Unique writer token: after advancing CURRENT we re-read the
        # claimed snap file and verify it still carries OUR token — if
        # an adopter clobbered it during the claim→CURRENT window we
        # loop back into the rebase path instead of silently returning
        # a sid whose lineage dropped our data_dirs.
        writer_token = uuid.uuid4().hex
        snap["_writer"] = writer_token
        claim_fails = 0
        last_cur: object = object()  # sentinel ≠ any snapshot id
        for _ in range(200):
            cur = self._current_id()
            if cur != last_cur:
                # CURRENT advanced (or first look): failures counted
                # against an EARLIER sid say nothing about this one
                claim_fails = 0
                last_cur = cur
                if require_meta:
                    parent_snap = self.current_snapshot() if cur is not None else None
                    for k, v in require_meta.items():
                        have = parent_snap.get(k) if parent_snap is not None else None
                        if have != v:
                            raise CommitConflict(
                                f"table {self.name}: parent snapshot meta "
                                f"{k}={have!r} != required {v!r}"
                            )
            if cur != snap["parent"]:
                if snap["op"] in ("compact", "merge", "delete", "update"):
                    # rewrites are computed FROM a snapshot's contents;
                    # committing over a different one loses rows
                    raise CommitConflict(
                        f"table {self.name}: CURRENT advanced during "
                        f"{snap['op']} (expected {snap['parent']}, found {cur})"
                    )
                # another writer advanced the table; rebase lineage
                parent_snap = self.current_snapshot()
                snap["parent"] = cur
                if parent_snap is not None and snap["op"] == "append":
                    prev_dirs = parent_snap["data_dirs"]
                    # `not in prev_dirs` is belt-and-braces against the
                    # object-store adoption edge where our payload was
                    # committed by a displaced owner: never double-add
                    new_only = [d for d in snap["data_dirs"]
                                if d not in base_dirs and d not in prev_dirs]
                    snap["data_dirs"] = prev_dirs + new_only
                    # re-anchor the base so a SECOND rebase doesn't
                    # re-add the first rebase's dirs (double-count),
                    # and recompute the cumulative row count against
                    # the new parent
                    base_dirs = list(prev_dirs)
                    snap["row_count"] = parent_snap.get("row_count", 0) + snap.get("added_rows", 0)
                    # masks come from whatever the NEW parent carries
                    snap["deletes"] = list(parent_snap.get("deletes") or [])
                    old = T.StructType.fromJson(json.loads(parent_snap["schema"]))
                    new = T.StructType.fromJson(json.loads(snap["schema"]))
                    snap["schema"] = json.dumps(merge_schemas(old, new).jsonValue())
                elif parent_snap is not None and snap["op"] == "mor_delete":
                    # metadata-only delete: rebase over appends — dirs,
                    # schema, row_count come from the new parent; our
                    # entries keep their ORIGINAL applies_to (rows
                    # appended after the delete are out of scope, the
                    # dir-granular Iceberg sequence-number rule). A
                    # rewrite in between may have FOLDED or dropped the
                    # dirs we scoped to — committing over it would make
                    # the mask a silent no-op, so conflict instead.
                    parent_ids = {e["id"] for e in parent_snap.get("deletes") or []}
                    own = [e for e in snap.get("deletes", [])
                           if e["id"] not in parent_ids]
                    live = {self._dir_sval(d) for d in parent_snap["data_dirs"]}
                    for e in own:
                        if not all(a in live for a in e["applies_to"]):
                            raise CommitConflict(
                                f"table {self.name}: rewrite landed during "
                                f"mor_delete — rescope from new CURRENT"
                            )
                    snap["data_dirs"] = list(parent_snap["data_dirs"])
                    snap["schema"] = parent_snap["schema"]
                    snap["row_count"] = parent_snap.get("row_count", 0)
                    snap["deletes"] = (parent_snap.get("deletes") or []) + own
                continue
            sid = (cur or 0) + 1
            snap["snapshot_id"] = sid
            # Claim/advance/verify delegate to the metadata store
            # (metastore.py): PosixMetaStore = link-claim + flock-fenced
            # adoption + replace-advance; CASMetaStore = conditional-put
            # claim + value-CAS advance (the object-store deployment).
            # Adoption is gated HERE on sustained contention plus the
            # claim's age exceeding the grace window — a claim is only
            # an ORPHAN if its writer died between claiming and
            # advancing CURRENT.
            claim_age = self.store.claim_age(sid)
            adopt = (
                claim_fails >= 20
                and claim_age is not None
                and claim_age >= self.ADOPT_GRACE_SEC
            )
            outcome = self.store.try_commit(sid, snap, cur, adopt)
            if outcome == "committed":
                return sid
            if outcome == "contended":
                claim_fails += 1
                # back off exponentially once contention is sustained:
                # a flat 5 ms x 200 budget (~1 s) would expire just as
                # ADOPT_GRACE_SEC (1 s) makes a dead writer's claim
                # adoptable — the capped ramp keeps total wait (~15 s)
                # far past the grace window while staying snappy in the
                # common quick-contention case
                time.sleep(
                    0.005 * min(2.0 ** max(0, (claim_fails - 20) // 4), 20.0)
                )
                continue
            # "lost": CURRENT advanced or our claim changed hands —
            # re-read and rebase (cur==sid != parent -> dirs re-added)
            claim_fails = 0
            continue
        raise RuntimeError(f"commit contention on table {self.name}")

    def rollback(self, snapshot_id: int) -> bool:
        """Undo a committed snapshot IF it is still CURRENT: point
        CURRENT back at its parent, delete the snapshot file, and
        remove data dirs it introduced (present in it but not in the
        parent). Returns False without touching anything when other
        commits landed on top — the caller then falls back to
        manifest-based resume-skip. Restores the all-or-nothing
        contract of a multi-sink batch (≙ aborting a pending BigQuery
        write stream instead of finalizing it,
        /root/reference/pkg/infra/bq/client.go:240-263)."""
        import shutil

        cur = self._current_id()
        if cur != snapshot_id:
            return False
        snap = self.store.read_snap(snapshot_id)
        if snap is None:
            return False
        parent = snap["parent"]
        if parent is None:
            self.store.set_current(None)
            parent_dirs: set = set()
            parent_kf: set = set()
        else:
            self.store.set_current(parent)
            psnap = self.store.read_snap(parent)
            parent_dirs = set(psnap["data_dirs"])
            parent_kf = {e.get("key_file")
                         for e in psnap.get("deletes") or [] if e.get("key_file")}
        self.store.delete_snap(snapshot_id)
        # equality-delete key files introduced by this snapshot go too
        for e in snap.get("deletes") or []:
            kf = e.get("key_file")
            if kf and kf not in parent_kf and os.path.isdir(kf):
                shutil.rmtree(kf, ignore_errors=True)
        for d in snap["data_dirs"]:
            if d not in parent_dirs and os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
        return True

    def _write_data(self, df: DataFrame, partition_unit: str, ts_col: str,
                    cluster_by: list[str] | None = None,
                    target_files: int | None = None,
                    zorder_by: list[str] | None = None) -> tuple[str, int]:
        if zorder_by:
            if cluster_by:
                raise ValueError("pass cluster_by OR zorder_by, not both")
            # z-order = cluster on the interleaved-bits expression:
            # every file gets a tight bounding box in ALL the z-ordered
            # dimensions, so read(prune=...) skips on any one of them
            cluster_by = [filestats.zorder_expression(df, zorder_by)]
        # `_s=<uuid>` — the snapshot dir is ITSELF a hive partition
        # level, so every data dir of a table shares one uniform
        # key=value layout under data/ and read() can load ALL dirs as
        # ONE partitioned relation (basePath=data): flat plan depth,
        # partition pruning on _p intact, `_s` dropped after read.
        ddir = os.path.join(self.data, f"_s={uuid.uuid4().hex}")
        if partition_unit:
            df = df.withColumn("_p", F.date_format(F.col(ts_col), _PART_FMT[partition_unit]))
            # Shuffle on _p before the partitioned write. Two failure
            # modes to avoid: (1) no shuffle → every task writes a file
            # into every hive partition (tasks × partitions tiny files);
            # (2) REBALANCE + AQE → tiny batches coalesce to ONE task
            # that creates thousands of partition dirs SEQUENTIALLY
            # (file-creation latency bound). An explicit-count hash
            # repartition on _p keeps file creation parallel across the
            # full task width AND one file per hive partition. Hot
            # partitions (a single huge hour) are bounded per-file by
            # maxRecordsPerFile downstream if needed.
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            if cluster_by:
                # range-partition on (_p, cluster cols): each task owns
                # a CONTIGUOUS (_p, cluster) slice, so a hive partition
                # bigger than one task splits into cluster-range file
                # slices — hash-on-_p would give ONE file per partition
                # whose cluster bounds span the whole range (useless
                # for skipping). Sort makes each file's footer bounds
                # tight. File creation stays parallel across tasks.
                ccols = [c if not isinstance(c, str) else F.col(c) for c in cluster_by]
                df = df.repartitionByRange(target_files or n, F.col("_p"), *ccols)
                df = df.sortWithinPartitions(F.col("_p"), *ccols)
            else:
                df = df.repartition(n, F.col("_p"))
        elif cluster_by:
            # unpartitioned table: range-partition + sort so output
            # files cover near-disjoint cluster-column ranges
            ccols = [c if not isinstance(c, str) else F.col(c) for c in cluster_by]
            df = (df.repartitionByRange(target_files, *ccols) if target_files
                  else df.repartitionByRange(*ccols))
            df = df.sortWithinPartitions(*ccols)
        # row count rides the write action itself — one pass, no extra
        # scan (≙ swarm's append-count verify, pkg/infra/bq/client.go:240-248)
        obs = Observation(f"rows-{uuid.uuid4().hex[:8]}")
        df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        writer = df.write.mode("overwrite")
        if partition_unit:
            writer = writer.partitionBy("_p")
        writer.parquet(ddir)
        n = int(obs.get["n"])
        if n:
            # per-file column bounds sidecar (Iceberg manifest metrics
            # analogue) — footers only, best-effort; read prune= uses
            # it to skip files before the scan is planned. Big dirs
            # parse their footers in executor workers (GIL — see
            # collect_dir_stats).
            filestats.collect_dir_stats(ddir, spark=df.sparkSession)
        return ddir, n

    def _append_snapshot(self, ddir: str | None, n: int,
                         incoming_schema: T.StructType,
                         partition_unit: str, ts_col: str,
                         extra_meta: dict | None = None,
                         require_parent_meta: dict | None = None) -> dict:
        """Shared commit path for append() and adopt_dir(): schema
        evolution + snapshot construction around an already-written
        (or absent, when n==0) data dir."""
        prev = self.current_snapshot()
        if prev is not None:
            old_schema = T.StructType.fromJson(json.loads(prev["schema"]))
            schema = merge_schemas(old_schema, incoming_schema)
            partition_unit = prev.get("partition_unit") or partition_unit
        else:
            schema = incoming_schema
        new_dirs = [ddir] if ddir is not None else []
        snap = {
            "parent": prev["snapshot_id"] if prev else None,
            "op": "append",
            "data_dirs": (prev["data_dirs"] if prev else []) + new_dirs,
            # pending merge-on-read masks survive appends untouched —
            # the new dirs are outside every entry's applies_to scope
            "deletes": list(prev.get("deletes") or []) if prev else [],
            "_base_dirs": prev["data_dirs"] if prev else [],
            "schema": json.dumps(schema.jsonValue()),
            "partition_unit": partition_unit,
            "ts_col": ts_col,
            "row_count": (prev.get("row_count", 0) if prev else 0) + n,
            "added_rows": n,
            "committed_at": time.time(),
        }
        if extra_meta:
            for k, v in extra_meta.items():
                snap.setdefault(k, v)  # user metadata never shadows core fields
        if require_parent_meta:
            snap["_require_parent_meta"] = require_parent_meta
        snap["snapshot_id"] = None
        self._commit(snap)
        return snap

    def append(self, df: DataFrame, partition_unit: str = "", ts_col: str = "timestamp",
               extra_meta: dict | None = None,
               require_parent_meta: dict | None = None) -> dict:
        """Append with schema evolution; returns the committed snapshot.
        `extra_meta` rides the snapshot json (Iceberg snapshot summary
        analogue) — e.g. a consumer checkpoint, so the checkpoint and
        the data land in ONE atomic commit. `require_parent_meta`
        makes the append CONDITIONAL: it commits only if the parent
        snapshot at commit time carries those key→values, else raises
        CommitConflict (the data dir is rolled back by the caller's
        normal error path; orphan GC also covers it)."""
        prev = self.current_snapshot()
        unit = (prev.get("partition_unit") or partition_unit) if prev else partition_unit
        ddir, n = self._write_data(df, unit, ts_col)
        try:
            return self._append_snapshot(ddir, n, df.schema, partition_unit, ts_col,
                                         extra_meta=extra_meta,
                                         require_parent_meta=require_parent_meta)
        except CommitConflict:
            if ddir is not None:
                import shutil

                shutil.rmtree(ddir, ignore_errors=True)
            raise

    def adopt_dir(self, ddir: str | None, added_rows: int,
                  schema: T.StructType, partition_unit: str = "",
                  ts_col: str = "timestamp",
                  extra_meta: dict | None = None) -> dict:
        """Commit an ALREADY-WRITTEN parquet directory as an append
        snapshot (schema evolution rules identical to append). This is
        the single-pass multi-sink write path: one partitionBy(sink)
        job writes every sink's data, then each sink table adopts its
        subdirectory — N sinks cost ONE Spark job instead of N.
        `schema` is the sink's LOGICAL schema: the files may carry
        extra columns (e.g. per-sink dropped fields written as nulls);
        read() projects to the recorded schema so they stay invisible.
        ddir=None (or added_rows==0 with no dir) commits an empty
        append, keeping per-batch lineage rows consistent.

        The directory is MOVED (atomic same-fs rename) under the
        table's data/ root as `_s=<uuid>` so all of a table's dirs
        keep the uniform hive layout the single-relation read needs;
        on an object store this is the manifest-pointer equivalent."""
        if ddir is not None:
            dst = os.path.join(self.data, f"_s={uuid.uuid4().hex}")
            if os.path.abspath(os.path.dirname(ddir)) != os.path.abspath(self.data):
                import shutil

                try:
                    os.rename(ddir, dst)
                except OSError:
                    shutil.move(ddir, dst)
                ddir = dst
            filestats.collect_dir_stats(ddir)
        return self._append_snapshot(ddir, added_rows, schema, partition_unit,
                                     ts_col, extra_meta=extra_meta)

    # -- write-audit-publish (Iceberg WAP / branch-write pattern) -----
    def stage(self, df: DataFrame, partition_unit: str = "",
              ts_col: str = "timestamp") -> dict:
        """WAP step 1: write the data files WITHOUT advancing CURRENT.
        Readers cannot see staged data (it is an unreferenced `_s=`
        dir until published). Returns a stage handle for
        read_stage/publish_stage/abort_stage. Orphan GC's dwell time
        (`remove_orphan_files(older_than_sec)`) must exceed the audit
        window — a staged-but-unpublished dir is indistinguishable
        from a crashed writer's, BY DESIGN (abandoned stages are
        garbage)."""
        prev = self.current_snapshot()
        unit = (prev.get("partition_unit") or partition_unit) if prev \
            else partition_unit
        ddir, n = self._write_data(df, unit, ts_col)
        return {"stage_dir": ddir, "rows": n,
                "schema": json.dumps(df.schema.jsonValue()),
                "partition_unit": partition_unit, "ts_col": ts_col}

    def read_stage(self, spark: SparkSession, handle: dict) -> DataFrame:
        """WAP step 2 input: the staged rows, for audit queries
        (expectations, row counts, sampling) — reads ONLY the staged
        dir, never the table."""
        df = self._scan_dirs(spark, [handle["stage_dir"]])
        if "_p" in df.columns:
            df = df.drop("_p")
        schema = T.StructType.fromJson(json.loads(handle["schema"]))
        return df.select(*[
            F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ])

    def publish_stage(self, handle: dict,
                      extra_meta: dict | None = None) -> dict:
        """WAP step 3: fast-forward the audited files into the table —
        a pure METADATA commit (adopt_dir: the files are not read or
        rewritten), with the audit report riding `extra_meta` so the
        published snapshot carries its own evidence."""
        schema = T.StructType.fromJson(json.loads(handle["schema"]))
        return self.adopt_dir(handle["stage_dir"], handle["rows"], schema,
                              handle["partition_unit"], handle["ts_col"],
                              extra_meta=extra_meta)

    def abort_stage(self, handle: dict) -> None:
        """Discard a staged write (audit failed). Nothing was ever
        visible; this only reclaims the files."""
        import shutil

        shutil.rmtree(handle["stage_dir"], ignore_errors=True)

    def overwrite(self, df: DataFrame, partition_unit: str = "",
                  ts_col: str = "timestamp", op: str = "overwrite",
                  extra_meta: dict | None = None,
                  require_parent_meta: dict | None = None) -> dict:
        prev = self.current_snapshot()
        ddir, n = self._write_data(df, partition_unit, ts_col)
        snap = {
            "parent": prev["snapshot_id"] if prev else None,
            "op": op,
            "data_dirs": [ddir],
            "schema": json.dumps(df.schema.jsonValue()),
            "partition_unit": partition_unit,
            "ts_col": ts_col,
            "row_count": n,
            "added_rows": n,
            "committed_at": time.time(),
            "snapshot_id": None,
        }
        if extra_meta:
            for k, v in extra_meta.items():
                snap.setdefault(k, v)
        if require_parent_meta:
            snap["_require_parent_meta"] = require_parent_meta
        try:
            self._commit(snap)
        except CommitConflict:
            import shutil

            shutil.rmtree(ddir, ignore_errors=True)  # orphaned staging
            raise
        return snap

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Snapshot GC (expire_snapshots + vacuum): delete snapshot
        metadata older than the newest `keep_last` and remove data
        dirs no longer referenced by any kept snapshot. Time travel is
        only possible to kept snapshots afterwards."""
        import shutil

        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return {"expired": 0, "data_dirs_removed": 0}
        tagged = set(self.store.list_tags().values())
        keep = snaps[-keep_last:] + [s for s in snaps[:-keep_last]
                                     if s["snapshot_id"] in tagged]
        drop = [s for s in snaps[:-keep_last]
                if s["snapshot_id"] not in tagged]
        kept_dirs = {d for s in keep for d in s["data_dirs"]}
        kept_kf = {e.get("key_file") for s in keep
                   for e in s.get("deletes") or [] if e.get("key_file")}
        removed = 0
        for s in drop:
            for d in s["data_dirs"]:
                if d not in kept_dirs and os.path.isdir(d):
                    shutil.rmtree(d, ignore_errors=True)
                    removed += 1
            for e in s.get("deletes") or []:
                kf = e.get("key_file")
                if kf and kf not in kept_kf and os.path.isdir(kf):
                    shutil.rmtree(kf, ignore_errors=True)
            self.store.delete_snap(s["snapshot_id"])  # absent = already expired
        return {"expired": len(drop), "data_dirs_removed": removed}

    def merge_upsert(self, spark: SparkSession, df: DataFrame | None,
                     keys: list[str],
                     max_retries: int = 10, keys_cap: int = 200_000,
                     rebuild=None) -> dict:
        """MERGE INTO analogue (upsert by key): incoming rows replace
        same-key rows, others are inserted. No Delta/Iceberg jars in
        this container, so the semantics are the standard anti-join +
        union committed atomically as a new snapshot:

            kept  = current ANTI JOIN incoming ON keys
            next  = kept UNION BY NAME incoming   (schema evolution ok)

        The rewrite is DIR-SCOPED like delete_where/update_where's
        copy-on-write DML (the Iceberg/Delta CoW MERGE shape): only
        dirs whose file stats admit a row matching an incoming key are
        scanned and rewritten; every other dir carries into the new
        snapshot untouched. Scoping is two-stage —
        1. range: conjunctive [min,max] bounds of the incoming keys
           (every key column, any stats tag);
        2. exact (single int/str key, ≤ keys_cap distinct values): the
           sorted incoming key set is bisected against each file's
           interval, so sparse keys prune dirs a range straddles
           (filestats.dirs_matching_keys).
        On a clustered 100 TB table an upsert batch touches the
        sliver of files its keys live in, not the table. NULL incoming
        keys match no current row (SQL equality) and simply insert.
        Pending merge-on-read masks are folded into rewritten dirs and
        carried narrowed on untouched ones, like every other rewrite.

        A concurrent append between read and commit aborts the commit
        (CommitConflict, op='merge') and the merge recomputes from the
        new CURRENT — otherwise it would silently drop the appended
        rows. Returns the snapshot plus dirs_rewritten /
        dirs_untouched / rows_matched / rows_inserted.

        Reference analogue: the reference's sinks are append-only
        (pkg/infra/bq/client.go) — MERGE is the lakehouse completion
        of the K1 commit family for mutable dimensions (entity
        profiles, latest-state tables)."""
        import shutil

        if df is None and rebuild is None:
            raise ValueError("merge_upsert needs df or rebuild")
        for _attempt in range(max_retries):
            # `rebuild` (optional zero-arg callable returning the
            # incoming DataFrame) is re-invoked on EVERY attempt, so a
            # CommitConflict retry recomputes a DERIVED batch (e.g. an
            # SCD2 delta) from the fresh table state instead of
            # re-committing a stale one (r5-advice fix). Ordering
            # matters: the parent snapshot is read FIRST, so any
            # commit landing after it — including during the rebuild —
            # makes our commit conflict and the loop retry; the landed
            # attempt's delta is therefore always derived from a state
            # at least as new as its parent.
            snap = self.current_snapshot()
            incoming = rebuild() if rebuild is not None else df
            if snap is None:
                # Empty table: the merge degenerates to insert-only —
                # but committed with op='merge' (conflict-on-advance),
                # NOT append: append's commit REBASES over a concurrent
                # append landing between our read and commit, which
                # would UNION rows sharing incoming keys where MERGE
                # semantics require replacement. On conflict the loop
                # re-reads the now non-empty table and takes the scoped
                # path (r5-advice fix).
                ddir, n = self._write_data(incoming, "", "timestamp")
                new = {
                    "parent": None,
                    "op": "merge",
                    "data_dirs": [ddir] if n else [],
                    "schema": json.dumps(incoming.schema.jsonValue()),
                    "partition_unit": "",
                    "ts_col": "timestamp",
                    "row_count": n,
                    "added_rows": n,
                    "committed_at": time.time(),
                    "snapshot_id": None,
                    "deletes": [],
                }
                try:
                    self._commit(new)
                except CommitConflict:
                    shutil.rmtree(ddir, ignore_errors=True)
                    continue
                if not n:
                    shutil.rmtree(ddir, ignore_errors=True)
                return {**new, "dirs_rewritten": 0, "dirs_untouched": 0,
                        "rows_matched": 0, "rows_inserted": n}
            schema = merge_schemas(
                T.StructType.fromJson(json.loads(snap["schema"])),
                incoming.schema,
            )
            dirs = snap["data_dirs"]
            keyset = incoming.select(*keys).distinct()
            affected, untouched = self._merge_scope(spark, keyset, keys,
                                                    dirs, keys_cap)
            pending = snap.get("deletes") or []
            obs = obs_cur = None
            if affected:
                current = self._scan_dirs(spark, affected, keep_s=bool(pending))
                if pending:
                    current = self._apply_delete_masks(spark, current, pending)
                for aux in ("_s", "_p"):
                    if aux in current.columns:
                        current = current.drop(aux)
                # LIVE (post-mask) row count of the affected dirs rides
                # the write job too — rows_matched must count replaced
                # live rows, not physical rows a folded mask removed
                obs_cur = Observation()
                current = current.observe(obs_cur, F.count(F.lit(1)).alias("n"))
                kept = current.join(keyset, keys, "left_anti")
                # survivor count rides the write job (no second scan)
                obs = Observation()
                kept = kept.observe(obs, F.count(F.lit(1)).alias("n"))
            else:
                kept = local_frame(spark, [], schema)
            merged = kept.unionByName(incoming, allowMissingColumns=True)
            cols = [
                F.col(f.name) if f.name in merged.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            merged = merged.select(*cols)
            sidecars = [filestats.load_dir_stats(d) for d in affected]
            if all(s and s.get("files") for s in sidecars):
                before = sum(
                    f["rows"] for s in sidecars for f in s["files"].values()
                )
            else:
                before = None  # fall back to the observation after the write
            ddir, n_written = self._write_data(
                merged, snap.get("partition_unit", ""),
                snap.get("ts_col", "timestamp"))
            kept_n = int(obs.get["n"]) if obs is not None else 0
            if before is None:
                before = self._scan_dirs(spark, affected).count() if affected else 0
            new = {
                "parent": snap["snapshot_id"],
                "op": "merge",
                "data_dirs": untouched + ([ddir] if n_written else []),
                "schema": json.dumps(schema.jsonValue()),
                "partition_unit": snap.get("partition_unit", ""),
                "ts_col": snap.get("ts_col", "timestamp"),
                "row_count": snap.get("row_count", 0) - before + n_written,
                "added_rows": 0,
                "committed_at": time.time(),
                "snapshot_id": None,
                "deletes": self._narrow_deletes(pending, untouched),
            }
            for key, val in snap.items():  # user metadata carries forward
                if not key.startswith("_"):
                    new.setdefault(key, val)
            try:
                self._commit(new)
                if not n_written:
                    shutil.rmtree(ddir, ignore_errors=True)
                live_before = (int(obs_cur.get["n"])
                               if obs_cur is not None else before)
                new["dirs_rewritten"] = len(affected)
                new["dirs_untouched"] = len(untouched)
                # matched = LIVE rows replaced (mask-folded rows are
                # not "matched"); row_count above uses the PHYSICAL
                # before — folded rows do leave storage
                new["rows_matched"] = live_before - kept_n
                new["rows_inserted"] = (n_written - kept_n) \
                    - new["rows_matched"]
                return new
            except CommitConflict:
                shutil.rmtree(ddir, ignore_errors=True)  # stale rewrite
                continue
        raise CommitConflict(
            f"merge on table {self.name} kept losing to concurrent commits"
        )

    def _merge_scope(self, spark: SparkSession, keyset: DataFrame,
                     keys: list[str], dirs: list[str],
                     keys_cap: int) -> tuple[list[str], list[str]]:
        """(affected, untouched) dirs for a merge's incoming key set.
        Stage 1: per-key-column [min,max] range predicates through
        affected_dirs (any stats tag). Stage 2: for a single int/str
        key with ≤ keys_cap distinct values, refine the survivors with
        the exact sorted key set (dirs_matching_keys) — refinement is
        monotone, so it can only move dirs from affected to untouched.
        Incoming rows whose key is NULL match no current row, so the
        bounds ignore them (F.min/max already do)."""
        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"_mn_{k}"), F.max(k).alias(f"_mx_{k}"),
                     F.count(k).alias(f"_n_{k}")]
        b = keyset.agg(*aggs).first()
        if all(b[f"_mn_{k}"] is None for k in keys):
            return [], list(dirs)  # only NULL keys: nothing can match
        preds = []
        for k in keys:
            if b[f"_mn_{k}"] is not None:
                preds += [(k, ">=", b[f"_mn_{k}"]), (k, "<=", b[f"_mx_{k}"])]
        affected, untouched = filestats.affected_dirs(dirs, preds)
        if (len(keys) == 1 and affected
                and isinstance(b[f"_mn_{keys[0]}"], (int, str))
                and not isinstance(b[f"_mn_{keys[0]}"], bool)
                and b[f"_n_{keys[0]}"] <= keys_cap):
            vals = sorted(
                r[0] for r in keyset.filter(F.col(keys[0]).isNotNull()).collect()
            )
            affected, more = filestats.dirs_matching_keys(
                affected, keys[0], vals)
            untouched += more
        return affected, untouched

    def compact(self, spark: SparkSession, target_files: int | None = None,
                max_retries: int = 10,
                cluster_by: list[str] | None = None,
                zorder_by: list[str] | None = None,
                partition_unit: str | None = None,
                bloom_cols: list[str] | None = None) -> dict:
        """Small-file compaction (the rewrite_data_files maintenance
        op): rewrite CURRENT contents into a single fresh data dir
        with a bounded file count, preserving schema + partitioning.
        Appends a new snapshot (op='compact') — time travel to
        pre-compaction snapshots still works. If an append commits
        while the rewrite is in flight, the commit aborts
        (CommitConflict) and the whole rewrite re-runs from the new
        CURRENT — compaction must never drop concurrent rows.

        cluster_by=[cols] range-partitions AND sorts the rewrite on
        those columns (Iceberg rewrite_data_files sort strategy):
        each output file then covers a tight, near-disjoint value
        range, which is what makes read(prune=...) file skipping
        effective on non-time columns. zorder_by=[cols] sorts on the
        interleaved-bits Morton key instead (OPTIMIZE ZORDER): files
        get a tight bounding box in EVERY listed dimension, so prune
        works on each column independently — use it when queries
        filter on more than one column. Appends interleave values
        again — re-cluster on a maintenance cadence.

        partition_unit="day"/"hour"/... RESPECS the table (partition
        evolution as an explicit rewrite): the compacted data and all
        FUTURE appends use the new time transform. Mixed-format `_p`
        pruning is unsound, so spec change is deliberately O(table) —
        one honest rewrite instead of silently wrong ts_between reads;
        pre-compaction snapshots keep their old layout for time
        travel."""
        import shutil

        for _ in range(max_retries):
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            unit = partition_unit if partition_unit is not None \
                else snap.get("partition_unit", "")
            df = self.read(spark)
            if target_files and not cluster_by and not zorder_by \
                    and not unit:
                df = df.coalesce(target_files)
            ddir, n = self._write_data(
                df, unit, snap.get("ts_col", "timestamp"),
                cluster_by=cluster_by, target_files=target_files,
                zorder_by=zorder_by,
            )
            new = {
                "parent": snap["snapshot_id"],
                "op": "compact",
                "data_dirs": [ddir],
                "schema": snap["schema"],
                "partition_unit": unit,
                "ts_col": snap.get("ts_col", "timestamp"),
                "row_count": n,
                "added_rows": 0,
                "committed_at": time.time(),
                "snapshot_id": None,
                # the rewrite read through read() → pending merge-on-read
                # masks are FOLDED into the new data; none carry forward
                "deletes": [],
            }
            # compaction rewrites LAYOUT, not content: user metadata
            # riding the snapshot (consumer checkpoints, search-index
            # corpus scalars, …) carries forward — the Iceberg
            # table-properties-survive-rewrite contract. Internal
            # bookkeeping keys (underscore-prefixed: _base_dirs,
            # _writer) are commit-scoped and never carried.
            for key, val in snap.items():
                if not key.startswith("_"):
                    new.setdefault(key, val)
            if bloom_cols:
                # keep equality blooms fresh through the rewrite —
                # one scan of the just-written dir (OS-page warm),
                # before the commit so readers of the new snapshot
                # never see a bloomless window
                from swarm_spark import blooms as _blooms

                _blooms.collect_dir_blooms(spark, ddir, bloom_cols)
            try:
                self._commit(new)
                return new
            except CommitConflict:
                shutil.rmtree(ddir, ignore_errors=True)  # stale rewrite
        raise CommitConflict(
            f"compact on table {self.name} kept losing to concurrent commits"
        )

    def _narrow_deletes(self, pending: list[dict],
                        kept_dirs: list[str]) -> list[dict]:
        """Carry pending merge-on-read entries forward across a partial
        rewrite: an entry keeps only the applies_to dirs that survived
        (the rewritten dirs had the mask FOLDED into their data);
        entries left covering nothing drop out. Key files are shared
        across snapshots — expire/rollback own their lifecycle."""
        kept_ids = {self._dir_sval(d) for d in kept_dirs}
        out = []
        for e in pending:
            keep = [a for a in e["applies_to"] if a in kept_ids]
            if keep:
                out.append({**e, "applies_to": keep})
        return out

    @staticmethod
    def _json_safe_predicates(predicates: list[tuple]) -> list[list]:
        """Predicates ride snapshot JSON: datetime/date literals →
        ISO strings (filestats accepts both), tuples → lists."""
        import datetime as _dt

        out = []
        for p in predicates:
            q = []
            for x in p:
                if isinstance(x, (_dt.datetime, _dt.date)):
                    q.append(x.isoformat())
                elif isinstance(x, (tuple, set)):
                    q.append([v.isoformat() if isinstance(v, (_dt.datetime, _dt.date))
                              else v for v in x])
                else:
                    q.append(x)
            out.append(q)
        return out

    def _mor_delete_commit(self, predicates: list[tuple] | None,
                           key_file: str | None, key_cols: list[str] | None,
                           max_retries: int = 10) -> dict:
        """Shared merge-on-read commit for delete_where(mode='mor') and
        delete_keys: record a delete entry scoped to the CURRENT dirs
        it can affect — no data touched, O(metadata) per call."""
        for _ in range(max_retries):
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            if predicates is not None:
                affected, untouched = filestats.affected_dirs(
                    snap["data_dirs"], predicates)
            else:  # arbitrary key sets: stats cannot exclude dirs
                affected, untouched = list(snap["data_dirs"]), []
            if not affected:
                return {**snap, "dirs_affected": 0, "mode": "mor",
                        "rows_deleted": 0}
            entry = {
                "id": uuid.uuid4().hex,
                "applies_to": [self._dir_sval(d) for d in affected],
            }
            if predicates is not None:
                entry["predicates"] = self._json_safe_predicates(predicates)
            else:
                entry["key_file"] = key_file
                entry["key_cols"] = list(key_cols)
            new = {
                "parent": snap["snapshot_id"],
                "op": "mor_delete",
                "data_dirs": list(snap["data_dirs"]),
                "schema": snap["schema"],
                "partition_unit": snap.get("partition_unit", ""),
                "ts_col": snap.get("ts_col", "timestamp"),
                "row_count": snap.get("row_count", 0),  # physical rows
                "added_rows": 0,
                "committed_at": time.time(),
                "snapshot_id": None,
                "deletes": (snap.get("deletes") or []) + [entry],
            }
            for key, val in snap.items():
                if not key.startswith("_"):
                    new.setdefault(key, val)
            try:
                self._commit(new)
                new["dirs_affected"] = len(affected)
                new["mode"] = "mor"
                return new
            except CommitConflict:
                continue  # rewrite landed mid-commit — rescope and retry
        raise CommitConflict(
            f"mor delete on table {self.name} kept losing to concurrent rewrites"
        )

    def delete_keys(self, spark: SparkSession, keys_df: DataFrame,
                    key_cols: list[str], max_retries: int = 10) -> dict:
        """Equality-delete FILE (Iceberg v2's merge-on-read equality
        deletes): write the key tuples once as a small parquet object,
        record it in the snapshot, and read() anti-joins it
        (broadcast) against the dirs that existed at commit time.
        THE erasure-queue shape at 100 TB: each call costs
        O(|keys| + metadata) instead of a data rewrite; compact() or a
        later cow DML folds the mask into data. NULL keys never match
        (SQL semantics)."""
        schema = self.schema()
        if schema is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        have = {f.name for f in schema.fields}
        missing = [c for c in key_cols if c not in have]
        if missing:
            raise ValueError(
                f"delete_keys: column(s) {missing} not in table schema")
        os.makedirs(os.path.join(self.path, "_deletes"), exist_ok=True)
        kdir = os.path.join(self.path, "_deletes", uuid.uuid4().hex)
        keys_df.select(*key_cols).distinct().coalesce(1).write.parquet(kdir)
        try:
            return self._mor_delete_commit(
                predicates=None, key_file=kdir, key_cols=key_cols,
                max_retries=max_retries)
        except Exception:
            import shutil

            shutil.rmtree(kdir, ignore_errors=True)
            raise

    def delete_where(self, spark: SparkSession, predicates: list[tuple],
                     max_retries: int = 10, mode: str = "cow") -> dict:
        """DELETE rows matching the conjunctive `predicates` (same
        forms as read(prune=...)). Keep semantics are SQL DELETE's:
        rows where the predicate is NULL are KEPT.

        mode="cow" (default) — copy-on-write with dir-level pruning
        (the Iceberg copy-on-write delete shape): data dirs whose file
        stats PROVE no row can match carry into the new snapshot
        UNTOUCHED; only affected dirs are rewritten. On a
        time/cluster-organized table a targeted delete (GDPR erasure,
        bad-batch excision) rewrites a sliver, not the table. Commits
        op='delete' with compact's strictness: a concurrent append
        aborts (CommitConflict) and the delete recomputes from the new
        CURRENT. Pending merge-on-read deletes covering the rewritten
        dirs are FOLDED by the rewrite; entries covering untouched
        dirs carry forward narrowed.

        mode="mor" — merge-on-read (Iceberg v2's delete-file shape):
        NO data is rewritten; the predicate is recorded in the
        snapshot scoped to the dirs it applies to, read() masks
        matching rows, and compact()/a later cow rewrite folds the
        mask into data. O(metadata) per call — the shape for
        high-frequency targeted deletes (per-user erasure queues)
        where a rewrite per call would dominate. Commits
        op='mor_delete', which REBASES over concurrent appends (the
        new rows are out of scope by construction) and conflicts on
        concurrent rewrites.

        Returns the snapshot; extra keys `dirs_rewritten` /
        `dirs_untouched` / `rows_deleted` (cow) or `dirs_affected` /
        `mode` (mor) report the work done."""
        import shutil

        if mode not in ("cow", "mor"):
            raise ValueError(f"delete_where: mode must be cow|mor, got {mode!r}")
        if mode == "mor":
            return self._mor_delete_commit(
                predicates=predicates, key_file=None, key_cols=None,
                max_retries=max_retries)
        for _ in range(max_retries):
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            affected, untouched = filestats.affected_dirs(
                snap["data_dirs"], predicates)
            pending = snap.get("deletes") or []
            if not affected:  # provably nothing to delete
                return {**snap, "dirs_rewritten": 0,
                        "dirs_untouched": len(untouched), "rows_deleted": 0}
            df = self._scan_dirs(spark, affected, keep_s=bool(pending))
            if pending:
                # fold pending merge-on-read masks into the rewrite —
                # masked rows must not be resurrected as "survivors"
                df = self._apply_delete_masks(spark, df, pending)
                if "_s" in df.columns:
                    df = df.drop("_s")
            if "_p" in df.columns:
                df = df.drop("_p")
            cols = [
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            df = df.select(*cols)
            # affected-dir row count from the stats sidecars when all
            # are present (metadata, no job); Spark count otherwise
            sidecars = [filestats.load_dir_stats(d) for d in affected]
            if all(s and s.get("files") for s in sidecars):
                before = sum(
                    f["rows"] for s in sidecars for f in s["files"].values()
                )
            else:
                before = df.count()
            keep = df.filter(
                ~F.coalesce(filestats.predicate_column(predicates), F.lit(False))
            )
            ddir, n_kept = self._write_data(
                keep, snap.get("partition_unit", ""),
                snap.get("ts_col", "timestamp"))
            new = {
                "parent": snap["snapshot_id"],
                "op": "delete",
                "data_dirs": untouched + ([ddir] if n_kept else []),
                "schema": snap["schema"],
                "partition_unit": snap.get("partition_unit", ""),
                "ts_col": snap.get("ts_col", "timestamp"),
                "row_count": snap.get("row_count", 0) - (before - n_kept),
                "added_rows": 0,
                "committed_at": time.time(),
                "snapshot_id": None,
                # mor entries covering only rewritten dirs were folded;
                # entries still covering untouched dirs carry NARROWED
                "deletes": self._narrow_deletes(pending, untouched),
            }
            for key, val in snap.items():  # user metadata carries forward
                if not key.startswith("_"):
                    new.setdefault(key, val)
            try:
                self._commit(new)
                if not n_kept:
                    shutil.rmtree(ddir, ignore_errors=True)  # empty rewrite
                new["dirs_rewritten"] = len(affected)
                new["dirs_untouched"] = len(untouched)
                new["rows_deleted"] = before - n_kept
                return new
            except CommitConflict:
                shutil.rmtree(ddir, ignore_errors=True)  # stale rewrite
        raise CommitConflict(
            f"delete_where on table {self.name} kept losing to concurrent commits"
        )

    def update_where(self, spark: SparkSession, predicates: list[tuple],
                     assignments: dict, max_retries: int = 10) -> dict:
        """Copy-on-write UPDATE with the same dir-level stats pruning
        as delete_where: rows matching the conjunctive `predicates`
        get `assignments` applied ({col: Column-expr-or-literal};
        exprs see PRE-update values, SQL UPDATE semantics); provably
        -unaffected dirs carry into the new snapshot untouched. Rows
        whose predicate is NULL are NOT updated. Assigned values are
        cast to the column's declared type — the table schema never
        drifts. Commits op='update' (concurrent append ⇒ recompute
        from new CURRENT). Returns the snapshot + `dirs_rewritten` /
        `dirs_untouched` / `rows_updated`."""
        import shutil

        for _ in range(max_retries):
            snap = self.current_snapshot()
            if snap is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            known = {f.name for f in schema.fields}
            unknown = set(assignments) - known
            if unknown:
                raise ValueError(
                    f"update_where: unknown column(s) {sorted(unknown)}; "
                    f"table {self.name} has {sorted(known)}")
            affected, untouched = filestats.affected_dirs(
                snap["data_dirs"], predicates)
            if not affected:  # provably nothing to update
                return {**snap, "dirs_rewritten": 0,
                        "dirs_untouched": len(untouched), "rows_updated": 0}
            pending = snap.get("deletes") or []
            df = self._scan_dirs(spark, affected, keep_s=bool(pending))
            if pending:
                # fold pending merge-on-read masks — masked rows must
                # not be resurrected (or updated) by the rewrite
                df = self._apply_delete_masks(spark, df, pending)
                if "_s" in df.columns:
                    df = df.drop("_s")
            if "_p" in df.columns:
                df = df.drop("_p")
            df = df.select(*[
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ])
            pred = F.coalesce(
                filestats.predicate_column(predicates), F.lit(False))
            # matched-row count rides the write job (no extra pass)
            obs = Observation()
            df = df.observe(obs, F.sum(pred.cast("bigint")).alias("matched"))
            cols = []
            for f in schema.fields:
                if f.name in assignments:
                    v = assignments[f.name]
                    if not isinstance(v, Column):
                        v = F.lit(v)
                    cols.append(F.when(pred, v.cast(f.dataType))
                                .otherwise(F.col(f.name)).alias(f.name))
                else:
                    cols.append(F.col(f.name))
            ddir, n_new = self._write_data(
                df.select(*cols), snap.get("partition_unit", ""),
                snap.get("ts_col", "timestamp"))
            row_count = snap.get("row_count", 0)
            if pending:
                # folded masks physically removed rows from the
                # rewritten dirs — adjust the physical row count
                sidecars = [filestats.load_dir_stats(d) for d in affected]
                if all(s and s.get("files") for s in sidecars):
                    before_aff = sum(
                        f["rows"] for s in sidecars for f in s["files"].values())
                else:
                    before_aff = self._scan_dirs(spark, affected).count()
                row_count -= before_aff - n_new
            new = {
                "parent": snap["snapshot_id"],
                "op": "update",
                "data_dirs": untouched + ([ddir] if n_new else []),
                "schema": snap["schema"],
                "partition_unit": snap.get("partition_unit", ""),
                "ts_col": snap.get("ts_col", "timestamp"),
                "row_count": row_count,
                "added_rows": 0,
                "committed_at": time.time(),
                "snapshot_id": None,
                "deletes": self._narrow_deletes(pending, untouched),
            }
            for key, val in snap.items():  # user metadata carries forward
                if not key.startswith("_"):
                    new.setdefault(key, val)
            try:
                self._commit(new)
                new["dirs_rewritten"] = len(affected)
                new["dirs_untouched"] = len(untouched)
                new["rows_updated"] = int(obs.get["matched"] or 0)
                return new
            except CommitConflict:
                shutil.rmtree(ddir, ignore_errors=True)  # stale rewrite
        raise CommitConflict(
            f"update_where on table {self.name} kept losing to concurrent commits"
        )

    def remove_orphan_files(self, older_than_sec: float = 3600.0) -> dict:
        """GC data dirs not referenced by ANY live snapshot (the
        remove_orphan_files maintenance op): crashed writers leave
        fully-written `_s=` dirs whose commit never advanced CURRENT,
        and aborted rewrites can leave staging dirs. Only dirs older
        than `older_than_sec` are removed — an IN-FLIGHT writer's dir
        is never collected (default 1 h dwarfs any commit window).
        Never touches referenced dirs; returns counts."""
        import shutil

        live: set[str] = set()
        for s in self.snapshots():
            live.update(os.path.basename(d) for d in s["data_dirs"])
        removed = kept_young = 0
        now = time.time()
        if os.path.isdir(self.data):
            for name in os.listdir(self.data):
                full = os.path.join(self.data, name)
                if not name.startswith("_s=") or not os.path.isdir(full):
                    continue
                if name in live:
                    continue
                # Age by the NEWEST mtime anywhere in the dir tree, not the
                # top-level dir: a partitioned parquet write touches only
                # subdirs/files after the initial mkdir, so a long-running
                # in-flight writer's top-level mtime can be arbitrarily
                # stale while the write is still making progress.
                newest = os.path.getmtime(full)
                for root, _dirs, files in os.walk(full):
                    for entry in files:
                        try:
                            m = os.path.getmtime(os.path.join(root, entry))
                        except OSError:
                            continue
                        if m > newest:
                            newest = m
                    try:
                        m = os.path.getmtime(root)
                    except OSError:
                        continue
                    if m > newest:
                        newest = m
                if now - newest < older_than_sec:
                    kept_young += 1
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        # equality-delete key files (delete_keys) referenced by NO live
        # snapshot — a writer that crashed between writing the key
        # parquet and committing leaves one behind; same dwell rule
        live_kf = {os.path.basename(e["key_file"].rstrip("/"))
                   for s in self.snapshots()
                   for e in s.get("deletes") or [] if e.get("key_file")}
        kdir = os.path.join(self.path, "_deletes")
        if os.path.isdir(kdir):
            for name in os.listdir(kdir):
                full = os.path.join(kdir, name)
                if name in live_kf or not os.path.isdir(full):
                    continue
                newest = os.path.getmtime(full)
                for root, _dirs, files in os.walk(full):
                    for entry in files:
                        try:
                            m = os.path.getmtime(os.path.join(root, entry))
                        except OSError:
                            continue
                        if m > newest:
                            newest = m
                if now - newest < older_than_sec:
                    kept_young += 1
                    continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        return {"orphans_removed": removed, "orphans_too_young": kept_young}

    # -- read ----------------------------------------------------------
    def _scan_dirs(self, spark: SparkSession, dirs: list[str],
                   keep_s: bool = False) -> DataFrame:
        """ONE partitioned parquet relation over the given data dirs —
        plan depth stays flat no matter how many snapshots contribute
        (manifest-file planning: the snapshot's cumulative dir list IS
        the manifest). Dirs are named `_s=<uuid>`, so with
        basePath=data/ partition discovery sees uniform (_s[, _p])
        levels: `_p` pruning works across every snapshot in one scan,
        `_s` is dropped below (kept when merge-on-read delete masks
        need to scope rows to the dirs a delete applies to).
        mergeSchema resolves evolution (missing columns → null).
        Fallback to per-dir unionByName covers legacy layouts / mixed
        partition depths."""
        try:
            df = (
                spark.read.option("mergeSchema", "true")
                .option("basePath", self.data)
                .parquet(*dirs)
            )
            if "_s" in df.columns and not keep_s:
                df = df.drop("_s")
        except Exception:
            parts = []
            for d in dirs:
                p = spark.read.option("mergeSchema", "true") \
                    .option("basePath", d).parquet(d)
                if keep_s and "_s" not in p.columns:
                    base = os.path.basename(d.rstrip("/"))
                    sval = base.split("=", 1)[1] if "=" in base else base
                    p = p.withColumn("_s", F.lit(sval))
                parts.append(p)
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
        return df

    @staticmethod
    def _dir_sval(d: str) -> str:
        """The `_s` partition VALUE for a data dir path (`_s=<uuid>` →
        `<uuid>`) — the unit merge-on-read deletes are scoped by."""
        base = os.path.basename(d.rstrip("/"))
        return base.split("=", 1)[1] if "=" in base else base

    def _apply_delete_masks(self, spark: SparkSession, df: DataFrame,
                            deletes: list[dict]) -> DataFrame:
        """Apply pending merge-on-read delete entries to a scan that
        still carries the `_s` column. Each entry masks rows ONLY in
        the dirs it applied to at commit time (`applies_to`) — rows
        appended after the delete are untouched, the dir-granular
        version of Iceberg v2 sequence-number scoping. SQL DELETE
        semantics: NULL predicate / NULL key = row kept."""
        for ent in deletes:
            applies = F.col("_s").isin(list(ent["applies_to"]))
            if ent.get("key_file"):
                keys = (spark.read.parquet(ent["key_file"])
                        .select(*ent["key_cols"]).distinct()
                        .withColumn("_kdel", F.lit(1)))
                df = df.join(F.broadcast(keys), list(ent["key_cols"]), "left")
                df = df.filter(~(applies & F.col("_kdel").isNotNull())) \
                       .drop("_kdel")
            else:
                pred = filestats.predicate_column(ent["predicates"])
                df = df.filter(~(applies & F.coalesce(pred, F.lit(False))))
        return df

    def snapshot(self, snapshot_id: int) -> dict:
        """Load one snapshot's metadata by id (FileNotFoundError if it
        was expired or rolled back)."""
        snap = self.store.read_snap(snapshot_id)
        if snap is None:
            raise FileNotFoundError(
                f"table {self.name}: no snapshot {snapshot_id}"
            )
        return snap

    def changes_between(self, after_snapshot_id: int | None,
                        to_snapshot_id: int | None = None) -> list[dict]:
        """Snapshots strictly after `after_snapshot_id` up to and
        including `to_snapshot_id` (default CURRENT), oldest first.
        `after_snapshot_id=None` means "since table creation" (the
        whole chain).

        Walks the PARENT CHAIN, not the id sequence — rolled-back
        snapshots are deleted and must not appear, and ids written by
        losing writers never enter the chain. Raises
        IncrementalReadError if `after_snapshot_id` is not an ancestor
        of the target (e.g. it was rolled back or expired)."""
        if to_snapshot_id is None:
            cur = self._current_id()
            if cur is None:
                raise FileNotFoundError(f"table {self.name} has no snapshots")
            to_snapshot_id = cur
        chain: list[dict] = []
        sid: int | None = to_snapshot_id
        while sid is not None and sid != after_snapshot_id:
            try:
                snap = self.snapshot(sid)
            except FileNotFoundError:
                raise IncrementalReadError(
                    f"table {self.name}: snapshot {sid} missing while walking "
                    f"{to_snapshot_id}→{after_snapshot_id} (expired or rolled back)"
                )
            chain.append(snap)
            sid = snap["parent"]
        if sid != after_snapshot_id:
            raise IncrementalReadError(
                f"table {self.name}: snapshot {after_snapshot_id} is not an "
                f"ancestor of {to_snapshot_id}"
            )
        chain.reverse()
        return chain

    def read_changelog(
        self,
        spark: SparkSession,
        after_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level change feed between snapshots (the Iceberg CDC
        changelog scan): every table row gains `_change_type`
        ('insert' | 'delete') and `_commit_snapshot_id`. Appends emit
        their new dirs' rows as inserts; merge-on-read deletes emit
        the rows they masked as deletes (recomputed by applying the
        recorded predicate / key file to the pre-delete data, with
        EARLIER masks applied first so a row deletes at most once).
        Copy-on-write rewrites (delete/update/compact/overwrite/merge)
        raise IncrementalReadError — a rewrite is not
        row-attributable without a diff; the consumer falls back to a
        full recompute, exactly like read_incremental. This is how a
        downstream incremental consumer stays correct once the
        erasure queue (delete_keys) is in play: inserts maintain the
        aggregate forward, deletes retract."""
        chain = self.changes_between(after_snapshot_id, to_snapshot_id)
        to_snap = chain[-1] if chain else (
            self.snapshot(to_snapshot_id) if to_snapshot_id is not None
            else self.current_snapshot())
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField("_change_type", T.StringType(), False),
               T.StructField("_commit_snapshot_id", T.LongType(), False)])
        if not chain:
            return local_frame(spark, [], out_schema)
        bad = [s for s in chain
               if s["op"] not in ("append", "mor_delete")]
        if bad:
            raise IncrementalReadError(
                f"table {self.name}: non-attributable rewrite in range: "
                + ", ".join(f"{s['snapshot_id']}={s['op']}" for s in bad))
        if after_snapshot_id is not None:
            try:
                parent0 = self.snapshot(after_snapshot_id)
            except FileNotFoundError as e:
                raise IncrementalReadError(
                    f"table {self.name}: checkpoint snapshot "
                    f"{after_snapshot_id} expired") from e
            prev_dirs = list(parent0["data_dirs"])
            prev_dels = list(parent0.get("deletes") or [])
        else:
            prev_dirs, prev_dels = [], []

        def project(df, change, sid):
            cols = [
                F.col(f.name).cast(f.dataType) if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            return df.select(*cols) \
                .withColumn("_change_type", F.lit(change)) \
                .withColumn("_commit_snapshot_id",
                            F.lit(sid).cast("long"))

        parts: list[DataFrame] = []
        for snap in chain:
            sid = snap["snapshot_id"]
            if snap["op"] == "append":
                new_dirs = [d for d in snap["data_dirs"]
                            if d not in prev_dirs]
                if new_dirs:
                    df = self._scan_dirs(spark, new_dirs)
                    for c in ("_p", "_s"):
                        if c in df.columns:
                            df = df.drop(c)
                    parts.append(project(df, "insert", sid))
            else:  # mor_delete: emit the newly-masked rows as deletes
                prior_ids = {e["id"] for e in prev_dels}
                own = [e for e in snap.get("deletes") or []
                       if e["id"] not in prior_ids]
                for ent in own:
                    dirs = [d for d in snap["data_dirs"]
                            if self._dir_sval(d) in set(ent["applies_to"])]
                    if not dirs:
                        continue
                    df = self._scan_dirs(spark, dirs, keep_s=True)
                    if prev_dels:
                        # rows already masked before this commit never
                        # re-delete
                        df = self._apply_delete_masks(spark, df, prev_dels)
                    applies = F.col("_s").isin(list(ent["applies_to"]))
                    if ent.get("key_file"):
                        keys = (spark.read.parquet(ent["key_file"])
                                .select(*ent["key_cols"]).distinct()
                                .withColumn("_kdel", F.lit(1)))
                        df = df.join(F.broadcast(keys),
                                     list(ent["key_cols"]), "left")
                        df = df.filter(applies & F.col("_kdel").isNotNull()) \
                               .drop("_kdel")
                    else:
                        pred = filestats.predicate_column(ent["predicates"])
                        df = df.filter(
                            applies & F.coalesce(pred, F.lit(False)))
                    for c in ("_p", "_s"):
                        if c in df.columns:
                            df = df.drop(c)
                    parts.append(project(df, "delete", sid))
            prev_dirs = list(snap["data_dirs"])
            prev_dels = list(snap.get("deletes") or [])
        if not parts:
            return local_frame(spark, [], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def snapshot_diff(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Content-level diff between ANY two snapshots — the
        audit-grade fallback when read_changelog raises on a
        copy-on-write rewrite (the `process(None, ...)` resync path of
        streaming.follow): rows in `to` but not `from` come back as
        _change_type='insert', rows in `from` but not `to` as
        'delete' (bag semantics — exceptAll both ways, duplicates
        diffed by multiplicity). from_snapshot_id=None diffs against
        the empty table.

        Cost model: this is a full content comparison — one shuffle of
        BOTH snapshots on all columns. Correct for any operation
        history, priced accordingly; the changelog scan is the cheap
        path and this is the recovery path. Columns are projected to
        `to`'s schema (evolution-safe)."""
        to_snap = (self.snapshot(to_snapshot_id) if to_snapshot_id is not None
                   else self.current_snapshot())
        if to_snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        new = self.read(spark, snapshot_id=to_snap["snapshot_id"])
        if from_snapshot_id is None:
            old = local_frame(spark, [], schema)
        else:
            old = self.read(spark, snapshot_id=from_snapshot_id)
        cols = [
            F.col(f.name).cast(f.dataType) if f.name in old.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        old = old.select(*cols)
        ins = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
        dels = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    def read_incremental(
        self,
        spark: SparkSession,
        after_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Rows APPENDED after `after_snapshot_id` up to
        `to_snapshot_id` (default CURRENT) — the Iceberg incremental
        append scan. This is the 100 TB resume path for downstream
        consumers: an aggregator that checkpoints the last snapshot id
        it processed scans only the new `_s=` dirs instead of
        re-reading the whole table (reference analogue: swarm's
        enqueue/resume loop re-lists only new objects,
        /root/reference/pkg/usecase/enqueue.go).

        Every snapshot in the range must be an `append` — a rewrite
        (overwrite/merge/compact) in the range raises
        IncrementalReadError and the consumer must fall back to a full
        recompute from the new snapshot. Empty appends contribute
        nothing. The result is projected to the `to` snapshot's schema
        (columns added after a dir was written read as null)."""
        chain = self.changes_between(after_snapshot_id, to_snapshot_id)
        if not chain:
            to = self.snapshot(to_snapshot_id) if to_snapshot_id is not None \
                else self.current_snapshot()
            schema = T.StructType.fromJson(json.loads(to["schema"]))
            return local_frame(spark, [], schema)
        bad = [s for s in chain if s["op"] != "append"]
        if bad:
            raise IncrementalReadError(
                f"table {self.name}: non-append snapshot(s) in range: "
                + ", ".join(f"{s['snapshot_id']}={s['op']}" for s in bad)
            )
        if after_snapshot_id is not None:
            # The checkpoint snapshot itself may have been expired even when
            # every LATER snapshot in the walk is live (keep_last boundary) —
            # that is still "cannot read incrementally", not a crash.
            try:
                base = set(self.snapshot(after_snapshot_id)["data_dirs"])
            except FileNotFoundError as e:
                raise IncrementalReadError(
                    f"table {self.name}: checkpoint snapshot "
                    f"{after_snapshot_id} expired — full recompute required"
                ) from e
        else:
            base = set()
        to_snap = chain[-1]
        new_dirs = [d for d in to_snap["data_dirs"] if d not in base]
        schema = T.StructType.fromJson(json.loads(to_snap["schema"]))
        if not new_dirs:
            return local_frame(spark, [], schema)
        df = self._scan_dirs(spark, new_dirs)
        if "_p" in df.columns:
            df = df.drop("_p")
        cols = [
            F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        return df.select(*cols)

    def build_blooms(self, spark: SparkSession, cols: list[str],
                     m_bytes: int = 32 * 1024, k: int = 6,
                     overwrite: bool = False) -> dict:
        """Build per-file bloom filters for `cols` on every CURRENT
        data dir that lacks them (blooms.collect_dir_blooms — one
        distributed hash job per dir). Makes read(prune=[(col,'=',v)])
        a needle-in-haystack point read on UNCLUSTERED high-cardinality
        keys, where min/max stats cannot prune (every file's range
        spans the key space). Idempotent per dir; new dirs from later
        appends/rewrites simply don't prune until the next build — a
        maintenance action, like compaction (maintain.py
        --bloom-cols). A real deployment computes these in the write
        tasks and commits them with the manifest (Iceberg puffin);
        building post-hoc is the local-fs analogue, priced at one scan
        of the dirs that lack blooms."""
        from concurrent.futures import ThreadPoolExecutor

        from swarm_spark import blooms as _blooms

        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        todo = []
        skipped = 0
        for d in snap["data_dirs"]:
            if not overwrite and _blooms.load_dir_blooms(d) is not None:
                skipped += 1
            else:
                todo.append(d)
        built = 0
        if todo:
            # per-dir jobs are independent — submit them concurrently so
            # one dir's job tail back-fills the others' idle executors
            # (guide §2.6); each writes only its own sidecar.
            with ThreadPoolExecutor(max_workers=min(4, len(todo))) as pool:
                outs = list(pool.map(
                    lambda d: _blooms.collect_dir_blooms(
                        spark, d, cols, m_bytes=m_bytes, k=k,
                        overwrite=overwrite),
                    todo))
            built = sum(1 for o in outs if o is not None)
        return {"dirs_built": built, "dirs_already": skipped,
                "dirs_total": len(snap["data_dirs"])}

    def count_where(self, spark: SparkSession,
                    predicates: list[tuple] | None = None,
                    report: bool = False) -> int | dict:
        """Exact COUNT(*) [WHERE conjunctive predicates] answered from
        metadata wherever the stats allow — Iceberg's manifest-count
        pushdown. Per file: every conjunct DEFINITELY matches every row
        (filestats._definitely_matches — dual of the pruning test) →
        contribute `rows` without opening the file; some conjunct
        impossible → contribute 0; otherwise the file is a BOUNDARY
        file and lands in one residual Spark count. On a
        time/cluster-organized 100 TB table a range count is pure
        metadata plus the two boundary files — the difference between
        answering monitoring queries from the driver and scheduling a
        full scan.

        No predicates and no pending delete masks → the maintained
        snapshot row_count (O(1)). Pending merge-on-read masks make
        per-file metadata counting unsound (masked rows are invisible
        to footers), so the whole count falls back to the masked read
        — correct first, fast when the table allows it."""
        snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        if snap.get("deletes"):
            n = self.read(spark, prune=predicates).count()
            return {"count": n, "meta_rows": 0, "residual_files": -1,
                    "mode": "masked_fallback"} if report else n
        if not predicates:
            n = snap.get("row_count", 0)
            return {"count": n, "meta_rows": n, "residual_files": 0,
                    "mode": "snapshot"} if report else n
        meta_rows, residual, total, decided = filestats.count_plan(
            snap["data_dirs"], predicates)
        scanned = 0
        if residual and any(os.path.isdir(p) for p in residual):
            # A stats-less dir in the residual list cannot be read
            # together with leaf FILES of partitioned dirs (Spark's
            # conflicting-directory-structure error, and the flat read
            # would drop `_p`). Correct first: answer through the
            # normal pruned read + row filter (r5-advice fix).
            n = self.read(spark, prune=predicates).filter(
                F.coalesce(filestats.predicate_column(predicates),
                           F.lit(False))).count()
            return {"count": n, "meta_rows": 0,
                    "residual_files": len(residual), "files_total": total,
                    "files_decided": decided,
                    "mode": "statless_dir_fallback"} if report else n
        if residual:
            df = spark.read.option("mergeSchema", "true").parquet(*residual)
            # schema evolution: residual files may all predate a
            # predicate column — fill it with NULL (read() semantics),
            # so the predicate evaluates instead of failing to resolve
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            types = {f.name: f.dataType for f in schema.fields}
            for p in predicates:
                if p[0] not in df.columns and p[0] in types:
                    df = df.withColumn(p[0], F.lit(None).cast(types[p[0]]))
            scanned = df.filter(
                F.coalesce(filestats.predicate_column(predicates),
                           F.lit(False))).count()
        n = meta_rows + scanned
        if report:
            return {"count": n, "meta_rows": meta_rows,
                    "residual_files": len(residual),
                    "files_total": total, "files_decided": decided,
                    "mode": "metadata+residual"}
        return n

    def prune_report(self, predicates: list[tuple],
                     snapshot_id: int | None = None) -> dict:
        """Dry-run of file skipping for a conjunctive predicate:
        {files_total, files_kept, dirs_without_stats} — observability
        for tests/bench without building a DataFrame."""
        snap = (self.snapshot(snapshot_id) if snapshot_id is not None
                else self.current_snapshot())
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        paths, total, kept = filestats.prune_files(snap["data_dirs"], predicates)
        no_stats = sum(1 for p in paths if os.path.isdir(p))
        return {"files_total": total, "files_kept": kept,
                "dirs_without_stats": no_stats}

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        ts_between: tuple[str, str] | None = None,
        prune: list[tuple] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read the table at CURRENT (or time-travel to snapshot_id,
        or to a named tag — see create_tag).
        ts_between=(lo_iso, hi_iso) prunes hive partitions before the
        scan when the table has a time partition transform.

        prune=[(col, op, value), ...] (ops: = < <= > >= in
        isnull notnull; conjunctive) returns EXACTLY
        read().filter(<conjuncts>) but skips data files whose
        footer-derived column bounds prove they cannot match (Iceberg
        manifest-stats file skipping — see swarm_spark/filestats.py).
        Timestamp literals: datetime (naive = UTC) or ISO string.
        Files from dirs without a stats sidecar are always scanned."""
        if tag is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR tag, not both")
            snapshot_id = self.store.get_tag(tag)
            if snapshot_id is None:
                raise FileNotFoundError(f"table {self.name}: no tag {tag!r}")
        if snapshot_id is not None:
            snap = self.snapshot(snapshot_id)
        else:
            snap = self.current_snapshot()
        if snap is None:
            raise FileNotFoundError(f"table {self.name} has no snapshots")
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        if not snap["data_dirs"]:  # empty-append-only table
            df = local_frame(spark, [], schema)
            return filestats.residual_filter(df, prune) if prune else df
        scan = snap["data_dirs"]
        if prune:
            scan, _total, _kept = filestats.prune_files(scan, prune)
            if not scan:  # every file provably excluded
                df = local_frame(spark, [], schema)
                return filestats.residual_filter(df, prune)
        pending = snap.get("deletes") or []
        df = self._scan_dirs(spark, scan, keep_s=bool(pending))
        unit = snap.get("partition_unit")
        if unit and ts_between:
            fmt_py = {"hour": "%Y-%m-%d-%H", "day": "%Y-%m-%d",
                      "month": "%Y-%m", "year": "%Y"}[unit]
            import datetime as _dt

            lo = _dt.datetime.fromisoformat(ts_between[0]).strftime(fmt_py)
            hi = _dt.datetime.fromisoformat(ts_between[1]).strftime(fmt_py)
            df = df.filter((F.col("_p") >= lo) & (F.col("_p") <= hi))
        if pending:
            df = self._apply_delete_masks(spark, df, pending)
            if "_s" in df.columns:
                df = df.drop("_s")
        if "_p" in df.columns:
            df = df.drop("_p")
        # project to the evolved table schema (missing columns → null)
        cols = [
            F.col(f.name).cast(f.dataType) if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
        out = df.select(*cols)
        # residual filter: skipping is a scan optimization, the
        # predicate still applies row-by-row (files that survive on
        # bounds may hold non-matching rows)
        return filestats.residual_filter(out, prune) if prune else out


class IcepackCatalog:
    """Directory-of-tables catalog ≙ a BigQuery dataset / Iceberg namespace.

    `store_factory(meta_dir) -> store` selects the snapshot-metadata
    backend per table (metastore.py): None = PosixMetaStore (local fs);
    pass `CASMetaStore.for_dir` to run every table's commit protocol on
    conditional-put object-store semantics."""

    supports_adopt = True  # adopt_dir: a staged sink dir is adopted, not re-appended

    def __init__(self, root: str, store_factory=None):
        self.root = root
        self.store_factory = store_factory
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> IcepackTable:
        store = None
        if self.store_factory is not None:
            store = self.store_factory(os.path.join(self.root, name, "_meta"))
        return IcepackTable(self.root, name, store=store)

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_meta"))
        )
