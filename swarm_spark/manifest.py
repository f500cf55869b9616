"""Processed-batch manifest — the Firestore State replacement.

swarm gates each Pub/Sub message through a Firestore transaction with
Acquired semantics (/root/reference/pkg/domain/model/state.go:19-31,
pkg/infra/firestore/client.go:24-60):

  * no prior state            → acquire
  * state=completed           → NEVER re-acquire (skip; exactly-once)
  * state=running, not expired→ do not acquire (someone else owns it)
  * state=running, expired    → re-acquire (owner died)
  * state=failed              → re-acquire (retry)

The rebuild keys state by input-partition id instead of message id and
stores it as one JSON doc per key with atomic os.replace writes +
O_EXCL creation for the acquire race. Combined with icepack's atomic
snapshot commits (data first, manifest second), a re-run reconciles to
identical sink contents — the resume/idempotency contract of the
north_rule.

Defaults mirror usecase.go:39-42: timeout 30 min, TTL 7 d.

BatchTxn is the one owner of a batch's partial-failure contract: both
ingests (pipeline.IngestPipeline, pipeline_json.JsonIngest) commit
through it and never touch the manifest or a rollback directly.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import asdict, dataclass

STATE_RUNNING = "running"
STATE_COMPLETED = "completed"
STATE_FAILED = "failed"

DEFAULT_TIMEOUT_SEC = 30 * 60
DEFAULT_TTL_SEC = 7 * 24 * 3600


@dataclass
class BatchState:
    id: str
    request_id: str
    state: str
    created_at: float
    updated_at: float
    expires_at: float
    ttl_sec: float = DEFAULT_TTL_SEC
    snapshot_ids: dict | None = None  # sink table -> committed snapshot id

    def acquirable(self, now: float | None = None) -> bool:
        """model.State.Acquired (state.go:19-31)."""
        now = now or time.time()
        if self.state == STATE_COMPLETED:
            return False
        if self.state == STATE_FAILED:
            return True
        return now >= self.expires_at  # running but expired


class ManifestStore:
    def __init__(self, root: str, timeout_sec: float = DEFAULT_TIMEOUT_SEC,
                 ttl_sec: float = DEFAULT_TTL_SEC):
        self.root = root
        self.timeout_sec = timeout_sec
        self.ttl_sec = ttl_sec
        os.makedirs(root, exist_ok=True)

    def _path(self, batch_id: str) -> str:
        safe = batch_id.replace("/", "__")
        return os.path.join(self.root, f"{safe}.json")

    def get(self, batch_id: str) -> BatchState | None:
        try:
            with open(self._path(batch_id)) as fh:
                return BatchState(**json.load(fh))
        except FileNotFoundError:
            return None

    def _put(self, st: BatchState) -> None:
        tmp = self._path(st.id) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(asdict(st), fh)
        os.replace(tmp, self._path(st.id))

    def get_or_create(self, batch_id: str, request_id: str) -> tuple[BatchState, bool]:
        """Returns (state, acquired). Transactional acquire:
        first-creation uses O_EXCL so two racing workers cannot both
        win; re-acquire paths follow Acquired semantics."""
        now = time.time()
        fresh = BatchState(
            id=batch_id, request_id=request_id, state=STATE_RUNNING,
            created_at=now, updated_at=now, expires_at=now + self.timeout_sec,
            ttl_sec=self.ttl_sec,
        )
        try:
            fd = os.open(self._path(batch_id), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as fh:
                json.dump(asdict(fresh), fh)
            return fresh, True
        except FileExistsError:
            pass
        cur = self.get(batch_id)
        if cur is None:  # torn write; treat as acquirable
            self._put(fresh)
            return fresh, True
        if not cur.acquirable(now):
            return cur, False
        cur.state = STATE_RUNNING
        cur.request_id = request_id
        cur.updated_at = now
        cur.expires_at = now + self.timeout_sec
        self._put(cur)
        return cur, True

    def wait(self, batch_id: str, poll_sec: float = 0.2,
             timeout_sec: float | None = None) -> BatchState | None:
        """Block until the batch leaves RUNNING (or its lease expires)
        — model.WaitState (server.go:139-143): a push redelivery that
        finds another worker mid-flight parks instead of racing it."""
        deadline = None
        if timeout_sec is not None:
            deadline = time.time() + timeout_sec
        while True:
            st = self.get(batch_id)
            if st is None or st.state != STATE_RUNNING:
                return st
            now = time.time()
            if now >= st.expires_at:
                return st
            if deadline is not None and now >= deadline:
                return st
            time.sleep(poll_sec)

    def update(self, batch_id: str, state: str, snapshot_ids: dict | None = None) -> None:
        """running → completed|failed (client.go:82-91 call pattern,
        server.go:146-161)."""
        cur = self.get(batch_id)
        if cur is None:
            raise KeyError(batch_id)
        cur.state = state
        cur.updated_at = time.time()
        if snapshot_ids is not None:
            cur.snapshot_ids = snapshot_ids
        self._put(cur)


class BatchTxn:
    """One attempt at one batch, exactly-once on PARTIAL failure
    (≙ State.Acquired + pending-stream abort, state.go:19-31 /
    bq client.go:240-263):

      * acquire through the manifest gate (`acquired` False → skip);
      * per-table snapshot ids are recorded in the manifest AS THEY
        COMMIT;
      * a table a prior failed attempt left committed (its rollback was
        impossible: another batch committed on top) is resume-skipped,
        not re-appended;
      * on failure, this attempt's commits are rolled back newest
        first; whatever cannot be rolled back stays recorded so the
        retry skips it — either way a retry reconciles to exactly one
        copy of the batch per table;
      * the batch is marked completed or failed on leaving the `with`.

        txn = BatchTxn(manifest, catalog, batch_id, request_id)
        if txn.acquired:
            with txn:
                txn.commit("sink", lambda t: t.append(df))
    """

    def __init__(self, manifest: ManifestStore, catalog, batch_id: str,
                 request_id: str):
        self.manifest = manifest
        self.catalog = catalog
        self.batch_id = batch_id
        self.request_id = request_id
        self.state, self.acquired = manifest.get_or_create(batch_id, request_id)
        self.prior = dict(self.state.snapshot_ids or {}) if self.acquired else {}
        self.committed = dict(self.prior)
        self.attempt: list[tuple[str, int]] = []  # this attempt's commits, in order
        self.t0 = time.time()

    def commit(self, table_name: str, write) -> dict:
        """`write(table)` → snapshot dict, unless a prior attempt's
        snapshot of `table_name` is still in the table's log: then that
        snapshot is returned and nothing is written."""
        t = self.catalog.table(table_name)
        if table_name in self.prior:
            for s in t.snapshots():
                if s["snapshot_id"] == self.prior[table_name]:
                    return s
            del self.prior[table_name]  # rolled back / expired: re-append
        snap = write(t)
        self.committed[table_name] = snap["snapshot_id"]
        self.attempt.append((table_name, snap["snapshot_id"]))
        self.manifest.update(self.batch_id, STATE_RUNNING, self.committed)
        return snap

    def fresh(self, table_name: str) -> bool:
        """Whether this attempt (not a prior one) committed `table_name`."""
        return any(name == table_name for name, _ in self.attempt)

    def undo(self, table_name: str) -> None:
        """Roll back this attempt's own commit to `table_name` so the
        table can be rewritten (the JSON schema-coverage retry); a
        refused rollback aborts the batch."""
        sid = self.committed[table_name]
        if not self.catalog.table(table_name).rollback(sid):
            raise RuntimeError(
                f"{table_name}: cannot roll back snapshot {sid} for a "
                "rewrite (another commit landed on top)")
        del self.committed[table_name]
        self.attempt.remove((table_name, sid))
        self.manifest.update(self.batch_id, STATE_RUNNING, self.committed)

    def __enter__(self) -> BatchTxn:
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self.manifest.update(self.batch_id, STATE_COMPLETED, self.committed)
            return False
        for table_name, sid in reversed(self.attempt):
            if self.catalog.table(table_name).rollback(sid):
                self.committed.pop(table_name, None)
        self.manifest.update(self.batch_id, STATE_FAILED, self.committed)
        return False
