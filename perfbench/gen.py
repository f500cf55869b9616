"""Seeded input generators for the ingest benchmark.

Everything here is plain Python + pyarrow: the program under test only
ever sees the files these functions write, and the same seed always
writes the same bytes.

Transcript rows follow the shape of the pipeline's input contract
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)`` with a Zipf-skewed conversation key, tool calls, error
codes and actor tags embedded in ``text`` for the extract stage.
JSON objects are gzip CloudTrail-shaped ``{"Records": [...]}`` files.
"""

from __future__ import annotations

import datetime as dt
import gzip
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1767225600  # 2026-01-01T00:00:00Z
TOOLS = ["search", "browser", "python", "bash", "sql", "calc", "mail", "files"]
ACTORS = ["alice", "bob", "carol", "dave", "erin", "frank", "grace", "heidi"]
BODY = "lorem ipsum dolor sit amet "

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


class TranscriptSource:
    """A stream of transcript turns over one conversation universe.

    Successive ``take`` calls continue the same conversations (turn_idx
    keeps counting per conversation) and advance event time by one
    second per turn, so each chunk covers a contiguous time range.
    ``late_share`` of a chunk's rows are moved 1-3 hours into the past,
    the way objects that arrive late land in earlier hourly partitions.
    """

    def __init__(self, seed: int, n_convs: int, tag: str = "c"):
        self.rng = random.Random(seed)
        self.n_convs = n_convs
        self.tag = tag
        self.next_gid = 0
        self.turns: dict[int, int] = {}

    def take(self, n: int, late_share: float = 0.0) -> pa.Table:
        rng, log_n = self.rng, math.log(self.n_convs)
        conv, turn, role, text, tool, ts = [], [], [], [], [], []
        for _ in range(n):
            gid = self.next_gid
            self.next_gid += 1
            rank = min(int(math.exp(log_n * rng.random())) - 1, self.n_convs - 1)
            t = self.turns.get(rank, 0)
            self.turns[rank] = t + 1
            r = rng.random()
            rl = ("user" if r < 0.40 else "assistant" if r < 0.78
                  else "system" if r < 0.88 else "tool")
            called = (rl in ("assistant", "tool") and rng.random() < 0.4)
            body = f"turn {gid} actor:{rng.choice(ACTORS)}"
            tname = None
            if called:
                tname = rng.choice(TOOLS)
                body += f' CALL tool={tname} args={{"q":{rng.randrange(1000)}}}'
            if rng.random() < 0.1:
                body += f" ERR-{rng.randrange(10000):04d}"
            body += " body " + BODY * rng.randint(1, 5)
            sec = BASE_EPOCH + gid
            if late_share and rng.random() < late_share:
                sec -= rng.randint(1, 3) * 3600
            conv.append(f"{self.tag}-{rank:07d}")
            turn.append(t)
            role.append(rl)
            text.append(body)
            tool.append(tname)
            ts.append(sec * 1_000_000)
        return pa.table([conv, turn, role, text, tool,
                         pa.array(ts, pa.timestamp("us", tz="UTC"))],
                        schema=TRANSCRIPT_SCHEMA)


def write_transcripts(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# JSON push objects
# ---------------------------------------------------------------------------

EVENT_NAMES = ["GetObject", "PutObject", "ListBuckets", "AssumeRole",
               "DescribeInstances", "CreateUser", "DeleteObject"]
SOURCES = ["s3.amazonaws.com", "sts.amazonaws.com", "ec2.amazonaws.com",
           "iam.amazonaws.com"]
REGIONS = ["us-east-1", "eu-west-1", "ap-northeast-1"]


def _record(rng: random.Random, idx: int, ts: float) -> dict:
    return {
        "eventVersion": "1.08",
        "eventID": f"{rng.getrandbits(64):016x}-{idx:08d}",
        "eventTime": dt.datetime.fromtimestamp(ts, dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%SZ"),
        "eventSource": rng.choice(SOURCES),
        "eventName": rng.choice(EVENT_NAMES),
        "awsRegion": rng.choice(REGIONS),
        "sourceIPAddress": f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
        "userAgent": rng.choice(["aws-cli/2.15", "boto3/1.34", "console"]),
        "userIdentity": {
            "type": rng.choice(["IAMUser", "AssumedRole"]),
            "principalId": f"AID{rng.getrandbits(40):010X}",
            "accountId": f"{rng.randrange(10**12):012d}",
        },
        "readOnly": rng.random() < 0.6,
        # nulls are stripped before inference, so a null here only
        # shows up as an absent key downstream
        "requestParameters": ({"bucketName": f"b{rng.randrange(50)}",
                               "key": f"k/{rng.randrange(10**6)}"}
                              if rng.random() < 0.7 else None),
    }


def json_plan(seed: int, n_objects: int, records_per_object: int,
              evolve_every: int, multidoc_every: int,
              redeliver_share: float, beyond_sample: int = 0) -> dict:
    """The object contents and the POST schedule, decided up front.

    Object ``i`` gains field ``ext_<i>`` when ``i % evolve_every == 0``
    (i > 0). Only its records from index ``beyond_sample`` on carry the
    field (the last tenth when ``beyond_sample`` is 0), and the object is
    made long enough to hold a tenth more after that point. A bounded
    inference sample of ``beyond_sample`` records taken from the head of
    the object misses the field, so the write-time coverage check has to
    widen the schema.

    ``posts`` interleaves first deliveries with redeliveries of
    already-delivered message ids: about ``redeliver_share`` of all
    POSTs repeat an earlier id.
    """
    rng = random.Random(seed)
    objects = []
    for i in range(n_objects):
        extra = f"ext_{i}" if (evolve_every and i and i % evolve_every == 0) else None
        n = records_per_object
        extra_from = n - max(1, n // 10)
        if extra and beyond_sample:
            extra_from = beyond_sample
            n = max(n, beyond_sample + max(1, beyond_sample // 10))
        objects.append({
            "index": i,
            "message_id": f"msg-{seed}-{i:05d}",
            "multidoc": bool(multidoc_every and i % multidoc_every == multidoc_every - 1),
            "extra_field": extra,
            "extra_from": extra_from,
            "records": n,
        })
    posts = []
    delivered: list[int] = []
    for i in range(n_objects):
        posts.append(("first", i))
        delivered.append(i)
        # redeliveries: geometric so ~redeliver_share of posts repeat
        while rng.random() < redeliver_share:
            posts.append(("redeliver", rng.choice(delivered)))
    return {"seed": seed, "objects": objects, "posts": posts}


def write_json_object(seed: int, obj: dict, out_dir: str) -> dict:
    """Write one gzip object; returns its path and the ground truth
    (record count, event ids, field names)."""
    rng = random.Random(seed * 1_000_003 + obj["index"])
    n = obj["records"]
    t0 = BASE_EPOCH + obj["index"] * 600
    recs = [_record(rng, obj["index"] * 100_000 + k, t0 + k * 0.25) for k in range(n)]
    if obj["extra_field"]:
        for rec in recs[obj["extra_from"]:]:
            rec[obj["extra_field"]] = f"v{rng.randrange(1000)}"
    if obj["multidoc"]:
        half = n // 2
        text = (json.dumps({"Records": recs[:half]})
                + json.dumps({"Records": recs[half:]}))
    else:
        text = json.dumps({"Records": recs})
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"obj-{obj['index']:05d}.json.gz")
    with gzip.open(path, "wt", compresslevel=1) as fh:
        fh.write(text)
    fields = sorted({k for r in recs for k, v in r.items() if v is not None})
    return {"path": path, "records": n, "ids": [r["eventID"] for r in recs],
            "fields": fields}


# ---------------------------------------------------------------------------
# sink_query key and range list
# ---------------------------------------------------------------------------

def query_plan(seed: int, table: pa.Table, n_queries: int) -> list[dict]:
    """A seeded mix over the ingested input: ``point`` reads of hot and
    absent conv_ids (prune=), ``range`` reads of an event-time window
    and ``count`` (count_where) of one conv_id inside a time window."""
    rng = random.Random(seed + 7)
    convs = table.column("conv_id").to_pylist()
    counts: dict[str, int] = {}
    for c in convs:
        counts[c] = counts.get(c, 0) + 1
    hot = sorted(counts, key=lambda c: (-counts[c], c))[:20]
    ts = table.column("ts").to_pylist()
    lo, hi = min(ts), max(ts)
    span = (hi - lo).total_seconds()
    out = []
    kinds = ["point", "point_absent", "range", "count"]
    for i in range(n_queries):
        kind = kinds[i % len(kinds)]
        if kind == "point":
            out.append({"kind": "point", "conv_id": rng.choice(hot)})
        elif kind == "point_absent":
            out.append({"kind": "point", "conv_id": f"absent-{rng.randrange(10**6):06d}"})
        else:
            start = lo + dt.timedelta(seconds=rng.uniform(0, span * 0.8))
            q = {"kind": kind,
                 "lo": start.replace(tzinfo=None),
                 "hi": (start + dt.timedelta(seconds=span * 0.05)).replace(tzinfo=None)}
            if kind == "count":
                q["conv_id"] = rng.choice(hot)
            out.append(q)
    return out
