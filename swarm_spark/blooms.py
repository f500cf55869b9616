"""Per-file bloom filters for equality file skipping on icepack tables.

Min/max file stats (filestats.py) prune range predicates on CLUSTERED
columns, but a point lookup on a high-cardinality, unclustered key
(doc_id, conversation_id, user_id) survives every file's [min,max] —
each file's range spans nearly the whole key space. Parquet solved
this with split-block bloom filters (parquet-format/BloomFilter.md);
Iceberg's puffin files carry the same idea at file granularity. This
module is icepack's analogue: one bloom per (data file, column),
aggregated into a `_blooms.json` sidecar per data dir, consulted by
read(prune=[(col, '=', v)]) AFTER min/max — a file is skipped when the
bloom proves the value was never written to it.

At 100 TB: a needle-in-haystack read (one conversation out of
billions) schedules tasks for the handful of files whose blooms fire
(expected false-positive rate × file count) instead of every file in
the partition. The bloom bytes are built DISTRIBUTED — one Spark job
per dir, values hashed in Arrow batches, partial bitsets OR-folded per
file — because unlike footer stats they require reading the data; a
real deployment computes them in the write tasks (Iceberg:
write.metadata.metrics + puffin) and commits them with the manifest.

Soundness (bloom says "maybe" or "provably absent", never a false
"absent"):
* any sized bitset is sound — undersizing only raises the false-
  positive rate, so collection never fails on a huge file;
* values are canonicalized by Spark's JVM `cast(string)` at build time
  and by the same textual form at probe time; a probe literal whose
  type doesn't canonicalize identically (float on an int column) is
  never pruned on;
* NULLs are never added and equality never matches NULL — consistent;
* a dir or file without a bloom for the column is always scanned.

Hashing: two 64-bit lanes from one md5 (stable across Python versions
and executors), double-hashed into k positions (Kirsch–Mitzenmacher) —
the classic construction, nothing platform-dependent.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .filestats import local_path

BLOOM_NAME = "_blooms.json"


def _hash_pair(canon: bytes) -> tuple[int, int]:
    d = hashlib.md5(canon).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-period stride
    return h1, h2


def positions(canon: bytes, m_bits: int, k: int) -> list[int]:
    """The k bit positions a canonical value sets/probes."""
    h1, h2 = _hash_pair(canon)
    return [(h1 + i * h2) % m_bits for i in range(k)]


def canonical(value) -> bytes | None:
    """Probe-side canonical bytes for a literal, matching the build
    side's Spark `cast(string)`: int → decimal text, str → utf-8.
    None = this literal cannot be canonicalized consistently (float,
    bool, date, ...) — the caller must NOT prune on it."""
    if isinstance(value, bool) or value is None:
        return None
    if isinstance(value, int):
        return str(value).encode()
    if isinstance(value, str):
        return value.encode()
    return None


def maybe_contains(bloom: bytes, m_bits: int, k: int, canon: bytes) -> bool:
    for pos in positions(canon, m_bits, k):
        if not (bloom[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


# ---------------------------------------------------------------------------
# collection (one distributed job per data dir)
# ---------------------------------------------------------------------------


def collect_dir_blooms(spark: SparkSession, ddir: str, cols: list[str],
                       m_bytes: int = 32 * 1024, k: int = 6,
                       overwrite: bool = False) -> dict | None:
    """Build per-(file, column) blooms for one data dir and write the
    `_blooms.json` sidecar (underscore-prefixed: invisible to Spark's
    listing, travels with the dir like `_stats.json`). Distributed:
    map tasks hash their Arrow batches into partial bitsets keyed by
    (input file, column); one shuffle OR-folds partials per file. The
    driver only ever holds files × cols × m_bytes — manifest-sized.
    Best-effort like stats collection: unreadable dir → None."""
    local = local_path(ddir)
    if local is None:
        return None
    sidecar = os.path.join(local, BLOOM_NAME)
    if not overwrite and os.path.exists(sidecar):
        return load_dir_blooms(local)
    m_bits = m_bytes * 8
    try:
        df = spark.read.parquet(local)
    except Exception:
        return None
    use = [c for c in cols if c in df.columns]
    if not use:
        return None
    src = df.select(
        F.input_file_name().alias("_file"),
        *[F.col(c).cast("string").alias(c) for c in use],
    )

    def _partials(batches):
        import numpy as np
        import pandas as pd

        acc: dict[tuple, "np.ndarray"] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("_file"):
                for c in use:
                    vals = grp[c].dropna()
                    if vals.empty:
                        continue
                    arr = acc.setdefault(
                        (fname, c), np.zeros(m_bytes, dtype=np.uint8))
                    for v in vals:
                        for pos in positions(str(v).encode(), m_bits, k):
                            arr[pos >> 3] |= 1 << (pos & 7)
        yield pd.DataFrame(
            [(f, c, a.tobytes()) for (f, c), a in acc.items()],
            columns=["file", "col", "bloom"],
        )

    def _orfold(key, pdf):
        import numpy as np
        import pandas as pd

        folded = np.zeros(m_bytes, dtype=np.uint8)
        for b in pdf["bloom"]:
            folded |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            [(key[0], key[1], folded.tobytes())],
            columns=["file", "col", "bloom"],
        )

    schema = "file string, col string, bloom binary"
    parts = src.mapInPandas(_partials, schema=schema)
    folded = parts.groupBy("file", "col").applyInPandas(_orfold, schema=schema)
    rows = folded.collect()
    from urllib.parse import urlparse

    files: dict[str, dict] = {}
    for r in rows:
        rel = os.path.relpath(urlparse(r["file"]).path or r["file"], local)
        files.setdefault(rel, {})[r["col"]] = base64.b64encode(
            bytes(r["bloom"])).decode()
    blooms = {"version": 1, "m_bits": m_bits, "k": k, "files": files}
    try:
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(blooms, fh)
        os.replace(tmp, sidecar)
    except OSError:
        return None
    return blooms


def load_dir_blooms(ddir: str) -> dict | None:
    try:
        with open(os.path.join(ddir, BLOOM_NAME)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


# ---------------------------------------------------------------------------
# probing (read side — called from filestats.prune_files)
# ---------------------------------------------------------------------------


_TAG_TYPE = {"i64": int, "str": str}


def file_maybe_matches(blooms: dict | None, rel: str,
                       predicates: list[tuple],
                       tags: dict | None = None) -> bool:
    """Could file `rel` satisfy every equality conjunct, per its
    blooms? True = must scan (no bloom, non-equality op, or bloom
    fires); False = some `=`/`in` conjunct is provably absent.

    `tags` maps column → stats tag for THIS file (from the stats
    sidecar). A bloom is only consulted when the literal's Python type
    matches the column's stored type (int↔i64, str↔str, bool never):
    the build side hashed Spark's cast(string) of the COLUMN values,
    so probing a string column with an int literal (or vice versa)
    would compare different canonical forms — e.g. \"007\" vs 7, where
    the engine's cast-based equality MATCHES but the bloom text
    differs. No tag / non-i64-str tag (timestamps, floats) → never
    prune on that conjunct."""
    if not blooms:
        return True
    entry = (blooms.get("files") or {}).get(rel)
    if not entry:
        return True
    m_bits, k = blooms["m_bits"], blooms["k"]
    for pred in predicates:
        col, op = pred[0], pred[1]
        b64 = entry.get(col)
        if b64 is None or op not in ("=", "==", "in"):
            continue
        want = _TAG_TYPE.get((tags or {}).get(col))
        if want is None:
            continue  # unknown/unsupported column type — never prune
        vals = pred[2] if op == "in" else [pred[2]]
        if any(not isinstance(v, want) or isinstance(v, bool)
               for v in vals):
            continue  # cross-type literal — engine may cast-match it
        canons = [canonical(v) for v in vals]
        if any(c is None for c in canons):
            continue  # un-canonicalizable literal — never prune on it
        bloom = base64.b64decode(b64)
        if not any(maybe_contains(bloom, m_bits, k, c) for c in canons):
            return False
    return True
