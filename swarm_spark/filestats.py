"""Per-file column statistics + scan-time file skipping for icepack.

Iceberg stores per-data-file column bounds (lower_bounds/upper_bounds/
null_value_counts) in its manifests and prunes files whose ranges
cannot satisfy a scan predicate before any task is scheduled. This
module gives icepack the same capability: at commit time the parquet
FOOTERS of a data dir (metadata only, ~8 KB/file — the same cost class
as the staged-write recount in pipeline.py, which sums these footers)
are aggregated into one `_stats.json` sidecar per data dir; at read
time a conjunctive predicate prunes the file list BEFORE the parquet
relation is built, so skipped files are never even opened.

At 100 TB this is the difference between "scan 100 TB and filter" and
"schedule tasks for the 0.4 TB whose ranges can match": partition
pruning (`_p`) cuts by time, file skipping cuts WITHIN a partition by
any clustered column (see IcepackTable.compact(cluster_by=...)).

Soundness rules (skip only when a match is IMPOSSIBLE):
* a file is skipped only if some conjunct is impossible for it;
  unknown stats (missing sidecar, legacy dir, exotic column type,
  row group without statistics) always mean "maybe" — never skip.
* string upper bounds: parquet min/max are byte-wise; truncating a
  string lowers it lexically, so a truncated MIN is still a valid
  lower bound, but a truncated MAX is NOT a valid upper bound —
  over-long maxima are stored as None (unbounded above). UTF-8
  byte order equals code-point order, so Python str comparison on
  the decoded values is consistent with the parquet byte order.
* floats: parquet writers exclude NaN from min/max, while Spark (and
  DuckDB) order NaN ABOVE every value, so `x > v` / `x >= v` is TRUE
  for NaN rows that the stats upper bound knows nothing about —
  those two ops are never pruned on float columns. (=, <, <=, in
  are safe: NaN satisfies none of them.)
* comparisons never match NULL rows, so an all-null file (min/max
  absent, null_count == rows) is skippable for every comparison op.

The sidecar lives INSIDE the data dir (underscore-prefixed: invisible
to Spark's file listing, like `_SUCCESS`), so stats travel with the
dir through adopt_dir()'s rename and snapshots stay metadata-small.
Collection is best-effort: a failure to read footers never fails a
commit, it only forfeits skipping for that dir.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
from concurrent.futures import ThreadPoolExecutor

STATS_NAME = "_stats.json"
_MAX_STR = 64  # bound-string length cap (Iceberg: write.metadata.metrics truncate(16))
_MAX_COLS = 48  # stats columns per file cap — sidecar stays metadata-sized

_UTC = _dt.timezone.utc


def local_path(uri: str) -> str | None:
    """The local-filesystem path a Spark path names, for Python-side
    file access: a `file:` URI in every form Spark accepts (file:/x,
    file:///x) → its path; a bare path → itself, VERBATIM (urlparse
    would strip a literal '#' or '?' in a directory name as
    fragment/query); any other scheme (object stores) → None."""
    if uri.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(uri).path or uri
    if "://" in uri:
        return None
    return uri


# ---------------------------------------------------------------------------
# collection (commit side)
# ---------------------------------------------------------------------------


def _encode(v, tag):
    """JSON-encode one bound value for the sidecar."""
    if v is None:
        return None
    if tag == "ts":
        if v.tzinfo is None:
            v = v.replace(tzinfo=_UTC)
        return int(v.timestamp() * 1_000_000)
    if tag == "date":
        return v.toordinal()
    if tag == "str":
        return v if isinstance(v, str) else v.decode("utf-8", "replace")
    if tag == "f64":
        return float(v)
    if tag == "bool":
        return bool(v)
    return int(v)


def _tag_of(physical: str, logical, converted: str) -> str | None:
    """Map a parquet column chunk's type to a stats tag (None = skip)."""
    lt = str(logical or "").lower()
    if lt.startswith("timestamp"):
        return "ts"
    if lt.startswith("date") or converted == "DATE":
        return "date"
    if lt.startswith("string") or converted == "UTF8":
        return "str"
    if lt.startswith("decimal") or converted.startswith("DECIMAL"):
        return None  # decimal bounds need scale handling — not worth it here
    if physical in ("INT32", "INT64"):
        return "i64"
    if physical in ("FLOAT", "DOUBLE"):
        return "f64"
    if physical == "BOOLEAN":
        return "bool"
    return None  # BYTE_ARRAY w/o UTF8, INT96, FIXED — unknown, never prune


def _file_stats(path: str) -> dict | None:
    """Aggregate one parquet file's row-group stats into
    {rows, cols: {name: [min, max, nulls, tag]}}. A column appears
    only if EVERY row group has usable statistics for it (otherwise
    the bounds would be partial and pruning unsound).

    Encoding: min=None means "no lower bound known", max=None "no
    upper bound known"; a file whose column has NO non-null values at
    all carries min=max=None WITH nulls == rows — the pruner tells the
    two apart by that equality."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    rows = md.num_rows
    # per column: {mn, mx, vals(bool: any non-null rg seen), nulls, tag}
    acc: dict[str, dict] = {}
    dropped: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            ch = rg.column(c_i)
            name = ch.path_in_schema
            if "." in name or name in dropped:
                continue  # nested leaf — bounds don't map to a top-level column
            st = ch.statistics if ch.is_stats_set else None
            tag = (
                _tag_of(str(st.physical_type), st.logical_type, str(st.converted_type or ""))
                if st is not None
                else None
            )
            if tag is None or st is None:
                dropped.add(name)
                acc.pop(name, None)
                continue
            nulls = st.null_count if st.has_null_count else None
            if st.has_min_max:
                mn, mx = _encode(st.min, tag), _encode(st.max, tag)
                if tag == "str":
                    if len(mn) > _MAX_STR:
                        mn = mn[:_MAX_STR]  # truncated min is still a lower bound
                    if mx is not None and len(mx) > _MAX_STR:
                        mx = None  # truncated max is NOT an upper bound
                has_vals = True
            elif nulls is not None and nulls == rg.num_rows:
                mn = mx = None  # all-null row group: no value bounds to add
                has_vals = False
            else:
                dropped.add(name)
                acc.pop(name, None)
                continue
            cur = acc.setdefault(
                name, {"mn": None, "mx": None, "vals": False, "nulls": 0, "tag": tag}
            )
            if cur["nulls"] is None or nulls is None:
                cur["nulls"] = None
            else:
                cur["nulls"] += nulls
            if has_vals:
                if not cur["vals"]:
                    cur["vals"], cur["mn"], cur["mx"] = True, mn, mx
                else:
                    # mn from a non-null row group is never None
                    if cur["mn"] is not None:
                        cur["mn"] = min(cur["mn"], mn)
                    cur["mx"] = (
                        None if (cur["mx"] is None or mx is None) else max(cur["mx"], mx)
                    )
    cols: dict[str, list] = {}
    for name, cur in acc.items():
        if not cur["vals"] and (cur["nulls"] is None or cur["nulls"] != rows):
            continue  # can assert nothing about this column
        cols[name] = [cur["mn"], cur["mx"], cur["nulls"], cur["tag"]]
        if len(cols) >= _MAX_COLS:
            break  # cap sidecar width — stays metadata-sized
    return {"rows": rows, "cols": cols}

def collect_dir_stats(ddir: str, overwrite: bool = False,
                      spark=None, distributed_threshold: int = 256) -> dict | None:
    """Walk a data dir's parquet files (footers only) and write the
    `_stats.json` sidecar. Best-effort: any failure returns None and
    the dir simply never prunes. No-op for object-store URIs (a real
    deployment computes these bounds in the write tasks and commits
    them with the manifest, like Iceberg's write.metadata.metrics —
    the sidecar is the local-fs analogue).

    Parsing a footer's per-column statistics is Python-loop work the
    GIL serializes, so a driver thread pool tops out near one core
    (~1 ms/file — 2.2 s for a 2191-file batch). When `spark` is given
    and the dir is big enough, the footers are parsed in EXECUTOR
    Python workers instead (separate processes, one tiny job); the
    threaded driver path remains the fallback and the small-dir path."""
    ddir = local_path(ddir)
    if ddir is None:
        return None
    sidecar = os.path.join(ddir, STATS_NAME)
    if not overwrite and os.path.exists(sidecar):
        return load_dir_stats(ddir)
    try:
        import pyarrow.parquet  # noqa: F401
    except ImportError:
        return None
    files = []
    for dirpath, _, fns in os.walk(ddir):
        files.extend(
            os.path.relpath(os.path.join(dirpath, f), ddir)
            for f in fns
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    if not files:
        return None
    try:
        per_file = None
        if spark is not None and len(files) >= distributed_threshold:
            try:
                sc = spark.sparkContext
                paths = [os.path.join(ddir, f) for f in files]
                nparts = max(1, min(sc.defaultParallelism,
                                    len(paths) // 32))
                per_file = (sc.parallelize(paths, nparts)
                            .map(_file_stats).collect())
            except Exception:
                per_file = None  # workers can't import / any failure
        if per_file is None:
            with ThreadPoolExecutor(min(32, len(files))) as pool:
                per_file = list(pool.map(
                    lambda f: _file_stats(os.path.join(ddir, f)), files))
        stats = {"version": 1, "files": dict(zip(files, per_file))}
        tmp = sidecar + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(stats, fh)
        os.replace(tmp, sidecar)
        return stats
    except Exception:
        return None  # stats are an optimization — never fail a commit


def load_dir_stats(ddir: str) -> dict | None:
    try:
        with open(os.path.join(ddir, STATS_NAME)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


# ---------------------------------------------------------------------------
# pruning (read side)
# ---------------------------------------------------------------------------

_OPS = ("=", "==", "<", "<=", ">", ">=", "in", "isnull", "notnull")


def _norm(val, tag):
    """Normalize a predicate literal to the sidecar's encoding."""
    if tag == "ts":
        if isinstance(val, str):
            val = _dt.datetime.fromisoformat(val)
        if isinstance(val, _dt.datetime):
            if val.tzinfo is None:
                val = val.replace(tzinfo=_UTC)  # session tz is UTC (session.py)
            return int(val.timestamp() * 1_000_000)
        raise TypeError(f"timestamp predicate needs datetime or ISO string, got {type(val)}")
    if tag == "date":
        if isinstance(val, str):
            val = _dt.date.fromisoformat(val)
        if isinstance(val, _dt.datetime):
            val = val.date()
        if isinstance(val, _dt.date):
            return val.toordinal()
        raise TypeError(f"date predicate needs date or ISO string, got {type(val)}")
    return val


def _maybe_matches(entry: list, rows: int, op: str, val) -> bool:
    """Could ANY row of a file with these column bounds satisfy
    `col op val`? True = must scan, False = provably no match."""
    mn, mx, nulls, tag = entry
    allnull = nulls is not None and nulls == rows
    if op == "isnull":
        return nulls is None or nulls > 0
    if op == "notnull":
        return not allnull
    if allnull:
        return False  # comparisons never match NULL
    if tag == "f64" and op in (">", ">="):
        return True  # NaN sorts above the stats max — cannot prune
    try:
        if op == "in":
            return any(_maybe_matches(entry, rows, "=", v) for v in val)
        v = _norm(val, tag)
        if isinstance(v, float) and v != v:
            # NaN literal: Spark's NaN semantics (NaN == NaN is true, NaN
            # sorts above every double) disagree with Python comparisons
            # (always False), and parquet min/max exclude NaN — pruning on a
            # NaN literal would drop files that DO contain matching rows.
            # Never prune; the post-scan filter applies engine semantics.
            return True
        if op in ("=", "=="):
            return (mn is None or mn <= v) and (mx is None or v <= mx)
        if op == "<":
            return mn is None or mn < v
        if op == "<=":
            return mn is None or mn <= v
        if op == ">":
            return mx is None or mx > v
        if op == ">=":
            return mx is None or mx >= v
    except TypeError:
        return True  # incomparable literal — never prune on it
    raise ValueError(f"unknown predicate op {op!r} (supported: {_OPS})")


def _definitely_matches(entry: list, rows: int, op: str, val) -> bool:
    """Does EVERY row of a file with these bounds satisfy `col op val`?
    The dual of _maybe_matches, used for metadata-only COUNT pushdown:
    a file that definitely matches contributes its row count without
    being opened. Strictly conservative — False just means "scan it".

    * comparisons require nulls == 0 (a NULL row never satisfies one);
    * floats: parquet min/max exclude NaN and Spark/DuckDB sort NaN
      ABOVE every value, so NaN rows satisfy > / >= (provable) but
      fail = / < / <= (never provable — NaN presence is invisible);
    * a truncated string max (stored None) proves nothing upward;
    * isnull is provable only for an all-null file."""
    mn, mx, nulls, tag = entry
    if op == "isnull":
        return nulls is not None and nulls == rows
    if op == "notnull":
        return nulls == 0
    if nulls != 0:  # unknown (None) or >0: some row fails the comparison
        return False
    try:
        if op == "in":
            return any(_definitely_matches(entry, rows, "=", v) for v in val)
        v = _norm(val, tag)
        if isinstance(v, float) and v != v:
            return False  # NaN literal: never provable from bounds
        if tag == "f64" and op in ("=", "<", "<="):
            return False  # possible NaN rows fail these — invisible to stats
        if op in ("=", "=="):
            return mn is not None and mx is not None and mn == v and mx == v
        if op == "<":
            return mx is not None and mx < v
        if op == "<=":
            return mx is not None and mx <= v
        if op == ">":
            return mn is not None and mn > v
        if op == ">=":
            return mn is not None and mn >= v
    except TypeError:
        return False  # incomparable literal — just scan
    raise ValueError(f"unknown predicate op {op!r} (supported: {_OPS})")


def count_plan(dirs: list[str], predicates: list[tuple]) -> tuple[int, list[str], int, int]:
    """Plan a metadata-first COUNT(*) WHERE <conjunctive predicates>:
    returns (meta_rows, residual_paths, files_total, files_decided).
    meta_rows sums files where every conjunct DEFINITELY matches every
    row; files where some conjunct is impossible contribute 0; only
    boundary files (and whole dirs without stats) land in
    residual_paths for an actual scan. On a time/cluster-organized
    table a range count is metadata plus the two boundary files —
    Iceberg's manifest-count trick."""
    for p in predicates:
        if len(p) < 2 or p[1] not in _OPS:
            raise ValueError(f"bad predicate {p!r} — (col, op[, value]) with op in {_OPS}")
    meta_rows = 0
    residual: list[str] = []
    total = decided = 0
    for d in dirs:
        stats = load_dir_stats(d)
        if not stats or not stats.get("files"):
            residual.append(d)
            continue
        for rel, fstats in stats["files"].items():
            total += 1
            if fstats is None:
                residual.append(os.path.join(d, rel))
                continue
            cols, rows = fstats["cols"], fstats["rows"]
            if rows == 0:
                decided += 1
                continue
            impossible = False
            all_match = True
            for pred in predicates:
                col, op = pred[0], pred[1]
                entry = cols.get(col)
                lit = pred[2] if len(pred) > 2 else None
                if entry is None:
                    all_match = False  # no stats for the column — maybe
                    continue
                if not _maybe_matches(entry, rows, op, lit):
                    impossible = True
                    break
                if not _definitely_matches(entry, rows, op, lit):
                    all_match = False
            if impossible:
                decided += 1
            elif all_match:
                meta_rows += rows
                decided += 1
            else:
                residual.append(os.path.join(d, rel))
    return meta_rows, residual, total, decided


def prune_files(dirs: list[str], predicates: list[tuple]) -> tuple[list[str], int, int]:
    """Apply conjunctive predicates to every dir's sidecar stats.
    Returns (scan_paths, files_total, files_kept): scan_paths mixes
    surviving FILE paths (dirs with stats) and whole DIRS (no sidecar
    — unknown, scan it all). files_total/files_kept count only the
    stats-covered files, for observability and tests."""
    for p in predicates:
        if len(p) < 2 or p[1] not in _OPS:
            raise ValueError(f"bad predicate {p!r} — (col, op[, value]) with op in {_OPS}")
    from swarm_spark import blooms as _blooms

    want_bloom = any(p[1] in ("=", "==", "in") for p in predicates)
    paths: list[str] = []
    total = kept = 0
    for d in dirs:
        stats = load_dir_stats(d)
        if not stats or not stats.get("files"):
            paths.append(d)
            continue
        dblooms = _blooms.load_dir_blooms(d) if want_bloom else None
        for rel, fstats in stats["files"].items():
            total += 1
            if fstats is None:
                kept += 1
                paths.append(os.path.join(d, rel))
                continue
            cols, rows = fstats["cols"], fstats["rows"]
            if rows == 0:
                continue  # empty part file contributes no rows — always prunable
            survive = True
            for pred in predicates:
                col, op = pred[0], pred[1]
                entry = cols.get(col)
                if entry is None:
                    continue  # no stats for this column — maybe
                if not _maybe_matches(entry, rows, op, pred[2] if len(pred) > 2 else None):
                    survive = False
                    break
            if survive and dblooms is not None:
                # min/max passed — a per-file bloom can still prove an
                # equality literal was never written to this file.
                # The stats tags gate type safety: a literal whose
                # Python type differs from the column's stored type is
                # never bloom-pruned (the engine may cast-match it).
                tags = {c: e[3] for c, e in cols.items()}
                survive = _blooms.file_maybe_matches(
                    dblooms, rel, predicates, tags)
            if survive:
                kept += 1
                paths.append(os.path.join(d, rel))
    return paths, total, kept


def residual_filter(df, predicates: list[tuple]):
    """Apply the SAME conjuncts as DataFrame filters, so
    read(prune=P) ≡ read().filter(P) exactly — file skipping is a
    scan optimization, never a semantics change (Iceberg applies the
    residual expression the same way)."""
    from pyspark.sql import functions as F

    for pred in predicates:
        col, op = pred[0], pred[1]
        c = F.col(col)
        if op == "isnull":
            df = df.filter(c.isNull())
            continue
        if op == "notnull":
            df = df.filter(c.isNotNull())
            continue
        val = pred[2]
        if isinstance(val, _dt.datetime) and val.tzinfo is not None:
            # Spark lits are naive-in-session-tz; session tz is UTC
            val = val.astimezone(_UTC).replace(tzinfo=None)
        if op in ("=", "=="):
            df = df.filter(c == F.lit(val))
        elif op == "<":
            df = df.filter(c < F.lit(val))
        elif op == "<=":
            df = df.filter(c <= F.lit(val))
        elif op == ">":
            df = df.filter(c > F.lit(val))
        elif op == ">=":
            df = df.filter(c >= F.lit(val))
        elif op == "in":
            df = df.filter(c.isin(list(val)))
        else:
            raise ValueError(f"unknown predicate op {op!r}")
    return df


# ---------------------------------------------------------------------------
# z-order clustering (layout side)
# ---------------------------------------------------------------------------


def zorder_expression(df, cols: list[str], bits: int = 16):
    """Morton/z-order sort key over 2+ numeric/timestamp columns (the
    Iceberg/Delta OPTIMIZE ZORDER analogue): each column is linearly
    scaled to a `bits`-wide integer against its GLOBAL min/max (one
    scalar-agg job — maintenance path only), then the bit strings are
    interleaved. Sorting the rewrite by this key gives every output
    file a tight bounding box in ALL the z-ordered dimensions at once,
    so read(prune=...) skips files on any single one of them —
    single-column cluster_by can only serve its leading column.

    Linear scaling (not quantile ranks) is deliberate: deterministic,
    no sampling job, and footer-bound tightness degrades gracefully on
    skew (the skewed region just gets more files). Returns a Column;
    never persisted to the files."""
    from pyspark.sql import functions as F

    if len(cols) < 2:
        raise ValueError("z-order needs >= 2 columns (use cluster_by for one)")
    d = len(cols)
    if bits * d > 62:
        raise ValueError(f"bits={bits} x {d} columns overflows the bigint z-value")
    aggs = []
    for c in cols:
        e = F.col(c).cast("double")
        aggs += [F.min(e).alias(f"_lo_{c}"), F.max(e).alias(f"_hi_{c}")]
    row = df.agg(*aggs).first()
    z = F.lit(0).cast("bigint")
    top = (1 << bits) - 1
    for i, c in enumerate(cols):
        lo, hi = row[f"_lo_{c}"], row[f"_hi_{c}"]
        if lo is None or hi is None:
            raise ValueError(f"z-order column {c} is entirely null")
        span = (hi - lo) or 1.0
        scaled = F.least(
            F.lit(top).cast("bigint"),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo)) * F.lit(float(top)) / F.lit(span)
                ).cast("bigint"),
            ),
        )
        for b in range(bits):
            bit = F.shiftright(scaled, b).bitwiseAND(F.lit(1).cast("bigint"))
            z = z + F.shiftleft(bit, b * d + i)
    return z


def predicate_column(predicates: list[tuple]):
    """The conjunctive predicate as ONE Column expression (SQL
    three-valued logic: NULL operands make the conjunct NULL)."""
    from pyspark.sql import functions as F

    expr = F.lit(True)
    for pred in predicates:
        col, op = pred[0], pred[1]
        c = F.col(col)
        if op == "isnull":
            expr = expr & c.isNull()
            continue
        if op == "notnull":
            expr = expr & c.isNotNull()
            continue
        val = pred[2]
        if isinstance(val, _dt.datetime) and val.tzinfo is not None:
            val = val.astimezone(_UTC).replace(tzinfo=None)
        if op in ("=", "=="):
            expr = expr & (c == F.lit(val))
        elif op == "<":
            expr = expr & (c < F.lit(val))
        elif op == "<=":
            expr = expr & (c <= F.lit(val))
        elif op == ">":
            expr = expr & (c > F.lit(val))
        elif op == ">=":
            expr = expr & (c >= F.lit(val))
        elif op == "in":
            expr = expr & c.isin(list(val))
        else:
            raise ValueError(f"unknown predicate op {op!r}")
    return expr


def affected_dirs(dirs: list[str], predicates: list[tuple]) -> tuple[list[str], list[str]]:
    """Partition a snapshot's data dirs into (affected, untouched) for
    a conjunctive predicate: a dir is UNTOUCHED only when its stats
    prove NO file in it can contain a matching row — the dir-level
    pruning a copy-on-write DELETE uses to avoid rewriting data the
    predicate cannot touch. No sidecar ⇒ affected (conservative)."""
    affected: list[str] = []
    untouched: list[str] = []
    for d in dirs:
        paths, _total, kept = prune_files([d], predicates)
        (affected if paths else untouched).append(d)
    return affected, untouched


def dirs_matching_keys(dirs: list[str], col: str,
                       sorted_vals: list) -> tuple[list[str], list[str]]:
    """Partition dirs into (affected, untouched) for an EXACT key set:
    a dir is untouched only when every file's stats prove that NO
    value in `sorted_vals` (ascending, non-null, homogeneous int or
    str) can appear in the file's `col`. This is the dir-scoping a
    copy-on-write MERGE uses — tighter than a [min,max] range
    predicate when incoming keys are sparse (a range straddling a dir
    that contains none of the keys still prunes here, via one bisect
    per file interval).

    Soundness mirrors _maybe_matches for `=`:
    * no sidecar / no stats for the column / unknown tag ⇒ affected;
    * an all-null file (nulls == rows) cannot equal any key ⇒ skippable;
    * a truncated string max is stored as None (unbounded above) and
      keeps the file affected whenever any key ≥ its min;
    * type mismatch between keys and bounds ⇒ affected (never prune on
      an incomparable literal)."""
    from bisect import bisect_left

    if not sorted_vals:
        return [], list(dirs)
    affected: list[str] = []
    untouched: list[str] = []
    want = str if isinstance(sorted_vals[0], str) else int
    for d in dirs:
        stats = load_dir_stats(d)
        hit = False
        if not stats or not stats.get("files"):
            hit = True
        else:
            for fstats in stats["files"].values():
                if fstats is None:
                    hit = True
                    break
                if fstats["rows"] == 0:
                    continue  # empty part file: nothing to match
                entry = fstats["cols"].get(col)
                if entry is None:
                    hit = True
                    break
                mn, mx, nulls, tag = entry
                if nulls is not None and nulls == fstats["rows"]:
                    continue  # all-null file: equality never matches
                if tag not in ("i64", "str") or (
                    mn is not None and not isinstance(mn, want)
                ):
                    hit = True  # incomparable bounds — never prune
                    break
                i = 0 if mn is None else bisect_left(sorted_vals, mn)
                if i < len(sorted_vals) and (mx is None or sorted_vals[i] <= mx):
                    hit = True
                    break
        (affected if hit else untouched).append(d)
    return affected, untouched
