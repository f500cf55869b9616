"""Dynamic-payload JSON ingestion — the open-schema twin of
pipeline.IngestPipeline, covering swarm's actual object flow
(/root/reference/pkg/usecase/load.go:188-252): JSON documents of
UNKNOWN shape are parsed, nil-stripped, content-hashed, timestamped,
routed, and appended to sink tables whose schemas are INFERRED per
batch and union-merged monotonically with the live table schema
(pkg/usecase/bigquery.go:15-62).

Pipeline:  files → read_multidoc_json → event-route on object path →
           explode_records → nil-strip (Arrow UDF) → id/ts envelope →
           per-sink: infer schema → from_json(payload) → icepack
           append (union-by-name evolution, conflict = hard error)

The schema-inference pass is one extra scan of each sink's records —
exactly the cost swarm pays in bqs.Infer over every record; here it
is Spark's parallel JSON schema inference instead of per-row Go
reflection.
"""

from __future__ import annotations

import json
import time
import uuid
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.normalize import content_hash_json_udf, nil_strip_json_udf
from .manifest import BatchTxn, ManifestStore
from .rules import EventRule, route
from .session import local_frame
from .tablestore import IcepackCatalog

AUDIT_JSON_DDL = (
    "request_id string, batch_id string, success boolean, error string, "
    "table_schemas string, log_counts string"
)


@dataclass(frozen=True)
class JsonSchemaRule:
    """Per-schema transform config for open JSON payloads — the Log
    construction contract of model/policy.go:64-89.

    ts_format mirrors the time handling seen in the reference's rules:
      'unix'     float/int seconds (load.go:236-239)
      'unix_ms'  milliseconds (README.md:55 divides by 1000 in Rego)
      'rfc3339'  ISO-8601 strings (time.parse_rfc3339_ns,
                 pkg/usecase/testdata/policy/schema.rego:8)

    record_predicate optionally gates individual records AFTER the
    event-level match — the per-record conditional routing Rego schema
    rules can express (a non-matching record is skipped with the same
    warn+skip semantics as a 0-match schema rule, load.go:216-219).
    It is a (json_path, op, value) triple evaluated on the record.
    """

    schema_name: str
    sink_table: str
    partition_unit: str = ""
    ts_path: str = "$.timestamp"
    ts_format: str = "unix"        # unix | unix_ms | rfc3339
    id_path: str = ""              # '' → content hash (types.go:27-34)
    records_field: str = "Records"
    drop_paths: tuple = field(default_factory=tuple)
    record_predicate: tuple | None = None  # (json_path, op, value)

    def __post_init__(self):
        if self.ts_format not in ("unix", "unix_ms", "rfc3339"):
            raise ValueError(f"invalid ts_format {self.ts_format!r}")
        for p in self.drop_paths:
            if not p.startswith("$."):
                raise ValueError(f"drop path must start with '$.': {p!r}")
        if self.record_predicate is not None:
            path, op, _ = self.record_predicate
            if op not in ("eq", "startswith", "endswith", "contains", "rlike"):
                raise ValueError(f"invalid record_predicate op {op!r}")
            if not path.startswith("$."):
                raise ValueError("record_predicate path must start with '$.'")


def make_drop_udf(paths: tuple):
    """json.patch-remove analogue (README.md:56): remove dotted paths
    ('$.a.b.c' — nested object traversal, mirroring Rego's
    {"op":"remove","path":"/a/b/c"}) from a JSON object column.
    Arrow-batched. Note: prefix is stripped positionally (p[2:]), not
    with lstrip — a leading '$' or '.' in a KEY must survive."""
    from pyspark.sql import types as T

    for p in paths:
        if not p.startswith("$."):
            raise ValueError(f"drop path must start with '$.': {p!r}")
    keys = [tuple(p[2:].split(".")) for p in paths]

    def _remove(v, path):
        if not isinstance(v, dict):
            return
        if len(path) == 1:
            v.pop(path[0], None)
            return
        _remove(v.get(path[0]), path[1:])

    @F.pandas_udf(T.StringType())
    def drop(docs: pd.Series) -> pd.Series:
        def one(s):
            if s is None:
                return None
            try:
                v = json.loads(s)
            except (ValueError, TypeError):
                return s
            for path in keys:
                _remove(v, path)
            return json.dumps(v, sort_keys=True, separators=(",", ":"))

        return docs.map(one)

    return drop


def _merge_inferred(old, new):
    """Inference-round schema merge: union-by-name like
    tablestore.merge_schemas, PLUS the numeric widening Spark's own
    JSON inference applies (long ∪ double → double, NullType yields to
    anything) — two sample cohorts that disagree only in numeric width
    must converge, not hard-fail. Genuine conflicts (string vs long,
    scalar vs struct) still raise SchemaConflictError — the bqs.Merge
    contract (/root/reference/pkg/usecase/bigquery.go:15-62)."""
    from pyspark.sql import types as T

    if old is None:
        return new
    by_name = {f.name: f for f in new.fields}
    out = []
    for fo in old.fields:
        fn = by_name.pop(fo.name, None)
        if fn is None:
            out.append(fo)
        else:
            out.append(T.StructField(fo.name, _merge_inferred_type(fo.dataType, fn.dataType, fo.name), True))
    out.extend(f for f in new.fields if f.name in by_name)
    return T.StructType(out)


def _merge_inferred_type(a, b, name):
    from pyspark.sql import types as T

    from .tablestore import SchemaConflictError

    if a == b:
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return _merge_inferred(a, b)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return T.ArrayType(_merge_inferred_type(a.elementType, b.elementType, name), True)
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    if {a.__class__, b.__class__} <= {T.LongType, T.DoubleType}:
        return T.DoubleType()
    raise SchemaConflictError(
        f"field {name!r}: {a.simpleString()} vs {b.simpleString()}"
    )


def _jpath(parts) -> str:
    """Bracket-quoted Spark JSON path ($['a']['b']) so keys containing
    dots survive — positional, never lstrip."""
    return "$" + "".join(f"['{p}']" for p in parts)


# Residual-predicate width bound: one coverage scan evaluates a
# get_json_object per checked path (each re-parses the doc), so very
# wide schemas cap the deep check and fall back to top-level coverage.
MAX_COVERAGE_PATHS = 256


def _string_probe_schema(schema):
    """Same shape as `schema` but every LEAF is STRING (struct shape
    preserved, arrays probe their element). from_json with this never
    loses a scalar to a type conversion, so typed-null ∧ probe-present
    pinpoints a conflict with ONE extra parse per record instead of a
    get_json_object re-parse per leaf (measured 2.4 s → ~1 s per 1M
    docs per coverage scan)."""
    from pyspark.sql import types as T

    def probe_type(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, probe_type(f.dataType), True) for f in dt.fields]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(probe_type(dt.elementType), True)
        return T.StringType()

    return probe_type(schema)


# Presence-check strategy crossover: per-leaf get_json_object is a
# cheap streaming path scan (wins for narrow schemas — measured 2.4 s
# vs 6.5 s/1M docs at 5 leaves); one extra all-strings from_json costs
# ~a full parse but is leaf-count-independent (wins for wide schemas).
PROBE_LEAF_THRESHOLD = 32


def _count_leaves(schema) -> int:
    from pyspark.sql import types as T

    n = 0
    for f in schema.fields:
        if isinstance(f.dataType, T.StructType):
            n += _count_leaves(f.dataType)
        else:
            n += 1
    return n


def _residual_predicate(
    col: str, schema, nulls_stripped: bool = False, parsed_col: F.Column | None = None
) -> F.Column:
    """JVM-side predicate that flags records the candidate schema would
    LOSE data from, no Python: (1) top-level keys outside the schema;
    (2) nested-object keys outside the schema's struct fields —
    recursively over struct paths; (3) type conflicts / parse loss:
    the TYPED parse produced null where the raw document still carries
    a value (a long field receiving \"abc\" or 1.5, a scalar receiving
    an object...).

    Presence probing — three strategies by input contract (cheapest
    sound one wins; r4 measurement in NOTES_r4):
      * nulls_stripped=True (the JsonIngest.run path: `data` went
        through nil_strip, so key-present ⟹ value non-null): presence
        = membership in the SAME json_object_keys arrays the novelty
        checks already compute — zero extra raw scans per leaf, and
        the typed from_json here is expression-identical to the output
        parse so codegen CSE computes it once when both live in one
        projection. NOT sound for raw inputs: {"a": null} would flag
        forever (json.read infers nothing new) and never converge.
      * narrow schemas (≤ PROBE_LEAF_THRESHOLD leaves): per-leaf
        get_json_object (early-exit streaming scans).
      * wide schemas: ONE all-strings from_json probe
        (leaf-count-independent).
    Array-of-struct interiors are not walked (documented bound) —
    conflicts there still surface via (3) when the whole field fails.

    parsed_col: pass an already-materialized from_json(col, schema)
    ATTRIBUTE (a column computed in an upstream projection) and the
    typed-null checks reference it instead of embedding their own
    parse. This matters because the null checks sit on conditional
    branches of the OR/AND tree, where Spark's subexpression
    elimination does NOT extract them — without the hoist each check
    re-parses the document (measured 3x parse cost at 1M records;
    NOTES_r4).
    """
    from pyspark.sql import types as T

    parsed = parsed_col if parsed_col is not None else F.from_json(F.col(col), schema)
    use_probe = (not nulls_stripped) and _count_leaves(schema) > PROBE_LEAF_THRESHOLD
    probe = F.from_json(F.col(col), _string_probe_schema(schema)) if use_probe else None
    top_keys = F.json_object_keys(F.col(col))
    preds = [
        F.size(
            F.array_except(top_keys, F.array(*[F.lit(f.name) for f in schema.fields]))
        )
        > 0
    ]

    def walk(struct, parts, parsed_col, probe_col, keys_col):
        for f_ in struct.fields:
            if len(preds) >= MAX_COVERAGE_PATHS:
                return
            child_parts = parts + (f_.name,)
            # STRUCT/ARRAY fields must use the raw path even in probe
            # mode: the probe preserves their shape, so a scalar where
            # a struct/array is expected nulls the probe exactly like
            # the typed parse and the conflict would go undetected.
            # (Key-membership presence has no such blind spot — the
            # parent's key set is shape-free.)
            nested = isinstance(f_.dataType, (T.StructType, T.ArrayType))
            if nulls_stripped:
                present = F.array_contains(keys_col, f_.name)
            elif use_probe and not nested:
                present = probe_col[f_.name].isNotNull()
            else:
                present = F.get_json_object(F.col(col), _jpath(child_parts)).isNotNull()
            preds.append(parsed_col[f_.name].isNull() & present)
            if isinstance(f_.dataType, T.StructType):
                # nested-novelty needs the raw object's key set — one
                # JsonPath per STRUCT path only (few), not per leaf
                raw = F.get_json_object(F.col(col), _jpath(child_parts))
                child_keys = F.json_object_keys(raw)
                kids = F.array(*[F.lit(c.name) for c in f_.dataType.fields])
                preds.append(F.size(F.array_except(child_keys, kids)) > 0)
                walk(f_.dataType, child_parts, parsed_col[f_.name],
                     probe_col[f_.name] if use_probe else None, child_keys)

    walk(schema, (), parsed, probe, top_keys)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def _sample_schema(docs: DataFrame, sample_rows: int) -> T.StructType:
    """Spark's JSON schema inference over the first `sample_rows` docs
    of a one-string-column frame, run in the JVM
    (DataFrameReader.json over a Dataset[String]): the same inference
    as `spark.read.json(<rdd of str>)` without its Python-worker hop."""
    jvm = docs.sparkSession._jvm
    jds = getattr(docs.limit(sample_rows)._jdf, "as")(
        jvm.org.apache.spark.sql.Encoders.STRING())
    jschema = docs.sparkSession._jsparkSession.read().json(jds).schema()
    return T.StructType.fromJson(json.loads(jschema.json()))


def infer_json_schema(
    spark: SparkSession,
    docs_only: DataFrame,
    live_schema=None,
    sample_rows: int = 10_000,
    max_rounds: int = 5,
    defer_check: bool = False,
):
    """Schema inference over a JSON-string column WITHOUT round-tripping
    the whole batch through Python (the round-1 100 TB killer: an
    unbounded ``df.rdd`` hop serialized every payload byte JVM→Python→JVM
    just to learn a schema — pipeline_json.py r1:188/225/256).

    Strategy (≙ the fold of bqs.Infer+Merge over every record,
    /root/reference/pkg/usecase/bigquery.go:47-62, at a fraction of the
    cost):
      1. infer on a BOUNDED sample (limit(sample_rows), read as JSON in
         the JVM — no Python transfer at all, see _sample_schema);
      2. union-merge with the live table schema (numeric widths widen
         across inference rounds; genuine type conflict stays a hard
         error);
      3. JVM-side coverage check: one codegen'd scan flags records the
         candidate schema would lose data from — unknown top-level OR
         NESTED keys (json_object_keys + array_except, walked over
         every struct path) and type conflicts (from_json null where
         the raw path is present) — no Python;
      4. records the sample missed become the next round's sample —
         every sample stays bounded. Converges in 1 round for
         homogeneous batches; heterogeneous batches pay one extra JVM
         scan per new key-shape cohort.

    Bounds (documented, not silent): the deep check walks at most
    MAX_COVERAGE_PATHS paths — beyond that only shallower paths are
    checked — and array-of-struct interiors are not walked; nested
    heterogeneity hiding ONLY there and beyond the sample converges
    by the plain top-level check or is dropped as before.
    """
    col = docs_only.columns[0]
    schema = live_schema
    remaining = docs_only
    for _ in range(max_rounds):
        inferred = _sample_schema(remaining, sample_rows)
        schema = _merge_inferred(schema, inferred)
        if defer_check:
            # optimistic mode (r4): skip the dedicated coverage scan —
            # the caller fuses _residual_predicate into its own full
            # pass (JsonIngest.run rides it on the write job as an
            # Observation) and re-enters inference only if that pass
            # reports missed records. Measured motivation: the eager
            # scan was 35% of json_ingest wall at sf1 (NOTES_r4).
            return schema
        remaining = docs_only.filter(_residual_predicate(col, schema))
        if remaining.isEmpty():
            return schema
    raise RuntimeError(
        f"json schema inference did not converge in {max_rounds} rounds "
        f"(sample_rows={sample_rows}); raise sample_rows or max_rounds"
    )


class JsonIngest:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        event_rules: list[EventRule],
        schema_rules: list[JsonSchemaRule],
        manifest_dir: str | None = None,
        infer_sample_rows: int = 10_000,
    ):
        self.spark = spark
        self.catalog = IcepackCatalog(warehouse)
        self.event_rules = event_rules
        # a LIST, not a dict keyed by schema_name: several rules may
        # share one schema_name with different sinks/predicates —
        # Rego schema rules are SET-valued per record (log[d] can emit
        # multiple outputs, load.go:210-224), so one record can land
        # in N sinks
        self.rules = list(schema_rules)
        sinks = [r.sink_table for r in self.rules]
        if len(sinks) != len(set(sinks)):
            raise ValueError("duplicate sink_table across JSON schema rules")
        self.infer_sample_rows = infer_sample_rows
        self.manifest = ManifestStore(manifest_dir or f"{warehouse}/_manifest")
        names = {r.schema_name for r in self.rules}
        for er in event_rules:
            if er.schema_name not in names:
                raise ValueError(f"event rule {er.rule_id} → unknown schema {er.schema_name}")

    # -- plan ----------------------------------------------------------
    def records(self, path: str | list[str]) -> DataFrame:
        """files → documents → event routing → per-record explode →
        normalized record rows with envelope columns."""
        from .sources.objects import explode_records, read_multidoc_json

        docs = read_multidoc_json(self.spark, path)
        routed = route(docs, self.event_rules, on_unmatched="error")
        out = []
        for r in self.rules:
            part = routed.filter(F.col("schema_name") == r.schema_name)
            recs = explode_records(part, records_field=r.records_field)
            if r.record_predicate is not None:
                path, op, value = r.record_predicate
                fieldcol = F.get_json_object(F.col("record"), path)
                pred = {
                    "eq": fieldcol == F.lit(value),
                    "startswith": fieldcol.startswith(value),
                    "endswith": fieldcol.endswith(value),
                    "contains": fieldcol.contains(value),
                    "rlike": fieldcol.rlike(value),
                }[op]
                recs = recs.filter(pred)  # 0-match → skip (load.go:216-219)
            data = nil_strip_json_udf(F.col("record"))
            ts_str = F.get_json_object(F.col("record"), r.ts_path)
            if r.ts_format == "unix":
                ts_raw = ts_str.cast("double")
            elif r.ts_format == "unix_ms":
                ts_raw = ts_str.cast("double") / 1000.0  # README.md:55
            else:  # rfc3339 (time.parse_rfc3339_ns analogue)
                ts_raw = F.unix_micros(F.to_timestamp(ts_str)) / 1_000_000.0
            if r.drop_paths:
                data = make_drop_udf(tuple(r.drop_paths))(data)
            rec = (
                recs.withColumn("data", data)
                .withColumn(
                    "id",
                    F.coalesce(
                        F.get_json_object(F.col("record"), r.id_path) if r.id_path else F.lit(None),
                        content_hash_json_udf(F.col("data")),
                    ),
                )
                # timestamp>0 required (Log.Validate, policy.go:73-89):
                # records with no/invalid ts are dropped with the same
                # warn+skip semantics as a 0-match schema rule
                .withColumn("timestamp", F.timestamp_seconds(ts_raw))
                .filter(F.col("timestamp").isNotNull())
                .select(
                    "schema_name",
                    F.lit(r.sink_table).alias("sink_table"),
                    "path", "id", "timestamp", "data",
                )
            )
            out.append(rec)
        res = out[0]
        for o in out[1:]:
            res = res.unionByName(o)
        return res

    # -- schema-only dry run (≙ `swarm schema`, pkg/usecase/schema.go:13-90:
    # run the full parse+infer+evolve path, insert NOTHING) -------------
    def schema_only(self, path: str | list[str]) -> dict[str, str]:
        """Apply schema inference + table create/evolve without
        inserting rows. Returns {sink_table: merged schema json}."""
        recs = self.records(path).persist()
        out: dict[str, str] = {}
        try:
            for r in self.rules:
                docs_only = recs.filter(F.col("sink_table") == r.sink_table).select("data")
                if docs_only.isEmpty():
                    continue
                inferred = self._infer_for_sink(r, docs_only)
                envelope = recs.filter(F.col("sink_table") == r.sink_table).select(
                    "id",
                    F.lit("schema-dry-run").alias("ingest_id"),
                    "timestamp",
                    F.current_timestamp().alias("ingested_at"),
                    F.from_json("data", inferred).alias("data"),
                )
                t = self.catalog.table(r.sink_table)
                t.append(envelope.limit(0), partition_unit=r.partition_unit,
                         ts_col="timestamp")
                out[r.sink_table] = t.schema().json()
        finally:
            recs.unpersist()
        return out

    def _infer_for_sink(
        self, r: JsonSchemaRule, docs_only: DataFrame, defer_check: bool = False
    ):
        """Bounded-sample inference union-merged with the sink table's
        LIVE data schema, so fields seen in earlier batches are never
        silently lost even when this batch's sample misses them."""
        from pyspark.sql import types as T

        live = None
        t = self.catalog.table(r.sink_table)
        table_schema = t.schema()
        if table_schema is not None:
            for f_ in table_schema.fields:
                if f_.name == "data" and isinstance(f_.dataType, T.StructType):
                    live = f_.dataType
        return infer_json_schema(
            self.spark, docs_only, live_schema=live,
            sample_rows=self.infer_sample_rows, defer_check=defer_check,
        )

    # -- dump sink (≙ swarm --dry-run NDJSON dump,
    # pkg/infra/dump/client.go:47-104 — the golden-output mechanism) ----
    def dump(self, path: str | list[str], out_dir: str) -> dict[str, str]:
        """Write routed records as NDJSON per sink + schema JSON files;
        no tables touched."""
        import os

        recs = self.records(path).persist()
        written: dict[str, str] = {}
        try:
            os.makedirs(out_dir, exist_ok=True)
            for r in self.rules:
                part = recs.filter(F.col("sink_table") == r.sink_table)
                if part.isEmpty():
                    continue
                dst = os.path.join(out_dir, f"{r.sink_table}.log")
                part.select("id", "timestamp", "data").coalesce(1).write.mode(
                    "overwrite"
                ).json(dst)
                inferred = infer_json_schema(
                    self.spark, part.select("data"),
                    sample_rows=self.infer_sample_rows,
                )
                with open(os.path.join(out_dir, f"{r.sink_table}.schema.json"), "w") as fh:
                    fh.write(inferred.json())
                written[r.sink_table] = dst
        finally:
            recs.unpersist()
        return written

    # -- execute -------------------------------------------------------
    def run(self, path: str, batch_id: str, request_id: str | None = None) -> dict:
        """One exactly-once batch under the same partial-failure
        contract as IngestPipeline.run (manifest.BatchTxn)."""
        txn = BatchTxn(self.manifest, self.catalog, batch_id,
                       request_id or uuid.uuid4().hex)
        if not txn.acquired:
            return {"batch_id": batch_id, "skipped": True,
                    "snapshot_ids": txn.state.snapshot_ids or {}}
        with txn:
            recs = self.records(path).persist()
            try:
                recs.count()
                per_sink: dict[str, int] = {}
                schemas_json: dict[str, str] = {}
                for r in self.rules:
                    part = recs.filter(F.col("sink_table") == r.sink_table)
                    docs_only = part.select("data")
                    if docs_only.isEmpty():
                        continue
                    snap, inferred = self._write_sink(txn, r, part, docs_only)
                    per_sink[r.sink_table] = snap["added_rows"]
                    schemas_json[r.sink_table] = inferred.json()

                audit = local_frame(
                    self.spark,
                    [(txn.request_id, batch_id, True, None,
                      json.dumps(schemas_json), json.dumps(per_sink))],
                    AUDIT_JSON_DDL,
                ).withColumn("started_at", F.timestamp_seconds(F.lit(txn.t0)))
                txn.commit("_audit_json", lambda t: t.append(
                    audit, partition_unit="month", ts_col="started_at"))
            finally:
                recs.unpersist()
            return {
                "batch_id": batch_id, "skipped": False,
                "per_sink_rows": per_sink, "snapshot_ids": dict(txn.committed),
                "elapsed_sec": time.time() - txn.t0,
            }

    def _write_sink(self, txn: BatchTxn, r: JsonSchemaRule, part: DataFrame,
                    docs_only: DataFrame):
        """Infer, parse and append one sink's records; returns the
        snapshot and the schema it was written with.

        Bounded-sample inference + live-schema merge ≙ fold of
        bqs.Infer+Merge (bigquery.go:47-62) without the full Python
        round-trip. The coverage check (records the candidate schema
        would LOSE data from) is OPTIMISTIC since r4: instead of a
        dedicated pre-write scan (which measured 35% of sf1 ingest
        wall — NOTES_r4), the residual predicate rides the WRITE job as
        an Observation; a non-zero count (rare: the bounded sample
        missed a key shape) undoes the sink's append, widens the schema
        from the actually-missed records, and rewrites. Common case:
        zero extra scans. Trade: a non-converged round costs a
        write+rollback instead of a scan — right when misses are rare."""
        inferred = self._infer_for_sink(r, docs_only, defer_check=True)
        for cov_round in range(5):
            obs = Observation(f"cov-{uuid.uuid4().hex[:8]}")
            # Parse FIRST (own projection), then flag: the typed-null
            # checks live on conditional branches where Spark's CSE
            # cannot extract a repeated from_json, so the predicate must
            # reference the materialized _parsed attribute — each doc is
            # parsed exactly once across output + coverage.
            staged = part.select(
                "id", "timestamp", "data",
                F.from_json("data", inferred).alias("_parsed"),
            )
            flagged = staged.select(
                "id",
                "timestamp",
                "_parsed",
                _residual_predicate(
                    "data", inferred, nulls_stripped=True,
                    parsed_col=F.col("_parsed"),
                ).cast("long").alias("_cov_missed"),
            ).observe(obs, F.sum("_cov_missed").alias("missed"))
            out = flagged.select(
                "id",
                F.lit(txn.request_id).alias("ingest_id"),
                "timestamp",
                F.current_timestamp().alias("ingested_at"),
                F.col("_parsed").alias("data"),
            )
            snap = txn.commit(r.sink_table, lambda t: t.append(
                out, partition_unit=r.partition_unit, ts_col="timestamp"))
            if not txn.fresh(r.sink_table):
                break  # resumed from a prior attempt: no job ran
            if not int(obs.get.get("missed") or 0):
                break
            if cov_round == 4:
                raise RuntimeError(
                    "json schema inference did not converge in 5 "
                    f"rounds for sink {r.sink_table} "
                    f"(sample_rows={self.infer_sample_rows})"
                )
            txn.undo(r.sink_table)
            missed_docs = docs_only.filter(
                _residual_predicate("data", inferred, nulls_stripped=True)
            )
            inferred = _merge_inferred(
                inferred,
                _sample_schema(missed_docs, self.infer_sample_rows),
            )
        return snap, inferred
