"""Declarative routing rules — the Rego replacement.

swarm routes with two OPA policy levels (/root/reference/docs/rule.md):
event rules (`data.event`: Object → set of Source,
pkg/usecase/event.go:11-21) and schema rules (`data.schema.<name>`:
record → set of Log, pkg/usecase/load.go:210-224). Both are arbitrary
code compiled once at boot (pkg/infra/policy/client.go:111-118) and
evaluated per row.

The Spark-first re-expression: rules are DATA (tiny config rows), the
"compiler" turns them into Column predicates resolved once at plan
time, and set-valued matching becomes array construction + explode.
Sink/enrichment attributes come from broadcast hash joins against the
schema_rules / tool_dim dimension tables — the relational reading of
Rego's per-source constant matching (SURVEY.md §2.6). Both are
JVM-local relations (session.local_frame): broadcasting them is a
one-task JVM job. A tool_dim built with `createDataFrame(<list>)`
would instead pay a Python-worker job on every query that uses it.

Match-cardinality semantics preserved:
  * event level: 0 matches → error (event.go:16-18)   [route(on_unmatched='error')]
  * record level: 0 matches → warn + skip (load.go:216-219)
  * N matches → fan out N ways (both levels are set-valued)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

_OPS = ("eq", "startswith", "endswith", "contains", "rlike")

RULES_DDL = (
    "schema_name string, sink_table string, partition_unit string, "
    "id_field string, ts_field string, drop_fields array<string>"
)


@dataclass(frozen=True)
class EventRule:
    """One routing predicate row (FIXTURES.md §2 event_rules).

    Ops are exactly the string predicates swarm's example policies use
    (==, startswith, endswith — examples/readme/policy/event.rego:1-10,
    docs/rule.md:93-120) plus contains/rlike as natural extensions.
    """

    rule_id: str
    field: str
    op: str
    value: str
    schema_name: str

    def predicate(self) -> Column:
        c = F.col(self.field)
        if self.op == "eq":
            return c == F.lit(self.value)
        if self.op == "startswith":
            return c.startswith(self.value)
        if self.op == "endswith":
            return c.endswith(self.value)
        if self.op == "contains":
            return c.contains(self.value)
        if self.op == "rlike":
            return c.rlike(self.value)
        raise ValueError(f"unknown op {self.op!r}; expected one of {_OPS}")


@dataclass(frozen=True)
class SchemaRule:
    """Destination + transform config per schema name (FIXTURES.md §2
    schema_rules; mirrors model.Source→Log mapping,
    /root/reference/pkg/domain/model/policy.go:25-89)."""

    schema_name: str
    sink_table: str
    partition_unit: str = ""  # ''|hour|day|month|year (types/types.go:51-57)
    id_field: str = ""        # '' → content-hash id (types.go:27-34)
    ts_field: str = "ts"
    drop_fields: tuple = field(default_factory=tuple)

    def __post_init__(self):
        # validation ≙ model.Source.Validate / Log.Validate
        # (policy.go:32-52,73-89): reject unknown partition units early.
        if self.partition_unit not in ("", "hour", "day", "month", "year"):
            raise ValueError(f"invalid partition_unit {self.partition_unit!r}")
        if not self.schema_name or not self.sink_table:
            raise ValueError("schema_name and sink_table are required")


def compile_event_rules(rules: list[EventRule]) -> Column:
    """Compile the rule set into ONE array column of matched schema
    names. Plan-time compilation ≙ swarm's compile-once policy client
    (policy/client.go:111-118); evaluation is a codegen'd CASE chain —
    no shuffle, no UDF.
    """
    if not rules:
        raise ValueError("empty event rule set")
    branches = [F.when(r.predicate(), F.lit(r.schema_name)) for r in rules]
    return F.array_compact(F.array_distinct(F.array(*branches)))


def route(
    df: DataFrame,
    event_rules: list[EventRule],
    on_unmatched: str = "error",
) -> DataFrame:
    """Fan rows out by matched schema: adds a `schema_name` column,
    one output row per (input row, matched rule) — the set-valued
    event-rule eval (event.go:11-21).

    on_unmatched: 'error' (event-level semantics, ErrNoPolicyResult),
    'skip' (record-level semantics, load.go:216-219), or 'keep'
    (schema_name=null rows retained for dead-lettering).
    """
    matched = df.withColumn("_schemas", compile_event_rules(event_rules))
    if on_unmatched == "error":
        matched = matched.withColumn("schema_name", F.explode_outer("_schemas"))
        # raise inside a FILTER predicate: filters are never pruned by
        # column pruning, so the guard fires on ANY action over the
        # routed rows (a raise in a projected column would be silently
        # dropped by e.g. count()).
        guard = F.when(F.col("schema_name").isNotNull(), F.lit(True)).otherwise(
            F.raise_error(
                F.concat(F.lit("no event rule matched row (ErrNoPolicyResult): "),
                         F.to_json(F.struct(*df.columns)))
            ).cast("boolean")
        )
        return matched.filter(guard).drop("_schemas")
    if on_unmatched == "skip":
        return (
            matched.withColumn("schema_name", F.explode("_schemas")).drop("_schemas")
        )
    if on_unmatched == "keep":
        return (
            matched.withColumn("schema_name", F.explode_outer("_schemas")).drop("_schemas")
        )
    raise ValueError(f"on_unmatched={on_unmatched!r}")


def rules_to_df(spark: SparkSession, schema_rules: list[SchemaRule]) -> DataFrame:
    """schema_rules as a JVM-local dimension table for the broadcast join."""
    rows = [
        (r.schema_name, r.sink_table, r.partition_unit, r.id_field, r.ts_field,
         list(r.drop_fields))
        for r in schema_rules
    ]
    return local_frame(spark, rows, RULES_DDL)


def enrich(
    df: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Broadcast hash-join enrichment against a small dimension table
    (north_star: 'broadcast hash-join enriches against schema/lookup
    dimension tables'). The broadcast hint guarantees the fact side
    never shuffles regardless of stats."""
    return df.join(F.broadcast(dim), on=on, how=how)


def event_rules_from_df(rules_df: DataFrame) -> list[EventRule]:
    """Load rules stored as a table (the rules ARE data; collect is
    bounded by rule count, like swarm loading .rego files at boot)."""
    return [
        EventRule(
            rule_id=r["rule_id"], field=r["predicate_field"], op=r["predicate_op"],
            value=r["predicate_value"], schema_name=r["schema_name"],
        )
        for r in rules_df.collect()
    ]
