"""Data-quality expectations — declarative constraint validation over
any DataFrame (the Deequ/Great-Expectations niche, relational-only).

A training-data pipeline gates promotion on invariants: keys unique,
required fields present, enums closed, numeric ranges sane, foreign
keys resolvable. This module compiles a rule list into the MINIMUM
number of jobs:

  * every row-local rule (not_null, accepted_values, range, matches)
    becomes one conditional-sum column in ONE single-pass aggregate —
    adding a rule adds an expression, not a scan;
  * `unique` rides the same aggregate as count − approx-free exact
    countDistinct (the one shuffle a uniqueness proof fundamentally
    needs — it moves distinct key tuples, not rows);
  * `referential` is ONE job per referenced (relation, key) — a
    left-outer join against the distinct referenced keys feeding a
    single aggregate that computes checked + violations together, and
    multiple referential rules probing the SAME dimension key (e.g.
    two fact columns referencing one id column) batch into that one
    job via a rule-tagged probe union.

Every output is an integer count, so the oracle comparison is exact.
`matches` patterns must stay in the Java∩RE2∩DuckDB-safe regex subset
(same contract as textstats.redact_pii). NULL semantics: only
`not_null` counts nulls as violations; for every other row rule a
NULL is "unchecked" (checked = non-null count), matching SQL
constraint semantics.

Output: one row per rule —
  (rule, target, checked, violations, passed)
ordered by (rule, target) for deterministic presentation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swarm_spark.session import local_frame

__all__ = ["validate", "ExpectationError", "fail_on_violations"]

REPORT_DDL = ("rule string, target string, checked bigint, violations bigint, "
              "passed boolean")


class ExpectationError(RuntimeError):
    """Raised by fail_on_violations when any rule fails."""


def _unsupported(rule):
    raise ValueError(
        f"unknown expectation {rule!r} — supported: not_null, unique, "
        "accepted_values, range, matches, referential"
    )


def validate(df: DataFrame, rules: list[tuple]) -> DataFrame:
    """Evaluate expectations; see module docstring for the rule forms:

      ("not_null", col)
      ("unique", [col, ...])
      ("accepted_values", col, [v, ...])
      ("range", col, lo, hi)            # inclusive; None = unbounded
      ("matches", col, regex)           # full-match NOT required
      ("referential", col, other_df, other_col)
    """
    if not rules:
        raise ValueError("validate() needs at least one rule")
    spark = df.sparkSession
    aggs: list = [F.count(F.lit(1)).alias("_n")]
    row_rules: list[tuple[str, str]] = []  # (rule, target) in agg order
    # (id(other), other_col, probe_dtype) -> [(probe_col, other_df), ...]
    ref_groups: dict[tuple, list] = {}

    for rule in rules:
        kind = rule[0]
        if kind == "not_null":
            col = rule[1]
            i = len(row_rules)
            aggs.append(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
                .cast("bigint").alias(f"_v{i}")
            )
            aggs.append(F.count(F.lit(1)).cast("bigint").alias(f"_c{i}"))
            row_rules.append(("not_null", col))
        elif kind == "unique":
            cols = list(rule[1])
            i = len(row_rules)
            # violations = rows − distinct key tuples (rows where the
            # key is entirely non-null; SQL UNIQUE ignores NULL keys)
            checked = F.sum(
                F.when(
                    sum((F.col(c).isNull().cast("int") for c in cols), F.lit(0)) == 0,
                    1,
                ).otherwise(0)
            ).cast("bigint")
            aggs.append(
                (checked - F.count_distinct(*[F.col(c) for c in cols]))
                .cast("bigint").alias(f"_v{i}")
            )
            aggs.append(checked.alias(f"_c{i}"))
            row_rules.append(("unique", ",".join(cols)))
        elif kind == "accepted_values":
            col, values = rule[1], list(rule[2])
            i = len(row_rules)
            aggs.append(
                F.sum(
                    F.when(F.col(col).isNotNull() & ~F.col(col).isin(values), 1)
                    .otherwise(0)
                ).cast("bigint").alias(f"_v{i}")
            )
            aggs.append(
                F.sum(F.col(col).isNotNull().cast("int")).cast("bigint").alias(f"_c{i}")
            )
            row_rules.append(("accepted_values", col))
        elif kind == "range":
            col, lo, hi = rule[1], rule[2], rule[3]
            if lo is None and hi is None:
                raise ValueError(f"range rule on {col}: lo and hi both None")
            bad = F.lit(False)
            if lo is not None:
                bad = bad | (F.col(col) < F.lit(lo))
            if hi is not None:
                bad = bad | (F.col(col) > F.lit(hi))
            i = len(row_rules)
            aggs.append(
                F.sum(F.when(F.col(col).isNotNull() & bad, 1).otherwise(0))
                .cast("bigint").alias(f"_v{i}")
            )
            aggs.append(
                F.sum(F.col(col).isNotNull().cast("int")).cast("bigint").alias(f"_c{i}")
            )
            row_rules.append(("range", col))
        elif kind == "matches":
            col, pattern = rule[1], rule[2]
            i = len(row_rules)
            aggs.append(
                F.sum(
                    F.when(F.col(col).isNotNull() & ~F.col(col).rlike(pattern), 1)
                    .otherwise(0)
                ).cast("bigint").alias(f"_v{i}")
            )
            aggs.append(
                F.sum(F.col(col).isNotNull().cast("int")).cast("bigint").alias(f"_c{i}")
            )
            row_rules.append(("matches", col))
        elif kind == "referential":
            col, other, other_col = rule[1], rule[2], rule[3]
            # batch rules probing the same (relation, key, probe type)
            # into one join job; the probe dtype guards the union
            dtype = dict(df.dtypes).get(col)
            if dtype is None:
                raise ValueError(f"referential rule: no column {col!r} in frame")
            ref_groups.setdefault((id(other), other_col, dtype), []) \
                .append((col, other))
        else:
            _unsupported(rule)

    rows: list[tuple] = []
    if row_rules:
        agg_row = df.agg(*aggs).first()
        for i, (kind, target) in enumerate(row_rules):
            v, c = int(agg_row[f"_v{i}"]), int(agg_row[f"_c{i}"])
            rows.append((kind, target, c, v, v == 0))
    for (_oid, other_col, _dt), members in ref_groups.items():
        other = members[0][1]
        probes = None
        for rid, (col, _) in enumerate(members):
            p = (df.select(F.lit(rid).alias("_rid"),
                           F.col(col).alias("_k"))
                 .filter(F.col("_k").isNotNull()))
            probes = p if probes is None else probes.unionByName(p)
        dim = (other.select(F.col(other_col).alias("_k"))
               .filter(F.col("_k").isNotNull()).distinct()
               .withColumn("_hit", F.lit(1)))
        # ONE job: checked and violations come out of the same agg over
        # a single left-outer join (dim keys are distinct, so the join
        # never multiplies probe rows)
        got = (probes.join(dim, "_k", "left")
               .groupBy("_rid")
               .agg(F.count(F.lit(1)).alias("_checked"),
                    F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
                     .alias("_violations"))
               .collect())
        by_rid = {r["_rid"]: r for r in got}
        for rid, (col, _) in enumerate(members):
            r = by_rid.get(rid)
            c = int(r["_checked"]) if r is not None else 0
            v = int(r["_violations"]) if r is not None else 0
            rows.append(("referential", col, c, v, v == 0))
    out = local_frame(spark, rows, REPORT_DDL)
    return out.orderBy("rule", "target")


def fail_on_violations(df: DataFrame, rules: list[tuple]) -> DataFrame:
    """validate() + raise ExpectationError naming every failed rule —
    the promotion gate form (run before publishing a snapshot)."""
    report = validate(df, rules)
    failed = [r for r in report.collect() if not r["passed"]]
    if failed:
        detail = "; ".join(
            f"{r['rule']}({r['target']}): {r['violations']}/{r['checked']}"
            for r in failed
        )
        raise ExpectationError(f"expectations failed — {detail}")
    return report
