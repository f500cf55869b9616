"""Canonical rule/dimension presets used by tests, bench, and the
driver entry — the rebuild's analogue of the reference's example
policies (/root/reference/examples/readme/policy/{event,schema}.rego,
pkg/usecase/testdata/policy/*.rego).

The set intentionally exercises every match-cardinality path:
multi-match fan-out (an assistant turn with a tool call and an error
code routes 3 ways), zero-match (system turns with no call/error when
on_unmatched='skip'), and per-rule id/partition/drop variation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .rules import EventRule, SchemaRule
from .session import local_frame


def default_event_rules() -> list[EventRule]:
    return [
        EventRule("r_errors", field="error_code", op="startswith", value="ERR-",
                  schema_name="error_events"),
        EventRule("r_tool_calls", field="called_tool", op="rlike", value=".",
                  schema_name="tool_calls"),
        EventRule("r_assistant", field="role", op="eq", value="assistant",
                  schema_name="assistant_log"),
        EventRule("r_user", field="role", op="eq", value="user",
                  schema_name="user_log"),
    ]


def default_schema_rules() -> list[SchemaRule]:
    return [
        SchemaRule("error_events", sink_table="sink_errors", partition_unit="hour"),
        SchemaRule("tool_calls", sink_table="sink_tools", partition_unit="day",
                   drop_fields=("text",)),
        SchemaRule("assistant_log", sink_table="sink_assistant", partition_unit="day"),
        SchemaRule("user_log", sink_table="sink_user", partition_unit="day",
                   drop_fields=("call_args",)),
    ]


TOOL_DIM_DDL = "tool string, tool_family string, is_privileged boolean"
TOOL_DIM_ROWS = [
    ("search", "retrieval", False), ("browser", "retrieval", False),
    ("python", "execution", True), ("bash", "execution", True),
    ("sql", "execution", True), ("calc", "compute", False),
    ("mail", "comms", True), ("files", "storage", True),
    ("purchase_svc", "commerce", True), ("signup_svc", "identity", False),
    ("error_reporter", "telemetry", False),
]


def default_tool_dim(spark: SparkSession) -> DataFrame:
    """The tool_dim preset as a JVM-local relation (session.local_frame)."""
    return local_frame(spark, TOOL_DIM_ROWS, TOOL_DIM_DDL)
