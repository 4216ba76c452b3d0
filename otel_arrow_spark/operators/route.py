"""Route stage: signal-class derivation and multi-sink fan-out.

Reference analogs:

* content router — exclusive first-match routing on an attribute value with
  a default output (processors/content_router/mod.rs:30-37,130,171-190);
* signal type router — routing to well-known ports logs/metrics/traces
  (processors/signal_type_router/mod.rs:1);
* OPL ``route_to "port"`` (flow_control.md:159-212; pipeline/routing.rs:63);
* fanout processor — one input cloned to N destinations
  (processors/fanout_processor/mod.rs:1).

Spark-first design: routing is a *derived column*, not a control-flow
branch. A single ``F.when`` chain computes the exclusive first-match class;
the fan-out is then one pass, ``write.partitionBy(route)`` — one job, no
per-sink rescan (``plans/pipeline.py``'s routed sink). Per-port delivery
with failover is ``sinks.fanout_with_policy``.

Routing key (FIXTURES.md §4), first-match precedence:
    error > warn > tool_call > span > chat (default)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIGNAL_CLASSES = ["error", "warn", "tool_call", "span", "chat"]
DEFAULT_CLASS = "chat"


def signal_class_col() -> Column:
    """Exclusive first-match routing expression over parsed fields.

    The analog of the content router's exclusive match with default_output
    (content_router/mod.rs:171-190): exactly one class per row, no NACK
    path needed because the default class always matches.
    """
    return (
        F.when(F.col("severity_text").isin("ERROR", "FATAL"), F.lit("error"))
        .when(F.col("severity_text") == "WARN", F.lit("warn"))
        .when(F.col("tool_called").isNotNull(), F.lit("tool_call"))
        .when(F.col("trace_id").isNotNull(), F.lit("span"))
        .otherwise(F.lit(DEFAULT_CLASS))
    )


def with_signal_class(df: DataFrame, out_col: str = "signal_class") -> DataFrame:
    return df.withColumn(out_col, signal_class_col())


def route_by_value(
    df: DataFrame,
    key_col: str,
    routes: dict[str, str],
    default_route: str | None = None,
    case_sensitive: bool = True,
) -> DataFrame:
    """Generic content-router: map ``key_col`` values → named route.

    Mirrors content_router config semantics (mod.rs:30-37): exact value
    match, optional case-insensitivity, ``default_output`` for no-match.
    Rows with no match and no default are dropped (the NACK analog —
    callers count them via the lineage manifest).
    """
    key = F.col(key_col) if case_sensitive else F.lower(F.col(key_col))
    expr: Column | None = None
    for value, route in routes.items():
        v = value if case_sensitive else value.lower()
        cond = key == F.lit(v)
        expr = F.when(cond, F.lit(route)) if expr is None else expr.when(cond, F.lit(route))
    assert expr is not None, "routes must be non-empty"
    routed = df.withColumn("route", expr.otherwise(F.lit(default_route)))
    if default_route is None:
        routed = routed.filter(F.col("route").isNotNull())
    return routed
