"""Conditional fan-out routing (north-rule stage 3).

The Spark rendering of the reference's ES dynamic-index sink: each doc's
target index is computed from its own fields via a ``{{field}}`` template
(agent/output/elasticsearch/elasticsearch.go:82,111 +
util/config.go:16-32, e.g. ``index: "logs-{{level}}"``). Here the route
is a deterministic ``when/otherwise`` expression producing a ``route``
column; sinks consume it via one ``partitionBy(route)`` write, in batch
and once per streaming micro-batch (sinks/writer.py).

Default route table per FIXTURES.md §3:

    sink_errors  : parse failed (dead-letter) OR level = 'ERROR'
    sink_tool    : role = 'tool'  and parse ok
    sink_user    : role = 'user'  and parse ok
    sink_default : everything else
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_formatter_spark.operators.parser import PARSE_OK

ROUTE = "route"

DEFAULT_ROUTES = ["sink_errors", "sink_tool", "sink_user", "sink_default"]


def route_expr(
    parse_ok: str = PARSE_OK, level: str = "level", role: str = "role"
) -> Column:
    return (
        F.when(~F.col(parse_ok) | (F.col(level) == "ERROR"), "sink_errors")
        .when(F.col(role) == "tool", "sink_tool")
        .when(F.col(role) == "user", "sink_user")
        .otherwise("sink_default")
    )


# Same route as ANSI SQL for the DuckDB oracle; keep in lockstep with
# route_expr (tests assert equality through the driver contract).
ROUTE_SQL = (
    "CASE WHEN (NOT parse_ok) OR level = 'ERROR' THEN 'sink_errors' "
    "WHEN role = 'tool' THEN 'sink_tool' "
    "WHEN role = 'user' THEN 'sink_user' "
    "ELSE 'sink_default' END"
)


def add_route(df: DataFrame, expr: Column | None = None) -> DataFrame:
    return df.withColumn(ROUTE, expr if expr is not None else route_expr())


def sink_template_route(df: DataFrame, template: str) -> DataFrame:
    """Literal rendering of the ES ``{{field}}`` template
    (util/config.go:16-32): ``"logs-{{level}}"`` → concat of literals and
    field refs. Kept for parity with the reference's dynamic index."""
    parts: list[Column] = []
    rest = template
    while "{{" in rest:
        pre, _, tail = rest.partition("{{")
        fieldname, _, rest = tail.partition("}}")
        if pre:
            parts.append(F.lit(pre))
        parts.append(F.coalesce(F.col(fieldname).cast("string"), F.lit("")))
    if rest:
        parts.append(F.lit(rest))
    return df.withColumn(ROUTE, F.concat(*parts) if parts else F.lit(template))
