"""DuckDB oracles and the output checks of every workload.

The flagship oracle is written from the program's own SQL renderings of
the route and the lookups (``ROUTE_SQL``, ``ROLE_LOOKUP_SQL``,
``TOOL_LOOKUP_SQL``) plus the parse pattern, and it runs over the same
parquet files the program reads. Catalog queries are compared with their
``contract.oracle_sql()`` rendering through an order-insensitive,
type-aware digest of the result (the value-hash comparison that
``tests/test_contract.py`` replicates).
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
from collections import Counter
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow.parquet as pq
from log_formatter_spark.lookups import ROLE_LOOKUP_SQL, TOOL_LOOKUP_SQL
from log_formatter_spark.operators.route import DEFAULT_ROUTES, ROUTE, ROUTE_SQL
from log_formatter_spark.transcripts import TRANSCRIPT_GROUPS, TRANSCRIPT_PATTERN


class Mismatch(Exception):
    """The program's output differs from the oracle's."""


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute("SET TimeZone = 'UTC'")
    return con


_P = TRANSCRIPT_PATTERN
_LEVEL_GROUP = TRANSCRIPT_GROUPS.index("level") + 1


def _flagship_sql(src_dir: str) -> str:
    return f"""
WITH t AS (SELECT * FROM read_parquet('{src_dir}/*.parquet')),
parsed AS (
  SELECT t.*, coalesce(regexp_matches(text, '{_P}'), FALSE) AS parse_ok,
         CASE WHEN regexp_matches(text, '{_P}')
              THEN regexp_extract(text, '{_P}', {_LEVEL_GROUP}) END AS level
  FROM t
),
enriched AS (
  SELECT p.* FROM parsed p
  LEFT JOIN {ROLE_LOOKUP_SQL} ON p.role = role_lookup.role
  LEFT JOIN {TOOL_LOOKUP_SQL} ON p.tool = tool_lookup.tool
),
routed AS (SELECT *, {ROUTE_SQL} AS route FROM enriched)
SELECT route, role, tool, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       count(*) AS n, count(*) FILTER (WHERE parse_ok) AS n_ok
FROM routed GROUP BY ALL
"""


@dataclass(frozen=True)
class FlagshipExpected:
    """What parse → enrich → route → aggregate must produce for one input."""

    table: tuple  # sorted (route, role, tool, hour, n)
    sinks: dict[str, int]
    rows_in: int
    rows_parsed: int


def flagship_expected(con: duckdb.DuckDBPyConnection, src_dir: str) -> FlagshipExpected:
    rows = con.execute(_flagship_sql(src_dir)).fetchall()
    sinks = Counter({r: 0 for r in DEFAULT_ROUTES})
    for route, _, _, _, n, _ in rows:
        sinks[route] += n
    return FlagshipExpected(
        table=tuple(sorted(_agg_key(r[:5]) for r in rows)),
        sinks=dict(sinks),
        rows_in=sum(r[4] for r in rows),
        rows_parsed=sum(r[5] for r in rows),
    )


def _agg_key(row) -> tuple:
    route, role, tool, hour, n = row
    return (route, role, tool, hour.strftime("%Y-%m-%d %H:%M:%S"), int(n))


def check_aggregate(rows, exp: FlagshipExpected) -> dict[str, int]:
    """``rows`` are the collected (route, role, tool, hour, n) rows of
    ``sink_aggregates``; returns the per-sink counts they imply."""
    got = tuple(sorted(_agg_key(tuple(r)) for r in rows))
    if got != exp.table:
        missing = set(exp.table) - set(got)
        extra = set(got) - set(exp.table)
        raise Mismatch(
            f"aggregate differs: {len(missing)} expected groups missing, "
            f"{len(extra)} unexpected; e.g. {sorted(missing)[:1]} / {sorted(extra)[:1]}"
        )
    return sink_counts_of(rows)


def sink_counts_of(rows) -> dict[str, int]:
    sinks = Counter({r: 0 for r in DEFAULT_ROUTES})
    for r in rows:
        sinks[r[ROUTE]] += r["n"]
    return dict(sinks)


def check_sinks(got: dict[str, int], exp: FlagshipExpected, what: str) -> None:
    want = {k: v for k, v in exp.sinks.items() if v}
    have = {k: v for k, v in got.items() if v}
    if have != want:
        raise Mismatch(f"{what}: per-sink rows {have} != oracle {want}")


def written_sink_rows(base_dir: str) -> dict[str, int]:
    """Rows per sink in a ``partitionBy(route)`` parquet write, read from
    the file footers (no Spark involved)."""
    counts: dict[str, int] = {}
    for path in glob.glob(os.path.join(base_dir, f"{ROUTE}=*", "*.parquet")):
        sink = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
        counts[sink] = counts.get(sink, 0) + pq.ParquetFile(path).metadata.num_rows
    return counts


def ledger_cumulatives(con: duckdb.DuckDBPyConnection, ledger_dir: str) -> dict[str, int]:
    """The last committed batch's cumulative counters of a MetricsLedger."""
    rows = con.execute(
        f"""
        SELECT metric, cumulative FROM read_parquet(
          '{ledger_dir}/batch_id=*/*.parquet', hive_partitioning = true)
        QUALIFY batch_id = max(batch_id) OVER ()
        """
    ).fetchall()
    return {m: int(v) for m, v in rows}


def check_ledger(cumulative: dict[str, int], exp: FlagshipExpected) -> None:
    want = {
        "rows_in": exp.rows_in,
        "rows_parsed": exp.rows_parsed,
        "rows_discarded": exp.rows_in - exp.rows_parsed,
        **{f"routed_{k}": v for k, v in exp.sinks.items()},
    }
    have = {k: cumulative.get(k, 0) for k in want}
    if have != want:
        raise Mismatch(f"ledger cumulatives {have} != oracle {want}")


# --- catalog: order-insensitive, type-aware result digest ------------------


def _canon(val):
    """(type tag, value): int 1 and float 1.0 differ, as in the contract's
    dtype-aware hash; numpy scalars and arrays reduce to Python values."""
    if isinstance(val, np.generic):
        return _canon(val.item())
    if isinstance(val, np.ndarray):
        return ("list", tuple(_canon(v) for v in val.tolist()))
    if isinstance(val, bool):
        return ("bool", val)
    if isinstance(val, float):
        return ("float", "NaN" if math.isnan(val) else val)
    if isinstance(val, int):
        return ("int", val)
    if isinstance(val, Decimal):
        return ("float", float(val))
    if hasattr(val, "isoformat"):
        if getattr(val, "tzinfo", None):
            val = val.replace(tzinfo=None)
        return ("ts", val.isoformat())
    if isinstance(val, (list, tuple)):
        return ("list", tuple(_canon(v) for v in val))
    return (type(val).__name__, val)


def result_digest(pdf) -> tuple[tuple[str, ...], int, str]:
    """(sorted column names, row count, digest of the sorted rows)."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(
        (repr(tuple(_canon(t[i]) for i in order)) for t in pdf.itertuples(index=False, name=None))
    )
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return tuple(sorted(cols)), len(rows), digest


def catalog_views(con: duckdb.DuckDBPyConnection, tables_dir: str) -> None:
    for name in ("documents", "events"):
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{tables_dir}/{name}.parquet/*.parquet')"
        )


def check_digest(query: str, got: tuple, want: tuple) -> None:
    if got != want:
        raise Mismatch(
            f"{query}: result (cols={got[0]}, rows={got[1]}) is not hash-equal to "
            f"its oracle (cols={want[0]}, rows={want[1]})"
        )
