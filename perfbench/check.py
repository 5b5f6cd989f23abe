"""Correctness checks: DuckDB twins, recorded digests, percentiles.

The row comparison is the one the repository's oracle sweep uses
(``tools/driver_sim.py``): same column names, same row count, equal
values after sorting the rows, with NaN compared as a string. It is
restated here so the benchmark does not move when that tool changes.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, str, bool, bytes, float)) or v is None:
        return v
    return str(v)


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = sorted(
        (tuple(norm(r[c]) for c in cols) for r in df.collect()), key=str
    )
    return cols, rows


def rows_of(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sorted-column, sorted-row form of already fetched rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted((tuple(norm(r[i]) for i in order) for r in rows), key=str)
    return cols, out


class DuckOracle:
    """DuckDB views over one table directory. A table may be a single
    parquet file or a directory of part files written by Spark."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.refresh(data_dir)

    def refresh(self, data_dir: str) -> None:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.isdir(path):
                files = sorted(glob.glob(os.path.join(path, "*.parquet")))
                src = "[" + ", ".join(f"'{f}'" for f in files) + "]"
            elif os.path.exists(path):
                src = f"'{path}'"
            else:
                continue
            self.con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet({src})"
            )

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        names = [d[0] for d in res.description]
        return rows_of(names, res.fetchall())

    def close(self) -> None:
        self.con.close()


#: Template questions whose generated SQL DuckDB runs after the dialect
#: rewrites below; their answers are checked against DuckDB on the same
#: files. They cover every template that reads ``orders`` or
#: ``lineitem``, the tables ``ask`` rewrites. The others read tables that
#: never change and are checked against recorded digests.
DUCKDB_TEMPLATES = (
    "top_products", "revenue_per_nation", "top_customers_per_nation",
    "orders_per_priority", "customers_in_segment", "orphan_rows",
    "cohort_retention", "demand_class",
)

#: Spark SQL spelling -> DuckDB spelling, for the templates above
_DIALECT = (
    ("LEFT ANTI JOIN", "ANTI JOIN"),
    ("date_format(l_shipdate, 'yyyy-MM')", "strftime(l_shipdate, '%Y-%m')"),
    ("date_format(cohort, 'yyyy-MM')", "strftime(cohort, '%Y-%m')"),
    ("trunc(MIN(CAST(o_orderdate AS DATE)), 'month')",
     "date_trunc('month', MIN(CAST(o_orderdate AS DATE)))"),
    ("trunc(CAST(o.o_orderdate AS DATE), 'month')",
     "date_trunc('month', CAST(o.o_orderdate AS DATE))"),
)


def duckdb_twin(sql: str) -> str:
    for spark_sql, duck_sql in _DIALECT:
        sql = sql.replace(spark_sql, duck_sql)
    return sql


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else format(v, ".10g")
    if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result; floats keep 10 significant
    digits so a different summation order cannot flip it."""
    body = sorted(json.dumps([_canon(v) for v in r]) for r in rows)
    payload = json.dumps([list(columns), body])
    return hashlib.sha256(payload.encode()).hexdigest()[:20]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; ``inf`` entries are failed ops."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]
