"""Sinks: CSV download (reference A15), parquet, partitioned parquet.

The reference's only sink was ``df.to_csv`` into a Streamlit download
button (app.py:301-302) — a driver-side materialization bounded by the
injected LIMIT. Both forms exist here:

- ``to_csv_bytes``: the interactive path — bounded, driver-side,
  byte-for-byte what the reference's download produced. It is built
  from the answer ``engine.run_query`` already fetched (a local
  relation of at most ``DOWNLOAD_LIMIT`` rows), so the export reads
  those rows and does not run the query again.
- ``write_csv`` / ``write_parquet``: the engine path — distributed
  writes, no driver bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ai_etl_studio_spark.sqlgen.sanitize import RESULT_LIMIT

#: Interactive-path bound: the same row bound as the fetched answer.
DOWNLOAD_LIMIT = RESULT_LIMIT


def to_csv_bytes(df: DataFrame, limit: int = DOWNLOAD_LIMIT) -> bytes:
    """Driver-side CSV export, LIMIT-bounded (A15: app.py:301-302)."""
    return df.limit(limit).toPandas().to_csv(index=False).encode("utf-8")


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Distributed CSV write with header (engine path for A15)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet write; ``partition_by`` enables partition pruning for
    downstream readers (date/tenant columns at 100 TB)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC write (lake interop twin of ``write_parquet``)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (hash-bucketed by ``bucket_cols`` into
    ``buckets`` files per partition, optionally sorted within buckets).

    The 100 TB co-location primitive: two tables bucketed on their join
    key with the same bucket count join WITHOUT a shuffle (no Exchange
    in the plan — see tests/test_plans.py), and bucket+sort enables
    merge-join without a sort step. Pay the shuffle once at write time,
    never again per query.
    """
    w = df.write.mode(mode).format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
