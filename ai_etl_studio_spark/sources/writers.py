"""Sinks: CSV download (reference A15), parquet, partitioned parquet.

The reference's only sink was ``df.to_csv`` into a Streamlit download
button (app.py:301-302) — a driver-side materialization bounded by the
injected LIMIT. Both forms exist here:

- ``to_csv_bytes``: the interactive path — bounded, driver-side,
  byte-for-byte what the reference's download produced. It is built
  from the answer ``engine.run_query`` already fetched (a local
  relation of at most ``DOWNLOAD_LIMIT`` rows) or from the error
  relation, so the export reads those local rows: it starts no Spark
  job, needs no Python worker and never runs the query again.
- ``write_csv`` / ``write_parquet``: the engine path — distributed
  writes, no driver bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ai_etl_studio_spark.sqlgen.sanitize import RESULT_LIMIT

#: Interactive-path bound: the same row bound as the fetched answer.
DOWNLOAD_LIMIT = RESULT_LIMIT


def to_csv_bytes(df: DataFrame, limit: int = DOWNLOAD_LIMIT) -> bytes:
    """Driver-side CSV export, LIMIT-bounded (A15: app.py:301-302):
    ``df.limit(limit).toPandas().to_csv(index=False)`` in UTF-8, byte
    for byte, read from ``collect()`` rows.

    ``toPandas()`` under Arrow ships the rows through
    ``collectAsArrowToPython``, which starts a Spark job even on a
    ``LocalRelation``; ``collect()`` of a local relation starts none.
    So the rows are collected and then given exactly the conversion
    the Arrow ``toPandas`` applies to the batches it receives
    (pyspark 4.1.2, ``pyspark/sql/pandas/conversion.py``
    ``PandasConversionMixin.toPandas``):

    - ``pyspark.sql.conversion.LocalDataToArrowConversion.convert`` —
      rows to a ``pyarrow.Table`` of the Arrow schema the JVM would
      send (timestamps as UTC instants);
    - ``pyarrow.Table.to_pandas(date_as_object=True,
      coerce_temporal_nanoseconds=True)`` on positionally renamed
      columns, so duplicate names survive;
    - ``pyspark.sql.pandas.types._create_converter_to_pandas`` per
      field, with the session time zone and struct handling mode.

    Where ``toPandas`` would not take the Arrow path (Arrow disabled, or
    a schema Arrow cannot carry) it is called as is: its other path
    reads ``collect()`` rows too. A pyspark upgrade must re-check these
    internals against ``toPandas``; ``tests/test_engine.py`` compares
    the two on a type matrix. On a lazy frame the collect is the one
    job that executes the bounded plan.
    """
    return _to_pandas(df.limit(limit)).to_csv(index=False).encode("utf-8")


def _to_pandas(df: DataFrame):
    """``df.toPandas()``, built from ``df.collect()`` (see ``to_csv_bytes``)."""
    import pandas as pd
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

    jconf = df.sparkSession._jconf
    if not jconf.arrowPySparkEnabled():
        return df.toPandas()
    schema = df.schema
    large = jconf.arrowUseLargeVarTypes()
    try:
        to_arrow_schema(schema, prefers_large_types=large)
    except Exception:  # toPandas repeats this check and falls back by its own rules
        return df.toPandas()

    rows = df.collect()
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, large)
        pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        pdf.columns = schema.names
    else:
        pdf = pd.DataFrame(columns=schema.names)
    if len(pdf.columns) == 0:
        return pdf
    timezone = jconf.sessionLocalTimeZone()
    struct_in_pandas = jconf.pandasStructHandlingMode()
    legacy = struct_in_pandas == "legacy"
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas="dict" if legacy else struct_in_pandas,
                error_on_duplicated_field_names=legacy,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


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
