"""Readers for the non-parquet sources: csv, json, orc, jdbc, binaryFile.

The reference's only sources were live PostgreSQL/MySQL connections
(db_utils.py:119-165). Here parquet over a data lake is the primary
source (TESTDATA.md tables), and it has one read path:
``catalog.read_parquet``, which every base table and build-once layout
goes through (its schema handle skips the inference job on repeat
reads). ``read_jdbc`` keeps remote-RDBMS parity.

Scale notes:
- parquet: the only format with full pushdown + column pruning +
  vectorized reading; everything lands there.
- csv/json: schema ALWAYS supplied explicitly — inferSchema is a full
  extra pass over 100 TB.
- jdbc: partitioned reads (partitionColumn/lowerBound/upperBound/
  numPartitions) or the whole table funnels through one executor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).option("header", True).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType | str) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source: like parquet, columnar with pushdown + pruning +
    vectorized reads — supported for lake interop (Hive-era lakes)."""
    return spark.read.orc(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    driver: str | None = None,
) -> DataFrame:
    """JDBC source (parity with the reference's remote-RDBMS reads,
    db_utils.py:160-165). Requires the JDBC driver jar on the classpath;
    exercised in-container against embedded Derby (the jar ships with
    Spark's distribution — tests/test_jdbc.py round-trips a table).
    ``driver`` pins the JDBC driver class when the URL scheme alone
    can't resolve it through DriverManager."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return reader.load()


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """binaryFile source — the multimodal ingestion path: each file
    becomes one row (path, modificationTime, length, content BINARY),
    ready for the Arrow-batched decode pipeline (operators/multimodal.py).

    Scale: files are distributed across tasks by size
    (maxPartitionBytes); pair with ``pathGlobFilter`` so selection
    happens at listing time, never by reading content. Payload bytes
    stay columnar in the scan — project metadata columns only and the
    content column is never materialized (column pruning applies to
    binary like any other column)."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
