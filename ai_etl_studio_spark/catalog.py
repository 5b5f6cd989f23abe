"""Catalog: table registration, typed schema snapshot, prompt serialization.

Supersedes the reference's live-RDBMS introspection (db_utils.py:119-153,
which captured *names only*) with Spark's own typed catalog. The prompt
serialization mirrors the reference's ``TABLE "t" (columns: a, b)`` format
(app.py:246) but is a strict superset: it carries types.

Scale notes (100 TB): in production these registrations point at external
catalog tables (partitioned, statistics collected) rather than loose parquet
files; ``register_tables`` keeps the same name surface so every query in
``operators/`` is storage-agnostic.

One parquet read path: ``read_parquet`` (and through it ``load_table`` and
``register_tables``) serves every base table and build-once layout. Without
a schema Spark infers one from a parquet footer, and that inference is a
Spark job. A per-session schema handle removes it from every read after the
first: it keeps, per absolute path, the SparkContext application id, the
path's file fingerprint and the inferred schema. The fingerprint is
``freshness.fingerprint`` (relpath, inode, size, ns mtime of every data
file, listed recursively), the one freshness rule every layout, statistics
table and copurchase memo is keyed by, and the handle is a
``freshness.SessionMemo``. When the fingerprint still matches, the read
passes the held schema to Spark; when it does not, the schema is inferred
again and the entry replaced. This is a metadata-only cache: it holds one
schema per path and never data, and every read still builds a fresh
relation, so file listing and data are read fresh each time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

from ai_etl_studio_spark.freshness import SessionMemo

#: The driver-generated test tables (TESTDATA.md); the engine works over any
#: registered tables — this list only drives the default registration.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Epoch magnitudes: a micros-since-epoch value stays below 1e17 until the
#: year ~5138, while nanos-since-epoch passed 1e17 in 1973. One threshold
#: cleanly separates the two encodings for any realistic event time.
_NANOS_THRESHOLD = 100_000_000_000_000_000


def epoch_long_to_ts(col: str):
    """Magnitude-aware epoch-long → µs TimestampType column.

    The same physical parquet column surfaces at two magnitudes depending
    on the reader: the batch path (legacy INT96-rebase conf) yields
    nanos-since-epoch, while the streaming file source with an explicit
    ``bigint`` schema yields micros. Branch on magnitude so one helper
    serves both (integer DIV — double division loses precision above
    2^53). Whole-stage-codegen'd CASE; no Python per-row work.
    """
    from pyspark.sql import functions as F

    return F.timestamp_micros(
        F.expr(
            f"CASE WHEN abs({col}) >= {_NANOS_THRESHOLD}L "
            f"THEN {col} DIV 1000 ELSE {col} END"
        )
    )


#: The schema handle: absolute path -> the schema inferred from it, held
#: for one session while the path's file fingerprint is unchanged.
_SCHEMAS = SessionMemo()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The catalog's one parquet read path, for base tables and build-once
    layouts alike: a lazy scan whose schema comes from the handle.

    On a hit (same session, same fingerprint) the read is
    ``spark.read.schema(held).parquet(path)`` and runs no Spark job; on a
    miss the schema is inferred (one job) and the entry replaced. Every
    call returns a new relation, so two reads of one table self-join.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects (PARQUET_TYPE_ILLEGAL); it is read as nanos-since-epoch
    long (legacy conf) and surfaced as a microsecond TimestampType. The
    driver testdata is µs-aligned (verified: epoch_ns % 1000 == 0 for all
    rows), so the truncation is lossless vs the DuckDB oracle's native ns.
    """
    path = os.path.abspath(path)
    schema = _SCHEMAS.fetch(
        spark, path, [path], lambda: spark.read.parquet(path).schema
    )
    df = spark.read.schema(schema).parquet(path)
    for f in schema.fields:
        if f.name == "ts" and isinstance(f.dataType, LongType):
            df = df.withColumn(f.name, epoch_long_to_ts(f.name))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of table ``name`` under ``sf_dir`` through
    ``read_parquet``. While the table's file fingerprint (relpath, inode,
    size, ns mtime of each data file) is unchanged, the schema comes from
    the session's schema handle and the call runs no Spark job; after a
    rewrite it is inferred again. File listing and data are read fresh on
    every call (column pruning and predicate pushdown apply to whatever
    the caller selects/filters)."""
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def spread_small_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Input-parallelism guard for CPU-heavy chains above a scan (guide
    §2.5, input skew): a small single-row-group parquet file scans as
    ONE task, so an expression chain that costs far more than the rows'
    bytes (per-shingle md5 + 128 minhash transforms, per-pair cosine
    lambdas) runs serial while the other cores idle. When the scan has
    fewer splits than cores, spread the rows first — one tiny shuffle
    buys a cores-wide compute stage (r11; the MinHash family measured
    37.2 -> 26.8 s across 12 queries from exactly this guard). At
    production scale the scan already has ≥ cores splits and this is a
    NO-OP — the guard is on the split count, never a constant. Only
    worth calling where the downstream per-row compute dominates; a
    plain scan→aggregate path should NOT pay the shuffle."""
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def register_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view named after the table.

    Idempotent; returns the DataFrames keyed by name. Goes through
    ``load_table`` so ns-timestamp handling (and any future per-table
    normalization) applies to the view surface too.
    """
    from ai_etl_studio_spark.session import configure_existing

    configure_existing(spark)
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def schema_snapshot(
    spark: SparkSession, tables: tuple[str, ...] | None = None
) -> dict[str, list[tuple[str, str]]]:
    """``{table: [(column, spark_type_simpleString), ...]}``.

    The typed analogue of the reference's ``get_schema`` dict
    (db_utils.py:129-136 built ``{table: [column, ...]}`` with no types).
    """
    names = list(tables) if tables else [t.name for t in spark.catalog.listTables()]
    snap: dict[str, list[tuple[str, str]]] = {}
    for name in names:
        try:
            fields = spark.table(name).schema.fields
        except Exception:
            continue
        snap[name] = [(f.name, f.dataType.simpleString()) for f in fields]
    return snap


def render_schema_for_prompt(snapshot: dict[str, list[tuple[str, str]]]) -> str:
    """Serialize the snapshot in the reference's prompt format (app.py:246),
    extended with types: ``TABLE "t" (columns: a bigint, b string)``."""
    lines = []
    for table in sorted(snapshot):
        cols = ", ".join(f"{c} {t}" for c, t in snapshot[table])
        lines.append(f'TABLE "{table}" (columns: {cols})')
    return "\n".join(lines)


def render_schema_browser(
    snapshot: dict[str, list[tuple[str, str]]], selected_table: str | None = None
) -> str:
    """Headless twin of the reference's schema browser (A18,
    ui_components.py:143-199): a table list with the selected table's
    columns expanded as chips. Presentation-only — backed by the same
    snapshot as the prompt render; no dataflow semantics."""
    tables = sorted(snapshot)
    if selected_table is None and tables:
        selected_table = tables[0]
    lines = [f"Tables ({len(tables)}):"]
    for t in tables:
        marker = "▸" if t == selected_table else " "
        lines.append(f" {marker} {t} ({len(snapshot[t])} columns)")
    if selected_table in snapshot:
        chips = "  ".join(f"[{c}: {ty}]" for c, ty in snapshot[selected_table])
        lines.append(f"Columns of {selected_table}: {chips}")
    return "\n".join(lines)
