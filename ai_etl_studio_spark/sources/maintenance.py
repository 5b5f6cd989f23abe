"""Table-maintenance write paths: small-file compaction and Z-order
(Morton) multi-dimensional clustering.

These are the storage-layout jobs a 100 TB lakehouse schedules nightly:
compaction keeps file counts (and thus driver planning time + task
overhead) bounded as streaming/CDC writers drip small files; Z-order
keeps min/max footer statistics tight on SEVERAL columns at once so a
2-D predicate prunes files the way a 1-D sort only manages for its
leading column. Both are pure re-writes — row-identical data, different
physical layout (cited pattern: Delta Lake OPTIMIZE / ZORDER BY;
implementation here is plain PySpark + parquet).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import read_parquet


def compact_parquet(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    target_mb: int = 128,
) -> dict:
    """Rewrite a (possibly fragmented) parquet directory into
    ~``target_mb``-sized files. Returns a small audit dict.

    Scale: file count is computed from the INPUT byte size, not row
    counts, so the rewrite is one narrow repartition — no sampling
    pass. The repartition is round-robin (no key): compaction must not
    skew file sizes when the data is skewed on any column.
    """
    sizes = [
        os.path.getsize(os.path.join(in_dir, f))
        for f in os.listdir(in_dir)
        if f.endswith(".parquet") or f.startswith("part-")
    ]
    n_files_in = len(sizes)
    total_bytes = sum(sizes)
    n_out = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
    df = read_parquet(spark, in_dir)
    df.repartition(n_out).write.mode("overwrite").parquet(out_dir)
    n_files_out = len(
        [f for f in os.listdir(out_dir) if f.startswith("part-")]
    )
    return {
        "files_in": n_files_in,
        "files_out": n_files_out,
        "bytes_in": total_bytes,
        "target_files": n_out,
    }


def _zvalue(xcol: str, ycol: str, bits: int = 16) -> F.Column:
    """Morton (Z-order) interleave of two pre-scaled integer columns in
    [0, 2^bits): bit i of x lands at position 2i, bit i of y at 2i+1.
    Pure JVM bit arithmetic — codegen'd, no UDF."""
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft((shiftright({xcol}, {i}) & 1L), {2 * i}))")
        terms.append(f"(shiftleft((shiftright({ycol}, {i}) & 1L), {2 * i + 1}))")
    return F.expr(" + ".join(terms))


def zorder_write(
    df: DataFrame,
    cols: tuple[str, str],
    out_dir: str,
    n_files: int = 32,
    bits: int = 16,
) -> None:
    """Write ``df`` clustered by the Morton order of two columns:
    min-max scale each column to ``bits`` bits (bounds from one tiny
    agg, broadcast via cross join), compute the interleaved z-value,
    and range-repartition + sort by it so every output file covers a
    compact 2-D tile — tight parquet min/max footers on BOTH columns.

    repartitionByRange samples the z distribution, so files are
    balanced even when the value space is. The z column is dropped
    before the write: layout changes, schema doesn't."""
    x, y = cols
    bounds = df.agg(
        F.min(x).alias("_xmin"),
        F.max(x).alias("_xmax"),
        F.min(y).alias("_ymin"),
        F.max(y).alias("_ymax"),
    )
    top = (1 << bits) - 1
    scaled = (
        df.join(F.broadcast(bounds))
        .withColumn(
            "_xs",
            ((F.col(x) - F.col("_xmin")) * top / (F.col("_xmax") - F.col("_xmin")))
            .cast("long"),
        )
        .withColumn(
            "_ys",
            ((F.col(y) - F.col("_ymin")) * top / (F.col("_ymax") - F.col("_ymin")))
            .cast("long"),
        )
        .withColumn("_z", _zvalue("_xs", "_ys", bits))
    )
    (
        scaled.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_xs", "_ys", "_z", "_xmin", "_xmax", "_ymin", "_ymax")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def candidate_files(out_dir: str, col: str, lo, hi) -> tuple[int, int]:
    """(files that MIGHT contain col in [lo, hi] per their parquet
    footer min/max, total files) — the same skip decision a scan makes.
    Footer-only reads via pyarrow; no data pages touched."""
    import pyarrow.parquet as pq

    total = 0
    cand = 0
    for f in sorted(os.listdir(out_dir)):
        if not f.startswith("part-") or not f.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(out_dir, f)).metadata
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        if fmin is None or (fmax >= lo and fmin <= hi):
            cand += 1
    return cand, total
