"""The catalog's one parquet read path and its schema handle: a repeat
read of an unchanged table runs no Spark job, while a rewrite in place —
new data, a new column, or a same-size rewrite that differs only in its
ns mtime — is seen by the next ``load_table`` and ``register_tables``
view. Each test builds its own small parquet table under ``tmp_path``."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from ai_etl_studio_spark.catalog import load_table, register_tables
from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


def _jobs_in(spark, fn) -> int:
    """Spark jobs ``fn`` ran, counted by job group from the status
    tracker. A marker job run afterwards under its own group is the
    barrier: the listener bus is FIFO, so once the marker's job shows,
    every job ``fn`` ran shows too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"catalog-{uuid.uuid4().hex}"
    marker = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setJobGroup(marker, "status barrier")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _write_file(path, columns: dict) -> None:
    """Rewrite ``path`` in place (same inode) with a one-row-group file."""
    pq.write_table(pa.table(columns), str(path))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_repeat_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    _write_file(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": ["a", "b", "c"]})
    first = _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "t"))
    again = _jobs_in(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1  # the cold read infers the schema
    assert again == 0
    assert _rows(load_table(spark, str(tmp_path), "t")) == [
        (1, "a"), (2, "b"), (3, "c")
    ]


def test_single_file_rewrite_is_seen_by_load_and_view(spark, tmp_path):
    name = f"cat_file_{uuid.uuid4().hex[:8]}"
    path = tmp_path / f"{name}.parquet"
    _write_file(path, {"k": [1, 2], "v": [10, 20]})
    register_tables(spark, str(tmp_path), (name,))
    assert _rows(spark.table(name)) == [(1, 10), (2, 20)]
    _write_file(path, {"k": [1, 2, 3], "v": [11, 21, 31]})
    assert _rows(load_table(spark, str(tmp_path), name)) == [
        (1, 11), (2, 21), (3, 31)
    ]
    register_tables(spark, str(tmp_path), (name,))
    assert _rows(spark.table(name)) == [(1, 11), (2, 21), (3, 31)]
    spark.catalog.dropTempView(name)


def test_spark_directory_rewrite_is_seen_by_load_and_view(spark, tmp_path):
    name = f"cat_dir_{uuid.uuid4().hex[:8]}"
    path = str(tmp_path / f"{name}.parquet")
    spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    register_tables(spark, str(tmp_path), (name,))
    assert _rows(spark.table(name)) == [(1, "x"), (2, "y")]
    spark.createDataFrame([(3, "z")], "k int, v string").write.mode(
        "overwrite"
    ).parquet(path)
    assert _rows(load_table(spark, str(tmp_path), name)) == [(3, "z")]
    register_tables(spark, str(tmp_path), (name,))
    assert _rows(spark.table(name)) == [(3, "z")]
    spark.catalog.dropTempView(name)


def test_same_size_rewrite_differing_only_in_mtime(spark, tmp_path):
    """The rewrite keeps inode and size, renames a column and moves the
    mtime by 1 µs inside the same second: only the ns mtime tells the
    two files apart, and the held schema must not survive it."""
    path = tmp_path / "t.parquet"
    t0 = 1_700_000_000 * 10**9
    _write_file(path, {"k": [1, 2], "a": [5, 6]})
    os.utime(path, ns=(t0, t0))
    before = os.stat(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "a"]
    _write_file(path, {"k": [1, 2], "b": [5, 6]})
    os.utime(path, ns=(t0, t0 + 1_000))
    after = os.stat(path)
    assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    assert int(after.st_mtime) == int(before.st_mtime)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "b"]
    assert _rows(df) == [(1, 5), (2, 6)]


def test_rewrite_adding_a_column_surfaces_the_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write_file(path, {"k": [1], "v": [2.5]})
    assert load_table(spark, str(tmp_path), "t").columns == ["k", "v"]
    _write_file(path, {"k": [1], "v": [2.5], "w": ["new"]})
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v", "w"]
    assert _rows(df) == [(1, 2.5, "new")]


def test_two_loads_of_one_table_self_join(spark, tmp_path):
    """Each call builds a fresh relation: were one DataFrame shared,
    ``a.k == b.k`` would compare a column with itself."""
    _write_file(tmp_path / "t.parquet", {"k": [1, 2, 3], "v": [7, 8, 9]})
    a = load_table(spark, str(tmp_path), "t")
    b = load_table(spark, str(tmp_path), "t")
    assert a is not b
    got = a.join(b, a.k == b.k).select(a.k, b.v).collect()
    assert sorted(tuple(r) for r in got) == [(1, 7), (2, 8), (3, 9)]
    shifted = b.select((b.k + 1).alias("k"), "v")
    assert a.join(shifted, a.k == shifted.k).count() == 2


def test_events_ts_stays_a_timestamp(spark, tmp_path):
    """``events.ts`` keeps its timestamp type on the warm read, both for
    the test corpus (µs) and for a TIMESTAMP(NANOS) file, which Spark
    reads as a long and the catalog turns into a µs TimestampType."""
    cold = load_table(spark, SF_DIR, "events")
    warm = load_table(spark, SF_DIR, "events")
    assert isinstance(
        cold.schema["ts"].dataType, (T.TimestampType, T.TimestampNTZType)
    )
    assert warm.schema == cold.schema
    span = ("min(ts) AS lo", "max(ts) AS hi")
    assert cold.selectExpr(*span).first() == warm.selectExpr(*span).first()

    ns = pa.array([1_700_000_000_123_456_000], pa.timestamp("ns", tz="UTC"))
    _write_file(tmp_path / "events.parquet", {"event_id": [1], "ts": ns})
    for _ in range(2):
        df = load_table(spark, str(tmp_path), "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.selectExpr("unix_micros(ts)").first()[0] == (
            1_700_000_000_123_456
        )


_RESTART = """
import json, sys
sys.path[:0] = [{repo!r}, {tests!r}]
from ai_etl_studio_spark.catalog import load_table
from ai_etl_studio_spark.session import get_spark
from test_catalog import _jobs_in

jobs = []
for _ in range(2):
    spark = get_spark(app_name="catalog-restart")
    for _ in range(2):
        jobs.append(_jobs_in(spark, lambda: load_table(spark, {d!r}, "t")))
    spark.stop()
print(json.dumps(jobs))
"""


def test_restarted_session_infers_again(tmp_path):
    """A stopped session's schemas are not served to the next one: the
    handle is keyed on the SparkContext application id. Runs in its own
    Spark process, since the suite's session must stay up."""
    _write_file(tmp_path / "t.parquet", {"k": [1, 2]})
    script = _RESTART.format(
        repo=str(REPO), tests=str(REPO / "tests"), d=str(tmp_path)
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    jobs = json.loads(out.stdout.strip().splitlines()[-1])
    cold, warm, restarted, rewarm = jobs
    assert cold >= 1 and restarted >= 1
    assert warm == 0 and rewarm == 0
