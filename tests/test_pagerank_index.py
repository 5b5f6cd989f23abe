"""The PageRank persisted-edge-index scale path, demonstrated for real
(mirrors tests/test_ivf_index.py): build the degree-folded edge list
once as a parquet table BUCKETED BY src, show (a) a second ensure call
skips the build, (b) iterating from the index never rescans
orders/lineitem, (c) the bucketed scan is actually exploited (no
edge-side Exchange when ranks can't broadcast), and (d) the result is
row-identical to the from-scratch pagerank_bipartite."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ai_etl_studio_spark.operators.analytics import (
    PR_BUCKETS,
    ensure_pagerank_edge_index,
    pagerank_bipartite,
    pagerank_from_index,
)
from tests.conftest import SF_DIR


def test_index_builds_once_and_matches(spark, tmp_path):
    base = str(tmp_path / "pr_idx")
    tbl = ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base)
    success = os.path.join(base, tbl, "_SUCCESS")
    assert os.path.exists(success)
    built_at = os.path.getmtime(success)

    # second call: no rebuild (files untouched), same table name
    assert ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at

    # iterating from the index reads ONLY the index: the edge scan plan
    # names the index table and no orders/lineitem scan (build skipped);
    # groupBy on the bucket column needs NO Exchange
    from ai_etl_studio_spark.operators.analytics import _pagerank_iterate

    edges = spark.table(tbl)
    scan_plan = (
        edges.groupBy("src").count()._jdf.queryExecution().executedPlan().toString()
    )
    assert "lineitem" not in scan_plan and "orders" not in scan_plan
    assert tbl in scan_plan
    assert "Exchange" not in scan_plan

    df = _pagerank_iterate(edges)
    got = [tuple(r) for r in df.collect()]
    want = [tuple(r) for r in pagerank_bipartite(spark, SF_DIR).collect()]
    assert got == want


def test_reregister_in_fresh_catalog_and_bucket_pruned_join(spark, tmp_path):
    base = str(tmp_path / "pr_idx")
    tbl = ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base)
    # simulate a NEW session discovering the already-built files: drop
    # the catalog entry, ensure() must re-register (not rebuild)
    spark.sql(f"DROP TABLE {tbl}")
    success = os.path.join(base, tbl, "_SUCCESS")
    built_at = os.path.getmtime(success)
    assert ensure_pagerank_edge_index(spark, SF_DIR, base_dir=base) == tbl
    assert os.path.getmtime(success) == built_at
    assert spark.catalog.tableExists(tbl)

    # the re-registered table still carries the bucket spec: joining on
    # src with broadcast disabled must NOT exchange the edge side
    edges = spark.table(tbl)
    ranks = edges.select("src").distinct().withColumn("tick", F.lit(1).cast("bigint"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = edges.join(ranks.withColumnRenamed("src", "node"), edges.src == F.col("node"))
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert f"SelectedBucketsCount: {PR_BUCKETS} out of {PR_BUCKETS}" in plan
    # ZERO exchanges: the edge side reads pre-bucketed, and ranks —
    # derived from the same bucketed table — inherits the partitioning,
    # so the sort-merge join is fully shuffle-free
    assert plan.count("Exchange hashpartitioning") == 0


def test_registered_query_uses_index(spark, tmp_path, monkeypatch):
    # point the default cache at tmp so the registry entry is hermetic
    from ai_etl_studio_spark import layout_cache

    monkeypatch.setattr(layout_cache, "CACHE_ROOT", str(tmp_path / "pr_cache"))
    got = [tuple(r) for r in pagerank_from_index(spark, SF_DIR).collect()]
    want = [tuple(r) for r in pagerank_bipartite(spark, SF_DIR).collect()]
    assert got == want
