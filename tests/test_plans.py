"""Physical-plan regression tests: the plans that make this engine scale
must not silently regress. Checks run on the plan TREE section only
(the formatted detail section repeats node names)."""

from __future__ import annotations

import pytest

from ai_etl_studio_spark.operators import load_all
from ai_etl_studio_spark.plans.guard import explain_str
from tests.conftest import SF_DIR

QUERIES, _ = load_all()


def tree(spark, name: str) -> str:
    plan = explain_str(QUERIES[name](spark, SF_DIR), "formatted")
    return plan.split("\n\n")[0]


def full(spark, name: str) -> str:
    return explain_str(QUERIES[name](spark, SF_DIR), "formatted")


class TestPushdown:
    def test_filters_reach_parquet_scan(self, spark):
        plan = full(spark, "filter_conjunctive")
        assert "PushedFilters:" in plan
        assert "GreaterThan(c_acctbal,1000" in plan
        assert "EqualTo(c_mktsegment,BUILDING)" in plan

    def test_column_pruning(self, spark):
        plan = full(spark, "projection_alias")
        # 5 of 11 lineitem columns read
        assert "l_tax" in plan
        assert "l_returnflag" not in plan

    def test_date_filter_pushdown(self, spark):
        plan = full(spark, "agg_pricing_summary")
        assert "LessThanOrEqual(l_shipdate" in plan


class TestJoinStrategy:
    def test_dims_broadcast_no_fact_shuffle(self, spark):
        t = tree(spark, "join_4way_dims")
        assert t.count("BroadcastHashJoin") == 3
        assert "SortMergeJoin" not in t
        # only the aggregation + final sort repartition; the fact table
        # itself never hash-shuffles before the agg
        assert t.count("Exchange hashpartitioning") <= 1

    def test_bridge_join_scale_safe(self, spark):
        # customer is SF-linear → hint-free since r4 (AQE broadcasts it
        # while it fits); the invariants are no forced fact broadcast
        # and no cartesian — join strategy is the planner's size call
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES["join_3way_bridge"](spark, SF_DIR)
        assert broadcast_violations(df) == []
        t = tree(spark, "join_3way_bridge")
        assert "CartesianProduct" not in t

    def test_join_hints_respected(self, spark):
        """SQL join hints steer the physical strategy: BROADCAST forces
        a broadcast-hash join even where size stats wouldn't pick it;
        MERGE forces sort-merge even for a broadcastable dim — the
        escape hatches when stats mislead at 100 TB."""
        from ai_etl_studio_spark.catalog import register_tables
        from ai_etl_studio_spark.plans.guard import explain_str

        register_tables(spark, SF_DIR, ("orders", "customer"))
        bcast = spark.sql(
            """SELECT /*+ BROADCAST(o) */ c_custkey, o_orderkey
               FROM customer c JOIN orders o ON c_custkey = o_custkey"""
        )
        assert "BroadcastHashJoin" in explain_str(bcast, "formatted")
        merged = spark.sql(
            """SELECT /*+ MERGE(c) */ c_custkey, o_orderkey
               FROM customer c JOIN orders o ON c_custkey = o_custkey"""
        )
        assert "SortMergeJoin" in explain_str(merged, "formatted")


class TestTopK:
    def test_limit_is_take_ordered(self, spark):
        for name in ("top_products", "orderby_multi_mixed", "filter_conjunctive"):
            assert "TakeOrderedAndProject" in tree(spark, name), name

    def test_agg_is_partial_then_final(self, spark):
        t = tree(spark, "agg_pricing_summary")
        assert t.count("HashAggregate") == 2  # partial + final

    def test_bridge_join_aggregates_below_join(self, spark):
        """join_3way_bridge's hand rewrite: lineitem reduces to per-order
        cents BEFORE the join (Catalyst never does this itself), so the
        plan carries exactly two hash-partition exchanges — the orderkey
        agg and the custkey agg — and four HashAggregate nodes
        (partial+final × 2)."""
        t = tree(spark, "join_3way_bridge")
        assert t.count("HashAggregate") == 4
        assert t.count("Exchange") - t.count("BroadcastExchange") == 2

    def test_length_band_bounds_broadcast(self, spark):
        """length_band_filter computes the 1-row percentile bounds and
        broadcasts them back over the corpus (BroadcastNestedLoopJoin on
        a single-row build side) — no sort or second scan-wide shuffle;
        the per-source rollup is the only hash exchange of corpus rows."""
        t = tree(spark, "length_band_filter")
        assert "BroadcastNestedLoopJoin" in t
        assert t.count("Scan parquet") == 2  # corpus + bounds, no third scan



    def test_stopword_prune_broadcast_vocab(self, spark):
        """stopword_pruned_corpus reduces the corpus to a 1-row top-K
        vocabulary array and broadcasts it back over the scan; pruning +
        reassembly are per-row higher-order functions. Exactly two
        corpus scans (vocabulary pass + prune pass), never a corpus
        shuffle for reassembly."""
        t = tree(spark, "stopword_pruned_corpus")
        assert "BroadcastNestedLoopJoin" in t
        assert t.count("Scan parquet") == 2

    def test_min_cost_per_part_single_shuffle(self, spark):
        """min_cost_per_part computes the per-part floor with a window
        MIN, filters in place, and dedups WITHOUT re-shuffling (the
        distinct keys contain the window's partition key); both dims
        broadcast and the top-100 is a per-task heap. Exactly ONE wide
        exchange for the whole query."""
        t = tree(spark, "min_cost_per_part")
        assert t.count("Exchange") - t.count("BroadcastExchange") == 1
        assert t.count("BroadcastHashJoin") == 2
        assert "SortMergeJoin" not in t
        assert "TakeOrderedAndProject" in t

    def test_q21_decorrelates_to_semi_anti(self, spark):
        """pending_returns_q21's EXISTS / NOT EXISTS pair decorrelates
        into left-semi + left-anti joins — never a per-outer-row
        re-execution, never a cartesian."""
        t = tree(spark, "pending_returns_q21")
        assert "LeftSemi" in t
        assert "LeftAnti" in t
        assert "CartesianProduct" not in t
        assert "TakeOrderedAndProject" in t

    def test_recursive_spine_aggs_before_join(self, spark):
        """recursive_month_spine plans the recursion as
        UnionLoop/UnionLoopRef and joins the spine to a PRE-aggregated
        fact side — the HashAggregate sits below the outer join, so the
        join is |months| x |months| regardless of fact size."""
        t = tree(spark, "recursive_month_spine")
        assert "UnionLoop" in t
        join_at = t.index("Join")
        assert "HashAggregate" in t[join_at:]

    def test_collocation_joins_broadcast(self, spark):
        """collocation_pmi joins the bigram counts against the unigram
        vocabulary (twice) and the 1-row total via broadcast only — the
        corpus-width data never sort-merge-joins — and the top-50 is a
        per-task heap, not a global sort."""
        t = tree(spark, "collocation_pmi")
        assert "SortMergeJoin" not in t
        assert t.count("BroadcastHashJoin") == 2
        assert "TakeOrderedAndProject" in t
        # bigram pipeline + narrow total: the unigram vocabulary is
        # localCheckpoint'ed, so it does NOT re-scan the corpus per side
        assert t.count("Scan parquet") == 2


class TestReadOnlyGuardPlans:
    @pytest.mark.parametrize(
        "sql",
        [
            "DROP TABLE t",
            "CREATE TABLE t (a INT)",
            "CREATE TABLE t AS SELECT 1",
            "INSERT INTO t VALUES (1)",
            "DELETE FROM t WHERE 1=1",
            "UPDATE t SET a=1",
            "SET spark.x=1",
            "CACHE TABLE t",
        ],
    )
    def test_commands_rejected(self, spark, sql):
        from ai_etl_studio_spark.plans.guard import is_read_only_plan

        assert not is_read_only_plan(spark, sql)

    @pytest.mark.parametrize(
        "sql",
        [
            "SELECT 1",
            "WITH x AS (SELECT 1) SELECT * FROM x",
            "SELECT * FROM VALUES (1, 2) AS t(a, b)",
        ],
    )
    def test_queries_allowed(self, spark, sql):
        from ai_etl_studio_spark.plans.guard import is_read_only_plan

        assert is_read_only_plan(spark, sql)


class TestBucketing:
    def test_bucketed_join_has_no_shuffle(self, spark, tmp_path):
        """Two tables bucketed on the join key with equal bucket counts
        must sort-merge-join with ZERO Exchange before the join — the
        pay-the-shuffle-once-at-write-time contract of write_bucketed."""
        from pyspark.sql import functions as F

        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.writers import write_bucketed

        for t in ("tb_lineitem", "tb_orders"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        write_bucketed(
            load_table(spark, SF_DIR, "lineitem"), "tb_lineitem", 8, ["l_orderkey"]
        )
        write_bucketed(
            load_table(spark, SF_DIR, "orders"), "tb_orders", 8, ["o_orderkey"]
        )
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("tb_lineitem").join(
                spark.table("tb_orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert plan.count("Bucketed: true") == 2
            # and the join result is right
            assert j.count() == load_table(spark, SF_DIR, "lineitem").count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            for t in ("tb_lineitem", "tb_orders"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_partitioned_write_prunes_on_read(self, spark, tmp_path):
        """write_parquet(partition_by=...) must enable partition pruning:
        a filter on the partition column shows up as PartitionFilters on
        the scan, not a post-scan Filter over all partitions."""
        from pyspark.sql import functions as F

        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.writers import write_parquet

        path = str(tmp_path / "events_by_type")
        write_parquet(
            load_table(spark, SF_DIR, "events"), path, partition_by=["event_type"]
        )
        df = spark.read.parquet(path).filter(F.col("event_type") == "click")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "event_type" in plan.split("PartitionFilters", 1)[1][:200]
        n_click = df.count()
        assert n_click == load_table(spark, SF_DIR, "events").filter(
            F.col("event_type") == "click"
        ).count()

    def test_compact_parquet_reduces_files(self, spark, tmp_path):
        """Compaction must cut the file count to ceil(bytes/target) and
        preserve every row."""
        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.maintenance import compact_parquet

        src = str(tmp_path / "fragmented")
        dst = str(tmp_path / "compacted")
        events = load_table(spark, SF_DIR, "events")
        events.repartition(40).write.parquet(src)
        n_in = len(spark.read.parquet(src).inputFiles())
        assert n_in >= 40
        compact_parquet(spark, src, dst, target_mb=128)
        n_out = len(spark.read.parquet(dst).inputFiles())
        assert n_out < n_in
        assert n_out <= 2  # sf0.001 events ≪ 128 MB -> 1 file (+_SUCCESS aside)
        assert spark.read.parquet(dst).count() == events.count()

    def test_csv_json_round_trip(self, spark, tmp_path):
        """CSV and JSON sinks/readers preserve rows and schema (explicit
        schema supplied — inferSchema is an extra full pass at scale)."""
        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.readers import read_csv, read_json
        from ai_etl_studio_spark.sources.writers import write_csv

        nation = load_table(spark, SF_DIR, "nation")
        schema = "n_nationkey bigint, n_name string, n_regionkey bigint"
        sel = nation.select("n_nationkey", "n_name", "n_regionkey")

        csv_path = str(tmp_path / "nation_csv")
        write_csv(sel, csv_path)
        back = read_csv(spark, csv_path, schema)
        assert sorted(map(str, back.collect())) == sorted(map(str, sel.collect()))

        json_path = str(tmp_path / "nation_json")
        sel.write.mode("overwrite").json(json_path)
        back_j = read_json(spark, json_path, schema)
        assert sorted(map(str, back_j.collect())) == sorted(map(str, sel.collect()))

    def test_binary_file_source(self, spark, tmp_path):
        """binaryFile source: one row per file with (path, length,
        content) — the multimodal ingestion path. Glob filtering happens
        at listing time; metadata-only projection never touches bytes."""
        from ai_etl_studio_spark.sources.readers import read_binary_files

        payloads = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(5)}
        (tmp_path / "skip.txt").write_text("not matched by glob")
        for name, blob in payloads.items():
            (tmp_path / name).write_bytes(blob)

        df = read_binary_files(spark, str(tmp_path), glob="*.bin")
        rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
        assert set(rows) == set(payloads)
        for name, blob in payloads.items():
            assert rows[name].length == len(blob)
            assert bytes(rows[name].content) == blob

    def test_orc_round_trip_partitioned(self, spark, tmp_path):
        """ORC sink/reader preserves rows; partitioned ORC write yields
        a partition-pruned scan (PartitionFilters in the plan), same as
        the parquet path."""
        from pyspark.sql import functions as F

        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.readers import read_orc
        from ai_etl_studio_spark.sources.writers import write_orc

        events = load_table(spark, SF_DIR, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        path = str(tmp_path / "events_orc")
        write_orc(events, path, partition_by=["event_type"])
        back = read_orc(spark, path)
        assert back.count() == events.count()
        assert set(back.columns) == set(events.columns)

        pruned = read_orc(spark, path).filter(F.col("event_type") == "click")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert "event_type" in plan.split("PartitionFilters", 1)[1][:200]
        assert (
            pruned.count()
            == events.filter(F.col("event_type") == "click").count()
        )


class TestSketches:
    def test_hll_union_matches_exact_within_tolerance(self, spark):
        """The per-type HLL estimates and their sketch-union grand total
        each land within 5% of the exact distinct counts (lgK=12 keeps
        relative error ~1.6% at these cardinalities)."""
        from ai_etl_studio_spark.catalog import load_table
        from pyspark.sql import functions as F

        got = {
            r.event_type: r.approx_users
            for r in QUERIES["hll_sketch_rollup"](spark, SF_DIR).collect()
        }
        e = load_table(spark, SF_DIR, "events")
        exact = {
            r.event_type: r.n
            for r in e.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        exact["ALL"] = e.select("user_id").distinct().count()
        assert set(got) == set(exact)
        for k, est in got.items():
            assert abs(est - exact[k]) <= 0.05 * exact[k] + 2


class TestShuffleFreeSignatures:
    """The dedup fingerprint stages are computed with per-doc array ops —
    zero shuffles except the final presentation sort (r2 rewrite; the
    sort exists only for the deterministic oracle compare and would be
    dropped in a pipeline composition)."""

    def test_minhash_signatures_no_shuffle(self, spark):
        p = full(spark, "dedup_minhash_signatures")
        t = p.split("\n\n")[0]
        assert "HashAggregate" not in t  # no groupBy in the array path
        assert "Generate" not in t  # no explode
        # exactly one Exchange beyond the conditional corpus-spread
        # round-robin (catalog.spread_small_scan fires only on
        # under-split local input; structurally a no-op at scale):
        # the orderBy's range partitioning
        n_spread = p.count("RoundRobinPartitioning")
        assert n_spread <= 1
        assert t.count("Exchange") - n_spread == 1

    def test_simhash_no_shuffle(self, spark):
        t = tree(spark, "dedup_simhash")
        assert t.count("Exchange") == 1
        assert "HashAggregate" not in t
        assert "Generate" not in t

    def test_capped_pairs_no_per_doc_aggregation_shuffle(self, spark):
        """The capped LSH pipeline hash-shuffles only on the band keys
        (window + self-join) and the pair distinct — the signature stage
        contributes no hashpartitioning(doc_id) exchange (the old
        explode+groupBy path did)."""
        import re

        plan = full(spark, "dedup_minhash_lsh_pairs_capped")
        assert not re.search(r"hashpartitioning\(doc_id#", plan)
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
            keys = m.group(1)
            assert ("band" in keys) or ("doc_id_1" in keys), keys


class TestPythonDataSourceWriter:
    def test_csv_lines_sink_round_trip(self, spark, tmp_path):
        """The pure-Python sink participates in the commit protocol:
        every task's file lands in the _MANIFEST with its row count, and
        the written bytes round-trip to the original rows."""
        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.pydatasource import register_csv_lines

        register_csv_lines(spark)
        out = str(tmp_path / "sink")
        src = (
            load_table(spark, SF_DIR, "nation")
            .select("n_nationkey", "n_name")
            .repartition(4)
        )
        src.write.format("csv_lines").option("path", out).mode("append").save()

        manifest = open(f"{out}/_MANIFEST").read().strip().splitlines()
        assert sum(int(line.split(",")[1]) for line in manifest) == src.count()
        rows = set()
        for line in manifest:
            fname = line.split(",")[0]
            for rec in open(f"{out}/{fname}").read().strip().splitlines():
                k, name = rec.split(",", 1)
                rows.add((int(k), name))
        expected = {(r.n_nationkey, r.n_name) for r in src.collect()}
        assert rows == expected

    def test_overwrite_clears_stale_parts(self, spark, tmp_path):
        """mode('overwrite') removes prior jobs' part files at commit —
        only the new job's files (exactly the _MANIFEST set) remain."""
        import os

        from ai_etl_studio_spark.catalog import load_table
        from ai_etl_studio_spark.sources.pydatasource import register_csv_lines

        register_csv_lines(spark)
        out = str(tmp_path / "sink")
        src = load_table(spark, SF_DIR, "region").select("r_regionkey", "r_name")
        src.write.format("csv_lines").option("path", out).mode("append").save()
        first_parts = {f for f in os.listdir(out) if f.startswith("part-")}
        assert first_parts
        src.write.format("csv_lines").option("path", out).mode("overwrite").save()
        remaining = {f for f in os.listdir(out) if f.startswith("part-")}
        assert not (remaining & first_parts), "stale part files survived overwrite"
        manifest_files = {
            line.split(",")[0]
            for line in open(f"{out}/_MANIFEST").read().strip().splitlines()
        }
        assert remaining == manifest_files


class TestRound3Plans:
    """Plan contracts for the round-3 curation/insight operators."""

    def test_gopher_rules_is_one_codegen_projection(self, spark):
        t = tree(spark, "gopher_rules")
        # no aggregation, no join: rules are row-local expressions; the
        # only exchange is the presentation sort
        assert "HashAggregate" not in t
        assert "Join" not in t
        assert t.count("Exchange") <= 1

    def test_dq_audit_fuses_constraints_per_table(self, spark):
        t = tree(spark, "dq_audit")
        # all lineitem bound/completeness constraints ride ONE agg pass
        # (plus orders' and the two anti-join counts); no constraint gets
        # a scan of its own beyond the 4 logical inputs
        assert t.count("Scan parquet") <= 6
        assert t.count("BroadcastHashJoin LeftAnti") + t.count(
            "SortMergeJoin LeftAnti"
        ) == 2

    def test_seasonal_naive_join_is_broadcast(self, spark):
        t = tree(spark, "seasonal_naive_mape")
        # the lag-7 self-join of the tiny daily series must broadcast
        assert "BroadcastHashJoin" in t
        assert "SortMergeJoin" not in t

    def test_pq_adc_joins_broadcast(self, spark):
        t = tree(spark, "ann_pq_topk")
        # anchor table + query distance table are broadcast; candidate
        # scoring must not sort-merge
        assert t.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in t

    def test_countmin_sketch_is_broadcast(self, spark):
        t = tree(spark, "countmin_heavy_hitters")
        assert "BroadcastHashJoin" in t
        # top-k is a heap, not a global sort
        assert "TakeOrderedAndProject" in t

    def test_triangle_plan_is_collapsed(self, spark):
        # r4: the edge list and oriented edges are checkpointed (each
        # had 3-4 consumers; the un-materialized plan carried 36 scans
        # and 68 wide exchanges). The served plan reads the checkpoints
        # — no parquet rescans — and the wedge/closing joins stay
        # hash-based, never a cartesian.
        t = tree(spark, "triangle_count")
        assert t.count("Scan parquet") == 0
        assert t.count("Exchange") - t.count("BroadcastExchange") <= 10
        assert "CartesianProduct" not in t

    def test_line_dedup_groups_on_digest(self, spark):
        full_plan = full(spark, "line_dedup_corpus")
        # the df-aggregation keys on the md5 digest, never the line text
        assert "md5" in full_plan
        t = tree(spark, "line_dedup_corpus")
        # one lines explode feeding both freq and reassembly
        assert t.count("Generate") <= 2


class TestLateRound3Plans:
    """Plan contracts for the late-round-3 operators."""

    def test_tpch_q3_heaps_not_global_sort(self, spark):
        t = tree(spark, "tpch_q3")
        assert "TakeOrderedAndProject" in t
        assert "CartesianProduct" not in t

    def test_tpch_q4_exists_becomes_semi_join(self, spark):
        t = tree(spark, "tpch_q4")
        assert "LeftSemi" in t
        full_plan = full(spark, "tpch_q4")
        # the quarter filter reaches the orders parquet scan
        assert "PushedFilters" in full_plan and "o_orderdate" in full_plan

    def test_tpch_q5_snowflake_dims_broadcast(self, spark):
        t = tree(spark, "tpch_q5")
        # the region->nation->supplier chain is genuinely dim-scale and
        # keeps its hints; customer/orders are hint-free (fact-scale) —
        # their join strategy is AQE's size-based call
        assert "BroadcastHashJoin" in t
        assert "CartesianProduct" not in t

    def test_geo_join_is_cell_hash_join(self, spark):
        t = tree(spark, "geo_grid_join")
        # candidate generation is an equi-join on (cx, cy) — hash join,
        # NOT a nested-loop over all pairs
        assert "BroadcastNestedLoopJoin" not in t
        assert "CartesianProduct" not in t

    def test_scd2_lookup_is_equi_key_hash_join(self, spark):
        t = tree(spark, "scd2_pit_lookup")
        # the interval predicate rides an equi-key (user_id) join —
        # hash/merge by planner size call, NEVER a nested-loop over
        # intervals; dim is hint-free since r4 (change history is
        # SF-linear in events)
        assert "BroadcastNestedLoopJoin" not in t
        assert "CartesianProduct" not in t
        assert ("BroadcastHashJoin Inner" in t) or ("SortMergeJoin Inner" in t)

    def test_pipeline_plan_is_collapsed(self, spark):
        # the checkpointed stage boundaries keep the composed pipeline's
        # plan small: no more than a handful of scans/exchanges (the
        # un-checkpointed form had 26 scans / 71 exchanges)
        t = tree(spark, "pretrain_corpus_pipeline")
        assert t.count("Scan parquet") <= 4
        assert t.count("Exchange") <= 15


class TestTpchPlans:
    """Plan contracts for the completed TPC-H block — SCALE-SAFE
    invariants only. The pre-r4 contracts pinned "no SortMergeJoin",
    which the implementation satisfied by FORCE-broadcasting
    orders-derived, fact-scale frames: correct and fast at sf0.1, a
    guaranteed OOM at the 100 TB design point. The invariants that
    actually survive a 100× scale-up are (a) predicates reach the
    scans, (b) no broadcast hint whose build side derives from
    orders/lineitem/customer without a cardinality-reducing operator
    (tripwire), (c) bounded output via TakeOrderedAndProject heaps, and
    (d) never a cartesian. Whether a given join broadcasts or
    sort-merges is AQE's runtime call, by size — exactly the point."""

    def _tripwire_clean(self, spark, name):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES[name](spark, SF_DIR)
        assert broadcast_violations(df) == [], (
            f"{name}: forced broadcast of a fact-scale frame"
        )

    def test_q6_is_pure_pushed_scan(self, spark):
        plan = full(spark, "tpch_q6")
        assert "PushedFilters" in plan
        assert "l_shipdate" in plan and "l_quantity" in plan
        t = tree(spark, "tpch_q6")
        assert "Join" not in t  # single-table: scan + agg only

    @pytest.mark.parametrize(
        "name", ["tpch_q3", "tpch_q5", "tpch_q7", "tpch_q8", "tpch_q9",
                 "tpch_q10", "tpch_q12", "tpch_q18"]
    )
    def test_fact_joins_never_forced_broadcast(self, spark, name):
        """The 8 queries whose r3 plans force-broadcast orders/customer-
        derived frames: the hint is gone, the hinted dims that remain
        are nation/region/supplier/part-derived only."""
        self._tripwire_clean(spark, name)
        t = tree(spark, name)
        assert "CartesianProduct" not in t, name

    def test_q9_q10_true_dims_still_broadcast(self, spark):
        # the surviving hints (filtered part, supplier⋈nation) do
        # produce broadcast joins; the orders join is AQE's choice
        for name in ("tpch_q9", "tpch_q10"):
            t = tree(spark, name)
            assert "BroadcastHashJoin" in t, name
            assert "TakeOrderedAndProject" in t or "Sort" in t, name

    def test_q3_q10_pushed_filters_and_heaps(self, spark):
        for name, col in (("tpch_q3", "o_orderdate"), ("tpch_q10", "l_returnflag")):
            plan = full(spark, name)
            assert "PushedFilters" in plan and col in plan, name
            assert "TakeOrderedAndProject" in tree(spark, name), name

    def test_q7_nation_filter_pushed_below_orders_join(self, spark):
        # the two-nation membership prunes customer/supplier BEFORE the
        # orders join: the IN-filter must appear in the full plan as a
        # pushed/early filter, not only above the lineitem join
        plan = full(spark, "tpch_q7")
        assert "NATION_1" in plan and "NATION_2" in plan
        assert "PushedFilters" in plan

    def test_q18_semi_join_prunes_both_sides(self, spark):
        t = tree(spark, "tpch_q18")
        assert t.count("LeftSemi") >= 2
        self._tripwire_clean(spark, "tpch_q18")

    def test_q15_scalar_max_is_single_row_join(self, spark):
        t = tree(spark, "tpch_q15")
        # the MAX(total_revenue) compare must NOT re-aggregate lineitem:
        # exactly one scan of lineitem in the whole plan
        assert t.count("Scan parquet") <= 3  # lineitem + supplier (+reuse)


class TestBroadcastTripwire:
    """The class-level guard against forced broadcasts of fact-scale
    frames (the defect class of the r3 TPC-H block): every registered
    query's analyzed plan is walked; a broadcast hint whose subtree
    reaches an orders/lineitem/customer/supplier/part/documents/events/
    embeddings leaf without a cardinality-BOUNDING operator (group-by
    over non-fact-grain keys, limit, literal bounded-key filter, or
    the never-materialized right side of a semi/anti join) fails the
    suite — same spirit as test_oracle_types.py killing the HUGEINT
    class at authoring time. r5 closed the r4 verdict's three holes:
    fact-grain aggregates no longer excuse, semi/anti no longer excuse
    their left side, and supplier/part count as SF-linear."""

    def test_flags_forced_fact_broadcast(self, spark):
        # the tripwire itself must fire if someone re-adds F.broadcast(o)
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        o = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        bad = li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        assert broadcast_violations(bad) == ["orders"]
        # a date slice of orders is STILL fact-scale — not excused
        bad_filtered = li.join(
            F.broadcast(o.filter(F.col("o_orderdate") < "1996-01-01")),
            li.l_orderkey == o.o_orderkey,
        )
        assert broadcast_violations(bad_filtered) == ["orders"]

    def test_fact_grain_aggregate_fires(self, spark):
        # r4 verdict item 1: a per-user/per-orderkey aggregate is still
        # SF-linear — "Aggregate excuses the hint" must not apply
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        e = load_table(spark, SF_DIR, "events")
        per_user = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
        bad = e.join(F.broadcast(per_user), "user_id")
        assert broadcast_violations(bad) == ["events"]
        # the q18 shape: an l_orderkey-grain aggregate (constant
        # FRACTION of orders, not a bounded count) no longer excuses
        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders")
        big = (
            li.groupBy("l_orderkey")
            .agg(F.sum("l_quantity").alias("tq"))
            .filter(F.col("tq") > 150)
        )
        bad2 = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        assert broadcast_violations(bad2) == ["lineitem"]

    def test_supplier_part_are_fact_scale(self, spark):
        # r4 verdict item 3: supplier (10k·SF) and part (200k·SF) are
        # SF-linear — an unfiltered hint bypasses the broadcast budget
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        li = load_table(spark, SF_DIR, "lineitem")
        p = load_table(spark, SF_DIR, "part")
        s = load_table(spark, SF_DIR, "supplier")
        assert broadcast_violations(
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        ) == ["part"]
        assert broadcast_violations(
            li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        ) == ["supplier"]

    def test_semi_join_left_side_not_excused(self, spark):
        # the semi-pruned fact side is a FRACTION of the fact table;
        # only the (never-materialized) right probe side is exempt
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        o = load_table(spark, SF_DIR, "orders")
        n = load_table(spark, SF_DIR, "nation").limit(3)
        li = load_table(spark, SF_DIR, "lineitem")
        pruned = o.join(n, o.o_custkey == n.n_nationkey, "left_semi")
        bad = li.join(F.broadcast(pruned), li.l_orderkey == pruned.o_orderkey)
        assert broadcast_violations(bad) == ["orders"]

    def test_bounded_key_filter_literal_rhs_only(self, spark):
        # r4 ADVICE: column-to-column equality / OR / NOT around a key
        # comparison bounds nothing
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        o = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        col_eq = o.filter(F.col("o_orderkey") == F.col("o_custkey"))
        assert broadcast_violations(
            li.join(F.broadcast(col_eq), li.l_orderkey == col_eq.o_orderkey)
        ) == ["orders"]
        disjunct = o.filter(
            (F.col("o_orderkey") == 7) | (F.col("o_totalprice") > 0)
        )
        assert broadcast_violations(
            li.join(F.broadcast(disjunct), li.l_orderkey == disjunct.o_orderkey)
        ) == ["orders"]

    def test_reducing_operators_excuse(self, spark):
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        o = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        # aggregate over a BOUNDED domain: fine
        by_priority = o.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n")
        )
        ok = o.join(F.broadcast(by_priority), "o_orderpriority")
        assert broadcast_violations(ok) == []
        # bounded-key filter (the ANN query-vector shape): fine
        one = o.filter(F.col("o_orderkey") == 7)
        assert broadcast_violations(li.crossJoin(F.broadcast(one))) == []
        # explicit limit: fine
        topk = li.groupBy("l_orderkey").count().limit(10)
        assert broadcast_violations(
            o.join(F.broadcast(topk), o.o_orderkey == topk.l_orderkey)
        ) == []

    def test_checkpoint_audit_sees_hidden_hints(self, spark):
        # r4 ADVICE: localCheckpoint hides hinted subplans — the audit
        # hook must surface them at checkpoint time
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import (
            broadcast_violations,
            checkpoint_audit,
        )

        o = load_table(spark, SF_DIR, "orders")
        li = load_table(spark, SF_DIR, "lineitem")
        with checkpoint_audit() as audit:
            hidden = li.join(
                F.broadcast(o), li.l_orderkey == o.o_orderkey
            ).localCheckpoint()
        # the final plan is a leaf — blind without the audit...
        assert broadcast_violations(hidden.groupBy("o_orderpriority").count()) == []
        # ...but the audit caught the hint before it vanished
        assert audit.violations == ["orders"]

    def test_alias_laundering_fires(self, spark):
        # r7 verdict hole (a): a Project rename BELOW the aggregate
        # (select(l_partkey AS u) then groupBy("u")) laundered the
        # fact-grain name past the name-only grouping check
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders")
        renamed = li.select(F.col("l_partkey").alias("u"), "l_quantity")
        per_part = renamed.groupBy("u").agg(F.sum("l_quantity").alias("q"))
        bad = o.join(F.broadcast(per_part), o.o_custkey == per_part.u)
        assert broadcast_violations(bad) == ["lineitem"]
        # a second rename hop launders no better
        twice = renamed.select(F.col("u").alias("w"))
        per2 = twice.groupBy("w").count()
        bad2 = o.join(F.broadcast(per2), o.o_custkey == per2.w)
        assert broadcast_violations(bad2) == ["lineitem"]
        # distinct over a renamed key is the same hole
        bad3 = o.join(
            F.broadcast(renamed.select("u").distinct()),
            o.o_custkey == F.col("u"),
        )
        assert broadcast_violations(bad3) == ["lineitem"]
        # but a non-key-derived grouping still excuses (no false
        # positive from the lineage check)
        by_month = li.groupBy(F.month("l_shipdate").alias("m")).count()
        assert broadcast_violations(o.crossJoin(F.broadcast(by_month))) == []

    def test_checkpoint_laundering_fires(self, spark):
        # r7 verdict hole (b): localCheckpoint replaces the subtree
        # with a LogicalRDD leaf whose renamed output carries no fact
        # key name, so a LATER broadcast OF the checkpointed frame was
        # invisible (checkpoint_audit only saw hints INSIDE it)
        import pyspark.sql.functions as F

        from ai_etl_studio_spark.operators.relational import load_table
        from ai_etl_studio_spark.plans.tripwire import (
            broadcast_violations,
            checkpoint_audit,
        )

        li = load_table(spark, SF_DIR, "lineitem")
        o = load_table(spark, SF_DIR, "orders")
        with checkpoint_audit() as audit:
            cp = (
                li.select(F.col("l_partkey").alias("u"))
                .distinct()
                .localCheckpoint()
            )
            assert audit.violations == []  # no hint inside the subtree
            bad = o.join(F.broadcast(cp), o.o_custkey == cp.u)
            assert broadcast_violations(bad) == ["lineitem"]
            # a frame BUILT ON the unbounded checkpointed leaf chains
            # the classification through a second checkpoint
            cp2 = (
                cp.groupBy("u")
                .agg(F.count(F.lit(1)).alias("n"))
                .localCheckpoint()
            )
            bad2 = o.join(F.broadcast(cp2), o.o_custkey == cp2.u)
            assert broadcast_violations(bad2) == ["lineitem"]
            # bounded checkpoints stay exempt
            okcp = o.groupBy("o_orderpriority").count().localCheckpoint()
            assert broadcast_violations(li.crossJoin(F.broadcast(okcp))) == []
        # the registry outlives the context: the sweep's later
        # broadcast_violations calls still see the classification
        assert broadcast_violations(
            o.join(F.broadcast(cp), o.o_custkey == cp.u)
        ) == ["lineitem"]

    def test_all_registered_queries_are_broadcast_safe(self, spark):
        from ai_etl_studio_spark.plans.tripwire import (
            broadcast_violations,
            checkpoint_audit,
        )

        bad = {}
        for name, fn in QUERIES.items():
            with checkpoint_audit() as audit:
                v = broadcast_violations(fn(spark, SF_DIR))
            v = list(v) + audit.violations
            if v:
                bad[name] = sorted(set(v))
        assert not bad, f"forced fact-scale broadcasts: {bad}"


class TestRound4Plans:
    """Plan contracts for the round-4 operators."""

    def test_weighted_sample_is_heap_topk(self, spark):
        # A-ES selection must be per-task heaps, never a global sort
        t = tree(spark, "weighted_sample_topk")
        assert "TakeOrderedAndProject" in t
        assert t.count("Scan parquet") == 1

    def test_table_profile_one_fused_agg_per_table(self, spark):
        # all column metrics fuse into one aggregation per table: two
        # table scans total, no per-column subplans
        t = tree(spark, "table_profile")
        assert t.count("Scan parquet") == 2
        assert "Expand" in t  # the multi-count-distinct rides one pass

    def test_basket_pairs_no_cartesian(self, spark):
        t = tree(spark, "basket_pairs")
        assert "CartesianProduct" not in t
        assert "TakeOrderedAndProject" in t

    def test_skyline_no_quadratic_join(self, spark):
        # the dominance test must ride bucket windows, never an
        # all-pairs join
        t = tree(spark, "skyline_pareto")
        assert "CartesianProduct" not in t
        assert "BroadcastNestedLoopJoin" not in t
        assert t.count("Scan parquet") <= 2  # data + bucket stats

    def test_chi_square_single_corpus_reduction(self, spark):
        # one corpus scan reduces to the contingency table; all later
        # joins are over marginal-sized frames
        t = tree(spark, "chi_square_independence")
        assert t.count("Scan parquet") <= 1  # the checkpointed table
        assert "CartesianProduct" not in t

    def test_pq_append_no_raw_vector_shuffle(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES["ann_pq_append_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []
        t = tree(spark, "ann_pq_append_topk")
        assert "CartesianProduct" not in t

    def test_twap_single_user_shuffle(self, spark):
        # one hash exchange (user_id) serves both the lead window and
        # the per-user aggregate; no second corpus pass
        t = tree(spark, "time_weighted_avg")
        assert t.count("Scan parquet") == 1
        assert "CartesianProduct" not in t

    def test_attribution_single_union_window(self, spark):
        # union-tag as-of: one shuffle on user_id serves the window; no
        # inequality self-join
        t = tree(spark, "attribution_last_touch")
        assert "CartesianProduct" not in t
        assert "BroadcastNestedLoopJoin" not in t

    def test_survival_km_windows_on_risk_table(self, spark):
        t = tree(spark, "survival_km")
        assert "CartesianProduct" not in t

    def test_freshness_audit_single_pass(self, spark):
        t = tree(spark, "freshness_audit")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2  # partial + final, fused

    def test_sequence_gaps_bucketed_windows(self, spark):
        # the only wide window runs per bucket; the global-order lead
        # happens on the tiny per-bucket table, never on keys
        t = tree(spark, "sequence_gaps")
        assert "CartesianProduct" not in t
        assert "TakeOrderedAndProject" in t

    def test_benford_single_reduction(self, spark):
        t = tree(spark, "benford_audit")
        assert t.count("Scan parquet") <= 2  # digits pass + total pass
        assert "CartesianProduct" not in t

    def test_groupwise_linreg_single_agg(self, spark):
        t = tree(spark, "groupwise_linreg")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2  # partial + final

    def test_changepoints_window_on_daily(self, spark):
        # corpus reduces to days before the lag window + heap top-k
        t = tree(spark, "revenue_changepoints")
        assert t.count("Scan parquet") == 1
        assert "TakeOrderedAndProject" in t

    def test_holt_fold_is_single_jvm_aggregate(self, spark):
        # reduce-then-fold: one scan, no Python eval anywhere
        t = tree(spark, "holt_level_trend")
        assert t.count("Scan parquet") == 1
        assert "BatchEvalPython" not in t
        assert "ArrowEvalPython" not in t

    def test_json_profile_single_parse(self, spark):
        # from_json to map + explode: one scan, no per-key reparse, no
        # Python in the plan
        t = tree(spark, "json_props_profile")
        assert t.count("Scan parquet") == 1
        assert "BatchEvalPython" not in t

    def test_checksums_map_side_only(self, spark):
        # per-table: scan → project(hash) → partial/final agg; the only
        # exchanges are the two 1-row agg merges + presentation sort
        t = tree(spark, "table_checksums")
        assert t.count("Scan parquet") == 2
        assert "Join" not in t

    def test_media_chunk_dedup_no_python_no_payload_shuffle(self, spark):
        t = tree(spark, "media_chunk_dedup")
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        assert t.count("Scan parquet") == 1
        # the only wide exchanges carry chunk hashes, via the two aggs
        assert t.count("HashAggregate") == 4  # partial+final × 2

    def test_gini_rank_is_bucketed_not_global(self, spark):
        # exact ranks come from per-bucket windows + the tiny offset
        # table — never a single-partition global sort of customers
        t = tree(spark, "gini_concentration")
        assert t.count("Scan parquet") == 0  # checkpointed spend
        assert "CartesianProduct" not in t


class TestDriftPlans:
    def test_two_sample_rank_is_bucketed_not_global(self, spark):
        # the ECDF/midrank scaffold is per-bucket windows + the tiny
        # offset table over the CHECKPOINTED per-value reduction — the
        # orders scan happens once, before the checkpoint
        for name in ("ks_two_sample", "mannwhitney_utest"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 0, name  # checkpointed
            assert "CartesianProduct" not in t, name

    def test_correlation_matrix_single_pass(self, spark):
        # 15 sufficient statistics in ONE fused aggregate — one scan,
        # partial+final agg, no joins; 6 output rows via explode
        t = tree(spark, "correlation_matrix")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2
        assert "Join" not in t

    def test_psi_and_entropy_reduce_before_windows(self, spark):
        # documents reduce to the tiny bin / (source,lang) table in one
        # map-side-combinable agg; windows run over that reduction only
        for name in ("psi_drift", "entropy_by_source"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name

    def test_seasonal_anomaly_heap_topk(self, spark):
        t = tree(spark, "seasonal_anomaly_dow")
        assert t.count("Scan parquet") == 1
        assert "TakeOrderedAndProject" in t  # bounded top-k, no global sort

    def test_hhi_reduces_orders_before_customer_join(self, spark):
        # orders collapse to one row per customer BEFORE the join and
        # the joined reduction is checkpointed for its two consumers;
        # only the nation dim is scanned downstream
        t = tree(spark, "hhi_concentration")
        assert t.count("Scan parquet") == 1
        assert "CartesianProduct" not in t

    def test_mutual_information_single_reduction(self, spark):
        t = tree(spark, "mutual_information")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_acf_melts_all_lags_one_pass(self, spark):
        # checkpointed daily series; four lags aggregate via ONE
        # explode+groupBy, not four window passes
        t = tree(spark, "autocorrelation_lags")
        assert t.count("Scan parquet") == 0  # checkpointed daily
        assert t.count("Generate") == 1  # the single explode

    def test_vocab_and_zipf_single_vocab_shuffle(self, spark):
        # ONE token-keyed reduction is checkpointed and serves every
        # consumer — the corpus is never exploded twice
        for name in ("vocab_growth_curve", "power_law_alpha"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 0, name  # checkpointed
            assert "CartesianProduct" not in t, name

    def test_source_jaccard_bounded_fanout(self, spark):
        # self-join runs on the checkpointed DISTINCT (source, token)
        # table; per-token fan-out is bounded by sources², not corpus²
        t = tree(spark, "source_token_jaccard")
        assert t.count("Scan parquet") == 0  # checkpointed
        assert "CartesianProduct" not in t

    def test_quantile_drift_thresholds_broadcast(self, spark):
        # exact deciles = conditional MIN over the checkpointed
        # per-value table × the 9-row broadcast threshold spine
        t = tree(spark, "quantile_drift")
        assert t.count("Scan parquet") == 0  # checkpointed scaffold
        assert "BroadcastNestedLoopJoin" in t  # the tiny spine cross
        assert "SortMergeJoin" not in t

    def test_hourly_and_degree_reduce_once(self, spark):
        for name in ("hourly_seasonality_profile", "degree_distribution"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name

    def test_langid_confusion_no_python(self, spark):
        # scoring is the same codegen projection as text_langid
        t = tree(spark, "langid_confusion")
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        assert t.count("Scan parquet") == 1

    def test_lorenz_rank_is_bucketed_not_global(self, spark):
        t = tree(spark, "lorenz_curve")
        assert t.count("Scan parquet") == 0  # checkpointed spend
        assert "CartesianProduct" not in t

    def test_k_anonymity_single_reduction(self, spark):
        t = tree(spark, "k_anonymity_audit")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_dau_wau_spine_broadcast(self, spark):
        # user-day reduction checkpointed; the 7-day membership is a
        # range join against the broadcast calendar spine
        t = tree(spark, "dau_wau_stickiness")
        assert t.count("Scan parquet") == 0  # checkpointed user-days
        assert "BroadcastNestedLoopJoin" in t
        assert "SortMergeJoin" not in t

    def test_embedding_norm_audit_no_vector_shuffle(self, spark):
        # per-row integer fold; only ~10 band rows ever shuffle
        t = tree(spark, "embedding_norm_audit")
        assert t.count("Scan parquet") == 1
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        assert t.count("HashAggregate") == 2

    def test_gap_and_growth_single_user_shuffle(self, spark):
        # one user-partitioned window pass; rollups are tiny tables
        for name in ("interevent_gap_histogram", "growth_accounting_daily"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name

    def test_reorder_intervals_reduce_before_join(self, spark):
        # per-customer gap aggregates BEFORE the customer join
        t = tree(spark, "reorder_interval_stats")
        assert t.count("Scan parquet") == 2
        assert "CartesianProduct" not in t

    def test_dup_rate_checkpointed_fingerprints(self, spark):
        # fingerprint frame checkpointed for both join sides
        t = tree(spark, "dup_rate_by_source")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t

    def test_supplier_share_reduces_lineitem_first(self, spark):
        t = tree(spark, "supplier_share_shift")
        assert t.count("Scan parquet") == 3
        assert "CartesianProduct" not in t

    def test_shipping_delay_joins_one_row_per_order(self, spark):
        # lineitem pre-aggregates per order; the fact-fact join is
        # key-on-key and hint-free
        t = tree(spark, "shipping_delay_monthly")
        assert t.count("Scan parquet") == 2
        assert "CartesianProduct" not in t

    def test_partition_skew_one_scan_two_candidates(self, spark):
        t = tree(spark, "partition_skew_advisor")
        assert t.count("Scan parquet") == 0  # checkpointed projection
        assert "Join" not in t

    def test_watermark_running_max_is_bucketed(self, spark):
        # per-bucket exclusive cummax + tiny carry table — never a
        # single-partition window over events
        t = tree(spark, "watermark_lateness_advisor")
        assert t.count("Scan parquet") == 0  # checkpointed base
        assert "CartesianProduct" not in t

    def test_aging_filter_pushed_down(self, spark):
        p = full(spark, "open_order_aging")
        assert "EqualTo(o_orderstatus,O)" in p  # status filter at the scan
        t = tree(spark, "open_order_aging")
        assert t.count("Scan parquet") == 1 and "Join" not in t

    def test_tier_migration_single_pass(self, spark):
        # both years as conditional sums in ONE customer-keyed agg —
        # never a self-join of two yearly snapshots
        t = tree(spark, "spend_tier_migration")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_discount_band_and_charclass_reduce_once(self, spark):
        for name in ("discount_by_quantity_band", "char_class_profile"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert t.count("HashAggregate") == 2, name

    def test_affinity_self_join_on_checkpoint(self, spark):
        t = tree(spark, "event_type_affinity")
        assert t.count("Scan parquet") == 0  # checkpointed user-type set
        assert "CartesianProduct" not in t

    def test_grouped_deciles_bucketed(self, spark):
        # per-(type,bucket) windows + per-type offsets + broadcast spine
        t = tree(spark, "event_value_deciles_by_type")
        assert t.count("Scan parquet") == 0  # checkpointed per-value counts
        assert "CartesianProduct" not in t
        assert "SortMergeJoin" not in t

    def test_revenue_bridge_single_scan(self, spark):
        t = tree(spark, "revenue_bridge_monthly")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_priority_sla_reduces_lineitem_first(self, spark):
        t = tree(spark, "priority_sla_rate")
        assert t.count("Scan parquet") == 2
        assert "CartesianProduct" not in t

    def test_session_funnel_one_user_exchange(self, spark):
        # sessionization + three min-chaining windows share the
        # user_id partitioning — one wide exchange before the rollup
        t = tree(spark, "session_funnel")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert t.count("Exchange hashpartitioning") <= 2

    def test_containment_uses_capped_candidates(self, spark):
        t = tree(spark, "dedup_containment_pairs")
        assert "CartesianProduct" not in t
        # r11: the capped band table is materialized once before the
        # self-join, so the final plan reads the checkpointed table
        # and the cap's row_number window lives in the PRODUCER plan
        assert "Scan ExistingRDD" in t
        from ai_etl_studio_spark.operators.dedup import (
            LSH_BUCKET_CAP,
            _band_df,
            _capped_bands,
        )

        producer = _capped_bands(_band_df(spark, SF_DIR), LSH_BUCKET_CAP)
        pt = explain_str(producer, "formatted").split("\n\n")[0]
        assert "Window" in pt

    def test_mix_shift_single_scan(self, spark):
        t = tree(spark, "priority_mix_shift_monthly")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_weighted_median_bucketed(self, spark):
        t = tree(spark, "weighted_median_price")
        assert t.count("Scan parquet") == 0  # checkpointed weights
        assert "CartesianProduct" not in t and "SortMergeJoin" not in t

    def test_llm_planning_ops_single_pass(self, spark):
        for name in (
            "tokenizer_fertility",
            "context_window_fit",
            "pii_rate_by_source",
            "dataset_card_summary",
        ):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name
            assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t, name

    def test_leakage_and_weights_single_pass(self, spark):
        for name in ("split_leakage_audit", "class_balance_weights"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name

    def test_centroid_drift_no_vector_shuffle(self, spark):
        # vectors explode to per-dim integer sums (checkpointed for
        # the two cohort consumers) before any join
        t = tree(spark, "embedding_centroid_drift")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t

    def test_session_sensitivity_one_window_pass(self, spark):
        # 4 timeouts = 4 conditional sums over ONE lag window
        t = tree(spark, "session_timeout_sensitivity")
        assert t.count("Scan parquet") == 1
        assert t.count("Window") == 1
        assert "Join" not in t

    def test_srm_and_fill_rate_shapes(self, spark):
        t = tree(spark, "ab_srm_check")
        assert t.count("Scan parquet") == 1 and "Join" not in t
        t = tree(spark, "order_fill_rate")
        assert t.count("Scan parquet") == 2
        assert "CartesianProduct" not in t

    def test_perplexity_vocab_join_hint_free(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES["perplexity_by_source"](spark, SF_DIR)
        assert broadcast_violations(df) == []
        t = tree(spark, "perplexity_by_source")
        assert "CartesianProduct" not in t

    def test_kl_and_dup_hist_reduce_once(self, spark):
        for name in ("kl_divergence_by_source", "dup_cluster_histogram"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name

    def test_near_dup_rate_hint_free_membership_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES["near_dup_rate_by_source"](spark, SF_DIR)
        assert broadcast_violations(df) == []
        t = tree(spark, "near_dup_rate_by_source")
        assert "CartesianProduct" not in t

    def test_lexical_diversity_reduces_once(self, spark):
        # (source, token) count with map-side combine, then the
        # |sources|-row rollup — one scan, two agg pairs, no joins
        t = tree(spark, "lexical_diversity_by_source")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 4
        assert "Join" not in t

    def test_bigram_cond_entropy_on_checkpoint(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the vocab²-bounded bigram table is checkpointed (feeds the
        # context window AND the per-lang totals); the totals join back
        # as an aggregate-reduced broadcast — never a lang-wide window
        t = tree(spark, "bigram_cond_entropy_by_lang")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t
        assert "BroadcastHashJoin" in t
        df = QUERIES["bigram_cond_entropy_by_lang"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_doc_length_deciles_bucketed(self, spark):
        # grouped bucketed-ECDF scaffold over the checkpointed
        # per-(source, n_chars) counts — no global sort, no cartesian
        t = tree(spark, "doc_length_deciles_by_source")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t
        assert "SortMergeJoin" not in t

    def test_cusum_reduces_to_daily_before_window(self, spark):
        t = tree(spark, "cusum_level_shift")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert "TakeOrderedAndProject" in t  # top-k heap, no global sort

    def test_stl_windows_over_daily_reduction(self, spark):
        t = tree(spark, "stl_decompose_weekly")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert t.count("HashAggregate") == 2  # one partial+final daily agg

    def test_supplier_jaccard_on_checkpointed_edges(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the distinct (part, supplier) edge list is computed once for
        # both consumers; degree joins are hint-free
        t = tree(spark, "supplier_overlap_jaccard")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t
        df = QUERIES["supplier_overlap_jaccard"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_quality_calibration_single_codegen_pass(self, spark):
        t = tree(spark, "quality_calibration_bands")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t

    def test_purity_and_template_single_pass(self, spark):
        for name in ("mixed_lang_purity_by_source", "template_prefix_clusters"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name
            assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t, name

    def test_burstiness_one_lag_window_then_rollup(self, spark):
        t = tree(spark, "burstiness_by_type")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert t.count("Window") == 1  # one (user,type) lag exchange

    def test_cohort_ltv_single_scan_window_cohort(self, spark):
        # cohort month via per-customer window over the CHECKPOINTED
        # (customer, month) reduction — no second orders scan, no
        # fact self-join for the first-order date
        t = tree(spark, "cohort_ltv_curve")
        assert t.count("Scan parquet") == 0
        assert "CartesianProduct" not in t

    def test_return_z_and_rising_terms_on_checkpoint(self, spark):
        for name in ("supplier_return_z", "rising_terms"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 0, name  # checkpointed reduction
            assert "TakeOrderedAndProject" in t, name  # top-k heap

    def test_mahalanobis_build_serve_two_pass(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "embedding_outlier_mahalanobis")
        assert t.count("Scan parquet") == 2  # stats pass + scoring pass
        assert "CartesianProduct" not in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["embedding_outlier_mahalanobis"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_lsh_recall_no_cartesian_hint_free(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "lsh_recall_by_band")
        assert "CartesianProduct" not in t
        df = QUERIES["lsh_recall_by_band"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_power_and_ldiv_single_scan(self, spark):
        for name in ("ab_power_sample_size", "l_diversity_audit"):
            t = tree(spark, name)
            assert t.count("Scan parquet") == 1, name
            assert "Join" not in t, name

    def test_recall_evals_no_cartesian_hint_free(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        for name in ("ann_ivf_recall_eval", "minhash_estimate_calibration"):
            t = tree(spark, name)
            assert "CartesianProduct" not in t, name
            df = QUERIES[name](spark, SF_DIR)
            assert broadcast_violations(df) == [], name

    def test_ushape_bucketed_interval_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # bucket-replicated (constant 2×) interval join — never an
        # unbounded inequality self-join
        t = tree(spark, "attribution_u_shaped")
        assert "CartesianProduct" not in t
        df = QUERIES["attribution_u_shaped"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_trigram_one_window_then_heap(self, spark):
        t = tree(spark, "event_trigram_paths")
        assert t.count("Scan parquet") == 1
        assert t.count("Window") == 1
        assert "TakeOrderedAndProject" in t

    def test_backlog_reduces_facts_to_months(self, spark):
        # the two facts only meet at |months| granularity; both tiny
        # reductions are checkpointed for their two consumers
        t = tree(spark, "order_backlog_monthly")
        assert t.count("Scan parquet") == 0
        assert "SortMergeJoin" not in t  # month-spine joins are tiny

    def test_weighted_deciles_bucketed(self, spark):
        t = tree(spark, "weighted_deciles_price")
        assert t.count("Scan parquet") == 0  # checkpointed weight table
        assert "CartesianProduct" not in t
        assert "SortMergeJoin" not in t

    def test_stl_outliers_and_qmap_compose_checkpoints(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        for name in ("stl_residual_outliers", "quantile_norm_map"):
            t = tree(spark, name)
            assert "CartesianProduct" not in t, name
            df = QUERIES[name](spark, SF_DIR)
            assert broadcast_violations(df) == [], name

    def test_centroid_distances_no_vector_joins(self, spark):
        t = tree(spark, "label_centroid_distances")
        assert t.count("Scan parquet") == 0  # checkpointed centroid table
        assert "CartesianProduct" not in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t

    def test_range_splits_and_heatmap_shapes(self, spark):
        t = tree(spark, "range_split_points")
        assert t.count("Scan parquet") == 0  # checkpointed value counts
        assert "SortMergeJoin" not in t
        t = tree(spark, "dow_hour_value_heatmap")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert t.count("HashAggregate") == 2

    def test_ppr_prunes_zero_mass(self, spark):
        # the contribution join filters tick > 0 — early iterations
        # touch only the seeds' neighborhoods
        t = tree(spark, "personalized_pagerank_seeded")
        assert t.count("Scan parquet") == 0  # checkpointed edges + ranks
        assert "CartesianProduct" not in t

    def test_ivm_join_delta_prunes_history(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "ivm_join_delta")
        # pre/delta rollups are checkpointed; only the verification
        # recompute re-reads the facts
        assert "CartesianProduct" not in t
        df = QUERIES["ivm_join_delta"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_media_sequence_payload_never_shuffles(self, spark):
        t = tree(spark, "media_sequence_fingerprint")
        assert t.count("Scan parquet") == 1
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t

    def test_skewness_single_fused_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # all four power sums in ONE partial+final aggregate pair
        t = tree(spark, "value_skewness_by_nation")
        assert t.count("HashAggregate") == 2
        assert "CartesianProduct" not in t
        df = QUERIES["value_skewness_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_hybrid_join_hot_path_is_broadcast(self, spark):
        # the hot slice joins broadcast-side; the cold path is hint-free
        t = tree(spark, "hybrid_skew_join")
        assert "BroadcastHashJoin" in t
        assert "CartesianProduct" not in t

    def test_heldout_vocab_join_hint_free(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "heldout_perplexity")
        assert "CartesianProduct" not in t
        df = QUERIES["heldout_perplexity"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_vocab_coverage_bucketed_rank_no_global_sort(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "vocab_coverage_topk")
        assert "CartesianProduct" not in t
        df = QUERIES["vocab_coverage_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_new_returning_single_scan_window_min(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # first-month via partition window, not a self-join: ONE scan
        t = tree(spark, "new_returning_revenue_monthly")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        df = QUERIES["new_returning_revenue_monthly"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_abc_classification_bucket_windows_only(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # lineitem scanned once AT the checkpoint; the served plan reads
        # only the materialized per-part reduction, three times
        t = tree(spark, "abc_classification_parts")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        assert "CartesianProduct" not in t
        df = QUERIES["abc_classification_parts"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_embedding_dim_stats_one_aggregate_no_vector_shuffle(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "embedding_dim_stats")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2  # one partial+final pair
        df = QUERIES["embedding_dim_stats"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_pairwise_histogram_bnlj_on_bounded_sample(self, spark):
        # quadratic stage fenced to the MOD-sample: the checkpointed
        # sample drives BroadcastNestedLoopJoin, never CartesianProduct
        t = tree(spark, "pairwise_distance_histogram")
        assert "BroadcastNestedLoopJoin" in t
        assert "CartesianProduct" not in t
        assert "Scan parquet" not in t  # reads the checkpointed sample

    def test_readability_single_scan_no_python(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "readability_scores_by_source")
        assert t.count("Scan parquet") == 1
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["readability_scores_by_source"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_markov_iterations_on_reduced_matrix(self, spark):
        # corpus reduces ONCE (checkpointed matrix); iterations join only
        # the tiny ExistingRDD, and only the freq rollup re-touches parquet
        t = tree(spark, "markov_stationary_profile")
        assert t.count("Scan parquet") == 1
        assert t.count("Scan ExistingRDD") >= 3  # matrix read per iteration
        assert "CartesianProduct" not in t

    def test_time_decay_bucket_replication_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # bounded (user, bucket) equi-join, never an unbounded theta join
        t = tree(spark, "attribution_time_decay")
        assert "CartesianProduct" not in t
        assert "BroadcastNestedLoopJoin" not in t
        df = QUERIES["attribution_time_decay"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_basket_profile_two_rollups_one_scan(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "basket_size_profile")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 4  # two partial+final pairs
        df = QUERIES["basket_size_profile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_gini_grouped_rank_windows_are_partitioned(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the served plan reads the checkpointed spend reduction; every
        # Sort is window-local (partitioned), never a global Sort+single
        # partition Exchange
        t = tree(spark, "gini_by_nation")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        assert "Exchange SinglePartition" not in t
        df = QUERIES["gini_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_single_source_one_fact_scan(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "single_source_risk")
        assert t.count("Scan parquet") == 1
        df = QUERIES["single_source_risk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_delay_percentiles_fact_join_hint_free(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # fact-fact join stays AQE's call; the cumulative windows run on
        # the per-(priority, day) reduction, so no corpus-wide Sort
        t = tree(spark, "shipping_delay_percentiles_by_priority")
        assert "CartesianProduct" not in t
        df = QUERIES["shipping_delay_percentiles_by_priority"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_trade_flow_only_nation_broadcast_forced(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "trade_flow_matrix")
        assert "CartesianProduct" not in t
        df = QUERIES["trade_flow_matrix"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_return_rate_single_scan_single_rollup(self, spark):
        t = tree(spark, "return_rate_by_discount_band")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2

    def test_price_dispersion_fused_moments(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "price_dispersion_by_part_type")
        assert t.count("HashAggregate") == 2  # one fused partial+final
        df = QUERIES["price_dispersion_by_part_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_engagement_histogram_two_rollups(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "engagement_frequency_histogram")
        assert t.count("Scan parquet") == 1
        df = QUERIES["engagement_frequency_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_error_recovery_no_self_join(self, spark):
        # conditional next-event via ONE window frame, never events⋈events
        t = tree(spark, "error_recovery_histogram")
        assert "Join" not in t
        assert t.count("Scan parquet") == 1

    def test_session_depth_single_user_sort(self, spark):
        # lag + running-sum share one user-partition sort (window reuse)
        t = tree(spark, "session_depth_conversion")
        assert t.count("Scan parquet") == 1
        assert t.count("Exchange hashpartitioning") <= 3

    def test_dup_quality_one_scan_one_hash_shuffle(self, spark):
        # hash + band in one projection; dup flag via COUNT window over
        # the digest partition — no join back, no second scan
        t = tree(spark, "dup_rate_by_quality_band")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t

    def test_brand_realization_fused_rollup(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "brand_price_realization")
        assert t.count("HashAggregate") == 2
        df = QUERIES["brand_price_realization"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_doc_feature_corr_single_fused_aggregate(self, spark):
        # all sufficient statistics in ONE partial+final pair; the pair
        # fan-out is a map-side explode on the 1-row stats frame
        t = tree(spark, "doc_feature_correlation")
        assert t.count("Scan parquet") == 1
        assert t.count("HashAggregate") == 2
        assert "Join" not in t

    def test_attr_comparison_no_new_machinery(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        df = QUERIES["attribution_model_comparison"](spark, SF_DIR)
        assert broadcast_violations(df) == []
        t = tree(spark, "attribution_model_comparison")
        assert "CartesianProduct" not in t

    def test_ivm_topk_heaps_not_sorts(self, spark):
        # every top-N leg is a TakeOrderedAndProject heap
        t = tree(spark, "ivm_topk_delta")
        assert "TakeOrderedAndProject" in t
        assert "CartesianProduct" not in t

    def test_type_seasonality_window_on_bounded_matrix(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "type_seasonality_index")
        assert "CartesianProduct" not in t
        df = QUERIES["type_seasonality_index"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_burstiness_single_corpus_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # checkpointed token arrays feed both the cf and df legs — the
        # corpus is tokenized once
        t = tree(spark, "term_burstiness_topk")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        assert "TakeOrderedAndProject" in t
        df = QUERIES["term_burstiness_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_byte_entropy_mapside_expansion(self, spark):
        # the hex payload explodes map-side; only (type, byte) pairs
        # shuffle, pre-combined — one scan, no join
        t = tree(spark, "media_byte_entropy")
        assert t.count("Scan parquet") == 1
        assert "Join" not in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t

    def test_delivery_consistency_quantized_heap(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "supplier_delivery_consistency")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["supplier_delivery_consistency"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_theil_sen_pairs_on_aggregate_only(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the quadratic pair join must sit ABOVE the monthly reduction:
        # both self-join legs are HashAggregate outputs, never raw facts
        t = tree(spark, "theil_sen_trend_by_nation")
        assert "CartesianProduct" not in t
        assert t.count("HashAggregate") >= 2
        df = QUERIES["theil_sen_trend_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_spearman_ranks_on_nation_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # rank windows run on the |nation|-row aggregate — the single
        # global-order window is over 25 rows by construction
        t = tree(spark, "spearman_rev_aov_nations")
        assert "Window" in t and "HashAggregate" in t
        df = QUERIES["spearman_rev_aov_nations"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_kendall_pairs_bounded_by_brands(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the O(brands^2) theta-join is above the per-brand reduction;
        # no python eval anywhere in the plan
        t = tree(spark, "kendall_tau_brand_ranks")
        assert t.count("HashAggregate") >= 2
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["kendall_tau_brand_ranks"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_yoy_growth_window_on_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the lag window runs per type over |years| rows, above the
        # single partial->final fact reduction
        t = tree(spark, "yoy_growth_by_type")
        assert "Window" in t and "HashAggregate" in t
        df = QUERIES["yoy_growth_by_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_reactivation_single_lag_then_reduce(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one customer-partitioned lag window, then a map-side monthly
        # reduction — no join anywhere
        t = tree(spark, "customer_reactivation_monthly")
        assert "Join" not in t
        assert t.count("Window") == 1
        df = QUERIES["customer_reactivation_monthly"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_funnel_latency_reduce_before_selfjoin(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # events reduce to (user, stage) firsts BEFORE the self-join;
        # the latency histogram is a bounded-log2-bucket reduction
        t = tree(spark, "funnel_stage_latency")
        assert t.count("HashAggregate") >= 3
        assert "CartesianProduct" not in t
        df = QUERIES["funnel_stage_latency"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_centroid_separation_sum_vector_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # cosine-of-sums: the pair join consumes the |labels|x|dims|
        # exact SUM table, never raw vectors; no python eval
        t = tree(spark, "embedding_label_centroid_separation")
        assert t.count("HashAggregate") >= 3
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["embedding_label_centroid_separation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_hapax_single_tokenize_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one tokenize pass, shuffle keyed on (source, term) counts,
        # no join anywhere
        t = tree(spark, "hapax_rate_by_source")
        assert "Join" not in t
        assert "Generate" in t  # the explode is map-side
        df = QUERIES["hapax_rate_by_source"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_size_demand_bounded_window(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the only window (grand total) runs over the <=50-row size
        # aggregate, after the single fact reduction
        t = tree(spark, "size_demand_curve")
        assert "Window" in t and "HashAggregate" in t
        df = QUERIES["size_demand_curve"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_orderstatus_audit_reduce_before_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # lineitem reduces per-order BEFORE the key-on-key LEFT join;
        # no forced broadcast of either fact side
        t = tree(spark, "orderstatus_consistency_audit")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["orderstatus_consistency_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_mktsegment_mix_bounded_margins(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # all three contingency margins are windows over the bounded
        # nation x segment cell table, after ONE customer reduction
        t = tree(spark, "mktsegment_nation_mix")
        assert t.count("Window") >= 2
        df = QUERIES["mktsegment_nation_mix"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_anova_tick_terms_before_total(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # two-level reduction: per-label sufficient stats, then the
        # k-row total with tick-quantized between-group terms
        t = tree(spark, "anova_dim1_by_label")
        assert t.count("HashAggregate") >= 3
        assert "Join" not in t
        df = QUERIES["anova_dim1_by_label"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_linenumber_single_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one map-side-combinable aggregate, nothing else
        t = tree(spark, "linenumber_position_effect")
        assert "Join" not in t and "Window" not in t
        assert t.count("Exchange") <= 2  # partial->final + output sort
        df = QUERIES["linenumber_position_effect"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_novelty_window_on_doc_term_groups(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the only wide shuffle keys on (doc, term) for the
        # first-occurrence window; deciles reduce map-side after
        t = tree(spark, "positional_novelty_curve")
        assert "Window" in t and "Generate" in t
        assert "Join" not in t
        df = QUERIES["positional_novelty_curve"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_fdr_windows_on_nation_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # z/p/rank/cutoff machinery all runs on the |nation|-row
        # reduction; integer BH comparison, no python eval
        t = tree(spark, "fdr_bh_screening")
        assert "Window" in t and "HashAggregate" in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["fdr_bh_screening"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_neyman_tick_weights_before_total(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # per-stratum sufficient stats reduce first; the weight
        # quantizes to ticks before the bounded-table total window
        t = tree(spark, "neyman_allocation")
        assert "Window" in t and "HashAggregate" in t
        df = QUERIES["neyman_allocation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_runs_test_daily_reduction_first(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # orders reduce to the daily series before any window; the
        # 1-row median broadcast is aggregate-derived (tripwire-clean)
        t = tree(spark, "runs_test_daily_revenue")
        assert t.count("HashAggregate") >= 2
        df = QUERIES["runs_test_daily_revenue"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_streak_islands_single_user_window(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # dedup to (user, day), ONE user-partitioned row_number window,
        # then two map-side-combinable reductions — no join
        t = tree(spark, "activity_streak_histogram")
        assert "Join" not in t
        assert t.count("Window") == 1
        df = QUERIES["activity_streak_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_value_drift_minby_compaction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # first/last compact inside the aggregate (min_by/max_by) —
        # no per-customer window, no sort, no join
        t = tree(spark, "customer_value_drift_by_tenure")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["customer_value_drift_by_tenure"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_interaction_scan_bounded_margins(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # margins are windows over the lang x source cell table; top-k
        # is a heap
        t = tree(spark, "lang_source_interaction_scan")
        assert "TakeOrderedAndProject" in t
        assert t.count("Window") >= 2
        df = QUERIES["lang_source_interaction_scan"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_collision_audit_single_name_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one reduction keyed on p_name; top-k heap; no join
        t = tree(spark, "catalog_name_collision_audit")
        assert "Join" not in t
        assert "TakeOrderedAndProject" in t
        df = QUERIES["catalog_name_collision_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_peak_ratio_nested_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # fact -> supplier x month -> supplier: two reductions, no
        # window, no join
        t = tree(spark, "supplier_month_peak_ratio")
        assert "Join" not in t and "Window" not in t
        assert t.count("HashAggregate") >= 4  # two partial->final pairs
        df = QUERIES["supplier_month_peak_ratio"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_pareto_window_on_brand_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the running-share window sorts only the |brand|-row aggregate
        t = tree(spark, "brand_pareto_curve")
        assert "Window" in t and "HashAggregate" in t
        df = QUERIES["brand_pareto_curve"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_session_entry_one_user_shuffle(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the sessionizer lag, running-sum, and entry row_number all
        # ride ONE user-partitioned exchange
        t = tree(spark, "session_value_by_entry_type")
        assert "Join" not in t
        df = QUERIES["session_value_by_entry_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_cooccurrence_dedup_before_pairjoin(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # (doc, term) dedup precedes the key-on-key doc_id pair join;
        # lift joins are vocabulary-grain; top-k is a heap
        t = tree(spark, "doc_cooccurrence_lift_topk")
        assert "TakeOrderedAndProject" in t
        assert "CartesianProduct" not in t
        df = QUERIES["doc_cooccurrence_lift_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_centroid_classifier_bounded_scoring(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # scoring joins the vector fan-out against the bounded
        # label x dim sum table; argmax is a 10-row window per vector
        t = tree(spark, "centroid_classifier_eval")
        assert "Window" in t
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["centroid_classifier_eval"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_temporal_integrity_two_column_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the key-on-key join carries only the date columns; yearly
        # rollup reduces map-side
        t = tree(spark, "temporal_integrity_by_year")
        assert t.count("HashAggregate") >= 2
        df = QUERIES["temporal_integrity_by_year"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_month_end_single_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "month_end_loading_audit")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["month_end_loading_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_price_consistency_no_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # partkey IS the grain — min/max compact map-side, no join
        t = tree(spark, "part_price_consistency_topk")
        assert "Join" not in t
        assert "TakeOrderedAndProject" in t
        df = QUERIES["part_price_consistency_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_t_closeness_grid_completion(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the grid cross-join runs on two tiny DISTINCT sets of the
        # checkpointed cell reduction — never on raw customers
        t = tree(spark, "t_closeness_audit")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["t_closeness_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_ivm_distinct_compacted_merge(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # both sides compact to per-key MIN before the full-outer
        # merge; monthly rollups are bounded
        t = tree(spark, "ivm_distinct_delta")
        assert "FullOuter" in t or "full_outer" in t.lower()
        assert t.count("HashAggregate") >= 6
        df = QUERIES["ivm_distinct_delta"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_jackknife_no_resample_materialization(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # replicates are arithmetic on the bounded group table against
        # the broadcast 1-row totals — no resampled data
        t = tree(spark, "jackknife_se_by_nation")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["jackknife_se_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_capture_recapture_distinct_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # two key-distinct reductions + overlap count; all estimate
        # inputs are 1-row aggregates
        t = tree(spark, "capture_recapture_customers")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["capture_recapture_customers"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_priority_transition_single_lag(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "priority_transition_matrix")
        assert "Join" not in t
        assert t.count("Window") == 2  # customer lag + row-total
        df = QUERIES["priority_transition_matrix"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_chow_two_row_sufficient_stats(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # monthly reduction, then TWO sufficient-stat rows; all F
        # machinery is bounded-table expressions
        t = tree(spark, "chow_test_break")
        assert t.count("HashAggregate") >= 4
        assert "Window" not in t
        df = QUERIES["chow_test_break"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_laspeyres_reduce_both_legs(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # both legs reduce per part(-month) BEFORE the key-on-key join
        t = tree(spark, "laspeyres_price_index")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["laspeyres_price_index"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_burrows_bounded_grid(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one tokenize reduction (checkpointed); the grid/moments/z all
        # run on bounded source x term tables
        t = tree(spark, "stylometry_burrows_delta")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["stylometry_burrows_delta"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_fisher_reduce_before_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "fisher_price_index")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["fisher_price_index"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_type_transfer_distinct_before_shift_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the 3-way fact join reduces to DISTINCT (cust, type, year)
        # before the key-on-key year-shift self-join
        t = tree(spark, "type_demand_transfer_topk")
        assert "CartesianProduct" not in t
        assert "TakeOrderedAndProject" in t
        df = QUERIES["type_demand_transfer_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_dow_r2_single_row_pivot(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # daily reduction then ONE conditional aggregation to a single
        # row — no window, no join, no distributed double sum
        t = tree(spark, "dow_seasonality_strength")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["dow_seasonality_strength"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_launch_velocity_minmax_compaction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # launch dates compact per part before the key-on-key join
        t = tree(spark, "part_launch_velocity_topk")
        assert "TakeOrderedAndProject" in t
        assert t.count("HashAggregate") >= 4
        df = QUERIES["part_launch_velocity_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_debt_quadrant_distinct_flag_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # key-distinct activity flag LEFT-joined onto customers; four
        # cells out
        t = tree(spark, "debt_activity_quadrant")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["debt_activity_quadrant"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_hill_heap_selection(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the top-(k+1) selection is a heap; everything after runs on
        # the bounded order-statistics table
        t = tree(spark, "hill_tail_index")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["hill_tail_index"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_bass_single_row_solve(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # adopters compact per customer, reduce to months, then ONE
        # sufficient-sum row; Cramer solve is a final projection
        t = tree(spark, "bass_diffusion_fit")
        assert "Join" not in t
        assert t.count("HashAggregate") >= 4
        df = QUERIES["bass_diffusion_fit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_newsvendor_selection_quantile(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # exact quantile by row_number SELECTION on per-type month
        # partitions — no percentile approx, no global sort
        t = tree(spark, "newsvendor_quantile_by_type")
        assert "Window" in t
        df = QUERIES["newsvendor_quantile_by_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_dispersion_two_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "order_count_dispersion")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["order_count_dispersion"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_yule_k_exact_integer(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one tokenize reduction; K is integral division, no double
        t = tree(spark, "yule_k_by_source")
        assert "Join" not in t
        df = QUERIES["yule_k_by_source"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_eoq_single_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "eoq_by_type")
        assert "Window" not in t
        df = QUERIES["eoq_by_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_page_hinkley_bounded_cumsum(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the cumulative window runs over the bounded daily series
        # against the broadcast 1-row reference mean
        t = tree(spark, "page_hinkley_revenue")
        assert t.count("Window") == 1
        df = QUERIES["page_hinkley_revenue"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_reconciliation_reduce_then_left_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # lines reduce per order first; the LEFT join carries two
        # integers; integer cross-multiplied threshold
        t = tree(spark, "order_total_reconciliation")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["order_total_reconciliation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_discount_response_grid_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "discount_demand_response")
        assert "Window" not in t
        df = QUERIES["discount_demand_response"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_suppliers_profile_nested_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "suppliers_per_order_profile")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["suppliers_per_order_profile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_tukey_selection_quartiles(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # quartiles by exact selection on the bounded daily table; the
        # fence census is integer arithmetic against the broadcast q-row
        t = tree(spark, "tukey_fence_outlier_days")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["tukey_fence_outlier_days"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_cagr_endpoint_compaction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # endpoints via min_by/max_by compaction — no window, no sort
        t = tree(spark, "nation_revenue_cagr")
        assert "Window" not in t
        df = QUERIES["nation_revenue_cagr"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_simpson_exact_integer(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "simpson_diversity_by_lang")
        assert "Join" not in t
        df = QUERIES["simpson_diversity_by_lang"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_quantile_shift_value_grain_cumsum(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the cumulative window runs over DISTINCT values (checkpointed
        # reduction); deciles resolve by integer ECDF thresholds
        t = tree(spark, "quantile_shift_by_priority")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["quantile_shift_by_priority"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_design_effect_tick_terms(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "design_effect_by_nation")
        assert t.count("HashAggregate") >= 4
        assert "Window" not in t
        df = QUERIES["design_effect_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_spc_two_bounded_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # weekly ranges and pooled moments both reduce off the
        # checkpointed daily table
        t = tree(spark, "spc_range_sigma_ratio")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["spc_range_sigma_ratio"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_ljung_box_rides_acf(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the portmanteau is arithmetic on the 4-row ACF output
        t = tree(spark, "ljung_box_q")
        assert "HashAggregate" in t
        df = QUERIES["ljung_box_q"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_kpss_exact_partial_sums(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one cumulative window over the bounded daily series; wide-int
        # partial-sum squares, one final double
        t = tree(spark, "kpss_stationarity_proxy")
        assert t.count("Window") == 1
        df = QUERIES["kpss_stationarity_proxy"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_label_split_sampled_pairs(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the quadratic pair stage is fenced to the deterministic
        # sample; the split reduces to two rows
        t = tree(spark, "label_pair_similarity_split")
        assert "PushedFilters" in full(spark, "label_pair_similarity_split")
        df = QUERIES["label_pair_similarity_split"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_effect_size_single_row_pivot(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "effect_size_priority")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["effect_size_priority"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_mann_kendall_pairs_on_aggregate(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the pair join sits above the monthly reduction (theil_sen
        # device); S is integer sign algebra
        t = tree(spark, "mann_kendall_trend")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["mann_kendall_trend"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_benford2_inlined_expectations(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # expected values join from inlined constants; digit extraction
        # is a string slice of exact integer cents
        t = tree(spark, "benford_second_digit_audit")
        assert "BatchEvalPython" not in t and "ArrowEvalPython" not in t
        df = QUERIES["benford_second_digit_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_key_account_rank_on_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # rank windows run on the (type, customer) reduction, never on
        # raw lines; leaders pivot by conditional MAX
        t = tree(spark, "key_account_concentration_by_type")
        assert "Window" in t and t.count("HashAggregate") >= 3
        df = QUERIES["key_account_concentration_by_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_weekpart_bounded_norms(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "weekpart_nation_lift")
        assert t.count("Window") >= 1
        df = QUERIES["weekpart_nation_lift"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_acceleration_integer_sign_fleet(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one customer-partitioned window pass; slope SIGN is exact
        # integer algebra — no division in the classification
        t = tree(spark, "purchase_acceleration_share")
        assert "Join" not in t
        df = QUERIES["purchase_acceleration_share"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_first_order_dow_two_legs(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # first-order compaction + all-orders reduction, joined at
        # seven weekday rows
        t = tree(spark, "first_order_dow_profile")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["first_order_dow_profile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_lifecycle_span_compaction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # lifespans compact per part in ONE aggregate; 1-row horizon
        # broadcast; bounded histogram
        t = tree(spark, "part_lifecycle_span")
        assert "Window" not in t
        df = QUERIES["part_lifecycle_span"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_catalog_curve_bounded_cumsum(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "catalog_expansion_curve")
        assert t.count("Window") == 1
        df = QUERIES["catalog_expansion_curve"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_parity_single_fact_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the global leg re-aggregates the checkpointed (part, region)
        # reduction — the fact table scans once
        t = tree(spark, "regional_price_parity_index")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["regional_price_parity_index"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_moe_spine_cross_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "sampling_moe_table")
        assert t.count("HashAggregate") >= 2
        df = QUERIES["sampling_moe_table"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_waterfall_single_aggregation(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "revenue_waterfall_by_year")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["revenue_waterfall_by_year"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_comovement_pairs_on_brand_month_grid(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the pair stage joins the bounded brand x month reduction to
        # itself on month — never the fact table
        t = tree(spark, "brand_price_comovement_topk")
        assert "TakeOrderedAndProject" in t
        assert "CartesianProduct" not in t
        df = QUERIES["brand_price_comovement_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_lead_time_nation_two_joins_dates_only(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "lead_time_by_supplier_nation")
        assert t.count("HashAggregate") >= 2
        df = QUERIES["lead_time_by_supplier_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_error_concentration_keeps_zeros(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # conditional count keeps error-free users in the denominator;
        # no join, no window
        t = tree(spark, "error_concentration_dispersion")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["error_concentration_dispersion"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_median_price_value_grain(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the cumulative walks distinct prices per quantity, never raw
        # lines; median is integer ECDF selection
        t = tree(spark, "median_price_by_quantity")
        assert "Join" not in t
        assert t.count("HashAggregate") >= 3
        df = QUERIES["median_price_by_quantity"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_second_order_rank_then_value_grain(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # one customer rank window (checkpointed), rank-1 x rank-2
        # key join, then the value-grain median device
        t = tree(spark, "second_order_latency_by_cohort")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["second_order_latency_by_cohort"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_token_length_vocab_grain(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the only wide shuffle keys on terms; the spectrum is a
        # bounded rollup
        t = tree(spark, "token_length_histogram")
        assert "Join" not in t
        df = QUERIES["token_length_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_balance_corr_keeps_zero_volume(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the LEFT join keeps zero-volume suppliers in the correlation
        t = tree(spark, "supplier_balance_volume_corr")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["supplier_balance_volume_corr"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_weighted_jaccard_grid_pairs(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # pairs join term-to-term on the bounded source x vocab grid
        t = tree(spark, "weighted_jaccard_source_pairs")
        assert "TakeOrderedAndProject" in t
        assert "CartesianProduct" not in t
        df = QUERIES["weighted_jaccard_source_pairs"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_cv2_single_type_window(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "interarrival_cv2_by_type")
        assert t.count("Window") == 1
        assert "Join" not in t
        df = QUERIES["interarrival_cv2_by_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_renyi_one_vocab_row(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # all four entropies come from ONE sufficient-statistics row
        # over the vocabulary-grain reduction
        t = tree(spark, "renyi_entropy_spectrum")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["renyi_entropy_spectrum"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_supplier_hhi_cross_multiplied(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # shares never materialize: HHI is exact integer cross-
        # multiplication per type
        t = tree(spark, "supplier_hhi_by_part_type")
        assert "Window" not in t
        df = QUERIES["supplier_hhi_by_part_type"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_basket_value_two_reductions(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "basket_size_value_interaction")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["basket_size_value_interaction"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_multinational_per_order_distinct(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the distinct-nation count runs in per-order groups; the
        # orders join carries one small integer
        t = tree(spark, "multinational_fulfillment_rate")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["multinational_fulfillment_rate"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_key_time_one_row(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "key_time_correlation")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["key_time_correlation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_price_endings_bounded(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "price_ending_digits_topk")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["price_ending_digits_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_dow_consistency_no_window(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # modal/total via plain MAX/SUM — no window, no argmax sort
        t = tree(spark, "dow_consistency_histogram")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["dow_consistency_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_event_runs_one_user_exchange(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # lag-compare and island-id share one user-partitioned exchange
        t = tree(spark, "event_type_run_histogram")
        assert "Join" not in t
        df = QUERIES["event_type_run_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_eb_shrinkage_broadcast_prior(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # per-supplier stats checkpoint once; the prior is a broadcast
        # 1-row frame; tick-quantized deviations
        t = tree(spark, "eb_shrunk_return_rates")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["eb_shrunk_return_rates"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_linestatus_quarter_single_pass(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "linestatus_share_by_quarter")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["linestatus_share_by_quarter"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_volatility_nation_month_grid(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "revenue_volatility_by_nation")
        assert t.count("HashAggregate") >= 4
        df = QUERIES["revenue_volatility_by_nation"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_portfolio_quadrant_bounded_composition(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # composed from two bounded results; medians by 25-row
        # selection; the census is a four-row rollup
        t = tree(spark, "market_portfolio_quadrant")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["market_portfolio_quadrant"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_delay_discount_single_join(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "delay_by_discount_grid")
        assert t.count("HashAggregate") >= 2
        df = QUERIES["delay_by_discount_grid"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_type_movers_heap(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "type_mom_movers_topk")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["type_mom_movers_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_divergence_bounded_lag(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "volume_value_divergence_by_year")
        assert t.count("Window") == 1
        assert "Join" not in t
        df = QUERIES["volume_value_divergence_by_year"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_brand_peak_no_window_argmax(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the argmax packs into one integer MAX — no window, no sort
        t = tree(spark, "brand_peak_month")
        assert "Window" not in t
        df = QUERIES["brand_peak_month"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_wilson_rank_single_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "return_rate_wilson_rank")
        assert "TakeOrderedAndProject" in t
        assert "Join" not in t
        df = QUERIES["return_rate_wilson_rank"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_route_delay_grid_reduction(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # fact joins carry nation keys + dates only; one reduction to
        # the route grid; heap top-k
        t = tree(spark, "route_delay_topk")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["route_delay_topk"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_source_mix_grid(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "source_mix_by_ingest_decile")
        assert "TakeOrderedAndProject" in t
        df = QUERIES["source_mix_by_ingest_decile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_priority_quartile_broadcast_cuts(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # quartile cuts are ONE broadcast row from the value-grain
        # cumulative; banding is per-row codegen
        t = tree(spark, "priority_mix_by_value_quartile")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["priority_mix_by_value_quartile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_brand_discovery_bounded_groups(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # distinct counts run inside bounded per-customer groups; the
        # curve reduces map-side
        t = tree(spark, "brand_discovery_curve")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["brand_discovery_curve"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_size_type_interaction_grid(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "size_type_price_interaction")
        assert "TakeOrderedAndProject" in t
        assert t.count("Window") >= 2
        df = QUERIES["size_type_price_interaction"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_user_entropy_bounded_groups(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # entropy sums run inside bounded per-user groups; the
        # histogram is a bounded rollup; no window, no join
        t = tree(spark, "user_type_entropy_histogram")
        assert "Join" not in t and "Window" not in t
        df = QUERIES["user_type_entropy_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_delay_value_quartile_broadcast_cuts(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        t = tree(spark, "delay_by_value_quartile")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["delay_by_value_quartile"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_value_concentration_value_grain(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # the descending cumulative walks DISTINCT per-user totals —
        # never a global sort of users
        t = tree(spark, "user_value_concentration")
        assert "Join" not in t
        assert t.count("HashAggregate") >= 4
        df = QUERIES["user_value_concentration"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_order_span_fenced_buckets(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # last-ship compacts inside the join groups; violations fence
        # into the -1 bucket; bin()-length idiom on span+1
        t = tree(spark, "order_span_histogram")
        assert t.count("HashAggregate") >= 3
        df = QUERIES["order_span_histogram"](spark, SF_DIR)
        assert broadcast_violations(df) == []

    def test_horizon_edge_broadcast_bounds(self, spark):
        from ai_etl_studio_spark.plans.tripwire import broadcast_violations

        # daily reduction checkpoints once; horizon bounds broadcast;
        # three-row rollup
        t = tree(spark, "horizon_edge_audit")
        assert "Scan parquet" not in t and "Scan ExistingRDD" in t
        df = QUERIES["horizon_edge_audit"](spark, SF_DIR)
        assert broadcast_violations(df) == []


class TestRound8Plans:
    """Plan contracts for the round-8 storage-layout and graph ops."""

    def test_bucketed_join_has_no_join_shuffle(self, spark):
        # both sides bucketed by orderkey: SMJ with ZERO join-side
        # exchange — the only hash exchange is the final rollup's
        t = full(spark, "bucketed_colocated_join")
        assert "SortMergeJoin" in t
        # exactly ONE hash exchange (the rollup's); the join reads
        # co-located buckets on both sides (the trailing ORDER BY's
        # rangepartitioning exchange is not a hash shuffle)
        assert t.count("Arguments: hashpartitioning") == 1
        assert t.count("Bucketed: true") == 2
        assert "SelectedBucketsCount" in t

    def test_partition_pruned_scan(self, spark):
        # the month filter must prune at PLANNING time (directory
        # listing), not as a parquet row-group pushdown
        t = full(spark, "partition_pruned_rollup")
        assert "PartitionFilters" in t
        assert "o_month" in t.split("PartitionFilters", 1)[1].split("]", 1)[0]

    def test_zorder_scan_pushes_both_predicates(self, spark):
        # both box predicates must reach the clustered scan so footer
        # min/max skipping can act on the 2-D locality; the measured
        # file-level skip rate lives in test_round8_ops
        t = full(spark, "zorder_boxed_rollup")
        pushed = t.split("PushedFilters", 1)[1].split("]", 1)[0]
        assert "o_custkey" in pushed and "o_orderdate" in pushed

    def test_dpp_star_join_prunes_at_runtime(self, spark):
        # r9 (r8 verdict item 3): the month predicate lives only on the
        # dim; the fact scan must receive it at RUNTIME as a
        # DynamicPruningExpression in PartitionFilters — no month
        # literal anywhere in the plan's fact side.
        t = full(spark, "dpp_quarter_star_join")
        pf = t.split("PartitionFilters", 1)[1].split("]", 1)[0]
        assert "dynamicpruningexpression" in pf
        assert "o_month" in pf

    def test_bloom_runtime_filter_reaches_fact_side(self, spark):
        # r9: under the op's forced regime (dim not broadcastable,
        # thresholds met) the fact side must carry a
        # bloomfilter_might_contain(l_orderkey) runtime filter — the
        # row-grain member of the runtime-prune family beside DPP.
        from ai_etl_studio_spark.operators.extended import (
            _BLOOM_CONFS,
            _bloom_join_frame,
        )
        from ai_etl_studio_spark.plans.guard import explain_str

        saved = {k: spark.conf.get(k) for k in _BLOOM_CONFS}
        try:
            for k, v in _BLOOM_CONFS.items():
                spark.conf.set(k, v)
            t = explain_str(_bloom_join_frame(spark, SF_DIR), "formatted")
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        assert "might_contain" in t
        assert "l_orderkey" in t.split("might_contain", 1)[1].split(")", 2)[0]

    def test_graph_tier_is_broadcast_safe(self, spark):
        from ai_etl_studio_spark.plans.tripwire import (
            broadcast_violations,
            checkpoint_audit,
        )

        for name in (
            "copurchase_connected_components",
            "copurchase_component_profile",
            "copurchase_kcore_summary",
            "copurchase_jaccard_topk",
            "copurchase_local_clustering_topk",
            "copurchase_local_bridges",
            "copurchase_eigenvector_topk",
            "copurchase_avg_neighbor_degree",
            "bucketed_colocated_join",
            "partition_pruned_rollup",
            "zorder_boxed_rollup",
            "interval_left_join_conversions",
            "dpp_quarter_star_join",
            "copurchase_strength_topk",
            "copurchase_strength_profile",
            "copurchase_weighted_eigenvector_topk",
            "bloom_runtime_filter_join",
            "copurchase_brand_modularity",
        ):
            with checkpoint_audit() as audit:
                v = broadcast_violations(QUERIES[name](spark, SF_DIR))
            assert list(v) + audit.violations == [], name


class TestRound10Plans:
    """Plan contracts for the round-10 CBO tier (r9 verdict item 2)."""

    def test_cbo_join_reorder_flips_join_order(self, spark):
        """The join is WRITTEN supplier-first; with CBO off the
        optimizer preserves that order, and with CBO on (over ANALYZE
        column stats) the reorder DP moves the filtered part dim
        innermost — both trees pinned, result identity is the oracle
        row in CORRECTNESS (cbo_join_reorder_rollup)."""
        import re

        from ai_etl_studio_spark.operators.extended import (
            _CBO_CONFS,
            _cbo_join_frame,
        )

        def leaf_order(df):
            s = df._jdf.queryExecution().optimizedPlan().toString()
            return [
                m.rsplit("_", 1)[1]
                for m in re.findall(r"default\.(cbo_[0-9a-f]{12}_\w+)", s)
            ]

        saved = {k: spark.conf.get(k) for k in _CBO_CONFS}
        try:
            for k in _CBO_CONFS:
                spark.conf.set(k, "false")
            off = leaf_order(_cbo_join_frame(spark, SF_DIR))
            for k, v in _CBO_CONFS.items():
                spark.conf.set(k, v)
            on = leaf_order(_cbo_join_frame(spark, SF_DIR))
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        # rule-based: written order (unselective supplier joins first)
        assert off == ["lineitem", "supplier", "part"]
        # cost-based: filtered part joins the fact first (~1/6 rows
        # survive before supplier ever joins)
        assert on == ["lineitem", "part", "supplier"]

    def test_cbo_column_stats_are_collected(self, spark):
        """ensure_column_stats records real NDVs in the catalog — the
        signal the reorder DP runs on (p_type has exactly 6 distinct
        values in the driver testdata at every SF)."""
        from ai_etl_studio_spark.operators.extended import (
            ensure_column_stats,
        )

        names = ensure_column_stats(spark, SF_DIR)
        rows = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                f"DESC EXTENDED {names['part']} p_type"
            ).collect()
        }
        assert rows["distinct_count"] == "6"
        assert rows["num_nulls"] == "0"

    def test_observed_audit_single_pass_reconciles(self, spark):
        """r10: the CollectMetrics node must be in the plan, and the
        scan-side observed metrics must reconcile EXACTLY with the
        rollup's own grand totals after one action — no second scan."""
        from ai_etl_studio_spark.operators.extended import (
            _observed_rollup_frame,
        )

        result, obs = _observed_rollup_frame(spark, SF_DIR)
        t = explain_str(result, "formatted")
        assert "CollectMetrics" in t
        rows = result.collect()
        metrics = obs.get
        assert metrics["rows_scanned"] == sum(r["n_orders"] for r in rows)
        assert metrics["scanned_total_cents"] == sum(
            r["total_cents"] for r in rows
        )
        assert metrics["min_orderdate"] is not None
        # the observed frame plans like the unobserved one: the rollup's
        # single hash exchange is still the only wide shuffle
        assert t.count("Arguments: hashpartitioning") == 1

    def test_parameterized_bindings_reach_pushed_filters(self, spark):
        """r10: values bound via spark.sql(args=...) must push down to
        the parquet scan exactly like literals — binding is free."""
        t = full(spark, "parameterized_segment_topk")
        pushed = t.split("PushedFilters", 1)[1].split("]", 1)[0]
        assert "EqualTo(c_mktsegment,BUILDING)" in pushed
        assert "GreaterThan(c_acctbal,5000" in pushed
