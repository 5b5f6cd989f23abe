"""Deterministic per-query plan profiles — the wall-clock-independent
performance signal (r9 verdict item 5).

Two rounds in a row the bench seal drifted ~1.1-1.25x with ambient
machine load and a human had to adjudicate "regression or noise" by
hand. Wall time is load-dependent; a query's PHYSICAL PLAN is not: the
number of wide (shuffle) exchanges, broadcast exchanges, join
strategies, parquet scans, and the presence of pushed/partition/runtime
filters are pure functions of (code, confs, data stats). ``tools/
plan_snapshot.py`` records these per HEADLINE query into
``PLANSNAP_r{N}.json`` at seal time; ``tests/test_plansnap.py`` gates on
them. A wall-clock move WITHOUT a profile change is ambient by
construction; a profile change is attributable to the commit that
regenerated the snapshot.

Counting is over the ``explain("formatted")`` text: node names are
stable public plan vocabulary, while expression IDs (#123) and plan ids
vary per session — so the profile counts node-type occurrences and
non-empty filter clauses only, never raw strings.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ai_etl_studio_spark.plans.guard import explain_str

#: the profile keys, in artifact order (tests iterate this)
PROFILE_KEYS = (
    "wide_exchanges",
    "broadcast_exchanges",
    "reused_exchanges",
    "broadcast_hash_joins",
    "sort_merge_joins",
    "shuffled_hash_joins",
    "nested_loop_joins",
    "parquet_scans",
    "pushed_filter_scans",
    "partition_filter_scans",
    "runtime_bloom_filters",
    "dynamic_pruning_filters",
)


def profile_from_text(formatted: str) -> dict[str, int]:
    """Plan profile from a full ``explain('formatted')`` string."""
    tree = formatted.split("\n\n")[0]
    broadcast = tree.count("BroadcastExchange")
    reused = tree.count("ReusedExchange")
    return {
        # every Exchange that moves rows by key or range — the shuffle
        # count that dominates 100 TB cost
        "wide_exchanges": tree.count("Exchange") - broadcast - reused,
        "broadcast_exchanges": broadcast,
        "reused_exchanges": reused,
        "broadcast_hash_joins": tree.count("BroadcastHashJoin"),
        "sort_merge_joins": tree.count("SortMergeJoin"),
        "shuffled_hash_joins": tree.count("ShuffledHashJoin"),
        "nested_loop_joins": tree.count("NestedLoopJoin"),
        "parquet_scans": tree.count("Scan parquet"),
        # non-empty clause counts from the detail section: an empty
        # PushedFilters reads "PushedFilters: []"
        "pushed_filter_scans": len(
            re.findall(r"PushedFilters: \[(?!\])", formatted)
        ),
        "partition_filter_scans": len(
            re.findall(r"PartitionFilters: \[(?!\])", formatted)
        ),
        "runtime_bloom_filters": formatted.count("might_contain"),
        "dynamic_pruning_filters": formatted.lower().count(
            "dynamicpruningexpression"
        ),
    }


def plan_profile(df: DataFrame) -> dict[str, int]:
    """Deterministic plan profile of a DataFrame (pre-execution AQE
    plan — stable given code, confs, and source file stats)."""
    return profile_from_text(explain_str(df, "formatted"))


# ---------------------------------------------------------------------------
# Stage-sourced profiles (r10 verdict item 2). Eleven HEADLINE ops
# materialize their heavy work DURING construction — per-round
# localCheckpoints (the Pregel/power-iteration tier), bounded-matrix
# collects (the Gram/win-matrix tier), or a conf-scoped eager checkpoint
# (bloom/CBO/SQL-scripting) — so the frame they RETURN is a LogicalRDD
# or LocalTableScan tail and profiles all-zero, hiding ~28 s of suite
# time from the drift-attribution gate. The fix: each such op wraps its
# materialization boundaries in ``capture_stage``; the snapshot tool
# builds the op with capture enabled and records the ELEMENT-WISE SUM of
# every captured stage profile plus the returned frame's own, with
# ``stage_frames`` counting contributors — so a plan regression inside a
# checkpointed round is attributable, not ambient.
# ---------------------------------------------------------------------------

#: HEADLINE ops whose PLANSNAP rows are stage-sourced (profiled via
#: ``stage_profile``; their artifact rows carry the extra
#: ``stage_frames`` key). error_relation is the degenerate member: a
#: driver-side literal with genuinely zero stages — listed so its
#: all-zero profile reads as declared, not missed.
STAGE_SOURCED = frozenset(
    {
        "pagerank_bipartite",
        "pagerank_from_index",
        "personalized_pagerank_seeded",
        "copurchase_eigenvector_topk",
        "copurchase_katz_topk",
        "copurchase_weighted_eigenvector_topk",
        "bradley_terry_brand_ranks",
        "hits_brand_authority_topk",
        "weibull_mle_scripting",
        "bloom_runtime_filter_join",
        "cbo_join_reorder_rollup",
        "error_relation",
        # r11: the Markov recursion pair moved to the bounded-collect
        # class (≤|types|² matrix iterated in exact Python ints), so
        # their returned frames are LocalTableScan tails and the heavy
        # stages are capture_stage-sourced like bradley_terry's.
        "markov_absorption_k_step",
        "markov_removal_effects",
        # the NL path: engine.run_query fetches the bounded answer
        # during construction and returns it as a LocalTableScan; the
        # fetched plan is its one stage frame.
        "nl2sql_end_to_end",
    }
)

_STAGE_CAPTURE: list[dict[str, int]] | None = None


def capture_stage(df: DataFrame) -> DataFrame:
    """Record ``df``'s plan profile into the active capture list and
    return ``df`` unchanged, so operators wrap materialization
    boundaries inline (``capture_stage(frame).localCheckpoint()``,
    ``capture_stage(gram).collect()``). A no-op — zero JVM calls —
    unless ``stage_profile`` is driving the build, so the hot path
    pays nothing."""
    if _STAGE_CAPTURE is not None:
        _STAGE_CAPTURE.append(plan_profile(df))
    return df


def stage_profile(build, spark, sf_dir) -> dict[str, int]:
    """Profile an operator whose heavy stages execute during
    construction: run ``build(spark, sf_dir)`` with stage capture
    enabled, then return the element-wise sum of every captured stage
    profile plus the returned frame's own, with ``stage_frames``
    recording how many stage frames contributed."""
    global _STAGE_CAPTURE
    prev = _STAGE_CAPTURE
    _STAGE_CAPTURE = []
    try:
        df = build(spark, sf_dir)
        stages = _STAGE_CAPTURE
    finally:
        _STAGE_CAPTURE = prev
    total = plan_profile(df)
    for p in stages:
        for k in PROFILE_KEYS:
            total[k] += p[k]
    total["stage_frames"] = len(stages)
    return total
