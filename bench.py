"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": <sf>}

Each query is forced to full materialization through the noop sink
(df.write.format("noop")) — no driver collect, no skipped operators
(count() would let Catalyst prune unused window/agg columns).

``warm_up`` and ``time_queries`` are the one warm-up and timing loop;
``tools/query_profile.py`` times through them too. ``round_number`` and
``seal_targets`` are the one round-seal rule that this script,
``tools/plan_snapshot.py`` and ``tools/driver_sim.py`` write through.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

from ai_etl_studio_spark.operators import load_all

#: Registry entries deliberately NOT benched — data, not prose (r7
#: verdict item 2). tests/test_registry.py asserts every name here is
#: registered AND that the committed BENCH_full_latest.json keys equal
#: HEADLINE, so the sealed artifact can no longer lag a registry edit
#: (the r7 ansari_bradley staleness).
EXCLUDED: dict[str, str] = {
    "dedup_embedding_cosine": (
        "exact all-pairs cosine ORACLE BASELINE (49 s at sf0.1, "
        "quadratic by design); dedup_embedding_lsh_pairs_capped / "
        "_multiprobe are the benched production shapes it validates"
    ),
    "dedup_ngram_jaccard": (
        "all-pairs n-gram Jaccard ORACLE BASELINE; "
        "dedup_minhash_lsh_pairs_capped + dedup_lsh_verified_pairs are "
        "the benched production shapes"
    ),
    "dedup_minhash_lsh_pairs": (
        "uncapped LSH pair enumeration kept as the oracle baseline for "
        "the hot-bucket cap; dedup_minhash_lsh_pairs_capped is the "
        "benched production shape"
    ),
    "ntile_rfm": (
        "reference-pinned GLOBAL NTILE is a deliberate single-partition "
        "plan (prompts.py parity); ntile_rfm_scalable / "
        "rfm_quantile_scores are the benched scalable twins"
    ),
    "tpch_q1": "registry alias of agg_pricing_summary (same callable, benched)",
    "tpch_q2": "registry alias of min_cost_per_part (same callable, benched)",
    "tpch_q21": "registry alias of pending_returns_q21 (same callable, benched)",
    "tpch_q22": "registry alias of lapsed_customers_q22 (same callable, benched)",
}

#: Every registered query not in EXCLUDED, in registry order: a newly
#: registered operator is benched unless it is excluded with a reason.
HEADLINE: list[str] = [n for n in load_all()[0] if n not in EXCLUDED]

#: The corpus the warm-up pass runs every timed query on.
WARM_DIR = "/root/testdata/sf0.001"


def round_number(repo: str) -> int:
    """Current round: explicit SPARK_GRAFT_ROUND wins (the r5 ADVICE
    fix); otherwise max(BENCH_r*)+1 — the driver writes BENCH_r{N}.json
    at round END, so the max existing stamp is the last COMPLETED round."""
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round and env_round.isdigit():
        return int(env_round)
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.match(r"BENCH_r(\d+)\.json$", f))
    ]
    return max(rounds, default=0) + 1


def round_seal(repo: str, stem: str, n: int | None = None) -> str:
    """Path of ``<stem>_r{N}.json``, the round-N seal of
    ``<stem>_latest.json`` (N defaults to the current round)."""
    n = round_number(repo) if n is None else n
    return os.path.join(repo, f"{stem}_r{n:02d}.json")


def seal_targets(repo: str, stem: str, full: bool) -> list[str]:
    """The one seal rule: every write of ``<stem>_latest.json`` also goes
    to the current round's seal when that seal exists, so the two cannot
    diverge (r8 verdict item 1); a full (unrestricted) run also creates
    the seal. Returns ``[seal, latest]`` or ``[latest]``.

    A restricted run just after the driver sealed round N (it wrote
    BENCH_r{N}) infers round N+1 and writes only ``latest``. Guessing N
    would be worse — an early-next-round run looks identical on disk and
    must not rewrite a historical seal — so it warns instead (r9
    ADVICE): the operator pins the round with SPARK_GRAFT_ROUND."""
    latest = os.path.join(repo, f"{stem}_latest.json")
    n = round_number(repo)
    seal = round_seal(repo, stem, n)
    if full or os.path.exists(seal):
        return [seal, latest]
    if not os.environ.get("SPARK_GRAFT_ROUND") and os.path.exists(
        round_seal(repo, stem, n - 1)
    ):
        sys.stderr.write(
            f"no {os.path.basename(seal)}; if this run belongs to the "
            f"just-sealed round {n - 1}, rerun with SPARK_GRAFT_ROUND="
            f"{n - 1} to mirror into its seal (writing only latest now)\n"
        )
    return [latest]


def seal_paths(repo: str, bench_n: int, only: bool) -> list[str]:
    """Where a bench run's artifact goes, decided once before anything
    is written: ``seal_targets`` for ``BENCH_full``, except that

    - a restricted ``--only`` merge writes only files that exist;
    - a full run whose seal or ``latest`` holds a higher ``bench_n``
      (r8 verdict item 1: an N=1 sweep must never replace an N=3 seal
      with noisier medians) writes only ``BENCH_full_scratch.json``.
    """
    targets = seal_targets(repo, "BENCH_full", not only)
    if only:
        return [p for p in targets if os.path.exists(p)]
    for path in targets:
        if not os.path.exists(path):
            continue
        with open(path) as fh:
            existing_n = int(json.load(fh).get("bench_n", 1))
        if existing_n > bench_n:
            sys.stderr.write(
                f"bench.py: refusing to overwrite N={existing_n} seal "
                f"with N={bench_n} run; wrote scratch\n"
            )
            return [os.path.join(repo, "BENCH_full_scratch.json")]
    return targets


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, sf_dir: str, names: list[str]) -> None:
    """Everything the timed region must not pay: parquet footers, the
    build-once layouts (so it measures serving from the persisted index,
    not the one-time build), and one pass of ``names`` at WARM_DIR so
    the JVM's JIT is warm before timing.

    Generated classes from that pass are reused only while the working
    set fits Spark's codegen cache (1000 entries, ``session.get_spark``).
    A short list does (``tools/query_profile.py`` on a few names reports
    0 compiles per run). The whole HEADLINE does not: on 4 cores this
    warm-up compiled 9663 classes, and the sf0.1 pass after it compiled
    9558 more, in 704 of 705 queries, so a full bench row still pays its
    own codegen compilation."""
    from ai_etl_studio_spark.catalog import load_table
    from ai_etl_studio_spark.operators.analytics import ensure_pagerank_edge_index
    from ai_etl_studio_spark.operators.dedup import (
        ensure_boilerplate_index,
        ensure_substring_index,
    )
    from ai_etl_studio_spark.operators.extended import (
        ensure_bucketed_orderkey_tables,
        ensure_column_stats,
        ensure_month_partitioned_orders,
        ensure_zorder_orders,
    )
    from ai_etl_studio_spark.operators.similarity import ensure_pq_code_index

    load_table(spark, sf_dir, "lineitem").count()
    ensure_pagerank_edge_index(spark, sf_dir)
    ensure_boilerplate_index(spark, sf_dir)
    ensure_substring_index(spark, sf_dir)
    ensure_pq_code_index(spark, sf_dir)
    ensure_bucketed_orderkey_tables(spark, sf_dir)
    ensure_month_partitioned_orders(spark, sf_dir)
    ensure_zorder_orders(spark, sf_dir)
    ensure_column_stats(spark, sf_dir)
    if not os.path.isdir(WARM_DIR) or os.path.realpath(
        WARM_DIR
    ) == os.path.realpath(sf_dir):
        return
    queries = load_all()[0]
    for name in names:
        try:
            _noop_write(queries[name](spark, WARM_DIR))
        except Exception:
            pass  # warmup must never fail the bench


def time_queries(
    spark, sf_dir: str, names: list[str], n: int
) -> dict[str, list[float]]:
    """Seconds of each of ``n`` noop-sink runs of every query in
    ``names``. Repeats run as full passes over ``names``, not back-to-back
    per query, so cache warmth is comparable across repeats.

    Measurement integrity (r11 verdict, gaming item 3): the copurchase
    graph memo (_CP_GRAPH_CACHE) legitimately shares one checkpointed
    graph across the ~15 copurchase_* ops inside a real session, but
    inside the bench it turned per-query rows into cache-hit times
    (0.17 s sealed vs 3.9 s cold for copurchase_strength_topk). It is
    cleared before EVERY timed run so each row pays its own full build;
    the memo stays for non-benchmark composition."""
    from ai_etl_studio_spark.operators.insights import _CP_GRAPH_CACHE

    queries = load_all()[0]
    runs: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(n):
        for name in names:
            _CP_GRAPH_CACHE.clear()
            t0 = time.perf_counter()
            _noop_write(queries[name](spark, sf_dir))
            runs[name].append(time.perf_counter() - t0)
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # Restricted merge mode (r8 verdict item 1): `python bench.py --only
    # name ...` times ONLY the named HEADLINE queries and MERGES their
    # rows into the committed artifacts, so registering a new operator
    # mid-round doesn't force a full-suite rerun (which, at N=1, would
    # clobber the sealed N=3 medians — the exact r8 incident).
    only: list[str] = []
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        only = sys.argv[2:]
        unknown = [n for n in only if n not in HEADLINE]
        if unknown:
            raise SystemExit(f"--only names not in HEADLINE: {unknown}")

    from ai_etl_studio_spark.session import get_spark

    spark = get_spark(app_name="ai-etl-studio-spark-bench")
    bench_names = only if only else HEADLINE
    warm_up(spark, sf_dir, bench_names)

    # Per-query MEDIAN over SPARK_GRAFT_BENCH_N runs (default 1 to keep
    # the driver's per-round wall-clock unchanged; set 3 for the
    # committed round artifact): N=1 rollups drift ~1.25x with ambient
    # machine load, which reads as a plan regression it isn't (the r5
    # verdict's tpch_total 15.57 -> 17.66 s finding).
    bench_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "1")))
    runs = time_queries(spark, sf_dir, bench_names, bench_n)
    timings: dict[str, float] = {
        name: round(statistics.median(ts), 3) for name, ts in runs.items()
    }
    repo = os.path.dirname(os.path.abspath(__file__))

    if only:
        # Merge the restricted rows into the committed artifact, keeping
        # every other query's sealed median untouched. bench_n records
        # the WEAKEST repeat count among surviving rows, so a sealed N=3
        # artifact merged with an N=1 restricted row honestly reads
        # bench_n=1 until the next full seal re-runs everything.
        latest_path = os.path.join(repo, "BENCH_full_latest.json")
        # r9 ADVICE: guard the unconditional open (fresh checkout has
        # no artifact) and refuse to mix rows timed at a different
        # scale factor into a sealed artifact whose 'sf' field would
        # silently misdescribe them.
        if not os.path.exists(latest_path):
            sys.exit(
                "bench.py --only needs an existing BENCH_full_latest.json "
                "to merge into; run a full (un-restricted) bench first"
            )
        with open(latest_path) as fh:
            payload = json.load(fh)
        sealed_sf = payload.get("sf")
        if sealed_sf is not None and float(sealed_sf) != sf:
            sys.exit(
                f"bench.py --only: restricted run at sf={sf} cannot merge "
                f"into an artifact sealed at sf={sealed_sf}; rerun with "
                f"SPARK_GRAFT_SF_DIR matching the seal"
            )
        payload["queries"].update(timings)
        payload["bench_n"] = min(int(payload.get("bench_n", 1)), bench_n)
        payload["value"] = round(sum(payload["queries"].values()), 3)
    else:
        payload = None  # built below from the full run
    total = round(sum(timings.values()), 3)
    # TPC-H tracked as ONE number so round-over-round movement of the
    # 22-query suite (18 tpch_q* + the 4 r1 originals that tpch_q1/q2/
    # q21/q22 alias) is a single comparison in BENCH_r{N}.json
    all_timings = payload["queries"] if payload else timings
    tpch_names = [n for n in all_timings if n.startswith("tpch_q")] + [
        "agg_pricing_summary",      # tpch_q1
        "min_cost_per_part",        # tpch_q2
        "pending_returns_q21",      # tpch_q21
        "lapsed_customers_q22",     # tpch_q22
    ]
    tpch_total = round(
        sum(all_timings[n] for n in tpch_names if n in all_timings), 3
    )
    if payload is None:
        payload = {
            "metric": "headline_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "tpch_total": tpch_total,
            "bench_n": bench_n,
            "sf": sf,
            "cores": spark.sparkContext.defaultParallelism,
        }
    else:
        payload["tpch_total"] = tpch_total
    print(json.dumps(payload))
    # The driver's BENCH_r{N}.json keeps only a 4 KB stdout tail, which
    # truncates the per-query map past ~80 queries (r4 verdict item 4).
    # Persist the FULL map to a round-stamped artifact so per-query
    # round-over-round comparison works from files alone.
    try:
        full = json.dumps(payload, indent=1, sort_keys=True)
        for path in seal_paths(repo, bench_n, bool(only)):
            with open(path, "w") as fh:
                fh.write(full + "\n")
    except OSError:
        pass  # artifact write must never fail the bench


if __name__ == "__main__":
    main()
