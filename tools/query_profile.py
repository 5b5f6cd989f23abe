"""Per-query profiler, timed the way bench.py times the registry.

Times named queries with bench.py's own warm-up (``bench.warm_up``:
parquet footers, the build-once layouts, a pass at sf0.001) and timing
loop (``bench.time_queries``: noop sink, copurchase graph memo cleared
before every run), and additionally records per-query job/stage/task
counts from the status tracker, by a job group per query, the codegen
compilations per run (``compiles``: 0 when every generated class is
served from Spark's codegen cache), plus, with --plans-dir, the
formatted plan. --conf overlays Spark confs on the session, for A/B
runs of a config change: run once without it for the baseline, then
once per overlay, in separate processes (static confs like
spark.driver.memory or spark.sql.codegen.cache.maxEntries need a fresh
JVM).

Usage:
  python tools/query_profile.py [--n N] [--plans-dir DIR] [--conf JSON] name [name ...]
  python tools/query_profile.py --top K        # K most expensive from BENCH_full_latest.json

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per query:
  {"name": ..., "secs": [..], "median": s, "jobs": n, "stages": n, "tasks": n,
   "compiles": c}
then {"conf": {...}, "total_median": s}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plans-dir")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--conf", type=json.loads, default={},
                    help="JSON object of Spark confs to overlay")
    args = ap.parse_args()
    n, names = args.n, list(args.names)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    if args.top:
        with open(os.path.join(repo, "BENCH_full_latest.json")) as fh:
            b = json.load(fh)
        names += [
            k for k, _ in sorted(b["queries"].items(), key=lambda kv: -kv[1])[:args.top]
        ]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import bench
    from ai_etl_studio_spark.operators import load_all
    from ai_etl_studio_spark.plans.guard import explain_str
    from ai_etl_studio_spark.session import codegen_compiles, get_spark

    spark = get_spark(app_name="profile", extra_conf=args.conf)
    queries, _ = load_all()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bench.warm_up(spark, sf_dir, names)

    out = {}
    for name in names:
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = explain_str(queries[name](spark, sf_dir), "formatted")
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        group = f"profile:{name}"
        sc.setJobGroup(group, group)
        compiles_before = codegen_compiles(spark)
        secs = bench.time_queries(spark, sf_dir, [name], n)[name]
        compiled = codegen_compiles(spark) - compiles_before
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info:
                for s in info.stageIds:
                    si = tracker.getStageInfo(s)
                    if si:
                        stages += 1
                        tasks += si.numTasks
        rec = {
            "name": name,
            "secs": [round(t, 3) for t in secs],
            "median": round(statistics.median(secs), 3),
            "jobs": len(jobs) // max(1, n),
            "stages": stages // max(1, n),
            "tasks": tasks // max(1, n),
            "compiles": round(compiled / max(1, n), 1),
        }
        out[name] = rec
        print(json.dumps(rec), flush=True)
    print(json.dumps({
        "conf": args.conf,
        "total_median": round(sum(r["median"] for r in out.values()), 3),
    }))


if __name__ == "__main__":
    main()
