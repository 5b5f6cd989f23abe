"""Plan census: wide-exchange + parquet-scan counts for every
registered query — the diagnostic that found the round-4 multi-consumer
blowups (triangle_count carried 68 wide exchanges / 36 scans before its
edge list was checkpointed).

Usage: python tools/plan_census.py [sf_dir] [top_n]

A high combined count usually means a DataFrame with several consumers
is being re-derived from the scans instead of materialized once
(localCheckpoint locally, persist() on a cluster). Sub-10 numbers are
normal for snowflake joins and multi-table audits.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25

    from ai_etl_studio_spark.operators import load_all
    from ai_etl_studio_spark.plans.snapshot import plan_profile
    from ai_etl_studio_spark.session import get_spark

    spark = get_spark(app_name="plan-census", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_all()
    rows = []
    for name, fn in queries.items():
        try:
            p = plan_profile(fn(spark, sf_dir))
            rows.append((name, p["wide_exchanges"], p["parquet_scans"]))
        except Exception as exc:  # noqa: BLE001 — census must finish
            print(f"{name}: ERROR {type(exc).__name__}: {exc}")
    rows.sort(key=lambda r: -(r[1] + r[2]))
    print(f"{'query':42} wideEx scans")
    for name, wide, scans in rows[:top_n]:
        print(f"{name:42} {wide:5} {scans:5}")


if __name__ == "__main__":
    main()
