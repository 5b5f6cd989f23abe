"""Simulate the verify driver end-to-end: default-config SparkSession,
entry() smoke, every queries() entry vs its oracle_sql() twin in DuckDB
(row count + column names + order-insensitive exact value compare).

Usage: python tools/driver_sim.py [sf_dir] [query_name ...]
(query names, if given, restrict the sweep — entry() still runs)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (int, str, bool, bytes, float)) or v is None:
        return v
    return str(v)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, ".")
    import __spark_entry__ as mod

    t0 = time.time()
    df = mod.entry(spark)
    rows = df.collect()
    print("ENTRY rows:", len(rows), "schema:", df.columns, "first:", rows[0])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    q_map, o_map = mod.queries(), mod.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(q_map)
        if unknown:
            print("UNKNOWN:", sorted(unknown))
            return 1
        q_map = {k: v for k, v in q_map.items() if k in only}
    fails = []
    # optional artifact in the driver's CORRECTNESS_r{N}.json per-query
    # schema (r5 verdict item 1: the 50-slot rotation can't cover a
    # registry growing ~48 names/round — the committed full-registry
    # artifact is the complete record): set SPARK_GRAFT_CORRECTNESS_OUT
    # to a path to write one record per swept query.
    records: dict[str, dict] = {}
    for name in sorted(q_map):
        t1 = time.time()
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = q_map[name](spark, sf)
            scols = sorted(sdf.columns)
            srows = sorted(
                [tuple(norm(r[c]) for c in scols) for r in sdf.collect()], key=str
            )
            rec["spark_rows"] = len(srows)
            if name in o_map:
                res = con.execute(o_map[name])
                dcols = sorted(d[0] for d in res.description)
                idx = {d[0]: i for i, d in enumerate(res.description)}
                drows = sorted(
                    [tuple(norm(r[idx[c]]) for c in dcols) for r in res.fetchall()],
                    key=str,
                )
                rec["oracle_rows"] = len(drows)
                rec["rows_match"] = len(srows) == len(drows)
                rec["schema_match"] = scols == dcols
                rec["hash_match"] = scols == dcols and srows == drows
                ok = rec["hash_match"]
                status = "MATCH" if ok else "MISMATCH"
                if not ok:
                    fails.append(name)
                    for a, b in zip(srows, drows):
                        if a != b:
                            print("   spark:", a, "\n   duck :", b)
                            break
            else:
                rec["err"] = "no_oracle"
                status = f"ROWS_ONLY({len(srows)})"
            print(f"{name}: {status} [{time.time() - t1:.1f}s]")
        except Exception as e:  # noqa: BLE001 — report and continue
            fails.append(name)
            rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}")
        records[name] = rec
    out = os.environ.get("SPARK_GRAFT_CORRECTNESS_OUT")
    if out:
        # restricted sweeps MERGE into an existing artifact (incremental
        # freshness: new registrations get rows without re-running all
        # ~500 oracles); unrestricted sweeps overwrite and by
        # construction cover set(queries()) exactly.
        # tests/test_registry.py::test_correctness_full_artifact_is_fresh
        # (r6 ADVICE) catches NAME staleness — registering after
        # generation. It cannot catch CONTENT staleness: editing an
        # already-recorded operator leaves its old hash-green row in
        # place (r7 ADVICE). Edit-time rule: any session that edits a
        # registered operator's Spark code or oracle must re-run its
        # restricted sweep (python tools/driver_sim.py <sf_dir> <names>
        # with SPARK_GRAFT_CORRECTNESS_OUT=CORRECTNESS_full_latest.json)
        # in that session, and each round's seal re-runs the
        # UNRESTRICTED sweep, rewriting every row from scratch.
        if only and os.path.exists(out):
            with open(out) as fh:
                merged = json.load(fh)
            merged.update(records)
            records = merged
        # Seal-sync (r8 verdict item 1): a write to
        # CORRECTNESS_full_latest.json goes through bench.seal_targets,
        # the rule bench.py and tools/plan_snapshot.py write through.
        outputs = [out]
        if os.path.basename(out) == "CORRECTNESS_full_latest.json":
            import bench

            repo = os.path.dirname(os.path.abspath(out))
            outputs = bench.seal_targets(repo, "CORRECTNESS_full", not only)
        for path in outputs:
            with open(path, "w") as fh:
                json.dump(records, fh, indent=1, sort_keys=True)
                fh.write("\n")
        print(f"wrote {len(records)} records to {', '.join(outputs)}")
    print(f"TOTAL {time.time() - t0:.1f}s  FAILS: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
