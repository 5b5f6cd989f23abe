"""Record the reference data the benchmark checks against, into
``perfbench/expected.json``:

- ``digests``: for every ask question at each scale factor, the digest
  of the engine's answer (questions without a DuckDB twin are checked
  against these);
- ``panel``: the registry ops a panel may draw (``bench.HEADLINE``,
  never ``bench.EXCLUDED``), each with its module, the time of its
  second noop-sink run at sf0.01 (the cost bands of ``choose_panel``)
  and, for ops without a DuckDB oracle, the row count at each SF.

    python3 perfbench/record.py digests
    python3 perfbench/record.py panel      # about 40 minutes on 4 cores

Recorded values are the engine's answers at the commit that records
them; re-record only in a change that redefines the benchmark.
"""

from __future__ import annotations

import json
import sys
import time

import run
import workloads as W
from check import digest

SCALES = (0.01, 0.001)


def _session(sf: float) -> run.Ctx:
    ctx = run.make_ctx("ask", 0, sf)
    ctx.spark = run.start_session(ctx)
    return ctx


def record_digests(expected: dict) -> None:
    from ai_etl_studio_spark import catalog
    from ai_etl_studio_spark.engine import run_query
    from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator

    out = {}
    for sf in SCALES:
        ctx = _session(sf)
        catalog.register_tables(ctx.spark, ctx.data_dir)
        gen = TemplateGenerator()
        table = {}
        for q in W.ALL_QUESTIONS:
            res = run_query(ctx.spark, gen.generate(q))
            table[q] = digest(res.df.columns, res.df.collect())
        out[ctx.sf_key] = table
        run.stop_session(ctx.spark)
    expected["digests"] = out


def record_panel(expected: dict) -> None:
    import bench
    from ai_etl_studio_spark.operators import insights, load_all

    panel: dict[str, dict] = {}
    for sf in SCALES:
        ctx = _session(sf)
        queries, oracles = load_all()
        run.ensure_layouts(ctx.spark, ctx.data_dir)
        for name in bench.HEADLINE:
            if name in bench.EXCLUDED:
                continue
            rec = panel.setdefault(name, {
                "module": queries[name].__wrapped__.__module__.rsplit(".", 1)[-1],
                "rows": {},
            })
            if sf == SCALES[0]:
                for _ in range(2):  # the second run is past codegen
                    insights._CP_GRAPH_CACHE.clear()
                    t0 = time.perf_counter()
                    queries[name](ctx.spark, ctx.data_dir).write.format(
                        "noop").mode("overwrite").save()
                    rec["cost_s"] = round(time.perf_counter() - t0, 3)
            if name not in oracles:
                insights._CP_GRAPH_CACHE.clear()
                df = queries[name](ctx.spark, ctx.data_dir)
                rec["rows"][ctx.sf_key] = len(df.collect())
            print(name, rec, flush=True)
        run.stop_session(ctx.spark)
    expected["panel"] = panel


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    what = sys.argv[1:] or ["digests"]
    path = run.HERE / "expected.json"
    expected = json.loads(path.read_text()) if path.exists() else {}
    if "digests" in what:
        record_digests(expected)
    if "panel" in what:
        record_panel(expected)
    path.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
