"""Benchmark of the NL->SQL engine: one workload per invocation.

    python3 perfbench/run.py --workload ask --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its input tables from a
fixed data seed (cached under ``.perfbench/data``), sets the engine up
several times, warms it with untimed runs of every op shape, then
measures a closed loop of ops with one client over a fixed number of
whole passes: ``--seconds`` of op time divided by the workload's nominal
pass time, rounded to the nearest whole number. It checks every answer
and prints one line per metric (name, value, unit, sample count)
followed by one JSON object on the last line of stdout. With ``--trace 1`` every op also runs traced,
and the JSON reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import datagen  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402

#: scale factor of each workload's tables
SF = {"ask": 0.01, "registry": 0.01}
#: op time of one warm pass on 4 cores (ask: 17 questions, 7 malformed
#: outputs, 1 refresh; registry: 11 panel ops). A run measures the whole
#: number of passes nearest to ``--seconds`` of op time by this measure,
#: so every run on every host measures the same ops, and runs never
#: differ by a pass cut short or added.
PASS_S = {"ask": 15.0, "registry": 7.5}
#: untimed passes over the registry panel before timing (see warm_up)
WARM_PASSES = 3
#: set-up rounds per run; ``setup_s`` uses their median
SETUP_ROUNDS = 3
#: Driver JVM heap; one JVM is the whole local cluster. The engine ships
#: 16g (``SPARK_GRAFT_DRIVER_MEM`` overrides it); the benchmark uses 3g
#: so that it stays small on a host whose memory other jobs share. Its
#: runs peak near 2 GB resident.
DRIVER_MEM = "3g"

LAYER_SPANS = (
    "op", "catalog.load", "catalog.register", "sqlgen.generate",
    "sqlgen.sanitize", "guard.parse", "engine.run_query", "operators.build",
    "catalyst.plan", "exec.write", "delivery.fetch", "delivery.csv",
    "writers.write", "spark.job",
)
EXEC_SPANS = ("exec.write", "delivery.fetch", "delivery.csv")


class Ctx:
    """Everything an op needs; one per run."""

    def __init__(self, workload: str, seed: int, sf: float, work: Path):
        self.workload, self.seed, self.sf = workload, seed, sf
        self.sf_key = f"{sf:g}"
        self.work = work
        self.data_dir = datagen.ensure_dataset(str(work / "data"), sf)
        self.sizes = datagen.sizes(sf)
        self.scratch = str(work / "run" / f"{workload}-{os.getpid()}")
        self.expected = W.load_expected()
        self.spark = None
        self.tracer: spans.Tracer | None = None
        self.queries: dict = {}
        self.oracles: dict = {}
        self.oracle: check.DuckOracle | None = None
        self.phases: dict[str, list[float]] = {}
        #: registry op -> None when its result matched, else the reason
        self.verdicts: dict[str, str | None] = {}

    def note_phases(self, df) -> None:
        for k, v in spans.catalyst_phases(df).items():
            self.phases.setdefault(k, []).append(v)

    def tables_intact(self) -> bool:
        names = {t.name for t in self.spark.catalog.listTables()}
        return {"orders", "lineitem"} <= names


def start_session(ctx: Ctx):
    from ai_etl_studio_spark.session import get_spark

    tmp = ctx.work / "run" / "tmp"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """High-water resident memory of the driver JVM plus this process."""
    from pyspark import SparkContext

    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# --------------------------------------------------------------------------
# workload glue: set-up, warm-up, op body, check


def layout_manifests(data_dir: str) -> list[Path]:
    """Manifests of the build-once layouts in the package's ``.cache``
    that were built from ``data_dir``; each names its source files."""
    base = os.path.realpath(data_dir) + os.sep
    found = []
    for manifest in (ROOT / ".cache").glob("*/*.manifest.json"):
        try:
            sources = json.loads(manifest.read_text()).get("sources", {})
        except (OSError, ValueError):
            continue
        if any(os.path.realpath(src).startswith(base) for src in sources):
            found.append(manifest)
    return found


def drop_layouts(data_dir: str) -> int:
    """Remove the layouts built from ``data_dir``, so that the next
    ``ensure_layouts`` builds them in full; returns how many."""
    manifests = layout_manifests(data_dir)
    for manifest in manifests:
        shutil.rmtree(str(manifest)[: -len(".manifest.json")], ignore_errors=True)
        manifest.unlink(missing_ok=True)
    return len(manifests)


def ensure_layouts(spark, data_dir: str) -> None:
    """The build-once storage layouts ``bench.py`` prepares."""
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

    for fn in (
        ensure_pagerank_edge_index, ensure_boilerplate_index,
        ensure_substring_index, ensure_pq_code_index,
        ensure_bucketed_orderkey_tables, ensure_month_partitioned_orders,
        ensure_zorder_orders, ensure_column_stats,
    ):
        fn(spark, data_dir)


def table_dir(ctx: Ctx) -> str:
    """``ask`` rewrites tables, so it works on a scratch copy."""
    return ctx.scratch if ctx.workload == "ask" else ctx.data_dir


def prepare(ctx: Ctx) -> float:
    """One set-up round: register every table."""
    from ai_etl_studio_spark import catalog

    t0 = time.perf_counter()
    catalog.register_tables(ctx.spark, table_dir(ctx))
    return time.perf_counter() - t0


def items(ctx: Ctx, panel: list[str]):
    if ctx.workload == "ask":
        return W.ask_items(ctx.seed)
    return W.registry_items(ctx.seed, panel)


def warm_up(ctx: Ctx, panel: list[str]) -> float:
    """Run every op shape before timing, so codegen and the JIT are warm;
    returns the op time it took. ``ask``: every template's plan, one CSV
    export and one refresh. ``registry``: ``WARM_PASSES`` passes over the
    panel. The first builds and fetches each op's result and checks it
    (the check is not counted); the others run the ops as the timed
    passes do. The JVM keeps warming for several passes: over ten runs
    on 4 cores with 2 timed passes each, the interquartile range of
    ``latency_p50_s`` was 0.21 of its median with 2 warm-up passes and
    0.10 with 3 (README.md, Steadiness)."""
    if ctx.workload == "registry":
        busy = 0.0
        for name in panel:
            t0 = time.perf_counter()
            cols, rows = check.spark_rows(W.registry_build(ctx, name))
            busy += time.perf_counter() - t0
            ctx.verdicts[name] = W.verdict(ctx, name, cols, rows)
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES - 1):
            for name in panel:
                W.registry_query(ctx, W.Item("query", name=name))
        return busy + time.perf_counter() - t0
    from ai_etl_studio_spark import engine

    t0 = time.perf_counter()
    for tid, build in W.TEMPLATES.items():
        item = W.Item("question", build(W.FixedChoice(0)), tid)
        engine.run_query(ctx.spark, W.ask_raw(ctx, item)).df.collect()
    W.refresh_write(ctx, W.Item("write", cycle=0))
    ctx.oracle.refresh(ctx.scratch)
    W.answer(ctx, W.ask_raw(ctx, W.Item("question", "revenue per nation", "revenue_per_nation")))
    return time.perf_counter() - t0


def run_item(ctx: Ctx, item: W.Item):
    if item.kind == "query":
        return W.registry_query(ctx, item)
    if item.kind == "write":
        return W.refresh_write(ctx, item)
    return W.answer(ctx, W.ask_raw(ctx, item))


def check_item(ctx: Ctx, item: W.Item, out) -> str | None:
    if item.kind == "query":
        return W.check_query(ctx, item, out)
    if item.kind == "write":
        ctx.oracle.refresh(ctx.scratch)
        for t in ("orders", "lineitem"):
            n = ctx.oracle.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            if n != ctx.sizes[t]:
                return f"rewrite changed {t} from {ctx.sizes[t]} to {n} rows"
        return None
    return W.check_answer(ctx, item, out)


# --------------------------------------------------------------------------
# measurement


class Phase:
    """Outcome of one measured pass over the op sequence."""

    def __init__(self):
        self.latencies: list[float] = []  # ops; failed ones are inf
        self.writes: list[float] = []
        self.busy = 0.0
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.reasons: dict[str, int] = {}
        self.op_loads: list[float] = []  # loads per distinct table, per op

    def fail(self, reason: str) -> None:
        self.failed += 1
        self.reasons[reason] = self.reasons.get(reason, 0) + 1



def step(ctx: Ctx, item: W.Item, ph: Phase, tracer) -> None:
    """Run one op (timed), then check it (untimed); record into ``ph``."""
    ctx.tracer = tracer
    first = len(tracer.spans) if tracer else 0
    if tracer:
        tracer.op = ph.attempted
        tracer.loaded = set()
        loads_before = tracer.counts.get("catalog.load_calls", 0.0)
    err = None
    t0 = time.perf_counter()
    try:
        with tracer.span("op") if tracer else nullcontext():
            out = run_item(ctx, item)
    except Exception as exc:  # an escaped error is a failed op
        out, err = None, f"{type(exc).__name__}: {str(exc).splitlines()[0]}"[:160]
    dt = time.perf_counter() - t0
    ph.busy += dt
    if tracer:
        tracer.enabled = False  # the check below is not the program's work
        tracer.collect_jobs(first)
        loads = tracer.counts.get("catalog.load_calls", 0.0) - loads_before
        if tracer.loaded:
            ph.op_loads.append(loads / len(tracer.loaded))
    if err is None:
        try:
            err = check_item(ctx, item, out)
        except Exception as exc:  # the check itself must not crash the run
            err = f"check failed: {type(exc).__name__}: {exc}"[:160]
        if err is not None:
            ph.wrong += 1
    ph.attempted += 1
    if err is not None:
        ph.fail(err)
    if item.kind == "write":
        ph.writes.append(dt)
    else:
        ph.latencies.append(dt if err is None else float("inf"))


def split_passes(seq):
    """Group a stream of items into one list per pass."""
    cur: list[W.Item] = []
    for item in seq:
        if item.first and cur:
            yield cur
            cur = []
        cur.append(item)
    if cur:
        yield cur


def measure(ctx: Ctx, seq, tracer=None):
    """Closed loop, one client: the next op of ``seq`` starts when the
    previous one and its untimed check are done. With a ``tracer`` each
    op runs twice, traced and untraced, in alternating order, so both see
    the same warm state; returns (untraced, traced)."""
    plain, traced = Phase(), (Phase() if tracer else None)
    for i, item in enumerate(seq):
        runs = [(plain, None), (traced, tracer)] if tracer else [(plain, None)]
        for ph, tr in (runs if i % 2 == 0 else runs[::-1]):
            if tr is not None:
                tr.enabled = True
            step(ctx, item, ph, tr)
            if tr is not None:
                tr.enabled = False
    ctx.tracer = None
    return plain, traced


def e2e_metrics(ph: Phase, setup_s: float, rss: float) -> dict[str, tuple]:
    ok = [x for x in ph.latencies if x != float("inf")]
    n = len(ph.latencies)
    return {
        "setup_s": (setup_s, "s", SETUP_ROUNDS),
        "ops_per_s": (len(ok) / ph.busy, "1/s", n),
        "latency_p50_s": (check.percentile(ph.latencies, 50), "s", n),
        "peak_rss_mb": (rss, "MB", 1),
    }


def extra_e2e(ph: Phase) -> dict[str, tuple]:
    """Printed but not compared: the tail the sample supports, the
    failure share, and the snapshot refresh time."""
    n = len(ph.latencies)
    out = {}
    p = check.tail_percentile(n)
    if p is not None:
        out[f"latency_p{p}_s"] = (check.percentile(ph.latencies, p), "s", n)
    out["failed_share"] = (ph.failed / max(1, ph.attempted), "ratio", ph.attempted)
    if ph.writes:
        out["write_p50_s"] = (statistics.median(ph.writes), "s", len(ph.writes))
    return out


def layer_metrics(ctx: Ctx, tr, ph: Phase, setup: dict, overhead: float, base_p50: float) -> dict[str, tuple]:
    n = max(1, len(ph.latencies))
    nw = max(1, len(ph.writes))
    c = tr.counts
    dur: dict[str, float] = {}
    for s in tr.spans:
        dur[s.name] = dur.get(s.name, 0.0) + (s.end - s.start)
    exec_s = 0.0
    for i, s in enumerate(tr.spans):
        if s.name in EXEC_SPANS:
            jobs = [
                (j.start, j.end) for j in tr.spans
                if j.parent == i and j.name == "spark.job"
            ]
            exec_s += spans.covered(jobs)
    selfs = spans.self_times(tr.spans)

    def exec_count(kind: str) -> float:
        return sum(c.get(f"{s}.{kind}", 0.0) for s in EXEC_SPANS) / n

    def phase_ms(name: str) -> float:
        v = ctx.phases.get(name, [])
        return statistics.fmean(v) if v else 0.0

    bytes_written, files_written = (
        W.written_bytes(ctx) if ctx.workload == "ask" else (0, 0)
    )
    m = {
        "catalog.load_calls": (c.get("catalog.load_calls", 0.0) / n, "count/op"),
        "catalog.load_s": (dur.get("catalog.load", 0.0) / n, "s/op"),
        "catalog.load_jobs": (c.get("catalog.load.jobs", 0.0) / n, "count/op"),
        "catalog.loads_per_table": (
            statistics.fmean(ph.op_loads) if ph.op_loads else 0.0, "ratio"),
        "operators.build_s": (dur.get("operators.build", 0.0) / n, "s/op"),
        "operators.eager_jobs": (c.get("operators.build.jobs", 0.0) / n, "count/op"),
        "exec.s": (exec_s / n, "s/op"),
        "exec.jobs": (exec_count("jobs"), "count/op"),
        "exec.stages": (exec_count("stages"), "count/op"),
        "exec.tasks": (exec_count("tasks"), "count/op"),
        "exec.shuffle_write_bytes": (exec_count("shuffle_write_bytes"), "B/op"),
        "exec.spill_bytes": (exec_count("spill_bytes"), "B/op"),
        "catalyst.analysis_ms": (phase_ms("analysis"), "ms"),
        "catalyst.optimization_ms": (phase_ms("optimization"), "ms"),
        "catalyst.planning_ms": (phase_ms("planning"), "ms"),
        "engine.prepare_ms": (1000 * dur.get("engine.run_query", 0.0) / n, "ms/op"),
        "guard.parse_ms": (1000 * dur.get("guard.parse", 0.0) / n, "ms/op"),
        "guard.rejected": (c.get("guard.rejected", 0.0) / n, "count/op"),
        "sqlgen.generate_ms": (1000 * dur.get("sqlgen.generate", 0.0) / n, "ms/op"),
        "sqlgen.sanitize_ms": (1000 * dur.get("sqlgen.sanitize", 0.0) / n, "ms/op"),
        "sqlgen.rejected": (c.get("sqlgen.rejected", 0.0) / n, "count/op"),
        "delivery.fetch_s": (dur.get("delivery.fetch", 0.0) / n, "s/op"),
        "delivery.csv_s": (dur.get("delivery.csv", 0.0) / n, "s/op"),
        "delivery.rows": (c.get("delivery.rows", 0.0) / n, "count/op"),
        "writers.write_s": (dur.get("writers.write", 0.0) / nw, "s/write"),
        "writers.bytes_written": (bytes_written, "B/write"),
        "writers.files_written": (files_written, "count/write"),
        "write_p50_s": (
            statistics.median(ph.writes) if ph.writes else 0.0, "s"),
        "session.start_s": (setup["session_start_s"], "s"),
        "catalog.register_s": (setup["register_s"], "s"),
        "layout.ensure_s": (setup["ensure_s"], "s"),
        "unattributed_s": (selfs.get("op", 0.0) / n, "s/op"),
        "trace.overhead_p50_s": (overhead, "s"),
        "trace.overhead_share": (overhead / base_p50 if base_p50 else 0.0, "ratio"),
    }
    for name in LAYER_SPANS[1:]:
        m[f"self.{name}_s"] = (selfs.get(name, 0.0) / n, "s/op")
    return {k: (v, u, len(ph.latencies)) for k, (v, u) in m.items()}


# --------------------------------------------------------------------------


def make_ctx(workload: str, seed: int, sf: float) -> Ctx:
    """Point Spark's and Python's scratch space into the checkout and
    build (or reuse) the tables."""
    work = ROOT / ".perfbench"
    for sub in ("tmp", "spark-local"):
        (work / "run" / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "run" / "spark-local")
    os.environ["TMPDIR"] = str(work / "run" / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    return Ctx(workload, seed, sf, work)


def timed_passes(workload: str, seconds: float, traced: bool = False) -> int:
    """Whole passes nearest to ``seconds`` of op time; a traced run runs
    every op twice, so it measures half as many passes, rounded up."""
    n = max(1, math.floor(seconds / PASS_S[workload] + 0.5))
    return math.ceil(n / 2) if traced else n


def run(workload: str, seed: int, seconds: float, traced: bool, sf: float | None = None) -> dict:
    ctx = make_ctx(workload, seed, SF[workload] if sf is None else sf)
    if workload == "ask":
        W.copy_tables(ctx.data_dir, ctx.scratch)
    try:
        return _run(ctx, seconds, traced)
    finally:
        if ctx.oracle is not None:
            ctx.oracle.close()
        if ctx.spark is not None:
            stop_session(ctx.spark)
        shutil.rmtree(ctx.scratch, ignore_errors=True)


def _run(ctx: Ctx, seconds: float, traced: bool) -> dict:
    t0 = time.perf_counter()
    ctx.spark = start_session(ctx)
    session_start = time.perf_counter() - t0
    t0 = time.perf_counter()
    from ai_etl_studio_spark.operators import load_all

    ctx.queries, ctx.oracles = load_all()
    import_s = time.perf_counter() - t0
    if ctx.workload == "registry":
        if traced:
            # the traced run times a full build (``layout.ensure_s``)
            drop_layouts(ctx.data_dir)
        elif not layout_manifests(ctx.data_dir):
            # the first run in a checkout builds them untimed, so that
            # setup_s times the same ensure_* calls in every run
            ensure_layouts(ctx.spark, ctx.data_dir)
    rounds = []
    for k in range(SETUP_ROUNDS):
        if k:
            ctx.spark.stop()  # fresh session, same JVM: cold catalog
            ctx.spark = start_session(ctx)
        rounds.append(prepare(ctx))
    t0 = time.perf_counter()
    if ctx.workload == "registry":
        ensure_layouts(ctx.spark, ctx.data_dir)
    ensure_s = time.perf_counter() - t0
    setup_s = session_start + import_s + statistics.median(rounds) + ensure_s
    setup = {
        "session_start_s": session_start,
        "register_s": statistics.median(rounds),
        "ensure_s": ensure_s,
    }
    ctx.oracle = check.DuckOracle(table_dir(ctx))
    panel = []
    if ctx.workload == "registry":
        panel = W.choose_panel(W.PANEL_SEED, ctx.expected["panel"])
    warm_s = warm_up(ctx, panel)
    setup_s += warm_s

    timed = itertools.chain.from_iterable(itertools.islice(
        split_passes(items(ctx, panel)), timed_passes(ctx.workload, seconds, traced)))
    if not traced:
        base, _ = measure(ctx, timed)
    else:
        tracer = spans.Tracer(spark=ctx.spark)
        bound = spans.install(tracer)
        base, tph = measure(ctx, timed, tracer)
    rss = peak_rss_mb()
    result = {
        "workload": ctx.workload, "seed": ctx.seed, "sf": ctx.sf,
        "panel": panel, "phase": base,
        "e2e": e2e_metrics(base, setup_s, rss),
        "extra": extra_e2e(base),
        "setup_detail": {
            "session_start_s": session_start, "import_s": import_s,
            "rounds_s": rounds, "ensure_s": ensure_s, "warm_up_s": warm_s,
            "passes": timed_passes(ctx.workload, seconds, traced),
        },
    }
    if traced:
        base_p50 = result["e2e"]["latency_p50_s"][0]
        overhead = check.percentile(tph.latencies, 50) - base_p50
        result["traced_phase"] = tph
        result["bound"] = bound
        result["layers"] = layer_metrics(ctx, tracer, tph, setup, overhead, base_p50)
    return result


def report(res: dict, traced: bool) -> dict:
    """Print the human-readable lines; return the final JSON object."""
    ph = res["phase"]
    print(f"workload {res['workload']} seed {res['seed']} sf {res['sf']:g}"
          f" panel {','.join(res['panel']) or '-'}")
    d = res["setup_detail"]
    print("setup: session %.3f s, import %.3f s, register rounds %s s,"
          " layouts %.3f s, warm-up %.3f s; timed passes %d" % (
              d["session_start_s"], d["import_s"],
              "/".join(f"{r:.3f}" for r in d["rounds_s"]), d["ensure_s"],
              d["warm_up_s"], d["passes"]))
    for name, (v, unit, n) in {**res["e2e"], **res["extra"]}.items():
        print(f"metric {name} = {v:.6g} {unit} (n={n})")
    phases = [ph, res["traced_phase"]] if traced else [ph]
    for label, p in zip(("untraced", "traced"), phases):
        for reason, k in sorted(p.reasons.items()):
            print(f"failed ({label}) x{k}: {reason}")
    if traced:
        print("wrapped: " + ", ".join(f"{k} x{v}" for k, v in res["bound"].items()))
        for name, (v, unit, n) in res["layers"].items():
            print(f"layer {name} = {v:.6g} {unit} (n={n})")
    metrics = res["layers"] if traced else res["e2e"]
    return {
        "correct": all(p.wrong == 0 for p in phases),
        "attempted": sum(p.attempted for p in phases),
        "failed": sum(p.failed for p in phases),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ai_etl_studio_spark" / "__init__.py").is_file():
        print(f"perfbench: no ai_etl_studio_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    out = report(res, bool(args.trace))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
