"""Spans and counters recorded from the benchmark's own wrappers.

The traced run wraps the public functions of each layer from outside:
nothing in the package is edited. Each wrapped call becomes a span
(name, start, end, parent span, op id) kept in memory and summarised
when the run ends. Spark jobs started inside a span are attributed to
it through a job group named after the span, and their times, stages,
tasks, shuffle and spill bytes come from the driver's status store.

Operators bind ``load_table`` when they are imported, so wrapping the
catalog attribute alone would miss them: ``install`` rebinds the name in
every loaded module of the package that holds the original function.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "ai_etl_studio_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    group: str | None = None


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            parent = spans[s.parent]
            # job times come from another clock; clip them to the parent
            start, end = max(s.start, parent.start), min(s.end, parent.end)
            if end > start:
                children.setdefault(s.parent, []).append((start, end))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s.end - s.start) - covered(children.get(i, []))
        out[s.name] = out.get(s.name, 0.0) + max(0.0, own)
    return out


@dataclass
class Tracer:
    """Span recorder for one run. ``spark`` is set once the session
    exists; without it spans still record but no jobs are attributed."""

    spark: object | None = None
    #: the wrappers record only while this is set
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    op: int | None = None
    #: (sf_dir, table) pairs ``load_table`` saw during the current op
    loaded: set = field(default_factory=set)
    _stack: list[int] = field(default_factory=list)
    _groups: list[str] = field(default_factory=list)

    def add(self, key: str, value: float = 1.0) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + value

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, op=self.op)
        idx = len(self.spans)
        self.spans.append(s)
        self._stack.append(idx)
        sc = self.spark.sparkContext if (jobs and self.spark is not None) else None
        if sc is not None:
            s.group = f"pb-{idx}"
            self._groups.append(s.group)
            sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def collect_jobs(self, first_span: int) -> dict[str, float]:
        """Add a child span per Spark job run under the spans recorded
        since ``first_span`` and return job counts per span name."""
        if self.spark is None:
            return {}
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        offset = time.perf_counter() - time.time()
        no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        found: dict[str, float] = {}
        for idx in range(first_span, len(self.spans)):
            s = self.spans[idx]
            if s.group is None:
                continue
            for job_id in tracker.getJobIdsForGroup(s.group):
                job = store.job(job_id)
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    self.spans.append(Span(
                        "spark.job",
                        sub.get().getTime() / 1000.0 + offset,
                        done.get().getTime() / 1000.0 + offset,
                        parent=idx, op=s.op,
                    ))
                key = s.name
                found[f"{key}.jobs"] = found.get(f"{key}.jobs", 0) + 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    try:
                        data = store.stageAttempt(
                            stage_id, 0, False, None, False, no_quantiles
                        )._1()
                    except Exception:  # stage evicted from the store
                        continue
                    if str(data.status().toString()) == "SKIPPED":
                        continue
                    found[f"{key}.stages"] = found.get(f"{key}.stages", 0) + 1
                    found[f"{key}.tasks"] = found.get(f"{key}.tasks", 0) + data.numTasks()
                    found[f"{key}.shuffle_write_bytes"] = (
                        found.get(f"{key}.shuffle_write_bytes", 0)
                        + data.shuffleWriteBytes()
                    )
                    found[f"{key}.spill_bytes"] = (
                        found.get(f"{key}.spill_bytes", 0)
                        + data.memoryBytesSpilled() + data.diskBytesSpilled()
                    )
        for k, v in found.items():
            self.add(k, v)
        return found


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) recorded by the
    query's ``QueryPlanningTracker``; phases not yet run are absent."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


def _wrap(tracer: Tracer, name: str, fn, jobs: bool = False, hook=None):
    """``fn`` inside a span; ``hook(args, result, failed)`` sees each call."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, jobs=jobs):
            try:
                result = fn(*args, **kwargs)
            except Exception:
                if hook is not None:
                    hook(args, None, True)
                raise
        if hook is not None:
            hook(args, result, False)
        return result

    wrapper.__pb_original__ = fn
    return wrapper


def _rebind(original, wrapper) -> int:
    """Point every package module's global that holds ``original``, or
    an earlier wrapper of it, at ``wrapper``; returns how many bindings
    changed."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original or getattr(value, "__pb_original__", None) is original:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap each layer's public entry points; returns rebinding counts.

    Call after the operator modules are imported, so their own
    ``load_table`` bindings exist to be replaced."""
    from ai_etl_studio_spark import catalog, engine
    from ai_etl_studio_spark.plans import guard
    from ai_etl_studio_spark.sources import writers
    from ai_etl_studio_spark.sqlgen import generator, sanitize

    def on_sanitize(args, result, failed):
        if failed or not result.ok:
            tracer.add("sqlgen.rejected")

    def on_guard(args, result, failed):
        if failed or not result:
            tracer.add("guard.rejected")

    def on_load(args, result, failed):
        tracer.add("catalog.load_calls")
        tracer.loaded.add(tuple(str(a) for a in args[1:3]))

    targets = [
        (catalog.load_table, "catalog.load", True, on_load),
        (catalog.register_tables, "catalog.register", True, None),
        (sanitize.sanitize, "sqlgen.sanitize", False, on_sanitize),
        (guard.is_read_only_plan, "guard.parse", False, on_guard),
        (engine.run_query, "engine.run_query", True, None),
        (writers.write_parquet, "writers.write", True, None),
        (writers.to_csv_bytes, "delivery.csv", True, None),
    ]
    bound: dict[str, int] = {}
    for fn, name, jobs, hook in targets:
        fn = getattr(fn, "__pb_original__", fn)
        bound[name] = _rebind(fn, _wrap(tracer, name, fn, jobs, hook))
    gen = generator.TemplateGenerator.generate
    gen = getattr(gen, "__pb_original__", gen)
    generator.TemplateGenerator.generate = _wrap(tracer, "sqlgen.generate", gen)
    return bound

