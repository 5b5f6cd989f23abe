"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (one JVM per run) and take a few minutes.
"""

from __future__ import annotations

import io
import itertools
import json
import math
import re
import shutil
import subprocess
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import check  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


# -- percentile rule --------------------------------------------------------


def test_tail_percentile_keeps_ten_samples_beyond():
    assert check.tail_percentile(100) == 90
    assert check.tail_percentile(1000) == 99
    assert check.tail_percentile(11) == 9
    assert check.tail_percentile(10) is None
    for n in range(11, 400):
        p = check.tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= 10
        assert n - math.ceil((p + 1) / 100 * n) < 10 or p == 99


def test_percentile_counts_failures_as_missing_every_limit():
    values = [float(i) for i in range(1, 101)]
    assert check.percentile(values, 50) == 50
    assert check.percentile(values, 90) == 90
    assert check.percentile([1.0, 2.0, float("inf")], 50) == 2.0
    assert check.percentile([1.0, float("inf"), float("inf")], 50) == float("inf")


def test_report_prints_sample_counts():
    ph = run.Phase()
    ph.latencies = [0.1] * 120
    ph.busy, ph.attempted = 12.0, 120
    res = {
        "workload": "ask", "seed": 1, "sf": 0.01, "panel": [], "phase": ph,
        "e2e": run.e2e_metrics(ph, 3.0, 900.0), "extra": run.extra_e2e(ph),
        "setup_detail": {"session_start_s": 1.0, "import_s": 0.1,
                         "rounds_s": [0.5, 0.4, 0.6], "ensure_s": 0.0,
                         "warm_up_s": 1.0, "passes": 5},
    }
    buf = io.StringIO()
    with redirect_stdout(buf):
        out = run.report(res, traced=False)
    text = buf.getvalue()
    assert "metric latency_p91_s = 0.1 s (n=120)" in text
    assert "metric ops_per_s = 10 1/s (n=120)" in text
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


# -- seeds and inputs -------------------------------------------------------


def test_same_seed_same_inputs():
    def take(gen, n=80):
        return list(itertools.islice(gen, n))

    assert take(W.ask_items(5)) == take(W.ask_items(5))
    assert take(W.ask_items(5)) != take(W.ask_items(6))
    panel = W.load_expected()["panel"]
    assert W.choose_panel(5, panel) == W.choose_panel(5, panel)
    p = W.choose_panel(5, panel)
    assert take(W.registry_items(5, p), 40) == take(W.registry_items(5, p), 40)


def test_runs_measure_whole_passes_fixed_by_seconds():
    assert run.timed_passes("ask", 1) == 1
    assert run.timed_passes("ask", run.PASS_S["ask"]) == 1
    assert run.timed_passes("ask", 1.4 * run.PASS_S["ask"]) == 1
    assert run.timed_passes("ask", 1.6 * run.PASS_S["ask"]) == 2
    assert run.timed_passes("registry", 2.6 * run.PASS_S["registry"]) == 3
    assert run.timed_passes("registry", 2.6 * run.PASS_S["registry"], True) == 2
    assert run.timed_passes("registry", 1, True) == 1
    chunks = list(itertools.islice(run.split_passes(W.ask_items(2)), 3))
    per_pass = len(W.TEMPLATES) + len(W.MALFORMED) + 1
    assert [len(c) for c in chunks] == [per_pass] * 3
    assert all(c[0].first for c in chunks)


def test_drop_layouts_removes_only_layouts_of_the_given_tables(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    kind = tmp_path / ".cache" / "kind"
    for name in ("mine", "other"):
        (tmp_path / name / "orders.parquet").mkdir(parents=True)
        (kind / name).mkdir(parents=True)
        src = str(tmp_path / name / "orders.parquet")
        (kind / f"{name}.manifest.json").write_text(json.dumps({"sources": {src: [1, 2]}}))
    assert run.drop_layouts(str(tmp_path / "mine")) == 1
    assert not (kind / "mine").exists() and not (kind / "mine.manifest.json").exists()
    assert (kind / "other").is_dir() and (kind / "other.manifest.json").is_file()


def test_every_pass_has_the_same_mix():
    per_pass = len(W.TEMPLATES) + len(W.MALFORMED) + 1
    for seed in (1, 2):
        items = list(itertools.islice(W.ask_items(seed), 3 * per_pass))
        for k in range(3):
            chunk = items[k * per_pass:(k + 1) * per_pass]
            assert chunk[0].first and not any(i.first for i in chunk[1:])
            assert sorted(i.template for i in chunk if i.kind == "question") == sorted(W.TEMPLATES)
            assert sorted(i.malformed for i in chunk if i.kind == "malformed") == sorted(W.MALFORMED)
            assert sum(i.kind == "write" for i in chunk) == 1
    panel = ["a", "b", "c"]
    items = list(itertools.islice(W.registry_items(3, panel), 9))
    assert [i.first for i in items] == [True, False, False] * 3
    assert all(sorted(i.name for i in items[k:k + 3]) == panel for k in (0, 3, 6))


def test_each_template_reaches_its_own_rule():
    from ai_etl_studio_spark.sqlgen.generator import TemplateGenerator

    rules = [pattern for pattern, _ in TemplateGenerator._RULES]
    hit = {}
    for tid, build in W.TEMPLATES.items():
        q = build(W.FixedChoice(0)).lower()
        hit[tid] = next(i for i, p in enumerate(rules) if re.search(p, q))
        TemplateGenerator().generate(q)
    assert len(set(hit.values())) == len(W.TEMPLATES) == len(rules)


def test_every_question_has_a_digest():
    digests = W.load_expected()["digests"]
    for sf in ("0.01", "0.001"):
        assert set(digests[sf]) == set(W.ALL_QUESTIONS)


def test_panel_is_stratified_and_deterministic():
    import bench

    panel = W.load_expected()["panel"]
    assert set(panel) <= set(bench.HEADLINE)
    assert not set(panel) & set(bench.EXCLUDED)
    names = sorted(
        (n for n in panel if panel[n]["cost_s"] <= W.MAX_OP_COST_S),
        key=lambda n: (panel[n]["cost_s"], n),
    )
    assert len(names) >= 0.9 * len(panel)
    size = W.PANEL_SIZE
    bands = [
        set(names[b * len(names) // size:(b + 1) * len(names) // size])
        for b in range(size)
    ]
    seen = set()
    for seed in range(40):
        chosen = W.choose_panel(seed, panel)
        assert chosen == W.choose_panel(seed, panel)
        assert [next(i for i, b in enumerate(bands) if n in b) for n in chosen] == list(range(size))
        seen.update(panel[n]["module"] for n in chosen)
    assert len(seen) >= 10  # the seed reaches most operator modules


# -- failure accounting (starts Spark) --------------------------------------


@pytest.fixture(scope="module")
def ask_ctx():
    ctx = run.make_ctx("ask", 0, 0.001)
    W.copy_tables(ctx.data_dir, ctx.scratch)
    ctx.spark = run.start_session(ctx)
    run.prepare(ctx)
    ctx.oracle = check.DuckOracle(ctx.scratch)
    yield ctx
    ctx.oracle.close()
    run.stop_session(ctx.spark)
    shutil.rmtree(ctx.scratch)


def _malformed(kind: str) -> W.Item:
    tid, question, _, _ = W.MALFORMED[kind]
    return W.Item("malformed", question, tid, kind)


def test_ansi_runtime_error_counts_as_failed(ask_ctx):
    seq = [_malformed("ansi_divide"), _malformed("ansi_cast")]
    ph, _ = run.measure(ask_ctx, seq)
    assert (ph.attempted, ph.failed, ph.wrong) == (2, 2, 0)
    assert all(math.isinf(x) for x in ph.latencies)
    assert any("DIVIDE_BY_ZERO" in r for r in ph.reasons)
    assert any("CAST_INVALID_INPUT" in r for r in ph.reasons)


def test_refused_inputs_as_error_relation_succeed(ask_ctx):
    kinds = ("ddl_drop", "dml_delete", "prose_wrap", "prose_lead", "fenced")
    seq = [_malformed(k) for k in kinds]
    seq.append(W.Item("question", "top 3 products by revenue", "top_products"))
    seq.append(W.Item("question", "documents per language", "documents_per_language"))
    ph, _ = run.measure(ask_ctx, seq)
    assert (ph.attempted, ph.failed, ph.wrong) == (len(seq), 0, 0), ph.reasons
    assert ask_ctx.tables_intact()


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ask", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_checks_are_not_traced(ask_ctx):
    import spans

    tid = next(iter(check.DUCKDB_TEMPLATES))
    item = W.Item("question", W.TEMPLATES[tid](W.FixedChoice(0)), tid)
    tracer = spans.Tracer(spark=ask_ctx.spark)
    spans.install(tracer)
    plain, traced = run.measure(ask_ctx, [item], tracer)
    assert plain.failed == traced.failed == 0, traced.reasons
    # the check generates the SQL again for its DuckDB twin; only the
    # op's own call is a span
    assert [s.name for s in tracer.spans].count("sqlgen.generate") == 1


def test_wrong_answer_counts_as_failed(ask_ctx):
    item = W.Item("question", "documents per language", "documents_per_language")
    out = W.answer(ask_ctx, W.ask_raw(ask_ctx, item))
    out.rows = out.rows[:-1]
    out.csv = out.csv[: out.csv.rstrip(b"\n").rfind(b"\n") + 1]
    assert W.check_answer(ask_ctx, item, out) == "differs from recorded digest"


def test_install_rebinds_load_table_in_every_importing_module():
    import spans
    from ai_etl_studio_spark import catalog
    from ai_etl_studio_spark.operators import load_all

    load_all()
    def unwrapped(fn):  # an earlier test may have installed wrappers
        return getattr(fn, "__pb_original__", fn)

    original = unwrapped(catalog.load_table)
    importers = {
        name for name, mod in sys.modules.items()
        if name.startswith("ai_etl_studio_spark") and mod is not None
        and unwrapped(getattr(mod, "load_table", None)) is original
    }
    tracer = spans.Tracer()
    bound = spans.install(tracer)
    assert bound["catalog.load"] == len(importers) >= 15
    assert all(
        sys.modules[name].load_table.__pb_original__ is original for name in importers
    )
    assert not tracer.spans  # wrappers stay silent until enabled
