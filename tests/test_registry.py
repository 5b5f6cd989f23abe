"""Registry-vs-docs consistency: the README inventory counts are pinned
here so the doc cannot silently drift from ``__spark_entry__.queries()``
again (r4 ADVICE item — the README sat at the r3 counts for a round).

When adding operators, update BOTH the counts below and the README
paragraph that cites them.
"""

from __future__ import annotations

import re
from pathlib import Path

import __spark_entry__ as entry

REPO = Path(__file__).resolve().parent.parent

#: the five sketch/iterative ops that cannot hash-match a SQL oracle by
#: design — each carries independent pytest verification instead
ROWS_ONLY = {
    "approx_distinct",
    "embedding_pca_power",
    "hll_sketch_rollup",
    "kmeans_embeddings",
    "percentile_approx_sketch",
}


def test_registry_counts_match_readme():
    q = entry.queries()
    o = entry.oracle_sql()
    assert set(o) <= set(q)
    assert set(q) - set(o) == ROWS_ONLY
    readme = (REPO / "README.md").read_text()
    m = re.search(r"\((\d+) entries, (\d+)\s*\nwith exact SQL oracles", readme)
    assert m, "README inventory sentence not found / reformatted"
    assert (int(m.group(1)), int(m.group(2))) == (len(q), len(o)), (
        f"README claims {m.group(1)}/{m.group(2)} but registry has "
        f"{len(q)}/{len(o)} — update the README inventory paragraph"
    )


def test_priority_prefix_is_50_and_registered():
    q = entry.queries()
    assert len(entry.PRIORITY) == 50
    assert len(set(entry.PRIORITY)) == 50
    missing = [n for n in entry.PRIORITY if n not in q]
    assert not missing, f"PRIORITY names not in registry: {missing}"
    # the driver hash-checks the first 50 keys — the dict must lead
    # with exactly the PRIORITY names in order
    assert list(q)[:50] == list(entry.PRIORITY)


def test_bench_headline_covers_registry():
    """Bench freshness, gated like correctness freshness (r7 verdict
    item 2 + ADVICE): ``bench.HEADLINE`` is the registry minus
    ``bench.EXCLUDED``, every excluded name is registered (exclusions
    are data, not prose), and the committed BENCH_full_latest.json keys
    equal HEADLINE exactly, so a registry edit without a regenerated
    artifact (the r7 ansari_bradley staleness) is a red test."""
    import json

    import bench

    h = set(bench.HEADLINE)
    unknown = set(bench.EXCLUDED) - set(entry.queries())
    assert not unknown, f"EXCLUDED names not in registry: {sorted(unknown)}"
    art = json.loads((REPO / "BENCH_full_latest.json").read_text())
    bench_keys = set(art["queries"])
    assert bench_keys == h, (
        f"BENCH_full_latest.json is stale: missing {sorted(h - bench_keys)}"
        f", extra {sorted(bench_keys - h)} — bench the new names with "
        "`python bench.py --only <name>` or add them to bench.EXCLUDED"
    )


def test_round_seal_equals_latest():
    """The CURRENT round's versioned seal, once written, must equal the
    rolling `latest` artifact byte-for-byte (r8 verdict item 1: the r8
    correctness seal lagged latest by one op, and the bench seal was
    clobbered by a lower-N rerun). bench.py, tools/plan_snapshot.py and
    tools/driver_sim.py write both names through ``bench.seal_targets``;
    this gate makes a divergence a red test for the rest of the round.
    Historical seals (completed rounds) are snapshots and legitimately
    diverge — only the current round (``bench.round_number``) is
    compared."""
    import json

    import bench

    for stem in ("CORRECTNESS_full", "BENCH_full", "PLANSNAP"):
        seal = Path(bench.round_seal(str(REPO), stem))
        if not seal.exists():
            continue  # round not sealed yet
        latest = json.loads((REPO / f"{stem}_latest.json").read_text())
        sealed = json.loads(seal.read_text())
        assert sealed == latest, (
            f"{seal.name} diverged from {stem}_latest.json — re-run the "
            "unrestricted sweep (correctness) or full bench (N>=seal) so "
            "both regenerate together"
        )


def test_seal_paths_write_both_or_neither(tmp_path, monkeypatch):
    """bench.seal_paths decides, before anything is written, where a run
    goes: a full run writes the round seal and ``latest`` together, or,
    when either holds a higher bench_n, only the scratch file, so the
    r13 divergence (an N=1 run creating the round seal while its
    ``latest`` write was diverted) cannot recur. No Spark needed."""
    import json

    import bench

    monkeypatch.setenv("SPARK_GRAFT_ROUND", "13")
    seal = tmp_path / "BENCH_full_r13.json"
    latest = tmp_path / "BENCH_full_latest.json"
    scratch = tmp_path / "BENCH_full_scratch.json"

    def paths(bench_n, only=False):
        return bench.seal_paths(str(tmp_path), bench_n, only)

    # fresh checkout: a full run creates both; a merge creates neither
    assert paths(1) == [str(seal), str(latest)]
    assert paths(1, only=True) == []
    # N=3 latest, no round seal: an N=1 run is diverted whole
    latest.write_text(json.dumps({"bench_n": 3}))
    assert paths(1) == [str(scratch)]
    assert paths(3) == [str(seal), str(latest)]
    # a merge updates only what exists, never creating the seal
    assert paths(1, only=True) == [str(latest)]
    # the higher N may sit in either file
    seal.write_text(json.dumps({"bench_n": 5}))
    assert paths(3) == [str(scratch)]
    assert paths(5) == [str(seal), str(latest)]
    assert paths(1, only=True) == [str(seal), str(latest)]


def test_seal_targets_mirror_rule(tmp_path, monkeypatch, capsys):
    """The one seal rule every artifact writer shares: the round is
    max(BENCH_r*)+1 unless SPARK_GRAFT_ROUND pins it; a full run writes
    ``<stem>_r{N}`` and ``latest``; a restricted run mirrors into the
    seal only when it exists, and warns when the round just sealed
    (the driver wrote BENCH_r{N-1}) left a seal it will not touch."""
    import bench

    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    repo = str(tmp_path)
    latest = str(tmp_path / "PLANSNAP_latest.json")
    assert bench.round_number(repo) == 1
    (tmp_path / "BENCH_r04.json").write_text("{}")
    (tmp_path / "BENCH_r11.json").write_text("{}")
    assert bench.round_number(repo) == 12
    r12 = str(tmp_path / "PLANSNAP_r12.json")
    assert bench.seal_targets(repo, "PLANSNAP", True) == [r12, latest]
    assert bench.seal_targets(repo, "PLANSNAP", False) == [latest]
    assert capsys.readouterr().err == ""
    # the seal exists: restricted runs mirror into it
    (tmp_path / "PLANSNAP_r12.json").write_text("{}")
    assert bench.seal_targets(repo, "PLANSNAP", False) == [r12, latest]
    # the driver seals round 12: a restricted run infers 13 and warns
    (tmp_path / "BENCH_r12.json").write_text("{}")
    assert bench.seal_targets(repo, "PLANSNAP", False) == [latest]
    assert "SPARK_GRAFT_ROUND=12" in capsys.readouterr().err
    # pinning the round mirrors into that round's seal
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    assert bench.seal_targets(repo, "PLANSNAP", False) == [r12, latest]


def test_correctness_full_artifact_is_fresh():
    """The committed full-registry correctness artifact must cover the
    registry EXACTLY (r6 ADVICE: the r6 artifact was generated before 7
    late registrations, so the 'complete record' claim silently went
    stale). tools/driver_sim.py writes/merges CORRECTNESS_full_latest;
    any commit that registers an operator must regenerate or merge it
    in the same session — this gate makes forgetting a red test."""
    import json

    art = json.loads((REPO / "CORRECTNESS_full_latest.json").read_text())
    q = entry.queries()
    missing = sorted(set(q) - set(art))
    stale = sorted(set(art) - set(q))
    assert not missing, (
        f"registered ops without a correctness record: {missing} — run "
        "SPARK_GRAFT_CORRECTNESS_OUT=CORRECTNESS_full_latest.json "
        f"python tools/driver_sim.py /root/testdata/sf0.01 {' '.join(missing)}"
    )
    assert not stale, f"artifact records unregistered names: {stale}"
    errs = {
        n: r["err"]
        for n, r in art.items()
        if r.get("err") not in (None, "no_oracle")
    }
    assert not errs, f"recorded failures: {errs}"
    mism = [n for n, r in art.items() if r.get("hash_match") is False]
    assert not mism, f"recorded hash mismatches: {mism}"
