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
    item 2 + ADVICE): every registered query is either in
    ``bench.HEADLINE`` or carries an explicit reason in
    ``bench.EXCLUDED`` — exclusions are data, not prose — and the
    committed BENCH_full_latest.json keys equal HEADLINE exactly, so a
    HEADLINE edit without a regenerated artifact (the r7
    ansari_bradley staleness) is a red test."""
    import json

    import bench

    q = set(entry.queries())
    h = set(bench.HEADLINE)
    ex = set(bench.EXCLUDED)
    assert len(bench.HEADLINE) == len(h), "duplicate HEADLINE entries"
    assert not (h & ex), f"names both benched and excluded: {h & ex}"
    unknown = (h | ex) - q
    assert not unknown, f"bench names not in registry: {sorted(unknown)}"
    gap = q - h - ex
    assert not gap, (
        f"registered ops neither benched nor excluded: {sorted(gap)} — "
        "add to bench.HEADLINE or to bench.EXCLUDED with a reason"
    )
    art = json.loads((REPO / "BENCH_full_latest.json").read_text())
    bench_keys = set(art["queries"])
    assert bench_keys == h, (
        f"BENCH_full_latest.json is stale: missing {sorted(h - bench_keys)}"
        f", extra {sorted(bench_keys - h)} — regenerate with bench.py"
    )


def test_round_seal_equals_latest():
    """The CURRENT round's versioned seal, once written, must equal the
    rolling `latest` artifact byte-for-byte (r8 verdict item 1: the r8
    correctness seal lagged latest by one op, and the bench seal was
    clobbered by a lower-N rerun). bench.py and tools/driver_sim.py now
    write/mirror both names together; this gate makes a divergence a
    red test for the rest of the round. Historical seals (completed
    rounds) are snapshots and legitimately diverge — only the current
    round, inferred as max(BENCH_r*)+1, is compared."""
    import json
    import re as _re

    rounds = [
        int(m.group(1))
        for f in REPO.iterdir()
        if (m := _re.match(r"BENCH_r(\d+)\.json$", f.name))
    ]
    n = max(rounds, default=0) + 1
    for stem in ("CORRECTNESS_full", "BENCH_full", "PLANSNAP"):
        seal = REPO / f"{stem}_r{n:02d}.json"
        if not seal.exists():
            continue  # round not sealed yet
        latest = json.loads((REPO / f"{stem}_latest.json").read_text())
        sealed = json.loads(seal.read_text())
        assert sealed == latest, (
            f"{seal.name} diverged from {stem}_latest.json — re-run the "
            "unrestricted sweep (correctness) or full bench (N>=seal) so "
            "both regenerate together"
        )


def test_seal_paths_write_both_or_neither(tmp_path):
    """bench.seal_paths decides, before anything is written, where a run
    goes: a full run writes the round seal and ``latest`` together, or,
    when either holds a higher bench_n, only the scratch file, so the
    r13 divergence (an N=1 run creating the round seal while its
    ``latest`` write was diverted) cannot recur. No Spark needed."""
    import json

    import bench

    seal = tmp_path / "BENCH_full_r13.json"
    latest = tmp_path / "BENCH_full_latest.json"
    scratch = tmp_path / "BENCH_full_scratch.json"

    def paths(bench_n, only=False):
        return bench.seal_paths(str(tmp_path), 13, bench_n, only)

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
