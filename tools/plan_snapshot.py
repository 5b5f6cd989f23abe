"""Write PLANSNAP — the deterministic per-query plan-profile artifact
(r9 verdict item 5, the wall-clock-independent perf signal).

For every bench.HEADLINE query, record ai_etl_studio_spark.plans.
snapshot.plan_profile at $SPARK_GRAFT_SF_DIR (default sf0.1, the bench
corpus, so the profile describes exactly the plans the bench times).

Usage:
  python tools/plan_snapshot.py                 # full sweep -> latest
  python tools/plan_snapshot.py --only n1 n2    # restricted merge

Writes PLANSNAP_latest.json and the round seal PLANSNAP_r{N}.json
through ``bench.seal_targets``, the rule bench.py and
tools/driver_sim.py write through: a full sweep writes both, a
restricted one mirrors into the seal only when it exists.
tests/test_plansnap.py gates on the artifact: keys must equal
HEADLINE exactly, and a sentinel subset is recomputed live — so a plan
profile cannot change without the changing commit regenerating the
snapshot, which is what makes bench moves attributable.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only: list[str] = []
    if len(sys.argv) > 1 and sys.argv[1] == "--only":
        only = sys.argv[2:]

    import bench
    from ai_etl_studio_spark.operators import load_all
    from ai_etl_studio_spark.plans.snapshot import (
        STAGE_SOURCED,
        plan_profile,
        stage_profile,
    )
    from ai_etl_studio_spark.session import get_spark

    if only:
        unknown = [n for n in only if n not in bench.HEADLINE]
        if unknown:
            raise SystemExit(f"--only names not in HEADLINE: {unknown}")

    spark = get_spark(app_name="plan-snapshot")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_all()

    names = only if only else list(bench.HEADLINE)
    profiles: dict[str, dict] = {}
    for name in names:
        try:
            if name in STAGE_SOURCED:
                # heavy stages materialize during construction — sum
                # the captured stage profiles (r10 verdict item 2)
                profiles[name] = stage_profile(queries[name], spark, sf_dir)
            else:
                profiles[name] = plan_profile(queries[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            profiles[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
            print(f"{name}: ERROR {exc}", file=sys.stderr)

    latest = REPO / "PLANSNAP_latest.json"
    if only and latest.exists():
        payload = json.loads(latest.read_text())
        if payload.get("sf_dir") != sf_dir:
            raise SystemExit(
                f"--only at {sf_dir} cannot merge into a snapshot taken "
                f"at {payload.get('sf_dir')}"
            )
        payload["profiles"].update(profiles)
    else:
        payload = {"sf_dir": sf_dir, "profiles": profiles}

    outputs = [
        Path(p) for p in bench.seal_targets(str(REPO), "PLANSNAP", not only)
    ]
    text = json.dumps(payload, indent=1, sort_keys=True) + "\n"
    for path in outputs:
        path.write_text(text)
    errs = [k for k, v in payload["profiles"].items() if "error" in v]
    print(
        f"wrote {len(payload['profiles'])} profiles to "
        f"{', '.join(p.name for p in outputs)}; errors: {errs}"
    )
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
