"""Machine-readable per-query physical-plan snapshot (round-11,
VERDICT r10 #5 — the executable complement of PLANS.md): for every
registered query, record joins / shuffle count / CartesianProduct /
Exchange SinglePartition / filtered-scan count at sf0.001 into
``plans_snapshot.json`` at the repo root. tests/test_plan_snapshot.py
diffs HEAD against the committed snapshot and FAILS on any new
cartesian product, single-partition exchange, shuffle growth,
broadcast-to-shuffle join downgrade, or lost pushed filter.

Usage:
    python tools/plan_snapshot.py            # print regressions vs snapshot
    python tools/plan_snapshot.py NAME ...   # the same, for the named queries only
    python tools/plan_snapshot.py --write    # (re)write plans_snapshot.json
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SNAPSHOT = REPO / "plans_snapshot.json"
SF_DIR = "/root/testdata/sf0.001"


def generate(spark, names=None) -> dict:
    from orestes_spark.plans.explain import query_profile
    from orestes_spark.queries import QUERIES

    out: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        if names is not None and name not in names:
            continue
        try:
            out[name] = query_profile(spark, fn, SF_DIR)
        except Exception as e:  # pragma: no cover - surfaced to caller
            out[name] = {"error": f"{type(e).__name__}: {e}"}
    return out


def main() -> int:
    from orestes_spark.plans.explain import profile_regressions
    from orestes_spark.session import get_spark

    write = "--write" in sys.argv
    names = [a for a in sys.argv[1:] if a != "--write"] or None
    if write and names:
        print("--write regenerates the full snapshot; refusing with query names given")
        return 2
    spark = get_spark("plan-snapshot")
    new = generate(spark, names)
    unknown = sorted(set(names or ()) - set(new))
    if unknown:
        print(f"unknown query names: {unknown}")
        return 2
    errors = {n: p for n, p in new.items() if "error" in p}
    if errors:
        for n, p in errors.items():
            print(f"ERROR {n}: {p['error']}")
        return 2
    if write:
        SNAPSHOT.write_text(json.dumps(new, indent=1, sort_keys=True) + "\n")
        print(f"wrote {SNAPSHOT} ({len(new)} queries)")
        return 0
    old = json.loads(SNAPSHOT.read_text()) if SNAPSHOT.exists() else {}
    regressions = profile_regressions(old, new)
    for r in regressions:
        print(r)
    print(f"{len(regressions)} regressions across {len(new)} queries")
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
