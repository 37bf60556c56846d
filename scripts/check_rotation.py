"""Machine-check for the correctness-gate staleness rotation: the 50-name
gate front of ``__spark_entry__.queries()`` must keep the invariant
that, after the round runs, no registered catalog name's newest gate
row is older than the previously-oldest tier. ``queries()`` derives
its order from the recorded ``CORRECTNESS_r*.json`` artifacts
(``gate.staleness_order``); this script re-derives the staleness tiers
from the same artifacts and asserts the front:

  1. contains every REGISTERED catalog name that has never appeared in
     any driver correctness file (a new query that misses its debut
     round silently starts life stale);
  2. contains every name in the OLDEST staleness tier (so running the
     round advances the global minimum — the rotation actually
     rotates);
  3. is physically able to do so (oldest tier + never-checked must fit
     in the gate budget).

Names present in old artifacts but no longer registered (renamed/
retired queries) are ignored. Run directly (exit 1 on violation) or
via tests/test_contract.py, which also feeds it a deliberately
mis-staged front to prove the check catches one.

Usage: python scripts/check_rotation.py [repo_root]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_based_bi_etl_automation_for_real_estate_company_spark.gate import load_latest

GATE_N = 50


def check_front(
    front: list[str], latest: dict[str, int], registered: set[str]
) -> list[str]:
    """Return the list of rotation-invariant violations (empty = ok)."""
    problems: list[str] = []
    front_set = set(front)
    known = {n: r for n, r in latest.items() if n in registered}
    never = registered - set(known)
    missing_new = sorted(never - front_set)
    if missing_new:
        problems.append(
            f"never-checked queries not in the gate front: {missing_new}"
        )
    if known:
        oldest = min(known.values())
        tier = sorted(n for n, r in known.items() if r == oldest)
        missing_old = sorted(set(tier) - front_set)
        if missing_old:
            problems.append(
                f"oldest tier (r{oldest}) names not in the gate front: "
                f"{missing_old}"
            )
        if len(tier) + len(never) > GATE_N:
            problems.append(
                f"oldest tier ({len(tier)}) + never-checked ({len(never)}) "
                f"exceed the {GATE_N}-slot gate budget — split the tier "
                "across rounds explicitly"
            )
    return problems


def main() -> int:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    sys.path.insert(0, root)
    import __spark_entry__ as entrymod

    registered = set(entrymod.queries())
    front = list(entrymod.queries())[:GATE_N]
    latest = load_latest(root)
    problems = check_front(front, latest, registered)
    known = {n: r for n, r in latest.items() if n in registered}
    tiers: dict[int, int] = {}
    for r in known.values():
        tiers[r] = tiers.get(r, 0) + 1
    print(
        f"registered={len(registered)} checked={len(known)} "
        f"tiers={dict(sorted(tiers.items()))} "
        f"never_checked={sorted(registered - set(known))}"
    )
    if problems:
        for p in problems:
            print("ROTATION VIOLATION:", p)
        return 1
    print(f"rotation front OK ({GATE_N} slots)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
