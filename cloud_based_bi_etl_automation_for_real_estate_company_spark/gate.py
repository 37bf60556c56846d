"""Correctness-gate rotation.

The catalog's correctness gate checks only the first 50 registered
queries each round and records the results as
``CORRECTNESS_r<N>.json``. Registering names in staleness order —
never checked first, then oldest newest-check round, then by name —
makes every round re-check the stalest tier, derived from the
recorded artifacts instead of staged by hand.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable


def load_latest(root: str) -> dict[str, int]:
    """Newest correctness-gate round per catalog name, unioned over
    every CORRECTNESS_r*.json in ``root``."""
    latest: dict[str, int] = {}
    for fp in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(fp).split("_r")[1].split(".")[0])
        with open(fp) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def staleness_order(names: Iterable[str], latest: dict[str, int]) -> list[str]:
    """``names`` stalest first: never checked, then by ascending newest
    check round, then by name."""
    return sorted(names, key=lambda n: (n in latest, latest.get(n, 0), n))
