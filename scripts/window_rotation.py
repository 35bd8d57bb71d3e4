"""Compute the next DRIVER_WINDOW rotation mechanically.

The driver's correctness gate checks the first 50 entries of
``queries()`` each round (observed: CORRECTNESS_r{N}.json keys ==
the catalog's first 50 keys).  The rotation policy is: operators
that have NEVER had a driver-green row come first, in catalog order
(the domain modules' import order in ``plans/__init__.py``); once
everything oracle-backed has been exposed, fall back to
least-recently-exposed, ties again in catalog order.

Usage:  python scripts/window_rotation.py
Prints the proposed window (one name per line) plus a summary, and
verifies invariants (window size == min(50, candidates), all names
oracle-backed and in the catalog).
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW_SIZE = 50


def driver_exposed() -> dict[str, int]:
    """name -> LAST round it appeared in a CORRECTNESS file.

    Last, not first: the filler policy is least-RECENTLY-exposed, so
    an entry re-certified in round N must sort to the back for round
    N+1.  (The original first-exposure key made the r01-vintage
    anchors permanently sticky — the same 50 entries would have
    re-certified every round while the other ~200 never got a second
    driver row; caught in r12 when the proposal equaled r11's
    window.)"""
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as fh:
            for name in json.load(fh):
                seen[name] = max(rnd, seen.get(name, 0))
    return seen


def main() -> None:
    # The registry, not plans.CATALOG: ordering is the stable
    # registration order, not the current window order.
    from spark_bi5_datasource_spark.plans.registry import REGISTRY as catalog

    oracle_backed = [n for n, (_f, sql) in catalog.items() if sql is not None]
    exposed = driver_exposed()
    never = [n for n in oracle_backed if n not in exposed]
    # least-recently-exposed fill if the never-exposed set is short
    by_age = sorted((n for n in oracle_backed if n in exposed), key=lambda n: exposed[n])
    window = (never + by_age)[:WINDOW_SIZE]

    assert len(window) == min(WINDOW_SIZE, len(oracle_backed))
    assert len(set(window)) == len(window)
    assert set(window) <= set(catalog)

    print(f"# catalog: {len(catalog)} entries, {len(oracle_backed)} oracle-backed")
    print(f"# driver-exposed so far: {len(exposed)}; never exposed: {len(never)}")
    print(f"# proposed window ({len(window)}; {len(never)} never-exposed first):")
    for name in window:
        print(name)


if __name__ == "__main__":
    main()
