"""Driver-window rotation planner (lesson 19 mechanized).

The external driver verifies only the FIRST 50 registered queries each
round (``_PRIORITY`` in ``plans/__init__.py``), so window composition is
slot economics: every NEW or EDITED query is forced in by the staleness
ratchet (tests/test_round9_invariants.py), and the remaining slots should
go to the queries whose newest green DRIVER row is oldest. This tool
derives that plan from the repo's own records instead of hand-maintained
comments:

- tier 1 (MANDATORY): queries whose current source hash differs from
  ``tools/verified_hashes.json`` (edited since last external
  verification) or that are absent from it (brand new);
- tier 2 (OWED, oldest first): every other query ranked by the newest
  round with a fully-green row across ALL ``CORRECTNESS_r0*.json`` files
  (driver rows are the hard currency — a judge parity run can refresh
  the hash manifest, but the per-round driver row history is what this
  ordering uses), tibroken by registration order.

Usage (repo root):
  python tools/window_planner.py            # propose the next window
  python tools/window_planner.py --check    # audit the CURRENT _PRIORITY:
      every tier-1 query must be in it (the ratchet test, replicated) and
      the composition/freshness report is printed for the round log.

The proposal is a starting point, not an order: sit-outs still need the
written double-coverage rationales the verdict checks, and heavy
re-verified hitters should stay untouched per CLAUDE.md lesson 19.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Runnable as `python tools/window_planner.py` from the repo root.
sys.path.insert(0, REPO)

from tools.verified_manifest import _green, _load, query_hash  # noqa: E402

WINDOW_SIZE = 50


def newest_driver_rows() -> dict[str, int]:
    """query name -> newest round with a fully-green driver row."""
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if _green(row):
                newest[name] = max(newest.get(name, 0), rnd)
    return newest


def plan() -> dict:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import (  # noqa: PLC0415
        _PRIORITY,
        QUERIES,
    )

    manifest = _load()
    driver_rows = newest_driver_rows()

    # Registration order AFTER the _PRIORITY reorder is itself
    # window-shaped; rank ties by name for a stable, order-independent
    # proposal instead.
    # ONE effective-freshness map used by the ranking AND every printed
    # report (ADVICE r9: reports previously used the raw driver rows,
    # so never-driver-verified queries printed r00 while the ranking
    # treated them as manifest-round fresh — the two could disagree).
    # Effective freshness = newest driver row, falling back to the
    # manifest round (a seed from a judge live-parity pass) when a
    # query has never had its own driver row (documented sit-outs).
    effective: dict[str, int] = {}
    mandatory: list[str] = []
    rest: list[tuple[int, str]] = []
    for name, entry in QUERIES.items():
        effective[name] = driver_rows.get(
            name, manifest.get(name, {}).get("round", 0)
        )
        recorded = manifest.get(name, {}).get("hash")
        if recorded != query_hash(entry):
            mandatory.append(name)
        else:
            rest.append((effective[name], name))
    mandatory.sort()
    rest.sort(key=lambda t: (t[0], t[1]))

    fill = WINDOW_SIZE - len(mandatory)
    proposed = mandatory + [n for _, n in rest[:max(fill, 0)]]
    return {
        "mandatory": mandatory,
        "owed_order": rest,
        "proposed_window": proposed,
        "overflow": max(len(mandatory) - WINDOW_SIZE, 0),
        "current_window": list(_PRIORITY),
        "effective_rounds": effective,
    }


def main(argv: list[str]) -> int:
    p = plan()
    if p["overflow"]:
        print(
            f"ERROR: {p['overflow']} mandatory (edited/new) queries do not "
            f"fit the {WINDOW_SIZE}-slot window — stop adding/editing "
            "queries this round."
        )
        return 1
    if argv[:1] == ["--check"]:
        window = set(p["current_window"])
        missing = [n for n in p["mandatory"] if n not in window]
        if missing:
            print(f"RATCHET VIOLATION — edited/new but not in window: {missing}")
            return 1
        ages = sorted(
            (p["effective_rounds"].get(n, 0), n)
            for n in p["current_window"]
        )
        print(
            f"current window ok: {len(p['mandatory'])} mandatory in, "
            f"{WINDOW_SIZE - len(p['current_window'])} free slots"
        )
        oldest_out = [
            (r, n) for r, n in p["owed_order"] if n not in window
        ][:10]
        print(f"oldest driver rows OUTSIDE the window: {oldest_out}")
        print(f"oldest inside: {ages[:5]}")
        return 0
    print(f"mandatory ({len(p['mandatory'])}):")
    for n in p["mandatory"]:
        print(f"  {n}")
    fill = p["proposed_window"][len(p["mandatory"]):]
    print(f"fill, oldest driver row first ({len(fill)}):")
    for n in fill:
        print(f"  r{p['effective_rounds'].get(n, 0):02d} {n}")
    nxt = [
        (r, n) for r, n in p["owed_order"] if n not in set(p["proposed_window"])
    ][:15]
    print(f"first sit-outs (need double-coverage rationales): {nxt}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
