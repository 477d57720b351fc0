"""Cross-round bench A/B, the mechanized form of lesson 31.

Usage: python tools/bench_ab.py OLD.json NEW.json [--all] [--band R]

Judges two bench snapshots (bench.py output or BENCH_r{N}.json driver
records — both shapes handled by ``load``) the way the
repo's lesson 31 prescribes:

- the comparison set is restricted to BYTE-IDENTICAL queries — those
  whose current plan-function+oracle hash still matches
  ``tools/verified_hashes.json`` (queries edited since their last
  external verification moved for a known reason and would pollute the
  distribution); ``--all`` lifts the restriction;
- the verdict is the RATIO DISTRIBUTION (median / p10 / p90), never
  totals: a uniform shift across the whole set is environment
  inflation (the cold-pass trap generalized), only structure beyond
  the band is a real delta;
- structure detection: queries whose ratio exceeds ``--band`` (default
  1.25) x the median are grouped by their registry TAGS — a CLUSTER
  (a systematic regression in one operator family) needs BOTH three
  or more flagged queries sharing a tag AND the flagged set covering
  >= 25% of that tag's compared population (the broad tags — 'agg' is
  on 74 queries, 'audit'/'training-data' on 35-42 — would otherwise
  collect three unrelated noise flags and cry cluster; measured r16:
  three adjacent sub-1.4 s queries flagged at ~1.35x re-ran SLOWER in
  isolation, i.e. pure environment variance). Isolated flags with no
  qualifying tag cluster read as noise.
- a warning line when both files carry bench.py's provenance block and
  their cpu counts differ (lesson 31's ratios assume one host size).

Exit code 1 iff a cluster is found, so the closing-commit ritual can
gate on it.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.verified_manifest import _load, query_hash  # noqa: E402


def load(path: str) -> dict[str, float]:
    """Per-query seconds of a bench.py output line or of a driver
    record, which wraps the bench line under a truncated "tail"."""
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return doc["queries"]
    if isinstance(doc.get("parsed"), dict):
        return doc["parsed"]["queries"]
    # driver record with truncated tail: regex out the per-query pairs
    tail = doc.get("tail", "")
    return {
        k: float(v)
        for k, v in re.findall(r'"(q\d+[a-z0-9_]*)":\s*([\d.]+)', tail)
    }


def cpu_count(path: str) -> int | None:
    """The cpu count a bench.py output file records in its provenance
    block (None for files written before bench.py recorded one)."""
    with open(path) as f:
        doc = json.load(f)
    return (doc.get("provenance") or {}).get("nproc")


def main(argv: list[str]) -> int:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    args = [a for a in argv if not a.startswith("--")]
    use_all = "--all" in argv
    band = 1.25
    if "--band" in argv:
        band = float(argv[argv.index("--band") + 1])
        args = [a for a in args if a != str(band)]
    old, new = load(args[0]), load(args[1])
    cpus = cpu_count(args[0]), cpu_count(args[1])
    if None not in cpus and cpus[0] != cpus[1]:
        print(
            f"warning: cpu counts differ ({cpus[0]} vs {cpus[1]}); the ratios"
            " mix host sizes, not only code"
        )

    manifest = _load()
    identical = {
        name
        for name, entry in QUERIES.items()
        if name in manifest and manifest[name]["hash"] == query_hash(entry)
    }
    common = sorted(set(old) & set(new) & set(QUERIES))
    compared = common if use_all else [q for q in common if q in identical]
    edited = [q for q in common if q not in identical]
    print(
        f"{len(compared)} byte-identical queries compared"
        f" ({len(edited)} edited-since-verification excluded:"
        f" {', '.join(edited) if edited else '-'})"
    )
    if use_all:
        print("(--all: edited queries INCLUDED in the distribution)")

    ratios = {q: new[q] / old[q] for q in compared if old[q]}
    ordered = sorted(ratios.values())
    if not ordered:
        print("nothing to compare")
        return 0
    median = ordered[len(ordered) // 2]
    p10 = ordered[len(ordered) // 10]
    p90 = ordered[9 * len(ordered) // 10]
    print(
        f"ratio distribution: median {median:.3f} | p10 {p10:.3f} | "
        f"p90 {p90:.3f}  (uniform shift = environment, not code)"
    )

    # Structure beyond the band, grouped by registry tags.
    flagged = {
        q: r
        for q, r in ratios.items()
        if r > band * median and new[q] - old[q] > 0.2
    }
    by_tag: dict[str, list[str]] = defaultdict(list)
    tag_pop: dict[str, int] = defaultdict(int)
    for q in compared:
        for tag in getattr(QUERIES[q], "tags", ()) or ():
            tag_pop[tag] += 1
            if q in flagged:
                by_tag[tag].append(q)
    clusters = {
        t: qs
        for t, qs in by_tag.items()
        if len(qs) >= 3 and len(qs) * 4 >= tag_pop[t]
    }
    for q, r in sorted(flagged.items(), key=lambda kv: -kv[1]):
        print(f"  flag {q:36s} {old[q]:7.2f} -> {new[q]:7.2f} ({r:4.2f}x)")
    if clusters:
        for tag, qs in sorted(clusters.items()):
            print(f"CLUSTER tag={tag!r}: {len(qs)} flagged ({', '.join(sorted(qs))})")
        return 1
    print(
        f"no tag cluster among {len(flagged)} flagged queries"
        " — deltas read as noise"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
