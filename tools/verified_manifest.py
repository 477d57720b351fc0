"""Track which source each query was last EXTERNALLY verified at.

``tools/verified_hashes.json`` maps query name -> {hash, round}, where
``hash`` fingerprints the query's plan-function source plus its oracle
SQL as of the last state that earned a green external CORRECTNESS row
(or, equivalently, the judge's live parity run at a round boundary).
``tests/test_round9_invariants.py`` enforces: any query whose CURRENT
hash differs (edited or newly added) must be in ``_PRIORITY`` so the
next driver round re-verifies it — local parity alone has missed
environment-divergence classes before (r6 q88/q90/q97; r8 q77/q86).

Limitations (documented, accepted): the hash covers the registered plan
function's own source and the realized oracle string — not module-level
constants or helper functions it calls. Deep-helper edits should be
rotated in manually; the test is a ratchet, not a proof.

Usage (from the repo root):
  python tools/verified_manifest.py --seed N
      Record CURRENT hashes for ALL queries as verified-at-round-N.
      Only correct when HEAD is exactly the externally-verified state
      (e.g. run with PYTHONPATH pointing at a checkout of the round-N
      end commit).
  python tools/verified_manifest.py --refresh CORRECTNESS_r0X.json N
      Update hashes only for queries with a fully-green row in that
      file. Run at round START, before any edits: the driver ran on the
      previous round's end commit, which is what HEAD still is.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys

# Runnable as `python tools/verified_manifest.py` from the repo root:
# the script-dir sys.path[0] (tools/) would otherwise hide the package.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

MANIFEST_PATH = os.path.join(os.path.dirname(__file__), "verified_hashes.json")


def _green(row) -> bool:
    """A fully-green driver row: rows, schema and value hash all match."""
    return (
        isinstance(row, dict)
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and bool(row.get("hash_match"))
    )


def query_hash(entry) -> str:
    src = inspect.getsource(entry.spark)
    oracle = entry.oracle or ""
    return hashlib.md5((src + "\n#ORACLE\n" + oracle).encode()).hexdigest()


def _load() -> dict:
    if os.path.exists(MANIFEST_PATH):
        with open(MANIFEST_PATH) as fh:
            return json.load(fh)
    return {}


def _save(manifest: dict) -> None:
    with open(MANIFEST_PATH, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")


def main(argv: list[str]) -> int:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    if argv[:1] == ["--seed"] and len(argv) == 2:
        rnd = int(argv[1])
        manifest = {
            name: {"hash": query_hash(entry), "round": rnd}
            for name, entry in QUERIES.items()
        }
        _save(manifest)
        print(f"seeded {len(manifest)} hashes at round {rnd}")
        return 0
    if argv[:1] == ["--refresh"] and len(argv) == 3:
        corr_path, rnd = argv[1], int(argv[2])
        with open(corr_path) as fh:
            rows = json.load(fh)
        manifest = _load()
        n = 0
        for name, row in rows.items():
            if _green(row) and name in QUERIES:
                manifest[name] = {
                    "hash": query_hash(QUERIES[name]),
                    "round": rnd,
                }
                n += 1
        _save(manifest)
        print(f"refreshed {n} hashes from {corr_path} at round {rnd}")
        return 0
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
