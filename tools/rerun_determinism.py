"""Re-run determinism sweep: every registered query must produce
IDENTICAL rows under different partition layouts.

The oracle gate (tools/parity.py) proves Spark-vs-DuckDB agreement for
one layout; this tool proves the other half of the registry contract —
run-to-run stability — by executing each query twice in one session
with spark.sql.shuffle.partitions flipped between a power of two (32)
and a coprime odd value (7). Any float summation order, arbitrary-row
dropDuplicates, or un-tiebroken LIMIT that slipped past the contract
shows up as a row diff here long before it flakes as a sporadic driver
hash mismatch.

Usage: python tools/rerun_determinism.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES  # noqa: E402
from nyc_yellow_taxi_trip_data_pipeline_spark.session import (  # noqa: E402
    get_spark,
    scoped_conf,
)

LAYOUTS = ("32", "7")


def canonical(df) -> list[tuple]:
    return sorted(
        tuple(str(v) for v in row) for row in df.collect()
    )


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    if args and (os.path.isdir(args[0]) or "/" in args[0]):
        sf_dir = args.pop(0)
    names = args or list(QUERIES)
    spark = get_spark("rerun-determinism")
    failures = 0
    for name in names:
        spec = QUERIES[name]
        runs = []
        for parts in LAYOUTS:
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": parts}):
                runs.append(canonical(spec.spark(spark, sf_dir)))
        if runs[0] == runs[1]:
            print(f"[ ok ] {name}: {len(runs[0])} rows stable")
        else:
            failures += 1
            a, b = set(runs[0]), set(runs[1])
            print(
                f"[FAIL] {name}: {len(runs[0])} vs {len(runs[1])} rows;"
                f" only@32={list(a - b)[:2]} only@7={list(b - a)[:2]}"
            )
    print(
        f"\n{len(names) - failures}/{len(names)} queries layout-stable"
        f" at {sf_dir}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
