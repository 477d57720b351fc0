"""Cross-engine dtype audit: catch driver-hash landmines before the driver.

The round-6 driver reds (q88/q90/q97) were invisible locally because the
VALUES matched — only the dtypes diverged (DuckDB HUGEINT -> pandas
float64 vs Spark int64), and the driver hashes values through their
dtype. This audit runs every oracle on DuckDB and every Spark query and
flags any column whose pandas dtype KIND differs between engines
(int vs float vs bool vs object vs datetime), plus any exotic DuckDB
dtype (decimal objects, uint, etc.) that a hasher could canonicalize
differently from the local numeric compare.

Usage: python tools/dtype_audit.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES  # noqa: E402
from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark  # noqa: E402
from tools.parity import duck_connection, dtype_kind_split  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("dtype-audit")
    con = duck_connection(sf_dir)
    problems = 0
    for name, spec in QUERIES.items():
        if spec.oracle is None:
            continue
        try:
            s = spec.spark(spark, sf_dir).limit(1).toPandas()
            d = con.execute(spec.oracle).df().head(1)
        except Exception as exc:  # noqa: BLE001
            problems += 1
            print(f"[ERR ] {name}: {type(exc).__name__}: {exc}")
            continue
        flags = []
        for c in s.columns:
            if c not in d.columns:
                flags.append(f"col {c!r} missing in oracle")
                continue
            split = dtype_kind_split(s[c], d[c])
            if split is not None:
                flags.append(f"col {c!r}: spark {split[0]}({s[c].dtype}) vs duck {split[1]}({d[c].dtype})")
            elif d[c].dtype.kind == "O" and len(d) and not isinstance(d[c].iloc[0], (str, bytes, type(None))):
                flags.append(f"col {c!r}: duck object dtype holds {type(d[c].iloc[0]).__name__}")
        if flags:
            problems += 1
            print(f"[FLAG] {name}")
            for f in flags:
                print(f"       {f}")
    print(f"\n{problems} queries flagged (dtype-kind divergence or exotic oracle dtype)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
