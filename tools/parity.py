"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every registered query in Spark and its oracle SQL in DuckDB on the
same parquet tables, then compares: row count, column names, dtype
(a value hash sees the dtype: a column whose pandas dtype KIND differs
between engines, or a DuckDB object column holding Decimals or lists,
is a problem even when every value matches), and an
order-insensitive exact value comparison (columns sorted by name, rows
sorted by all columns, floats compared bit-for-bit — stricter than any
tolerance-based hash the driver might use).

Usage: python -m tools.parity [--bare] [--window] [--conf k=v ...]
[--static-conf k=v ...] [sf_dir] [query ...]

``--static-conf k=v`` (repeatable) applies BUILDER-time confs — core
Spark confs such as ``spark.python.worker.reuse`` reject runtime
``conf.set``. Implies ``--bare`` (the repo's cached session cannot take
them) and verifies each conf actually landed on the live context.

``--window`` restricts the run to the 50 ``_PRIORITY`` queries — exactly
the set the external driver will verify this round. Combine with
``--bare`` for the fastest faithful driver rehearsal before an end-of-
round commit.

``--tz ZONE`` (e.g. ``--tz America/New_York``) sets
``spark.sql.session.timeZone`` for the whole run: the driver builds its
session with the MACHINE timezone, and every query must stay
oracle-exact regardless (``sources/io.read_table`` pins event-time
normalization to UTC internally). A full sweep under a shifted zone
proves the inventory timezone-immune instead of assuming it.
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb
import pandas as pd

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import _PRIORITY, QUERIES
from nyc_yellow_taxi_trip_data_pipeline_spark.session import get_spark
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import TESTDATA_TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def dtype_kind_split(spark_col: pd.Series, duck_col: pd.Series) -> tuple[str, str] | None:
    """(spark kind, duck kind) when one column's dtype KINDs differ
    between engines, else None. The numeric compare harmonizes
    int-vs-float, but the driver hashes values through their dtype — an
    uncast SUM(BIGINT) oracle column arriving HUGEINT→float64
    hash-splits against Spark's int64 even though every value compares
    equal (the round-6 q88/q90/q97 reds). Allowlisted: Spark DATE
    (object of datetime.date) vs DuckDB datetime64 — driver-green rows
    (q63/q86) prove that pairing benign."""
    import datetime as _dt

    kinds = {"i": "int", "u": "int", "f": "float", "b": "bool",
             "O": "object", "M": "datetime"}
    ks, kd = (kinds.get(c.dtype.kind, c.dtype.kind) for c in (spark_col, duck_col))
    if ks == kd or (
        ks == "object"
        and kd == "datetime"
        and len(spark_col)
        and isinstance(spark_col.iloc[0], _dt.date)
    ):
        return None
    return ks, kd


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_cols, d_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if s_cols != d_cols:
        problems.append(f"columns spark={s_cols} duck={d_cols}")
        return problems
    # Dtype-KIND check before value comparison (registry rule 3).
    for c in s_cols:
        split = dtype_kind_split(spark_pdf[c], duck_pdf[c])
        if split is None:
            # Same kind on both sides, but an object column holding
            # Decimals or lists hashes as those objects, not as the
            # numbers the value compare below sees.
            first = duck_pdf[c].iloc[0] if len(duck_pdf) else None
            if duck_pdf[c].dtype.kind == "O" and not isinstance(
                first, (str, bytes, type(None))
            ):
                problems.append(
                    f"exotic-dtype col {c!r}: duck object dtype holds "
                    f"{type(first).__name__} — cast the oracle column to a "
                    "plain SQL type (registry rule 3)"
                )
            continue
        problems.append(
            f"dtype-kind col {c!r}: spark {split[0]}({spark_pdf[c].dtype}) vs "
            f"duck {split[1]}({duck_pdf[c].dtype}) — values may still match but "
            "the driver's value-hash will split (registry rule 3)"
        )
    if problems:
        return problems
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if str(sv.dtype).startswith("datetime") or str(dv.dtype).startswith("datetime"):
            sv = pd.to_datetime(sv).dt.tz_localize(None)
            dv = pd.to_datetime(dv).dt.tz_localize(None)
        eq = (sv == dv) | (sv.isna() & dv.isna())
        if not eq.all():
            bad = (~eq).idxmax()
            problems.append(
                f"col {c!r}: {int((~eq).sum())}/{len(eq)} mismatched rows; "
                f"first at sorted-row {bad}: spark={sv[bad]!r} duck={dv[bad]!r} "
                f"(dtypes {s[c].dtype}/{d[c].dtype})"
            )
    return problems


def _conf_pair(text: str) -> tuple[str, str]:
    k, sep, v = text.partition("=")
    if not sep:
        raise argparse.ArgumentTypeError(f"requires a k=v operand, got {text!r}")
    return k, v


def parse_args(argv: list[str]) -> argparse.Namespace:
    """Flags anywhere on the line; the first operand is ``sf_dir`` when it
    is a directory or contains ``/``, the rest are query names. A
    malformed flag exits 2."""
    parser = argparse.ArgumentParser(
        prog="python -m tools.parity",
        description="DuckDB-oracle parity sweep; the first operand is the "
        "sf_dir when it is a directory or contains '/'.",
    )
    # --bare: run under a driver-faithful BARE SparkSession (no repo
    # configs — no AQE tuning, no pinned timezone, default shuffle
    # partitions). The external driver builds its own session exactly like
    # this; any query that only passes under get_spark()'s configs is a
    # latent driver red (the round-5 NTZ regression was this class).
    parser.add_argument("--bare", action="store_true")
    parser.add_argument("--window", action="store_true")
    parser.add_argument("--tz", metavar="ZONE")
    # Repeatable --conf k=v: runtime confs applied to the session before
    # any query runs — e.g. sweep every streaming replay under the
    # RocksDB state-store provider instead of only the q44 unit test.
    parser.add_argument(
        "--conf", action="append", default=[], type=_conf_pair, metavar="k=v"
    )
    # Repeatable --static-conf k=v: BUILDER-time confs (core Spark confs
    # like spark.python.worker.reuse are not runtime-settable — conf.set
    # on a live session raises). Implies --bare: get_spark()'s session is
    # process-cached, so only a fresh bare builder can honor these.
    parser.add_argument(
        "--static-conf",
        action="append",
        default=[],
        type=_conf_pair,
        metavar="k=v",
    )
    parser.add_argument("queries", nargs="*", metavar="sf_dir|query")
    args = parser.parse_intermixed_args(argv)
    args.bare = args.bare or bool(args.static_conf)
    sf_dir = "/root/testdata/sf0.01"
    ops = args.queries
    if ops and (os.path.isdir(ops[0]) or "/" in ops[0]):
        sf_dir = ops.pop(0)
        if not os.path.isdir(sf_dir):
            parser.error(f"sf_dir {sf_dir!r} is not a directory")
    args.sf_dir = sf_dir
    return args


def main() -> int:
    args = parse_args(sys.argv[1:])
    names = args.queries or list(_PRIORITY if args.window else QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"error: unknown queries {unknown}; known: {sorted(QUERIES)}")
        return 2
    if args.bare:
        from pyspark.sql import SparkSession  # noqa: PLC0415

        # SPARK_GRAFT_CPUS is the driver's own core dial (bench.py reads
        # the same variable) — honoring it makes `--bare` runnable at the
        # driver's exact parallelism (default 8 keeps routine sweeps
        # cheap; local[N] changes defaultParallelism and therefore input
        # split counts, a layout axis the shuffle-partition flip doesn't
        # cover).
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
        builder = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("parity-bare")
            .config("spark.ui.enabled", "false")
        )
        for k, v in args.static_conf:
            builder = builder.config(k, v)
            print(f"[static-conf {k}={v}]")
        spark = builder.getOrCreate()
        if args.static_conf:
            # getOrCreate() silently reuses a pre-existing session, which
            # would ignore every builder conf — verify each one landed.
            for k, v in args.static_conf:
                got = spark.sparkContext.getConf().get(k, None)
                if got != v:
                    print(
                        f"[static-conf ERROR] {k}={got!r} on the live "
                        f"session (wanted {v!r}) — a prior SparkSession "
                        "in this process swallowed the builder conf"
                    )
                    return 2
        print(f"[bare session — driver-faithful, no repo configs, local[{cpus}]]")
    else:
        spark = get_spark("parity-check")
    if args.tz:
        spark.conf.set("spark.sql.session.timeZone", args.tz)
        print(f"[session timezone shifted to {args.tz}]")
    for k, v in args.conf:
        # Static/non-runtime confs (or a typo'd key) raise from
        # conf.set after session creation — fail legibly instead of
        # aborting the sweep with a stack trace (ADVICE r9).
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # noqa: BLE001
            print(
                f"[conf ERROR] cannot set {k}={v} on a live session "
                f"({type(exc).__name__}: {exc}) — static confs must go "
                "on the builder; check the key for typos"
            )
            return 2
        print(f"[conf {k}={v}]")
    con = duck_connection(args.sf_dir)
    failures = 0
    for name in names:
        spec = QUERIES[name]
        if spec.oracle is None:
            df = spec.spark(spark, args.sf_dir)
            n = df.count()
            print(f"[rows-only] {name}: {n} rows")
            continue
        try:
            spark_pdf = spec.spark(spark, args.sf_dir).toPandas()
            duck_pdf = con.execute(spec.oracle).df()
            problems = compare(name, spark_pdf, duck_pdf)
        except Exception as exc:  # noqa: BLE001
            problems = [f"exception: {type(exc).__name__}: {exc}"]
        if problems:
            failures += 1
            print(f"[FAIL] {name}")
            for p in problems:
                print(f"       {p}")
        else:
            print(f"[ ok ] {name}: {len(spark_pdf)} rows match")
    print(f"\n{len(names) - failures}/{len(names)} queries match at {args.sf_dir}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
