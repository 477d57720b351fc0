"""Property + invariant checks for the round-9 second-wave queries:
the skyline oracle vs a brute-force dominance reference, the
partial-aggregate merge identity, SCD2 interval algebra, Markov
conservation, and Spearman boundary fixtures."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=60, deadline=None)
def test_q185_oracle_matches_bruteforce_skyline(pts):
    """The sort-based skyline SQL must agree with the O(n^2) dominance
    definition (some other point >= on both dims and > on at least
    one) on arbitrary small point sets, duplicates included."""
    rows = [
        (i, x / 100.0, dt.datetime(1970, 1, 1) + dt.timedelta(days=y))
        for i, (x, y) in enumerate(pts)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders (o_orderkey BIGINT, o_totalprice DOUBLE,"
        " o_orderdate TIMESTAMP)"
    )
    con.executemany("INSERT INTO orders VALUES (?, ?, ?)", rows)
    got = {
        r[0]
        for r in con.execute(
            QUERIES["q185_pareto_frontier"].oracle
        ).fetchall()
    }
    want = {
        i
        for i, (x, y) in enumerate(pts)
        if not any(
            (x2 >= x and y2 >= y and (x2 > x or y2 > y))
            for j, (x2, y2) in enumerate(pts)
            if j != i
        )
    }
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # day
            st.sampled_from(["a", "b"]),
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=60, deadline=None)
def test_q189_partial_merge_equals_direct(rows):
    """The associative-merge identity behind q189: per-row quantize ->
    daily partials -> weekly merge must equal the direct weekly
    aggregation, for any input (the quantization happens BEFORE the
    first aggregation, so both paths sum the same integers)."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (day BIGINT, typ VARCHAR, value DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    q = "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
    direct = con.execute(
        f"SELECT day // 7, typ, COUNT(*), SUM({q}) FROM t"
        " GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    merged = con.execute(
        f"""
        WITH daily AS (
          SELECT day, typ, COUNT(*) AS n, SUM({q}) AS s
          FROM t GROUP BY day, typ
        )
        SELECT day // 7, typ, SUM(n), SUM(s)
        FROM daily GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    assert direct == merged


SENTINEL = 253402300799999999


def test_q186_interval_algebra(spark):
    """SCD2 output invariants on real data: per user, versions are
    contiguous from 1, intervals chain exactly (valid_to == next
    valid_from), exactly one open row carries the far-future sentinel
    and is_current=1, consecutive versions change the tracked
    attribute, and event counts conserve."""
    out = (
        QUERIES["q186_scd2_history"].spark(spark, SF_DIR).toPandas()
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    n_events = read_table(spark, SF_DIR, "events").count()
    assert int(out["n_events"].sum()) == n_events
    for _, g in out.groupby("user_id"):
        g = g.sort_values("version").reset_index(drop=True)
        assert list(g["version"]) == list(range(1, len(g) + 1))
        assert (g["is_current"] == [0] * (len(g) - 1) + [1]).all()
        assert g["valid_to_us"].iloc[-1] == SENTINEL
        for i in range(len(g) - 1):
            assert g["valid_to_us"].iloc[i] == g["valid_from_us"].iloc[i + 1]
            assert g["event_type"].iloc[i] != g["event_type"].iloc[i + 1]
        assert g["valid_from_us"].is_monotonic_increasing


def test_q184_markov_conservation(spark):
    """Transition counts conserve: every event except each user's first
    contributes exactly one transition, and each row of the matrix
    sums to 1000 permille within the FLOOR-rounding slack (|types|/2)."""
    out = QUERIES["q184_markov_transitions"].spark(spark, SF_DIR).toPandas()
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    ev = read_table(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert int(out["n_trans"].sum()) == n_events - n_users
    for _, g in out.groupby("prev_type"):
        assert abs(int(g["row_permille"].sum()) - 1000) <= len(g) / 2 + 1


def _events_fixture(spark, tmp_path, day_values):
    rows = [
        (
            i,
            dt.datetime(2024, 1, 1 + day, 12, 0, 0),
            1,
            "a",
            float(v),
            "{}",
        )
        for i, (day, v) in enumerate(day_values)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize(
    ("day_values", "expected"),
    [
        # strictly increasing day means -> perfect positive rank corr
        ([(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)], 1000),
        # strictly decreasing -> perfect negative
        ([(0, 4.0), (1, 3.0), (2, 2.0), (3, 1.0)], -1000),
        # constant means -> zero variance -> NULL
        ([(0, 2.0), (1, 2.0), (2, 2.0)], None),
    ],
)
def test_q188_spearman_boundaries(spark, tmp_path, day_values, expected):
    out = QUERIES["q188_spearman_trend"].spark(
        spark, _events_fixture(spark, tmp_path, day_values)
    ).collect()
    assert len(out) == 1
    assert out[0].rho_permille == expected


def test_q184_q186_timestamp_tie_total_order(spark, tmp_path):
    """Three events sharing ONE microsecond timestamp: the (ts,
    event_id) total order must sequence them by event_id in both the
    transition matrix and the SCD2 build — without the tiebreak the
    sequence (and thus every downstream count) would depend on
    partition layout."""
    t = dt.datetime(2024, 1, 5, 9, 30, 0)
    rows = [
        (10, t, 7, "a", 1.0, "{}"),
        (11, t, 7, "b", 1.0, "{}"),
        (12, t, 7, "c", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    sf = str(tmp_path)

    tr = QUERIES["q184_markov_transitions"].spark(spark, sf).collect()
    assert {(r.prev_type, r.event_type) for r in tr} == {
        ("a", "b"),
        ("b", "c"),
    }

    hist = (
        QUERIES["q186_scd2_history"].spark(spark, sf).toPandas()
        .sort_values("version")
    )
    assert list(hist["event_type"]) == ["a", "b", "c"]
    assert list(hist["version"]) == [1, 2, 3]


def test_timestamp_queries_survive_foreign_session_timezone():
    """The driver builds its own session with the MACHINE timezone; if
    that ever differs from UTC, read_table's UTC pin (io.py) must keep
    every epoch-derived column oracle-exact. Runs in a clean subprocess
    with a deliberately shifted session timezone and compares a
    timestamp-heavy round-9 query against its DuckDB oracle."""
    import subprocess
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    code = (
        f"import sys; sys.path.insert(0, {str(root)!r})\n"
        "import duckdb\n"
        "from pyspark.sql import SparkSession\n"
        "from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "  .config('spark.ui.enabled', 'false')\n"
        "  .config('spark.sql.session.timeZone', 'America/New_York')\n"
        "  .getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "sf = '/root/testdata/sf0.001'\n"
        "con = duckdb.connect()\n"
        "con.execute(\"create view events as select * from\"\n"
        "  \" read_parquet('\" + sf + \"/events.parquet')\")\n"
        "name = 'q186_scd2_history'\n"
        "sp = sorted(tuple(str(v) for v in r)\n"
        "  for r in QUERIES[name].spark(spark, sf).collect())\n"
        "du = sorted(tuple(str(v) for v in r)\n"
        "  for r in con.execute(QUERIES[name].oracle).fetchall())\n"
        "assert sp == du, 'tz-shifted session diverged from oracle'\n"
        "print('TZ_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=root,
    )
    assert "TZ_OK" in out.stdout, out.stderr[-2000:]


@given(
    parts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),   # file count
            st.integers(min_value=1, max_value=5000), # rows
            st.integers(min_value=1, max_value=10**7) # bytes
        ),
        min_size=1,
        max_size=12,
    ),
    target_files=st.integers(min_value=1, max_value=6),
    by_bytes=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_plan_compaction_invariants(parts, target_files, by_bytes):
    """The shared q196/q197 bin-pack planner (plans/layout.py) holds its
    contract on arbitrary partition shapes: single-file partitions are
    never selected, every selected partition's rewrite strictly reduces
    its file count to exactly ceil(rows/max_rec), the size-richest
    partition's bin-packed target never exceeds target_files (the
    ADVICE-r13 non-empty-selection clamp), the size-richest partition
    is also WRITER-feasible within target_files (the ADVICE-r14 byte-
    mode max_rec clamp: ceil(rows_richest/max_rec) <= target_files, so
    a fragmented richest partition is always selectable even when its
    bytes-per-row is far below the global average), and the writer
    budget is always a valid maxRecordsPerFile (>= 1). Empty stats
    return an empty plan rather than raising (ADVICE r14)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.layout import (
        plan_compaction,
    )

    assert plan_compaction({}, target_files, by_bytes) == ([], 1, {})

    stats = {f"p={i}": t for i, t in enumerate(parts)}
    todo, max_rec, needed = plan_compaction(stats, target_files, by_bytes)

    assert max_rec >= 1
    size_of = (lambda t: t[2]) if by_bytes else (lambda t: t[1])
    richest = max(stats, key=lambda d: size_of(stats[d]))
    assert needed[richest] <= target_files
    # the non-empty-selection guarantee end-to-end: if the size-richest
    # partition is fragmented past target_files, it must be selected
    assert -(-stats[richest][1] // max_rec) <= target_files
    if stats[richest][0] > target_files:
        assert richest in todo
    for d in stats:
        nf, rows, _ = stats[d]
        expect = max(1, -(-rows // max_rec))
        if d in todo:
            assert nf > 1, "single-file partition selected"
            assert nf > needed[d], "selected without planned improvement"
            assert expect < nf, "selected without writer-feasible reduction"
        else:
            # skipped because it is already at/below the planned target
            # OR the row-sized rewrite would not improve it
            assert nf <= needed[d] or expect >= nf
