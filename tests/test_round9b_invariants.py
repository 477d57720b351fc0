"""Round-9 second-wave pins: cross-engine Levenshtein agreement behind
q182's oracle, the banded (3-arg) threshold form's -1 contract, and the
skyline dominance tie semantics behind q185."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf


CASES = [
    ("kitten", "sitting"),
    ("", "abc"),
    ("abc", ""),
    ("same text here", "same text here"),
    ("the fast key order sort", "the fast key order sort merge"),
    ("a b c d e f g h", "a x c d e f g h"),
    ("aaaa", "bbbb"),
]


def test_levenshtein_spark_matches_duckdb(spark):
    """q182's verify stage assumes Spark and DuckDB implement the same
    unit-cost edit distance. Pin it on empty/equal/prefix/replace
    shapes so an engine swap (or a DuckDB grapheme-mode change) fails
    loudly here instead of as a sporadic parity red."""
    df = spark.createDataFrame(CASES, "a string, b string")
    got = [
        r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()[0]
        for a, b in CASES
    ]
    assert got == want


def test_levenshtein_threshold_band_contract(spark):
    """The 3-arg banded form q182 uses must return the exact distance
    at-or-under the threshold and -1 (never a clamped value) over it —
    the oracle's WHERE dist <= k filter relies on exactly this."""
    df = spark.createDataFrame([("kitten", "sitting")], "a string, b string")
    row = df.select(
        F.levenshtein("a", "b", 3).alias("at"),
        F.levenshtein("a", "b", 2).alias("under"),
    ).collect()[0]
    assert row.at == 3
    assert row.under == -1


@pytest.mark.parametrize(
    ("points", "frontier"),
    [
        # strict dominance removes the dominated point
        ([(1, 10, 10), (2, 5, 5)], {1}),
        # equal on both dims: neither dominates — both survive
        ([(1, 10, 10), (2, 10, 10)], {1, 2}),
        # same x, higher y dominates
        ([(1, 10, 10), (2, 10, 11)], {2}),
        # same y, higher x dominates
        ([(1, 10, 10), (2, 11, 10)], {2}),
        # classic staircase: all three incomparable
        ([(1, 1, 30), (2, 2, 20), (3, 3, 10)], {1, 2, 3}),
        # a point beaten only by the COMBINED envelope still survives
        # (skyline is pairwise dominance, not envelope containment)
        ([(1, 1, 30), (2, 3, 10), (3, 2, 20)], {1, 2, 3}),
    ],
)
def test_q185_dominance_tie_semantics(spark, tmp_path, points, frontier):
    """Pin the max-max dominance algebra of the sort-based skyline:
    a point is dropped iff some other point is >= on both dims and >
    on at least one. Exercised through the registered query itself on
    a tiny orders fixture (price_cents = 100*o_totalprice, order_day
    derived from epoch days)."""
    import datetime as dt

    rows = [
        (
            key,
            0,
            "O",
            cents / 100.0,
            dt.datetime(1970, 1, 1) + dt.timedelta(days=day),
            "1-URGENT",
        )
        for key, cents, day in points
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = QUERIES["q185_pareto_frontier"].spark(spark, str(tmp_path))
    assert {r.o_orderkey for r in out.collect()} == frontier


def test_q187_confs_restored_on_failure(spark, tmp_path):
    """q187 flips four session confs (bloom runtime filter thresholds +
    broadcast disable) around its scoped collect; a query that explodes
    inside the scope (here: an orders fixture missing o_orderpriority,
    which fails analysis) must restore every one of them (lesson 15 /
    r8 verdict finding #1 applied to the new query). The comparison is
    on the EXPLICIT settings, ``get(k, None)``, and the prior state
    holds both kinds: two keys unset, two set to a value."""
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    spark.createDataFrame([(1,)], "l_orderkey bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame([(1,)], "o_orderkey bigint").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "orders.parquet"))
    prior = dict(zip(keys, (None, None, "1048576", "2097152")))
    with scoped_conf(spark, prior):
        before = {k: spark.conf.get(k, None) for k in keys}
        assert before == prior
        with pytest.raises(Exception):
            QUERIES["q187_runtime_bloom_join"].spark(spark, str(tmp_path))
        assert {k: spark.conf.get(k, None) for k in keys} == before


def test_epoch_day_bucketing_at_fractional_day_boundary(spark, tmp_path):
    """DuckDB's CAST(epoch(ts) AS BIGINT) ROUNDS fractional seconds
    (23:59:59.7 lands in the NEXT day) while Spark's unix_timestamp
    truncates — the helpers.SQL_UNIX_TS trap. q188/q189's oracles use
    the FLOOR form; this fixture plants an event 0.3s before midnight
    and proves both engines bucket it into the SAME day/week."""
    import datetime as dt

    import duckdb

    rows = [
        (1, dt.datetime(2024, 1, 2, 23, 59, 59, 700000), 1, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 3, 0, 0, 0, 200000), 1, "a", 2.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint,"
        " event_type string, value double, props string",
    )
    path = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(path)
    got = sorted(
        tuple(r)
        for r in QUERIES["q189_partial_agg_rollup"]
        .spark(spark, str(tmp_path))
        .select("week", "event_type", "n_events", "value_cents")
        .collect()
    )
    con = duckdb.connect()
    # Spark wrote a directory table; DuckDB needs the leaf-file glob
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{path}/*.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            QUERIES["q189_partial_agg_rollup"].oracle
        ).fetchall()
    )
    assert got == want
    # and the two events genuinely straddle a day boundary in BOTH
    # engines (the fixture is only a pin if the hazard case is present)
    days = con.execute(
        "SELECT DISTINCT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400"
        " FROM events"
    ).fetchall()
    assert len(days) == 2
