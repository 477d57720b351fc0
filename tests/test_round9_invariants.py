"""Round-9 structural invariants: conf-leak containment, the pinned
session_window boundary semantics behind q161's microsecond oracle, and
the verification-staleness contract (any query whose plan/oracle source
changed since its last external verification must be in the driver
window)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf

SF_DIR = "/root/testdata/sf0.001"


def test_q160_conf_restored_when_query_fails(spark):
    """q160 sets spark.sql.python.filterPushdown.enabled at runtime; a
    failing scan (here: nonexistent sf_dir, which explodes inside the
    Python source's stats-pruning metadata read) must NOT leak the conf
    into the shared session (r8 verdict finding #1). The comparison is
    on the EXPLICIT setting, ``get(k, None)``, from both prior states: a
    key that was unset before must be unset again, not pinned to a
    value, and an explicit value must come back."""
    key = "spark.sql.python.filterPushdown.enabled"
    for prior in (None, "false"):
        with scoped_conf(spark, {key: prior}):
            with pytest.raises(Exception):
                QUERIES["q160_python_datasource_scan"].spark(
                    spark, "/nonexistent_dir_round9"
                )
            assert spark.conf.get(key, None) == prior


def _sessions(spark, tss):
    df = spark.createDataFrame(
        [(1, t) for t in tss], "user_id int, ts timestamp"
    )
    return (
        df.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .count()
    )


def test_session_window_boundary_pin(spark):
    """Empirical pin behind q161's oracle algebra (ADVICE r8): Spark's
    SessionWindow compares FULL microsecond timestamps, merging at a gap
    of EXACTLY 30 min (adjacent windows coalesce when next.start ==
    prev.end) and splitting at 30 min + 1 us. The +500 us case is the
    interval (30min, 30min+1ms) where the old ms-truncated oracle
    diverged — it must SPLIT."""
    base = dt.datetime(2024, 1, 1, 0, 0, 0, 0)
    gap_us = 30 * 60 * 1_000_000
    two = lambda us: [base, base + dt.timedelta(microseconds=us)]  # noqa: E731
    assert _sessions(spark, two(gap_us)) == 1  # exact 30 min merges
    assert _sessions(spark, two(gap_us - 1)) == 1
    assert _sessions(spark, two(gap_us + 1)) == 2  # 1 us over splits
    assert _sessions(spark, two(gap_us + 500)) == 2  # the old-oracle trap


def test_q161_oracle_rule_matches_pin():
    """The oracle's break rule (strict > at microsecond precision) must
    encode exactly the pinned boundary above."""
    sql = QUERIES["q161_session_window_batch"].oracle
    assert "tus - prev > 1800000000" in sql
    assert "epoch_us" in sql
    assert "1800000 " not in sql.split("flagged")[1].split("sess")[0]


MANIFEST = os.path.join(
    os.path.dirname(__file__), "..", "tools", "verified_hashes.json"
)


def test_modified_queries_are_in_driver_window():
    """r8 verdict 'What's wrong' #2: a query whose plan function or
    oracle changed since its newest external CORRECTNESS row must not
    sit outside the driver window — local parity alone has missed
    environment-divergence classes before (q88/q90/q97, q77/q86).

    tools/verified_hashes.json records the source hash of every query as
    of its last externally-verified state; tools/verified_manifest.py
    refreshes it at round start from the newest CORRECTNESS file. Any
    current hash mismatch (or a brand-new query) must appear in
    _PRIORITY."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import _PRIORITY
    from tools.verified_manifest import query_hash

    with open(MANIFEST) as fh:
        manifest = json.load(fh)
    window = set(_PRIORITY)
    stale = []
    for name, entry in QUERIES.items():
        recorded = manifest.get(name, {}).get("hash")
        if recorded != query_hash(entry) and name not in window:
            stale.append(name)
    assert not stale, (
        "queries modified (or added) since their last external "
        f"verification but missing from _PRIORITY: {stale}"
    )


def test_priority_window_fits_driver_budget():
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import _PRIORITY

    assert len(_PRIORITY) <= 50
    assert len(set(_PRIORITY)) == len(_PRIORITY)
    unknown = [q for q in _PRIORITY if q not in QUERIES]
    assert not unknown, unknown


def test_window_planner_agrees_with_ratchet():
    """tools/window_planner.py replicates this file's staleness ratchet
    from the same inputs; its mandatory tier must (a) all sit inside the
    current window and (b) fit the 50-slot budget — if either fails here,
    the hand-written _PRIORITY and the planner have diverged."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import _PRIORITY
    from tools.window_planner import WINDOW_SIZE, plan

    p = plan()
    assert p["overflow"] == 0
    window = set(_PRIORITY)
    assert [n for n in p["mandatory"] if n not in window] == []
    assert len(p["proposed_window"]) <= WINDOW_SIZE
    # Every proposed fill row is a real registered query.
    assert set(p["proposed_window"]) <= set(QUERIES)


def test_oracle_lint_clean():
    """Static bit-portability lint over every oracle (lessons 11/16/18
    mechanized): ROUND/transcendentals/float-SUM only where sanctioned
    and verified, engine hashes and volatile functions never."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.oracle_lint import violations

    assert violations() == []


def test_coverage_md_lists_every_survey_operator_id():
    """COVERAGE.md is the hand-maintained SURVEY.md §2 map the judge
    walks line by line; a row must exist for every operator ID so an
    inventory change can't silently drop one."""
    ids = (
        [f"S{i}" for i in range(1, 14)]
        + [f"P{i}" for i in range(1, 14)]
        + ["J1"]
        + [f"A{i}" for i in range(1, 15)]
        + [f"O{i}" for i in range(1, 6)]
        + [f"F{i}" for i in range(1, 15)]
        + [f"ST{i}" for i in range(1, 5)]
        + ["U1", "U2"]
        + [f"M{i}" for i in range(1, 10)]
    )
    import re

    path = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    with open(path) as fh:
        text = fh.read()
    # Scans/projections/aggregations/streaming use table rows; the
    # F/O/U/M families are covered in prose (ranges like "M1–M6" count
    # each endpoint, so require a word-boundary hit per ID).
    missing = [
        i
        for i in ids
        if f"| {i} " not in text
        and not re.search(rf"\b{i}\b", text)
    ]
    assert not missing, f"COVERAGE.md lost rows for: {missing}"
