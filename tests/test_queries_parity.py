"""Fast oracle-parity spot checks inside pytest (full gate: tools/parity).

Runs a representative subset of the registry at sf0.001 against DuckDB with
the same compare the standalone gate uses.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
from tools.parity import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "q01_pricing_summary",
    "q02_clean_features",
    "q05_route_topk",
    "q09_quantiles_iqr",
    "q20_sessionization",
    "q32_minhash_lsh_neardup",
    "q34_embedding_topk",
    "q37_text_quality",
    "q41_multimodal_decode",
    "q87_sequence_packing",
    "q92_simhash_neardup",
    "q93_conversion_funnel",
]


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_DIR)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    spec = QUERIES[name]
    assert spec.oracle is not None
    spark_pdf = spec.spark(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(spec.oracle).df()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, problems


def test_every_query_has_description_and_entry():
    assert len(QUERIES) >= 35
    for name, spec in QUERIES.items():
        assert spec.description, name
        assert callable(spec.spark), name


def test_q87_packing_invariants(spark):
    """Structural invariants the hash-match can't express: no bin exceeds
    the budget unless it is a single oversized doc, and bin indices are
    contiguous non-decreasing in doc order within each chunk."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.datapipe import (
        _PACK_BUDGET,
    )

    rows = (
        QUERIES["q87_sequence_packing"]
        .spark(spark, SF_DIR)
        .orderBy("chunk", "doc_id")
        .collect()
    )
    from collections import defaultdict

    fills = defaultdict(int)
    counts = defaultdict(int)
    last_bin = {}
    for r in rows:
        key = (r.chunk, r.bin_idx)
        fills[key] += r.n_tokens
        counts[key] += 1
        prev = last_bin.get(r.chunk, 0)
        assert r.bin_idx in (prev, prev + 1), "bins must be contiguous"
        last_bin[r.chunk] = r.bin_idx
    for key, fill in fills.items():
        assert fill <= _PACK_BUDGET or counts[key] == 1, (
            f"bin {key} over budget with {counts[key]} docs"
        )


def test_q90_budget_invariant(spark):
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.datapipe import (
        _MIX_BUDGET_TOKENS,
    )

    for r in QUERIES["q90_domain_mix_budget"].spark(spark, SF_DIR).collect():
        assert r.tokens_kept <= _MIX_BUDGET_TOKENS
        assert r.n_docs_kept >= 1


def test_driver_window_invariant():
    """The external driver verifies exactly the FIRST 50 registered
    queries; a typo in _PRIORITY (or a length drift) silently burns an
    external verification slot. Assert the window is exactly 50 resolved,
    duplicate-free names and that registration order actually honors it."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import _PRIORITY

    assert len(_PRIORITY) == 50, len(_PRIORITY)
    assert len(set(_PRIORITY)) == 50, "duplicate names in _PRIORITY"
    unknown = [n for n in _PRIORITY if n not in QUERIES]
    assert not unknown, f"_PRIORITY names not in registry: {unknown}"
    assert list(QUERIES)[:50] == _PRIORITY, (
        "registration order does not start with the priority window"
    )


def test_q120_skew_audit_invariants(spark):
    """Shares are a partition of the table (top-20 shares sum <= 1000)
    and every salt factor is >= 1 and <= 32 (a key can't need more
    spread than the partition count)."""
    rows = QUERIES["q120_join_skew_audit"].spark(spark, SF_DIR).collect()
    assert rows, "skew audit returned no keys"
    assert sum(r.share_permille for r in rows) <= 1000
    for r in rows:
        assert 1 <= r.salt_factor <= 32, r


def test_q122_scd2_conservation(spark):
    """Interval conservation: every event is exactly one interval, so
    n_closed + n_current sums to the event count, and current states
    sum to the distinct-user count (each user has exactly one open
    interval)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    rows = QUERIES["q122_scd2_intervals"].spark(spark, SF_DIR).collect()
    ev = read_table(spark, SF_DIR, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_closed + r.n_current_users for r in rows) == n_events
    assert sum(r.n_current_users for r in rows) == n_users


def test_q124_sampling_rate_contract(spark):
    """rate=1000 strata keep everything; no stratum keeps more than its
    total; rates take only the four documented values."""
    rows = QUERIES["q124_hash_threshold_sample"].spark(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.rate_permille in (1000, 500, 250, 125), r
        assert 0 <= r.n_kept <= r.n_total, r
        if r.rate_permille == 1000:
            assert r.n_kept == r.n_total, r


def test_q126_schedule_is_sorted_and_weighted(spark):
    """Schedule keys are nondecreasing, and in the md5-uniform limit the
    highest-weight language (en, weight 4) appears at least as often in
    the prefix as the lowest-weight ones (es/zh, weight 1) — a coarse
    bound that survives small-sample noise at sf0.001."""
    rows = QUERIES["q126_training_mix_schedule"].spark(spark, SF_DIR).collect()
    keys = [r.sched_key for r in rows]
    assert keys == sorted(keys)
    langs = [r.lang for r in rows]
    assert langs.count("en") >= max(langs.count("es"), langs.count("zh"))


def test_q128_bloom_prefilter_is_selective_and_lossless(spark):
    """The bitmap prefilter (rebuilt here exactly as q128 builds it) must
    pass every true-match row (no false negatives) while discarding a
    substantial share of non-matching probe rows (~80% expected for a
    1/5 segment at 1024 bits)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.datapipe import (
        _BF_SEGMENT,
        _BF_WORD,
        _bf_bucket_sql,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    dim = (
        read_table(spark, SF_DIR, "customer")
        .filter(F.col("c_mktsegment") == _BF_SEGMENT)
        .select("c_custkey")
    )
    bucket = _bf_bucket_sql("c_custkey", "STRING")
    words = dim.select(
        F.expr(f"({bucket}) div {_BF_WORD}").alias("w"),
        F.expr(f"shiftleft(1L, ({bucket}) % {_BF_WORD})").alias("v"),
    ).groupBy("w").agg(F.expr("bit_or(v)").alias("m"))
    mask = {int(r["w"]): int(r["m"]) for r in words.collect()}
    arr = [mask.get(i, 0) for i in range(1024 // _BF_WORD)]

    fact = read_table(spark, SF_DIR, "orders")
    fb = _bf_bucket_sql("o_custkey", "STRING")
    pred = F.expr(
        f"element_at(__mask, CAST(({fb}) div {_BF_WORD} AS INT) + 1)"
        f" & shiftleft(1L, ({fb}) % {_BF_WORD}) != 0"
    )
    with_mask = fact.withColumn(
        "__mask", F.array(*[F.lit(v).cast("long") for v in arr])
    )
    n_total = fact.count()
    n_pre = with_mask.filter(pred).count()
    true_matches = fact.join(
        F.broadcast(dim), fact.o_custkey == dim.c_custkey, "left_semi"
    )
    n_true = true_matches.count()
    # no false negatives: every true match survives the prefilter
    lost = true_matches.join(
        with_mask.filter(pred).select("o_orderkey"), "o_orderkey", "left_anti"
    ).count()
    assert lost == 0
    # selective: the prefilter discards a meaningful share of non-matches
    assert n_true <= n_pre < n_total
    assert (n_pre - n_true) <= 0.2 * n_total, (n_pre, n_true, n_total)


def test_q130_late_drops_actually_happen(spark):
    """The replay must really exercise late-data dropping: the summed
    emitted counts are strictly below the table's row count (rows were
    dropped AND the last unfinalized windows never emitted), and every
    window is hour-aligned."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    rows = QUERIES["q130_streaming_late_drop"].spark(spark, SF_DIR).collect()
    total = read_table(spark, SF_DIR, "events").count()
    emitted = sum(r.n_events for r in rows)
    assert 0 < emitted < total, (emitted, total)
    assert all(r.window_start_ms % 3600000 == 0 for r in rows)


def test_q131_cogroup_covers_all_orderkeys(spark):
    """Conservation: presence-class key counts sum to the distinct union
    of order keys across both tables, and lineitem rows are all
    accounted for."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    rows = QUERIES["q131_cogroup_reconcile"].spark(spark, SF_DIR).collect()
    o = read_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    l = read_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    n_keys_expected = o.union(l).distinct().count()
    n_lines_expected = l.count()
    assert sum(r.n_keys for r in rows) == n_keys_expected
    assert sum(r.n_lines for r in rows) == n_lines_expected


def test_q135_replay_batches_are_time_sorted(spark, monkeypatch, tmp_path):
    """q135's oracle seeds dedup state from the MIN within-batch event
    time; Spark seeds from the FIRST row the operator sees. The replay
    therefore stages each batch file sorted by (ts, event_id). Run q135
    itself with a spy on ``replay_files`` and assert every file it
    staged really is sorted, since an unsorted batch makes the oracle
    row-order-dependent (min-vs-max seeding measurably diverges at
    sf0.1)."""
    import contextlib
    import glob
    import os
    import tempfile

    import pandas as pd

    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming import pipeline

    real = pipeline.replay_files
    staged: dict[str, list] = {}

    @contextlib.contextmanager
    def spy(spark_, batches):
        with real(spark_, batches) as stream:
            (replay_dir,) = glob.glob(str(tmp_path / "replay_*"))
            for f in sorted(glob.glob(os.path.join(replay_dir, "*.parquet"))):
                pdf = pd.read_parquet(f)
                staged[os.path.basename(f)] = list(zip(pdf["ts"], pdf["event_id"]))
            yield stream

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(pipeline, "replay_files", spy)
    QUERIES["q135_streaming_dedup_within_watermark"].spark(spark, SF_DIR).collect()
    assert list(staged) == [f"{i:02d}.parquet" for i in range(4)]
    for name, keys in staged.items():
        assert keys and keys == sorted(keys), name


def test_q146_negative_slope_quantization_cross_engine(spark):
    """q146's permille slope must NOT rely on floor==truncate (CLAUDE.md
    lesson 11: Spark `div` truncates toward zero, DuckDB `//` floors —
    they diverge on signed operands). Fixture: a 3-point fit whose slope
    numerator is negative (-33) and whose 1000*num is NOT divisible by
    the denominator (14), so the old div/`//` pair would have returned
    -2357 vs -2358. The shipped round-half-up-on-exact-double form must
    give the identical value in Spark SQL and DuckDB."""
    import duckdb

    tail = (
        "SELECT CAST(FLOOR((1000.0{d} * CAST(n * sxy - sx * sy AS DOUBLE))"
        " / (n * sxx - sx * sx) + 0.5{d}) AS BIGINT) AS slope_permille "
        "FROM fit"
    )
    fit_sql = (
        "WITH daily(day_idx, y) AS (VALUES (0, 9), (1, 7), (3, 2)), "
        "fit AS (SELECT COUNT(*) AS n, CAST(SUM(day_idx) AS BIGINT) AS sx, "
        "CAST(SUM(y) AS BIGINT) AS sy, "
        "CAST(SUM(day_idx * y) AS BIGINT) AS sxy, "
        "CAST(SUM(day_idx * day_idx) AS BIGINT) AS sxx FROM daily) "
    )
    spark_val = spark.sql(fit_sql + tail.format(d="D")).collect()[0][0]
    duck_val = duckdb.sql(fit_sql + tail.format(d="")).fetchone()[0]
    # round-half-up(-33000/14) = round-half-up(-2357.142) = -2357;
    # the old floor-division oracle would have said -2358.
    assert spark_val == duck_val == -2357


def test_verifier_queries_name_existing_scale_twins():
    """Every verifier-tagged query must point at a registered scale twin
    (and vice versa — the pairing is enforced at registration, this
    pins resolution + that the known verifiers actually carry the tag)."""
    verifiers = {n: s for n, s in QUERIES.items() if "verifier" in s.tags}
    assert {"q45_ngram_jaccard", "q34_embedding_topk",
            "q113_media_neardup_phash"} <= set(verifiers)
    for name, spec in verifiers.items():
        assert spec.scale_twin in QUERIES, (name, spec.scale_twin)
        twin = QUERIES[spec.scale_twin]
        assert "verifier" not in twin.tags, (
            f"{name}: scale twin {twin.name} is itself a verifier"
        )


def test_round_on_decimal_tie_diverges_and_floor_form_does_not(spark):
    """The round-8 q86 red, pinned as a fixture: Spark's round() converts
    the double to its SHORTEST DECIMAL repr then rounds half-up, DuckDB
    rounds the raw binary double — on an exact decimal tie (q=40709
    cents over n=8 rows: mean = 50.88625, whose nearest double sits
    below the tie) they disagree. The FLOOR-quantized form computes one
    identical IEEE quotient and must agree in both engines. Guards the
    q70/q71/q73/q77/q86 fix."""
    import duckdb

    spark_round = spark.sql(
        "SELECT ROUND(40709 / 100.0D / 8, 4) AS r"
    ).collect()[0][0]
    duck_round = duckdb.sql("SELECT ROUND(40709 / 100.0 / 8, 4)").fetchone()[0]
    # The trap this test documents: the engines genuinely disagree here.
    assert spark_round != duck_round, (spark_round, duck_round)

    floor_sql = (
        "SELECT CAST(FLOOR(CAST(100 * 40709 AS DOUBLE) / 8 + 0.5{d})"
        " AS BIGINT) / 10000.0{d} AS r"
    )
    spark_floor = spark.sql(floor_sql.format(d="D")).collect()[0][0]
    duck_floor = duckdb.sql(floor_sql.format(d="")).fetchone()[0]
    assert spark_floor == duck_floor == 50.8863
