"""The n_hashes dial: MinHash at 24 hashes, oracle-verified, with the
sharper signature-agreement gate measured on borderline pairs.

ARCHITECTURE.md documents n_hashes=24 as the knob for blob-heavy corpora
(halves the Jaccard-estimator sigma, sharpening both the band filter and
the agreement gate at 2x signature cost). These tests prove (a) the 24-hash
configuration is oracle-exact end-to-end, not just the registered 12-hash
default, and (b) the 24-hash agreement gate actually passes FEWER
sub-threshold borderline candidates while keeping every true near-dup.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
from nyc_yellow_taxi_trip_data_pipeline_spark.plans.datapipe import _mh_sql
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table
from tools.parity import compare, duck_connection

SF_DIR = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "n_hashes,band_size,sig_agree",
    [
        (12, 3, 5),  # registered default (q32)
        (24, 3, 10),  # sharpened dial: same ~0.42 relative gate, half sigma
    ],
)
def test_minhash_oracle_parity_at_dial(spark, n_hashes, band_size, sig_agree):
    spark_pdf = (
        dd.minhash_near_duplicates(
            read_table(spark, SF_DIR, "documents"),
            threshold=0.5,
            n_hashes=n_hashes,
            band_size=band_size,
            shingle_n=2,
            max_bucket=64,
            sig_agree_min=sig_agree,
        )
        .select("doc_a", "doc_b", "jaccard")
        .toPandas()
    )
    duck_pdf = (
        duck_connection(SF_DIR)
        .execute(_mh_sql(n_hashes, band_size, 64, sig_agree))
        .df()
    )
    problems = compare(f"minhash_n{n_hashes}", spark_pdf, duck_pdf)
    assert not problems, problems


def _borderline_corpus(spark):
    """100 borderline pairs (bigram Jaccard ~1/3) + 10 true near-dup pairs
    (~0.9). Per-pair token prefixes keep pairs mutually disjoint."""
    rows = []
    doc_id = 0
    n_border, n_true = 100, 10
    for p in range(n_border):
        common = [f"p{p}c{k}" for k in range(21)]
        ua = [f"p{p}a{k}" for k in range(20)]
        ub = [f"p{p}b{k}" for k in range(20)]
        rows.append((doc_id, " ".join(common + ua)))
        rows.append((doc_id + 1, " ".join(common + ub)))
        doc_id += 2
    for p in range(n_true):
        toks = [f"t{p}w{k}" for k in range(40)]
        toks_b = list(toks)
        toks_b[39] = f"t{p}x"
        rows.append((doc_id, " ".join(toks)))
        rows.append((doc_id + 1, " ".join(toks_b)))
        doc_id += 2
    return spark.createDataFrame(rows, "doc_id long, text string")


def _gate_survivors(spark, docs, n_hashes, sig_agree):
    """All-pairs candidates pushed through ONLY the agreement gate (no
    banding, no exact verify) — isolates the gate being measured."""
    sh = dd.shingle_distinct(docs, n=2)
    sigs = dd.minhash_signatures(sh, n_hashes=n_hashes)
    ids = docs.select(F.col("doc_id").alias("doc_a"))
    pairs = ids.crossJoin(docs.select(F.col("doc_id").alias("doc_b"))).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    out = dd.sig_agreement_filter(pairs, sigs, sig_agree, n_hashes=n_hashes)
    return {(r.doc_a, r.doc_b) for r in out.collect()}


def test_24_hash_gate_is_sharper_on_borderline_pairs(spark):
    docs = _borderline_corpus(spark)
    true_pairs = {
        (a, a + 1) for a in range(200, 220, 2)
    }  # the 10 near-dup pairs appended after the 100 borderline pairs
    border_pairs = {(a, a + 1) for a in range(0, 200, 2)}

    s12 = _gate_survivors(spark, docs, n_hashes=12, sig_agree=5)
    s24 = _gate_survivors(spark, docs, n_hashes=24, sig_agree=10)

    # Zero recall loss at the top: every true near-dup passes both gates.
    assert true_pairs <= s12
    assert true_pairs <= s24

    # The sharper estimator passes strictly fewer j~1/3 borderline pairs
    # into (what would be) exact verification — the cost the gate exists
    # to cut.
    b12 = len(s12 & border_pairs)
    b24 = len(s24 & border_pairs)
    assert b24 < b12, f"24-hash gate not sharper: {b24} vs {b12} borderline"


def test_simhash_wide_bands_full_recall_within_radius(spark):
    """Pigeonhole property of the Hamming-LSH banding: every pair within
    the radius (max_hamming < n_bands) must be found — construct
    fingerprints at known distances and check recall/exclusion."""
    base = 0b101010101010101010101010101010101010101010101010101010101010
    rows = [
        (0, base),
        (1, base ^ 0b111),            # hamming 3 (all in band 0) -> found
        (2, base ^ (1 | 1 << 20 | 1 << 40)),  # hamming 3 spread over 3 bands -> found
        (3, base ^ 0b11110000),       # hamming 4 -> excluded by exact check
    ]
    fp = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dd.simhash_near_duplicates(
            fp, n_bits=60, n_bands=4, max_hamming=3
        ).collect()
    }
    assert got[(0, 1)] == 3
    assert got[(0, 2)] == 3
    assert (0, 3) not in got
    # bucket cap drops a boilerplate blob but keeps the distinct pair
    blob = [(10 + i, base ^ (1 << 59)) for i in range(30)]
    fp2 = spark.createDataFrame(rows[:2] + blob, "doc_id long, simhash long")
    capped = dd.simhash_near_duplicates(
        fp2, n_bits=60, n_bands=4, max_hamming=3, max_bucket=10
    ).collect()
    pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert (0, 1) in pairs
    assert not any(a >= 10 and b >= 10 for a, b in pairs)


def test_verification_helpers_pick_plan_from_measured_pair_count(spark):
    """Round-11 regression pin for the verification-join strategy dial:
    when ``pairs_count`` is omitted, the helpers must materialize the
    candidate set, MEASURE it, and pick the broadcast-restricted plan
    for small counts (the q98/q167 call sites previously always fell to
    the SMJ path and recomputed the un-checkpointed band-join chain per
    consumer); an explicit count above ``dd._BROADCAST_CAP`` must keep the
    corpus side out of any broadcast (100x safety: the full shingle
    table must never hash-build)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    sh = dd.shingle_distinct(docs, n=2).localCheckpoint(eager=True)
    sigs = dd.minhash_signatures(sh, n_hashes=12).localCheckpoint(eager=True)
    cands = dd.lsh_candidate_pairs(
        dd.lsh_bands(sigs, n_hashes=12, band_size=2), max_bucket=64
    )

    # pairs_count omitted -> helper measures it (tiny here) and the
    # verification joins run broadcast-restricted.
    jac = dd.jaccard_on_pairs(cands, sh)
    plan = jac._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan, plan

    agree = dd.sig_agreement_filter(cands, sigs, min_agree=6)
    aplan = agree._jdf.queryExecution().executedPlan().toString()
    aplan = aplan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in aplan, aplan

    # A declared-huge pair count must force the spill-safe SMJ path on
    # the verification joins (no broadcast of the corpus-scaled side).
    cands_p = cands.localCheckpoint(eager=True)
    big = dd.jaccard_on_pairs(cands_p, sh, pairs_count=10_000_000)
    bplan = big._jdf.queryExecution().executedPlan().toString()
    bplan = bplan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" in bplan, bplan
    assert "BroadcastHashJoin" not in bplan, bplan

    # The two strategies must agree value-exactly (strategy is an
    # execution dial, never a semantics dial).
    small_rows = sorted(map(tuple, jac.collect()))
    big_rows = sorted(map(tuple, big.collect()))
    assert small_rows == big_rows and len(small_rows) > 0
