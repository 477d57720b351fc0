"""Memo-semantics tests for the r16 shared MinHash build
(``plans/datapipe._minhash_verified_pairs`` / ``_minhash_cc_labels``)
and the other shared-build families of the session memo (``memo``).

The sharing is a correctness RISK CLASS of its own: a wrong memo key
serves one corpus's pair set to another corpus, one dial's pairs to
the other dial, or stale pairs after an in-place regeneration — all
silent value corruption the oracle gate would only catch if the
affected query happens to be in the driver window that round. These
tests pin each failure mode on engineered corpora where the expected
pair sets differ by construction.
"""

from __future__ import annotations

import os

import pandas as pd

from tests.test_q32_engineered_corpus import _corpus, _write_sf

_RECIPE = dict(
    threshold=0.5,
    n_hashes=12,
    band_size=3,
    shingle_n=2,
    max_bucket=64,
    sig_agree_min=5,
)


def _write_docs(sf: str, docs: dict[int, str]) -> None:
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(list(docs.keys()), dtype="int64"),
            "text": list(docs.values()),
            "lang": "en",
            "source": "engineered",
            "n_chars": pd.array(
                [len(t) for t in docs.values()], dtype="int64"
            ),
        }
    )
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)


def _pairs(spark, sf: str) -> set[tuple[int, int]]:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    df = dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    return {(int(r.doc_a), int(r.doc_b)) for r in df.collect()}


def test_memo_hit_returns_cached_build(spark, tmp_path):
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = _write_sf(tmp_path)
    a = dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    b = dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    assert a is b, "identical (corpus, recipe) key must hit the memo"
    cc_a = dp._minhash_cc_labels(spark, sf, **_RECIPE)
    cc_b = dp._minhash_cc_labels(spark, sf, **_RECIPE)
    assert cc_a is cc_b


def test_memo_rebuilds_on_inplace_regeneration(spark, tmp_path):
    """Invariant 5's drift scenario applied to the memo: rewriting the
    documents table IN PLACE must move the data fingerprint and rebuild
    — a stale hit would serve the old corpus's pairs against new data."""
    sf = str(tmp_path)
    _write_docs(sf, _corpus())
    before = _pairs(spark, sf)
    assert (1, 2) in before  # the engineered identical pair

    # Regenerate in place: drop the identical pair (doc 2 becomes a
    # zero-overlap singleton), keep everything else.
    docs2 = dict(_corpus())
    docs2[2] = " ".join(f"s5z{i}" for i in range(1, 25))
    _write_docs(sf, docs2)
    after = _pairs(spark, sf)
    assert (1, 2) not in after, (
        "memo served a stale build after in-place regeneration: "
        f"{sorted(after)}"
    )
    assert (3, 4) in after  # untouched chain still pairs


def test_memo_dial_isolation_q32_vs_q101(oracle_parity, tmp_path):
    """q32 (12 hashes, agree>=5) and q101 (24 hashes, agree>=10) share
    the memo machinery on the SAME corpus in one session — each must
    still match its own oracle (the recipe tuple in the key is what
    prevents one dial's pairs being served to the other)."""
    sf = _write_sf(tmp_path)
    for name in ("q32_minhash_lsh_neardup", "q101_minhash_neardup_sharp"):
        oracle_parity(name, sf)


def test_sigs_memo_shared_below_pair_memo(spark, tmp_path):
    """The base-table memo (`_minhash_shingle_sigs`) is one level below
    the pair memo: building pairs must populate it, a direct read must
    hit the same objects, and the shingle table must be shared across
    hash dials (shingles don't depend on n_hashes)."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = _write_sf(tmp_path)
    dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    sh12, sigs12 = dp._minhash_shingle_sigs(
        spark, sf, shingle_n=2, n_hashes=_RECIPE["n_hashes"]
    )
    sh12b, sigs12b = dp._minhash_shingle_sigs(
        spark, sf, shingle_n=2, n_hashes=_RECIPE["n_hashes"]
    )
    assert sh12 is sh12b and sigs12 is sigs12b
    sh24, sigs24 = dp._minhash_shingle_sigs(
        spark, sf, shingle_n=2, n_hashes=24
    )
    assert sh24 is sh12, "shingles must be shared across hash dials"
    assert sigs24 is not sigs12, "signatures must NOT cross dials"


def test_sigs_memo_rebuilds_on_inplace_regeneration(spark, tmp_path):
    """q94 consumes the base-table memo directly — a stale signature hit
    after in-place regeneration would silently dedup the new corpus
    against the old corpus's signatures."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = str(tmp_path)
    _write_docs(sf, _corpus())
    sh_before, _ = dp._minhash_shingle_sigs(spark, sf)
    n_before = sh_before.count()
    docs2 = dict(_corpus())
    docs2[2] = " ".join(f"s5z{i}" for i in range(1, 25))
    _write_docs(sf, docs2)
    sh_after, _ = dp._minhash_shingle_sigs(spark, sf)
    assert sh_after is not sh_before, (
        "base-table memo served a stale build after in-place regeneration"
    )
    assert sh_after.count() != n_before


_SH_RECIPE = dict(n_bits=60, n_bands=4, max_hamming=3, max_bucket=64)


def test_simhash_memo_hit_and_regeneration(spark, tmp_path):
    """The text-SimHash pair memo (q92/q123's shared build) follows the
    same key discipline: identical (corpus, dial) hits the cached
    object; in-place regeneration moves the fingerprint and rebuilds."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = str(tmp_path)
    _write_docs(sf, _corpus())
    a = dp._simhash_verified_pairs(spark, sf, **_SH_RECIPE)
    b = dp._simhash_verified_pairs(spark, sf, **_SH_RECIPE)
    assert a is b
    got = {(int(r.doc_a), int(r.doc_b)) for r in a.collect()}
    assert (1, 2) in got  # identical docs share every band

    docs2 = dict(_corpus())
    docs2[2] = " ".join(f"s5z{i}" for i in range(1, 25))
    _write_docs(sf, docs2)
    c = dp._simhash_verified_pairs(spark, sf, **_SH_RECIPE)
    assert c is not a, (
        "SimHash memo served a stale build after in-place regeneration"
    )
    assert (1, 2) not in {
        (int(r.doc_a), int(r.doc_b)) for r in c.collect()
    }


def test_simhash_memo_q92_q123_oracle_parity(oracle_parity, tmp_path):
    """q92 and q123 read the shared SimHash build in one session — each
    must still match its own oracle on the engineered corpus."""
    sf = _write_sf(tmp_path)
    for name in ("q92_simhash_neardup", "q123_lsh_verify_editdist"):
        oracle_parity(name, sf)


def test_ann_ranking_memo_hit_and_regeneration(spark, tmp_path):
    """The ANN ranking memo (q145/q164/q169's shared build) keys on the
    EMBEDDINGS fingerprint: identical corpus hits the cached dict;
    regenerating embeddings.parquet in place must rebuild, and the
    brute ranking must reflect the new vectors."""
    import numpy as np

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    def write(sf, boost_id):
        vecs = {
            i: np.asarray(
                [1.0 + i, float(i % 3), float(i % 5), 1.0],
                dtype=np.float32,
            )
            for i in range(24)
        }
        # make one vector the overwhelming top-cosine hit
        vecs[boost_id] = np.asarray(
            [100.0, 0.0, 0.0, 0.0], dtype=np.float32
        )
        pdf = pd.DataFrame(
            {
                "vec_id": pd.array(list(vecs), dtype="int64"),
                "embedding": list(vecs.values()),
                "label": pd.array([i % 4 for i in vecs], dtype="int32"),
            }
        )
        pdf.to_parquet(os.path.join(sf, "embeddings.parquet"), index=False)

    sf = str(tmp_path)
    write(sf, boost_id=7)
    a = dp._ann_rankings(spark, sf)
    assert dp._ann_rankings(spark, sf) is a, "same corpus must hit memo"

    write(sf, boost_id=9)
    b = dp._ann_rankings(spark, sf)
    assert b is not a, (
        "ANN memo served a stale build after in-place regeneration"
    )


def _pair_keys(sf: str | None = None) -> list:
    """The session memo's verified-pair keys, (session, family, name,
    token) with name = (sf_dir, shuffle partitions, recipe); only
    ``sf``'s when given."""
    from nyc_yellow_taxi_trip_data_pipeline_spark import memo

    return [
        k
        for k in list(memo._ENTRIES)
        if k[1] == "minhash_pairs" and (sf is None or k[2][0] == sf)
    ]


def test_dead_session_entries_evicted_on_insert(spark, tmp_path):
    """ADVICE r15: memo entries from stopped sessions can never be
    returned (their DataFrames are dead) — inserting under a live
    session must drop every foreign-session key while keeping the live
    session's own entries."""
    from nyc_yellow_taxi_trip_data_pipeline_spark import memo
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = _write_sf(tmp_path)
    live = dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    live_keys = _pair_keys(sf)
    assert live_keys, "the live session's build must be cached"

    dead_key = (("app-dead-0001", "session-dead"),) + live_keys[0][1:]
    memo._ENTRIES[dead_key] = object()
    # Any cold build under the live session triggers eviction-on-insert.
    dp._minhash_verified_pairs(spark, sf, **{**_RECIPE, "threshold": 0.6})
    assert dead_key not in memo._ENTRIES, (
        "foreign-session entry survived eviction-on-insert"
    )
    assert dp._minhash_verified_pairs(spark, sf, **_RECIPE) is live, (
        "live session's entry must survive the eviction pass"
    )


def test_stale_fingerprint_entry_evicted_on_insert(spark, tmp_path):
    """ADVICE r16: after an in-place regeneration the old-fingerprint
    key (same session, same sf_dir, same recipe + layout) is
    unreachable forever — the refill must pop it instead of pinning its
    eager-checkpoint blocks for the session's lifetime. Cross-corpus
    entries (another sf_dir, same recipe) must SURVIVE the pass: they
    are live and interleaved reads hit them again."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = os.path.join(str(tmp_path), "a")
    other = os.path.join(str(tmp_path), "b")
    os.makedirs(sf)
    os.makedirs(other)
    _write_docs(sf, _corpus())
    _write_docs(other, {k: v for k, v in _corpus().items() if k != 1})
    dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    other_df = dp._minhash_verified_pairs(spark, other, **_RECIPE)
    old_keys = _pair_keys(sf)
    assert len(old_keys) == 1

    docs2 = dict(_corpus())
    docs2[2] = " ".join(f"s5z{i}" for i in range(1, 25))
    _write_docs(sf, docs2)
    dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    keys_now = _pair_keys(sf)
    assert old_keys[0] not in keys_now, (
        "stale-fingerprint entry survived the refill (ADVICE r16 leak)"
    )
    assert len(keys_now) == 1
    assert dp._minhash_verified_pairs(spark, other, **_RECIPE) is other_df, (
        "cross-corpus entry must survive a stale-fingerprint eviction"
    )


def test_shared_build_seconds_accounting(spark, tmp_path):
    """bench.py's shared_build_sec source: a cold pair build records
    positive EXCLUSIVE seconds under every level it filled (pairs ->
    sigs -> shingles, each under its own family, so the values sum
    without double counting), and a memo hit records nothing more."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import datapipe as dp

    sf = _write_sf(tmp_path)
    app = spark.sparkContext.applicationId
    before = dp.shared_build_seconds(app)
    dp._minhash_verified_pairs(spark, sf, **_RECIPE)
    after = dp.shared_build_seconds(app)
    for fam in ("minhash_pairs", "minhash_sigs", "minhash_shingles"):
        assert after.get(fam, 0.0) > before.get(fam, 0.0), (
            f"cold build did not record exclusive seconds for {fam}"
        )
    dp._minhash_verified_pairs(spark, sf, **_RECIPE)  # memo hit
    assert dp.shared_build_seconds(app) == after, (
        "a memo hit must not record additional build seconds"
    )


def test_get_or_build_returns_value_and_sweeps_dead_sessions(spark):
    """``memo.get_or_build`` hands back the value it built or found
    (callers never re-read the dict, so a concurrent eviction cannot
    raise KeyError), and a fill drops the counters (build seconds
    included) of every other session."""
    from nyc_yellow_taxi_trip_data_pipeline_spark import memo

    session = (
        spark.sparkContext.applicationId,
        spark._jsparkSession.sessionUUID(),
    )
    dead = (("app-of-a-stopped-session", "session-dead"), "minhash_pairs")
    memo._COUNTS[dead] = [0, 1, 1.0]
    fam, name = "memo_fill_probe", ("memo-fill-probe", "sf")
    key = (session, fam, name, "tok")
    try:
        assert memo.get_or_build(spark, fam, name, "tok", lambda: "built") == "built"
        assert memo.get_or_build(spark, fam, name, "tok", lambda: "again") == "built"
        assert {k: v for k, v in memo._ENTRIES.items() if k[1] == fam} == {
            key: "built"
        }
        assert {s for s, _ in memo._COUNTS} == {session}
    finally:
        memo._ENTRIES.pop(key, None)
        memo._COUNTS.pop((session, fam), None)


def test_memo_cross_corpus_interleaving(spark, tmp_path):
    """Two corpora interleaved in one session: A, B, then A again —
    each read must return its own corpus's pairs (path+fingerprint in
    the key), and the second A read must be byte-stable."""
    sf_a = os.path.join(str(tmp_path), "a")
    sf_b = os.path.join(str(tmp_path), "b")
    os.makedirs(sf_a)
    os.makedirs(sf_b)
    _write_docs(sf_a, _corpus())
    docs_b = {k: v for k, v in _corpus().items() if k not in (1, 2)}
    _write_docs(sf_b, docs_b)

    first_a = _pairs(spark, sf_a)
    b = _pairs(spark, sf_b)
    second_a = _pairs(spark, sf_a)
    assert (1, 2) in first_a
    assert (1, 2) not in b
    assert first_a == second_a


def test_dsir_bucket_memo_hit_equivalence_and_regeneration(spark, tmp_path):
    """The DSIR bucket-count memo (q111/q114's shared build): identical
    (corpus, n) hits the cached object; the memoized table equals a
    direct recompute of the bigram-fingerprint bucket counts row for
    row; in-place regeneration moves the fingerprint and rebuilds."""
    from pyspark.sql import functions as F

    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import (
        dedup as dd,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import (
        datapipe as dp,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table,
    )

    sf = str(tmp_path)
    _write_docs(sf, _corpus())
    a = dp._dsir_bucket_counts(spark, sf, n=2)
    b = dp._dsir_bucket_counts(spark, sf, n=2)
    assert a is b, "identical (corpus, n) key must hit the memo"

    # Row-for-row equivalence against an un-memoized direct build.
    docs = read_table(spark, sf, "documents")
    bg = dd.ngram_fingerprints(docs, n=2, extra_cols=())
    direct = (
        bg.select(
            "doc_id",
            F.expr(
                "(instr('0123456789abcdef', substr(ng, 1, 1)) - 1) * 16"
                " + (instr('0123456789abcdef', substr(ng, 2, 1)) - 1)"
            ).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )
    got = {
        (int(r.doc_id), int(r.bucket), int(r.n)) for r in a.collect()
    }
    want = {
        (int(r.doc_id), int(r.bucket), int(r.n))
        for r in direct.collect()
    }
    assert got == want, "memoized bucket counts diverge from direct build"

    # In-place regeneration must rebuild (fingerprint in the key).
    docs2 = dict(_corpus())
    docs2[1] = "entirely new words " + " ".join(
        f"zq{i}" for i in range(40)
    )
    _write_docs(sf, docs2)
    c = dp._dsir_bucket_counts(spark, sf, n=2)
    assert c is not a, (
        "DSIR memo served a stale build after in-place regeneration"
    )
