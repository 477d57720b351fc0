"""Unit tests for dedup / similarity / text / multimodal operators on tiny
hand-checkable inputs."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import multimodal as mm
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import similarity as sim
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content entirely here now"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    groups = {r["text"]: r for r in dd.exact_dedup_groups(docs).collect()}
    dup = groups["the quick brown fox jumps over the lazy dog"]
    assert dup["canonical_id"] == 0 and dup["n_copies"] == 2


def test_dedup_keep_first_deterministic(docs):
    kept = dd.dedup_keep_first(docs, ["text"], "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 2]


def test_minhash_finds_planted_neardup(docs):
    pairs = dd.minhash_near_duplicates(
        docs, threshold=0.5, n_hashes=12, band_size=2, shingle_n=2
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (0, 3) in got  # exact dup: jaccard 1.0
    assert all(j.jaccard >= 0.5 for j in pairs)
    pair_03 = next(r for r in pairs if (r.doc_a, r.doc_b) == (0, 3))
    assert pair_03.jaccard == 1.0


def test_jaccard_value_exact(spark):
    docs2 = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c e")], "doc_id long, text string"
    )
    sh = dd.shingle_distinct(docs2, n=1)
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    j = dd.jaccard_on_pairs(pairs, sh).collect()[0]
    assert j.jaccard == 3 / 5  # |{a,b,c}| / |{a,b,c,d,e}|


def test_simhash_identical_docs_equal_fingerprints(docs):
    fps = {r.doc_id: r.simhash for r in dd.simhash16(dd.tokenize_distinct(docs)).collect()}
    assert fps[0] == fps[3]           # identical token sets
    assert 0 <= fps[0] < (1 << 16)
    assert fps[0] != fps[2]           # disjoint content differs


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # close to 0
        (2, [0.0, 1.0, 0.0], 0),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0], 1),  # opposite
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk_ordering(vectors):
    got = sim.brute_force_topk(vectors, query_vec_id=0, k=3).collect()
    assert [r.vec_id for r in got] == [1, 2, 3]
    assert got[0].cosine_sim == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert got[1].cosine_sim == 0.0
    assert got[2].cosine_sim == -1.0


def test_blocked_neardup_respects_blocks(vectors):
    pairs = sim.blocked_neardup_topk(vectors, k=10, block_col=["label"]).collect()
    assert all(r.label == 0 for r in pairs)  # label 1 has a single vector
    best = pairs[0]
    assert (best.vec_a, best.vec_b) == (0, 1)


def test_blocked_neardup_compound_key_no_warning(vectors):
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("error", FutureWarning)
        pairs = sim.blocked_neardup_topk(
            vectors, k=10, block_col=["label"]
        ).collect()
    assert {("label" in r.asDict()) for r in pairs} == {True}
    assert (pairs[0].vec_a, pairs[0].vec_b) == (0, 1)


def test_srp_bucket_stability_and_ann(vectors):
    b = {r.vec_id: r.bucket for r in sim.srp_buckets(vectors, n_planes=4).collect()}
    assert all(0 <= v < 16 for v in b.values())
    cands = sim.ann_candidates(vectors, query_vec_id=0, n_planes=4).collect()
    assert all(r.bucket == b[0] for r in cands)


def test_text_quality_features(spark):
    df = spark.createDataFrame([(0, "the cat sat on the mat")], "doc_id long, text string")
    row = tx.quality_features(df).collect()[0]
    assert row.n_words == 6
    assert row.n_distinct_words == 5  # 'the' twice
    assert row.stopword_ratio == pytest.approx(2 / 6)
    assert row.avg_word_len == pytest.approx(17 / 6)
    assert 0.0 <= row.quality_score <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [(0, "the a fast thing"), (1, "spark stream batch pipeline")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred for r in df.select(
        "doc_id", tx.predict_lang(F.col("text")).alias("pred")
    ).collect()}
    assert got[0] == "en"
    assert got[1] == "zh"


def test_fingerprint_stable(docs):
    fps = {r.doc_id: r for r in tx.fingerprint(docs).collect()}
    assert fps[0]["content_md5"] == fps[3]["content_md5"]
    assert len(fps[0]["content_md5"]) == 32
    assert fps[0]["content_key"] == fps[0]["content_md5"][:16]


def test_multimodal_decode_stub_dimensions(docs):
    out = mm.decode_images(mm.payload_metadata(mm.attach_binary_payload(docs)))
    rows = {r.doc_id: r for r in out.collect()}
    n = len("the quick brown fox jumps over the lazy dog".encode())
    assert rows[0].n_bytes == n
    assert rows[0].width == 64 + n % 640
    assert rows[0].height == 64 + (n * 7) % 480
    assert rows[0].ok is True
    assert rows[0].format in ("png", "jpeg", "webp")


def test_lsh_bands_rejects_uneven_band_size(docs):
    sh = dd.shingle_distinct(docs, n=2)
    sigs = dd.minhash_signatures(sh, n_hashes=12)
    with pytest.raises(ValueError, match="not divisible"):
        dd.lsh_bands(sigs, n_hashes=12, band_size=5)


def test_lsh_bucket_cap_bounds_candidates(spark):
    # 30 identical docs form one giant bucket in every band: uncapped LSH
    # emits all C(30,2)=435 pairs; a cap of 10 drops the hot buckets so the
    # distinct near-dup pair (100, 101) is the only survivor.
    rows = [(i, "aa bb cc dd ee ff gg hh") for i in range(30)]
    rows += [(100, "xx yy zz qq ww rr tt uu"), (101, "xx yy zz qq ww rr tt vv")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dd.shingle_distinct(docs, n=2)
    bands = dd.lsh_bands(dd.minhash_signatures(sh, n_hashes=12),
                         n_hashes=12, band_size=2)
    uncapped = dd.lsh_candidate_pairs(bands).count()
    capped = dd.lsh_candidate_pairs(bands, max_bucket=10).collect()
    assert uncapped >= 435  # the hot bucket went quadratic
    assert {(r.doc_a, r.doc_b) for r in capped} == {(100, 101)}


def test_resize_never_upscales_and_fits_longer_side(spark):
    decoded = spark.createDataFrame(
        [(1, 640, 64), (2, 100, 50), (3, 64, 512)],
        "doc_id long, width int, height int",
    )
    got = {r.doc_id: r for r in mm.resize_images(decoded, max_side=256).collect()}
    # 640x64: scale = 100*256//640 = 40 -> 256x25
    assert (got[1].out_width, got[1].out_height, got[1].scale_pct) == (256, 25, 40)
    # 100x50 already fits: never upscale
    assert (got[2].out_width, got[2].out_height, got[2].scale_pct) == (100, 50, 100)
    # 64x512: scale = 100*256//512 = 50 -> 32x256
    assert (got[3].out_width, got[3].out_height, got[3].scale_pct) == (32, 256, 50)


def test_sample_frames_every_nth_row_expansion(spark):
    import hashlib

    meta = spark.createDataFrame(
        [(1, 9), (2, 2)], "doc_id long, n_bytes long"
    )
    rows = mm.sample_frames(meta, every_n=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # n_bytes=9 -> n_frames = 1 + 117 % 24 = 22 -> idx 0,4,8,12,16,20
    assert [r.frame_idx for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [0, 4, 8, 12, 16, 20]
    assert all(r.n_frames == 22 for r in by_doc[1])
    # n_bytes=2 -> n_frames = 1 + 26 % 24 = 3 -> idx 0 only
    assert [r.frame_idx for r in by_doc[2]] == [0]
    tag = next(r.frame_tag for r in by_doc[1] if r.frame_idx == 4)
    assert tag == hashlib.md5(b"1:4").hexdigest()[:8]


def test_ivf_assignment_and_probe(spark):
    # ids 0 and 1 seed the two clusters; 2,3 sit near 0 and 4,5 near 1.
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.0, 1.0], "a"),
        (2, [0.9, 0.1], "a"),
        (3, [0.8, 0.2], "a"),
        (4, [0.1, 0.9], "a"),
        (5, [0.2, 0.8], "a"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    cents = sim.ivf_centroids(emb, n_centroids=2)
    assert [c[0] for c in cents] == [0, 1]
    assigned = {
        r.vec_id: r.cluster for r in sim.ivf_assign(emb, cents).collect()
    }
    assert assigned == {0: 0, 1: 1, 2: 0, 3: 0, 4: 1, 5: 1}
    # driver-side twin agrees with the Spark expression
    for vid, vec, _ in rows:
        assert sim.ivf_cluster_of(vec, cents) == assigned[vid]
    got = sim.ivf_topk(emb, query_vec_id=0, n_centroids=2, k=10).collect()
    assert [r.vec_id for r in got] == [2, 3]  # only cluster 0, query excluded
    assert got[0].cosine_sim > got[1].cosine_sim


def test_connected_components_chain_and_clique(spark):
    """A 4-node chain (diameter 3 — needs >1 propagation round), a
    2-clique, and an isolated pair all converge to min-id labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        r.node: r.cluster for r in dd.connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dd.connected_components(pairs).count() == 0


def test_connected_components_mixed_graph_literal_labels(spark):
    """Min-propagation labels every node with the minimum id of its
    component on a graph mixing a chain, a clique, an isolated pair,
    reversed/duplicate edges, a self-loop and a cycle."""
    raw = (
        [(1, 2), (2, 3), (3, 4), (4, 3)]          # chain + reversed dup
        + [(10, 11), (11, 12), (10, 12)]           # clique
        + [(20, 21), (21, 21)]                     # pair + self-loop
        + [(30, 31), (31, 32), (32, 33), (30, 33)] # cycle
    )
    pairs = spark.createDataFrame(raw, "doc_a long, doc_b long")
    got = {
        r.node: r.cluster for r in dd.connected_components(pairs).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
        30: 30, 31: 30, 32: 30, 33: 30,
    }


def test_binned_lookback_join_boundaries(spark):
    """Half-open window [t - lookback, t): a right row exactly lookback
    seconds before matches; one at the left timestamp itself does not —
    and bin-crossing candidates are found."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.joins import (
        binned_lookback_join,
    )

    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:10:00")], "id long, k long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (10, 100, "2024-01-01 10:00:00"),  # exactly lookback before: IN
            (11, 100, "2024-01-01 10:05:30"),  # inside, crosses bin: IN
            (12, 100, "2024-01-01 10:10:00"),  # at left ts: OUT (half-open)
            (13, 100, "2024-01-01 09:59:59"),  # 1s too early: OUT
            (14, 999, "2024-01-01 10:05:00"),  # wrong key: OUT
        ],
        "rid long, k long, rts string",
    ).withColumn("rts", F.to_timestamp("rts"))
    got = sorted(
        r.rid
        for r in binned_lookback_join(
            left, right, ["k"], "ts", "rts", lookback_s=600
        ).collect()
    )
    assert got == [10, 11]


def test_incremental_rollup_partials_append_and_merge(spark, tmp_path):
    """The materialized-rollup maintenance loop: daily partials written to
    parquet once, a new day APPENDED (not recomputed), weekly totals
    re-merged from partials — must equal a full recompute over raw rows.
    Count + quantized integer sum are the reaggregable pair."""
    store = str(tmp_path / "daily_partials")

    def partials(df):
        return df.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("qsum"),
        )

    def weekly(from_partials):
        return (
            from_partials.groupBy(F.date_trunc("week", "day").alias("week"))
            .agg(
                F.sum("n").alias("n"),
                (F.sum("qsum").cast("long") / 100.0).alias("sum_value"),
            )
        )

    day1 = spark.createDataFrame(
        [("2024-01-01 10:00:00", 1.25), ("2024-01-01 11:00:00", 2.5)],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    day2 = spark.createDataFrame(
        [("2024-01-02 09:00:00", 4.75), ("2024-01-08 09:00:00", 8.0)],
        "ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    partials(day1).write.mode("overwrite").parquet(store)
    partials(day2).write.mode("append").parquet(store)  # incremental step

    merged = {
        r.week.date().isoformat(): (r.n, r.sum_value)
        for r in weekly(spark.read.parquet(store)).collect()
    }
    full = {
        r.week.date().isoformat(): (r.n, r.sum_value)
        for r in weekly(partials(day1.unionByName(day2))).collect()
    }
    assert merged == full == {
        "2024-01-01": (3, 8.5),
        "2024-01-08": (1, 8.0),
    }


def test_phash_no_int64_overflow_for_giant_payloads(spark):
    # The pseudo-pixel product n * (i+3) * 2654435761 exceeds int64 for
    # payloads over ~59 MB; numpy would wrap silently where an oracle's
    # BIGINT raises — divergence, not an error. The stage reduces n mod
    # 256 first (value-identical mod 256), so a 100 GB payload must hash
    # identically to its n % 256 twin.
    giant = 100 * 10**9 + 123
    small = giant % 256
    df = spark.createDataFrame(
        [(1, giant), (2, small)], "doc_id long, n_bytes long"
    )
    rows = {r.doc_id: r for r in mm.phash_images(df).collect()}
    assert rows[1].ahash == rows[2].ahash
    assert rows[1].mean_px == rows[2].mean_px
    # And the Python stage agrees with DuckDB's BIGINT evaluation of the
    # same reduced formula for the giant payload.
    import duckdb

    duck = duckdb.sql(
        f"""
        WITH px AS (
          SELECT i, (({giant} % 256) * (i + 3) * 2654435761) % 256 AS p
          FROM generate_series(0, 55) t(i)
        ),
        m AS (SELECT CAST(SUM(p) // 56 AS BIGINT) AS mean_px FROM px)
        SELECT CAST(SUM(CASE WHEN px.p > m.mean_px
                             THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                    AS BIGINT) AS ahash,
               CAST(ANY_VALUE(m.mean_px) AS INTEGER) AS mean_px
        FROM px, m
        """
    ).fetchone()
    assert rows[1].ahash == duck[0]
    assert rows[1].mean_px == duck[1]


def test_connected_components_long_chain_converges(spark):
    # A 30-node path graph has diameter 29: needs ~15 doubled-hop rounds.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    out = dd.connected_components(chain, max_iters=20).collect()
    assert len(out) == 30
    assert {r.cluster for r in out} == {0}


def test_connected_components_raises_when_unconverged(spark):
    # Same chain with a hop budget too small for its diameter: silent exit
    # would hand back wrong labels; the guard must raise instead.
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iters=2)


def test_srp_buckets_explicit_dim_matches_lookup(vectors):
    """Passing dim (skipping the plan-build lookup job) must produce the
    exact same buckets as the max(size) discovery path."""
    looked_up = {r.vec_id: r.bucket for r in sim.srp_buckets(vectors, n_planes=4).collect()}
    explicit = {
        r.vec_id: r.bucket
        for r in sim.srp_buckets(vectors, n_planes=4, dim=3).collect()
    }
    assert looked_up == explicit


def test_ngram_contamination_flags_verbatim_overlap(spark):
    """A train doc sharing a verbatim 4-gram with the benchmark is flagged
    (case-insensitively); disjoint docs are not; n_hit counts DISTINCT
    shared n-grams."""
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog", "bench")],
        ["doc_id", "text", "source"],
    )
    train = spark.createDataFrame(
        [
            # shares "the quick brown fox", "quick brown fox jumps",
            # and "brown fox jumps over"
            (1, "she saw the Quick Brown Fox Jumps Over a wall", "srcA"),
            # no 4-gram overlap
            (2, "completely different words appear in this text", "srcA"),
            # shorter than 4 words: no n-grams at all
            (3, "too short here", "srcB"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r.doc_id: r.n_hit
        for r in dd.ngram_contamination(train, bench, n=4).collect()
    }
    assert rows == {1: 3}


def test_semantic_dedup_clusters_marks_higher_id(spark):
    """Two near-identical vectors in one cluster -> one dup pair, the
    HIGHER id removed; an orthogonal vector pairs with neither; a vector
    alone in its cluster can never pair across clusters."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),        # keeper
        (1, [0.0, 1.0, 0.0, 0.0]),        # orthogonal to 0/2
        (2, [0.99, 0.01, 0.0, 0.0]),      # near-dup of 0 -> removed
        (3, [-0.98, 0.0, 0.1, 0.0]),      # anti-parallel to 0: dot<0, kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.cluster: (r.n_vectors, r.n_dup_pairs, r.n_removed)
        for r in sim.semantic_dedup_clusters(emb, n_planes=2).collect()
    }
    # SRP buckets put near-identical vectors 0 and 2 together (their
    # projections share signs — |0.99·s1| dominates |0.01·s2|) and the
    # anti-parallel vector 3 opposite; wherever the rest land, the
    # pair/removal invariants must hold:
    total_vectors = sum(v[0] for v in out.values())
    total_pairs = sum(v[1] for v in out.values())
    total_removed = sum(v[2] for v in out.values())
    assert total_vectors == 4
    assert total_pairs == 1          # only (0,2) passes cos>=0.35 with dot>=0
    assert total_removed == 1        # vec 2 (higher id of the pair)


def test_operator_layer_has_no_column_name_options():
    """The operator layer runs over one fixed schema (the testdata tables'
    column names), so no function there takes a column name as an option.
    ``sources.io.shard_column`` keeps ``id_col``: a plan body passes it."""
    import ast
    import pathlib

    banned = {
        "id_col", "text_col", "word_col", "emb_col", "payload_col",
        "group_col", "a_col", "b_col", "carry_cols", "pickup_col",
        "dropoff_col", "broadcast_cap", "tau2_num", "tau2_den",
        "ts_col", "value_col", "key_col",
    }
    exempt = {("io.py", "shard_column")}
    pkg = pathlib.Path(dd.__file__).resolve().parents[1]
    paths = [
        *sorted((pkg / "operators").glob("*.py")),
        *sorted((pkg / "functions").glob("*.py")),
        pkg / "sources" / "io.py",
        pkg / "streaming" / "pipeline.py",
    ]
    found = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if (path.name, node.name) in exempt:
                continue
            a = node.args
            found += [
                f"{path.name}:{node.name}({p.arg})"
                for p in (*a.posonlyargs, *a.args, *a.kwonlyargs)
                if p.arg in banned
            ]
    assert not found, found


def test_near_duplicate_mechanisms_written_once():
    """The hot-bucket cap and the int64 array fold each have one
    implementation (``dedup._cap_buckets``, ``similarity._long_sum``);
    a second copy of either fails here."""
    import pathlib

    ops = pathlib.Path(dd.__file__).resolve().parent
    cap = 'partitionBy("band_id", "band_key")'
    assert sum(p.read_text().count(cap) for p in ops.glob("*.py")) == 1
    fold = 'lit(0).cast("long")'
    assert (ops / "similarity.py").read_text().count(fold) == 1
