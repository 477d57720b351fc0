"""Edge-input robustness: empty frames, missing keys, degenerate groups —
the shapes empty partitions produce constantly at scale."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import similarity as sim
from nyc_yellow_taxi_trip_data_pipeline_spark.operators.transforms import (
    clean_trips,
    filter_iqr_outliers,
)


@pytest.fixture(scope="module")
def empty_trips(spark):
    return spark.createDataFrame(
        [],
        "VendorID string, tpep_pickup_datetime string, "
        "tpep_dropoff_datetime string, passenger_count double, "
        "trip_distance double, fare_amount double",
    )


def test_clean_trips_on_empty(empty_trips):
    out = clean_trips(empty_trips)
    assert out.count() == 0
    assert "trip_duration" in out.columns  # schema still derived


def test_minhash_on_empty_docs(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert dd.minhash_near_duplicates(docs).count() == 0


def test_minhash_single_doc_no_pairs(spark):
    docs = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    assert dd.minhash_near_duplicates(docs).count() == 0


def test_simhash_single_word_docs(spark):
    docs = spark.createDataFrame([(0, "word")], "doc_id long, text string")
    rows = dd.simhash16(dd.tokenize_distinct(docs)).collect()
    assert len(rows) == 1 and 0 <= rows[0].simhash < (1 << 16)


def test_brute_force_topk_missing_query_vector(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<float>, label int"
    )
    # query id 999 doesn't exist -> empty result, not an error
    assert sim.brute_force_topk(emb, query_vec_id=999, k=5).count() == 0


def test_iqr_filter_constant_column(spark):
    df = spark.createDataFrame([(5.0,)] * 10, "x double")
    # IQR = 0 -> fences collapse to the constant; all rows survive
    assert filter_iqr_outliers(df, "x").count() == 10


def test_unicode_text_md5_and_bytes_portable(spark):
    """The md5-portability contract must hold for non-ASCII text: both
    engines hash UTF-8 BYTES, and byte-length metadata (the multimodal
    stubs' seed) counts bytes, not codepoints."""
    import duckdb

    texts = [
        "café au lait déjà vu",          # latin-1 accents (2-byte)
        "日本語 テキスト 処理",            # CJK (3-byte)
        "emoji 🚀 in 🧪 text",            # astral (4-byte)
        "mixed ascii + ümlaut + 汉字",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r.doc_id: (r.h, r.nb)
        for r in df.selectExpr(
            "doc_id", "md5(concat('0:', text)) AS h",
            "octet_length(encode(text, 'UTF-8')) AS nb",
        ).collect()
    }
    con = duckdb.connect()
    for i, t in enumerate(texts):
        h, nb = con.execute(
            "SELECT md5('0:' || ?), octet_length(encode(?))", [t, t]
        ).fetchone()
        assert got[i] == (h, nb), f"unicode md5/bytes diverged for {t!r}"


def test_minhash_near_dup_on_unicode_docs(spark):
    """The LSH pipeline end-to-end on non-ASCII docs: identical unicode
    texts are found as near-dups with jaccard 1.0; unrelated ones are
    not paired."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (0, "日本語 の テキスト を 処理 する エンジン です"),
            (1, "日本語 の テキスト を 処理 する エンジン です"),
            (2, "completely unrelated english words here now friends"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dd.minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert pairs == {(0, 1): 1.0}


def test_ngram_contamination_empty_benchmark(spark):
    """An empty benchmark set flags nothing (broadcast of an empty side
    must not error) and an empty TRAIN side yields an empty result."""
    schema = "doc_id long, text string, source string"
    empty = spark.createDataFrame([], schema)
    train = spark.createDataFrame(
        [(1, "some words repeated here some words", "s")], schema
    )
    assert dd.ngram_contamination(train, empty, n=4).count() == 0
    assert dd.ngram_contamination(empty, train, n=4).count() == 0


def test_semantic_dedup_single_vector_and_empty(spark):
    """One vector -> one cluster row with zero pairs; empty input -> no
    rows (the derived-plane count path must not divide by zero)."""
    one = spark.createDataFrame(
        [(7, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = sim.semantic_dedup_clusters(one, n_planes=None).collect()
    assert len(rows) == 1
    assert (rows[0].n_vectors, rows[0].n_dup_pairs, rows[0].n_removed) == (1, 0, 0)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert sim.semantic_dedup_clusters(empty, n_planes=3).count() == 0


def test_write_training_shards_empty_corpus(spark, tmp_path):
    """Sharding an empty corpus writes an empty (readable) dataset."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        write_training_shards,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    out = str(tmp_path / "empty_shards")
    write_training_shards(empty, out, n_shards=4)
    # An empty partitioned write has no partition dirs to infer schema
    # from (standard Spark behavior); an explicit schema reads 0 rows.
    back = spark.read.schema("doc_id long, text string, shard long").parquet(out)
    assert back.count() == 0
