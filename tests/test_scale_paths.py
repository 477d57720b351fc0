"""Scale-path evidence tests: bucketed co-located joins, seeded sampling,
optional-MLflow fallback, salted-agg equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.ml.pipeline import try_log_mlflow
from nyc_yellow_taxi_trip_data_pipeline_spark.operators.skew import (
    salted_quantized_agg,
)
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """bucketBy on the join key co-locates both sides: the join plan must
    contain no Exchange — the technique that makes repeated fact-fact
    joins affordable at 100 TB."""
    warehouse_a = "bucketed_facts_a"
    warehouse_b = "bucketed_facts_b"
    left = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    right = spark.range(0, 10000).withColumn("w", F.col("id") * 3)
    # Disable auto-broadcast: at real fact-fact scale neither side
    # broadcasts; that's exactly when bucketing pays off.
    confs = {
        "spark.sql.sources.default": "parquet",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    try:
        with scoped_conf(spark, confs):
            left.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(warehouse_a)
            right.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable(warehouse_b)
            a = spark.table(warehouse_a)
            b = spark.table(warehouse_b)
            joined = a.join(b, "id")
            assert joined.count() == 10000
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {warehouse_a}")
        spark.sql(f"DROP TABLE IF EXISTS {warehouse_b}")


def test_seeded_sample_and_split_reproducible(spark):
    df = spark.range(0, 10000)
    s1 = df.sample(fraction=0.1, seed=42).collect()
    s2 = df.sample(fraction=0.1, seed=42).collect()
    assert s1 == s2
    assert 500 < len(s1) < 1500
    a1, b1 = df.randomSplit([0.8, 0.2], seed=42)
    a2, b2 = df.randomSplit([0.8, 0.2], seed=42)
    assert a1.count() == a2.count() and b1.count() == b2.count()


def test_mlflow_logging_is_optional():
    """Never a hard dependency (the reference imports mlflow
    unconditionally, sparkML.py:8): absent mlflow -> False, no raise."""
    try:
        import mlflow  # noqa: F401

        pytest.skip("mlflow installed; fallback path not exercisable")
    except ImportError:
        pass
    assert try_log_mlflow(None, {}, {}) is False


def test_salted_agg_equals_direct(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(100)] + [("b", 5.0)] * 50,
        "k string, value double",
    )
    salted = {
        r["k"]: (r.sum_value, r.avg_value, r.n)
        for r in salted_quantized_agg(
            df, "k", F.col("value"), salt_expr=F.monotonically_increasing_id()
        ).collect()
    }
    direct = {
        r["k"]: (r.s, r.a, r.n)
        for r in df.groupBy("k")
        .agg(
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0).alias("s"),
            ((F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")) / 100.0) / F.count("value")).alias("a"),
            F.count("value").alias("n"),
        )
        .collect()
    }
    assert salted == direct


def test_no_nested_loop_joins_in_scale_paths(spark):
    """The queries that join at data scale must plan hash/sort-merge or
    broadcast-hash joins — a BroadcastNestedLoopJoin or CartesianProduct
    over a non-single-row side is the O(n*m) plan the binned/bucketed
    rewrites exist to avoid. (1-row cross joins of global aggregates are
    legitimate and excluded by query choice here.)"""
    import re

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    for name in (
        "q69_lookback_range_join",
        "q73_kmeans_step",
        "q75_embedding_quantize",
        "q32_minhash_lsh_neardup",
        "q45_ngram_jaccard",
        "q21_asof_join",
        "q79_curation_funnel",
        # round-7 joiners: indexed incremental dedup, sharp MinHash dial,
        # snapshot diff (full outer), repetition filters (stats join)
        "q98_incremental_dedup_indexed",
        "q101_minhash_neardup_sharp",
        "q102_corpus_snapshot_diff",
        "q103_repetition_filters",
    ):
        plan = (
            QUERIES[name]
            .spark(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        bad = re.findall(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
        assert not bad, f"{name} plans {bad}"


def test_partition_pruning_end_to_end_on_events(spark, tmp_path):
    """The dashboard's year/month filter, executed the way 100 TB demands:
    events written partitionBy(year, month, day), one day selected — the
    EXECUTED scan must prove it touched exactly one partition (runtime
    numPartitions/numFiles metrics, not just the static plan string)."""
    import glob

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    ev = (
        read_table(spark, "/root/testdata/sf0.001", "events")
        .withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
    )
    path = str(tmp_path / "events_partitioned")
    ev.write.partitionBy("year", "month", "day").parquet(path)
    n_partitions = len(glob.glob(path + "/year=*/month=*/day=*"))
    assert n_partitions > 1, "need multiple partitions to prove pruning"

    back = spark.read.parquet(path).filter("year = 2024 AND month = 1 AND day = 15")
    rows = back.collect()
    assert len(rows) > 0

    qe = back._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "(year" in plan.split("PartitionFilters")[1][:250]
    # Runtime proof, not plan text: the scan's executed metrics must show
    # exactly ONE of the N partitions (and its single file) was read.
    leaf = qe.executedPlan().collectLeaves().apply(0)
    assert leaf.metrics().apply("numPartitions").value() == 1
    assert leaf.metrics().apply("numFiles").value() == 1


def test_incremental_dedup_with_materialized_signature_index(spark, tmp_path):
    """q94's production cost model, executed: the index's MinHash
    signatures are materialized to parquet once, and the per-batch job
    computes signatures only for the DELTA, joining its bands against
    bands derived from the loaded index signatures. The candidate set
    must equal the cold full-recompute path, and the batch plan must
    scan the signature table, not the index documents."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    is_new = F.col("doc_id") % 10 == 0
    delta, index = docs.filter(is_new), docs.filter(~is_new)

    # one-time index build (per corpus snapshot)
    sig_path = str(tmp_path / "index_sigs")
    dd.minhash_signatures(dd.shingle_distinct(index, n=2)).write.parquet(sig_path)

    # per-batch job: delta signatures fresh, index signatures LOADED
    sigs_delta = dd.minhash_signatures(dd.shingle_distinct(delta, n=2))
    sigs_index = spark.read.parquet(sig_path)
    cand_warm = dd.lsh_candidate_pairs_asymmetric(
        dd.lsh_bands(sigs_delta, band_size=3),
        dd.lsh_bands(sigs_index, band_size=3),
        max_bucket=64,
    )
    warm = {(r.doc_a, r.doc_b) for r in cand_warm.collect()}

    # cold path: everything recomputed from raw text
    sh_all = dd.shingle_distinct(docs, n=2)
    bands_all = dd.lsh_bands(dd.minhash_signatures(sh_all), band_size=3)
    new_ids = delta.select("doc_id")
    idx_ids = index.select("doc_id")
    cold = {
        (r.doc_a, r.doc_b)
        for r in dd.lsh_candidate_pairs_asymmetric(
            bands_all.join(new_ids, "doc_id"),
            bands_all.join(idx_ids, "doc_id"),
            max_bucket=64,
        ).collect()
    }
    assert warm == cold and len(warm) > 0

    # The warm plan's scans: the index side reads the 12 signature hash
    # columns from parquet; raw document text is scanned exactly once —
    # for the DELTA — never for the index.
    plan = cand_warm._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan"; count scans
    # only in the final plan section.
    plan = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert any("mh0:string" in ln for ln in scans), scans
    text_scans = [ln for ln in scans if "text:string" in ln]
    assert len(text_scans) == 1, text_scans


def test_write_signature_index_and_q98_match_cold_path(spark):
    """The SHIPPED materialized-index path (write_signature_index + q98):
    (a) the sigs table keeps every index doc's fingerprint (LEFT join —
    a doc too short to shingle must stay exact-dup-checkable), (b) the
    registered q98 result equals a cold full-recompute of the same
    decision rule, (c) the per-batch plan never scans index text."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.datapipe import (
        _MH_BAND,
        _MH_MAX_BUCKET,
        _MH_MIN_AGREE,
        _MH_N,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table

    sf_dir = "/root/testdata/sf0.001"
    warm = {
        r.doc_id
        for r in QUERIES["q98_incremental_dedup_indexed"].spark(spark, sf_dir).collect()
    }

    # (a) every index doc has a fingerprint row in the materialized table
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.cache import (
        _signature_index_name,
    )

    _, base = _signature_index_name(spark, sf_dir, "q98_sig_index")
    docs = read_table(spark, sf_dir, "documents")
    n_index = docs.filter(F.col("doc_id") % 10 != 0).count()
    assert spark.table(f"{base}_sigs").count() == n_index

    # (b) cold path: same decision rule, everything from raw text
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    sh_all = dd.shingle_distinct(docs, n=2)
    sigs_all = dd.minhash_signatures(sh_all, n_hashes=_MH_N)
    bands_all = dd.lsh_bands(sigs_all, n_hashes=_MH_N, band_size=_MH_BAND)
    cand = dd.lsh_candidate_pairs_asymmetric(
        bands_all.join(delta.select("doc_id"), "doc_id"),
        bands_all.join(index.select("doc_id"), "doc_id"),
        max_bucket=_MH_MAX_BUCKET,
    )
    near = {
        r.doc_a
        for r in dd.sig_agreement_filter(
            cand, sigs_all, min_agree=_MH_MIN_AGREE, n_hashes=_MH_N
        ).collect()
    }
    fps = index.select(F.md5(F.lower("text")).alias("fp")).distinct()
    exact = {
        r.doc_id
        for r in delta.select("doc_id", F.md5(F.lower("text")).alias("fp"))
        .join(fps, "fp")
        .collect()
    }
    cold = {r.doc_id for r in delta.collect()} - near - exact
    assert warm == cold and len(warm) > 0

    # (c) warm per-batch plan: raw text scanned once (the delta), never
    # for the index — its side comes from the materialized tables.
    # Since round 11 sig_agreement_filter materializes the candidate set
    # (eager localCheckpoint — the band-join chain fed two consumers),
    # so the registered query's FINAL plan shows the candidates as a
    # LogicalRDD; the bands-index scan property is asserted on the
    # candidate sub-plan, rebuilt here exactly as the registered body
    # builds it (datapipe.py q98: bands_d x spark.table(f"{base}_bands")).
    plan_df = QUERIES["q98_incremental_dedup_indexed"].spark(spark, sf_dir)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    text_scans = [ln for ln in scans if "text:string" in ln]
    assert text_scans and all("documents" in ln for ln in text_scans)
    # ADVICE r11: pin the REGISTERED plan's own shape too (the candidate
    # sub-plan rebuilt below can't catch a wiring regression in the
    # registered body): the delta's is the ONLY raw-text scan — a second
    # one would mean candidate generation silently recomputing the index
    # side from documents instead of reading the materialized tables —
    # and the pinned candidate set surfaces as a checkpoint scan.
    assert len(text_scans) == 1, text_scans
    assert any(
        "ExistingRDD" in ln for ln in plan.splitlines()
    ), plan
    sigs_d = dd.minhash_signatures(
        dd.shingle_distinct(delta, n=2), n_hashes=_MH_N
    )
    bands_d = dd.lsh_bands(sigs_d, n_hashes=_MH_N, band_size=_MH_BAND)
    cand_warm = dd.lsh_candidate_pairs_asymmetric(
        bands_d, spark.table(f"{base}_bands"), max_bucket=_MH_MAX_BUCKET
    )
    cplan = cand_warm._jdf.queryExecution().executedPlan().toString()
    cplan = cplan.split("== Initial Plan ==")[0]
    cscans = [ln for ln in cplan.splitlines() if "FileScan" in ln]
    assert any(f"{base}_bands" in ln for ln in cscans), cscans
    # the index side of candidate generation never touches raw text
    assert all("text:string" not in ln or "documents" in ln for ln in cscans)


def test_q103_top_word_agg_is_map_side_combined(spark):
    """q103's exploded (doc_id, word) count must plan a partial (map-side)
    aggregation before the shuffle — the property that keeps the word
    explosion's shuffle volume bounded by per-partition distinct pairs
    rather than raw token count."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import QUERIES

    plan = (
        QUERIES["q103_repetition_filters"]
        .spark(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    plan = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in plan, plan


def test_salted_join_equals_plain_join_on_skewed_data(spark):
    """salted_join on a pathologically hot key (one key = 80% of the
    fact) returns exactly the plain join's rows, and the merge hint
    really yields a SortMergeJoin on the salted keys."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(400)] + [(k, 0) for k in range(2, 102)],
        "fk long, payload long",
    )
    dim = spark.createDataFrame(
        [(k, f"d{k}") for k in range(1, 102)], "dk long, attr string"
    )
    out = salted_join(
        fact, dim, "fk", "dk", F.col("payload") + F.col("fk"),
        n_salts=4, hint="merge",
    )
    plain = fact.join(dim, fact.fk == dim.dk)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan


def test_salted_join_left_preserves_unmatched(spark):
    """how='left' keeps fact rows with no dim match (NULL attrs) exactly
    once — replication on the dim side must not duplicate them."""
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, 10), (99, 20)], "fk long, payload long")
    dim = spark.createDataFrame([(1, "d1")], "dk long, attr string")
    rows = salted_join(
        fact, dim, "fk", "dk", F.col("fk"), n_salts=4, how="left"
    ).collect()
    assert len(rows) == 2
    unmatched = [r for r in rows if r.fk == 99]
    assert len(unmatched) == 1 and unmatched[0].attr is None


def test_salted_join_rejects_dim_preserving_join_types(spark):
    """right/full joins would emit each unmatched (replicated) dim row
    n_salts times — salted_join must refuse them loudly, not return
    silently-duplicated rows."""
    import pytest as _pytest

    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.skew import salted_join

    fact = spark.range(10).withColumnRenamed("id", "k")
    dim = spark.range(20).withColumnRenamed("id", "k2")
    # "outer" is Spark's bare alias for FULL OUTER — the round-8 denylist
    # normalized it to "" and waved it through (ADVICE r8); it must raise.
    for how in ("right", "full", "full_outer", "right_outer", "outer",
                "fullouter", "rightouter", "right_semi", "right_anti",
                "garbage"):
        with _pytest.raises(ValueError, match="salted_join"):
            salted_join(fact, dim, "k", "k2", F.col("k"), how=how)
    # the supported types still construct (no raise at build time)
    for how in ("inner", "left", "left_outer", "leftouter", "left_semi",
                "leftsemi", "left_anti", "leftanti", "semi", "anti"):
        salted_join(fact, dim, "k", "k2", F.col("k"), how=how)
