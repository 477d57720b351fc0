"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  One broadcast of the query vector, one scan, one ordered limit; at scale
  this is a map-only pass + a tiny top-k reduction (no shuffle of vectors).
- ``srp_buckets`` / ``ann_candidates``: signed-random-projection LSH — the
  scale path. Each vector gets a small integer bucket from the signs of
  quantized dot products with md5-seeded ±1 hyperplanes; ANN search only
  scans the query's bucket. Quantized integer accumulation keeps bucket
  assignment bit-exact across engines and runs.

Performance notes (measured at sf0.1):
- Norms are precomputed once per vector, not per pair — the pairwise join
  then does one fold (the dot product) instead of three.
- SRP projections are a join-free projection: the ±1 hyperplanes are baked
  as literal arrays and folded with zip_with/aggregate, so bucketing is a
  map-only stage (no explode, no shuffle).
"""

from __future__ import annotations

import hashlib
import math
import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.functions.vector import dot_product, l2_norm
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf


def as_double(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _cosine_from_norms(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    denom = norm_a * norm_b
    return F.when(denom == 0, F.lit(None).cast("double")).otherwise(dot / denom)


def brute_force_topk(
    emb: DataFrame, query_vec_id: int = 0, k: int = 10, id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k against one stored vector. Cosine is rounded to
    6 dp before ranking so the ordering itself is reproducible."""
    q = emb.filter(F.col(id_col) == query_vec_id).select(
        as_double().alias("qv")
    ).select("qv", l2_norm(F.col("qv")).alias("qn"))
    e = emb.filter(F.col(id_col) != query_vec_id).select(
        id_col, "label", as_double().alias("ev")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            id_col,
            "label",
            F.round(
                _cosine_from_norms(
                    dot_product(F.col("ev"), F.col("qv")),
                    l2_norm(F.col("ev")),
                    F.col("qn"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def blocked_neardup_topk(
    emb: DataFrame,
    k: int = 20,
    block_col: str | list[str] = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Most-similar within-block pairs (embedding near-dup detection).

    Blocking on ``block_col`` bounds the pairwise problem to within-block
    cardinality (the same role LSH buckets play when no natural block key
    exists). The O(block²) cosine matrix is computed per block in ONE
    Arrow-batched applyInPandas stage with BLAS (float64 matmul — the one
    place a vectorized Python stage beats interpreted higher-order
    expressions by an order of magnitude), emitting only each block's
    top candidates; the tiny survivor set is rounded and globally ranked
    JVM-side. Per-block emit keeps the shuffle O(blocks·k), not O(pairs).

    ``block_col`` may be a LIST of columns: at scale a natural key alone
    grows with the corpus and the per-block matmul turns quadratic
    (measured 8.2x wall for 10x rows); compounding it with an SRP bucket
    (``srp_buckets``) re-bounds block size at a recall trade-off — a
    near-dup pair split across sign buckets is missed, the standard LSH
    recall/cost dial. A single string keeps the legacy one-column output
    (``block``) but is DEPRECATED (FutureWarning): a lone natural key's
    block size grows with the corpus, and the per-block O(block²) matmul
    measured 8-12x wall for 10x rows before q35 switched to compound
    ``[natural_key, srp_bucket]`` keys. Pass a list.
    """
    legacy = isinstance(block_col, str)
    if legacy:
        warnings.warn(
            "blocked_neardup_topk(block_col=<single column>) is deprecated: "
            "a lone natural block key grows with the corpus and the "
            "per-block O(block²) matmul turns quadratic (measured 8-12x "
            "wall at 10x rows). Pass a LIST compounding the natural key "
            "with an srp_buckets() sign bucket, e.g. ['label', 'bucket'].",
            FutureWarning,
            stacklevel=2,
        )
    block_cols = [block_col] if legacy else list(block_col)
    margin = 3 * k  # per-block overfetch so global rounding ties can't
    #                 cut a pair that belongs in the global top-k
    out_block_cols = ["block"] if legacy else block_cols

    def block_pairs(pdf):
        # Self-contained closure: executor workers can't import the repo.
        import numpy as np
        import pandas as pd

        ids = pdf[id_col].to_numpy()
        e = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        norms = np.sqrt((e * e).sum(axis=1))
        sims = (e @ e.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), 1)
        # orient pairs as (min_id, max_id) to match the relational form
        a_ids, b_ids = ids[ia], ids[ib]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        cols = {
            out_name: pdf[src].iloc[0]
            for out_name, src in zip(out_block_cols, block_cols)
        }
        cols.update({"vec_a": lo, "vec_b": hi, "cosine_raw": sims[ia, ib]})
        out = pd.DataFrame(cols)
        # Truncate by the SAME comparator the global ranking uses
        # (rounded-to-6dp desc, then ids) — sorting by raw cosine here
        # could cut a rounded-tie pair that outranks kept ones globally.
        out["cosine_rank"] = np.floor(out["cosine_raw"] * 1e6 + 0.5) / 1e6
        return (
            out.sort_values(
                ["cosine_rank", "vec_a", "vec_b"], ascending=[False, True, True]
            )
            .head(margin)
            .drop(columns=["cosine_rank"])
        )

    dtypes = dict(emb.dtypes)
    schema = (
        ", ".join(
            f"{out_name} {dtypes[src]}"
            for out_name, src in zip(out_block_cols, block_cols)
        )
        + ", vec_a long, vec_b long, cosine_raw double"
    )
    candidates = (
        emb.select(id_col, *block_cols, "embedding")
        .groupBy(*block_cols)
        .applyInPandas(block_pairs, schema=schema)
    )
    return (
        candidates.select(
            *out_block_cols,
            "vec_a",
            "vec_b",
            F.round(F.col("cosine_raw"), 6).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_a"), F.asc("vec_b"))
        .limit(k)
    )


def _plane_signs(n_planes: int, dim: int) -> list[list[int]]:
    """±1 hyperplane components, md5-seeded: component (p, j) is +1 iff the
    first hex digit of md5('p:j') >= '8' (1-indexed j) — reproducible in
    any engine/language with md5."""
    return [
        [
            1 if hashlib.md5(f"{p}:{j}".encode()).hexdigest()[0] >= "8" else -1
            for j in range(1, dim + 1)
        ]
        for p in range(n_planes)
    ]


def srp_buckets(
    emb: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    scale: int = 1000000,
    dim: int | None = None,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Signed-random-projection bucket per vector — a MAP-ONLY projection.

    Vector components are quantized to integers (floor(v*scale+0.5)), the
    signed sums fold against literal ±1 arrays, and the bucket is the sign
    bit pattern. No shuffle, no Python, exact integer math end-to-end.

    Pass ``dim`` (the embedding dimensionality) when the caller knows it —
    array columns don't carry their length in the schema, so discovering
    it otherwise costs a small plan-build-time Spark job. A ``dim``
    smaller than a vector's true length would silently truncate the
    projection (different buckets), so the lookup default stays max(size).
    """
    if dim is None:
        # max(size) is deterministic (first() depends on scan order) and
        # the None guard handles an empty table. NOTE: this runs a small
        # Spark job at plan-build time — acceptable for a dim lookup.
        dim = emb.agg(F.max(F.size("embedding"))).first()[0]
    if dim is None:
        return emb.select(
            id_col, *extra_cols, F.lit(0).cast("int").alias("bucket")
        ).limit(0)
    signs = _plane_signs(n_planes, dim)
    vq = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long"),
    )
    bucket = None
    for p in range(n_planes):
        sign_arr = F.array(*[F.lit(s) for s in signs[p]])
        acc = F.aggregate(
            F.zip_with(vq, sign_arr, lambda v, s: v * s.cast("long")),
            F.lit(0).cast("long"),
            lambda a, v: a + v,
        )
        bit = F.when(acc >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select(id_col, *extra_cols, bucket.cast("int").alias("bucket"))


def ivf_centroids(
    emb: DataFrame, n_centroids: int = 8, id_col: str = "vec_id"
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded centroids: the ``n_centroids`` vectors with the
    lowest ids. A production IVF runs k-means (Lloyd) refinement over a
    sample — the refinement changes WHERE the centroids sit, not the
    assignment/probe mechanics below, and seeded-from-data keeps the whole
    pipeline engine-exact (k-means float accumulation order would not be).
    One tiny driver collect: n_centroids × dim doubles."""
    rows = (
        emb.orderBy(id_col)
        .limit(n_centroids)
        .select(id_col, as_double().alias("cv"))
        .collect()
    )
    return [(r[0], list(r.cv)) for r in rows]


def _quantize(col: Column, scale: int) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    scale: int = 1000,
    emb_col: str = "embedding",
    carry_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Cluster id per vector — a MAP-ONLY projection, like ``srp_buckets``.

    Assignment is argmin of QUANTIZED squared L2 distance: components
    quantize to integers (floor(v*scale+0.5)), so distances are exact
    int64 sums any engine reproduces — no float-comparison ties. Ties
    break to the lowest centroid id via lexicographic struct min. The
    centroids enter the plan as literal arrays (no join, no shuffle); at
    corpus scale the assigned table is written bucketed/partitioned by
    ``cluster`` so a probe scans one cluster's files only.

    scale=1000 keeps the worst case safely inside int64: dim * (2 *
    scale * |v|max)^2 must stay < 2^63.

    ``emb_col``/``carry_cols`` parameterize the projection alongside
    ``id_col`` so any embeddings table works, not just one with a
    ``label`` column."""
    vq = _quantize(F.col(emb_col), scale)
    choices = []
    for cid, cvec in centroids:
        cq_arr = F.array(
            *[F.lit(int(math.floor(c * scale + 0.5))) for c in cvec]
        )
        dist = F.aggregate(
            F.zip_with(vq, cq_arr, lambda v, c: (v - c) * (v - c)),
            F.lit(0).cast("long"),
            lambda a, d: a + d,
        )
        choices.append(F.struct(dist.alias("d"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*choices))
    return emb.select(
        id_col, *carry_cols, emb_col, best["cid"].alias("cluster")
    )


def ivf_cluster_of(
    vec, centroids: list[tuple[int, list[float]]], scale: int = 1000
) -> int:
    """Driver-side twin of ``ivf_assign`` for one query vector — same
    quantized integer math, so the probe's cluster filter is a literal."""
    import math

    vq = [math.floor(float(v) * scale + 0.5) for v in vec]
    best = None
    for cid, cvec in centroids:
        cq = [math.floor(c * scale + 0.5) for c in cvec]
        d = sum((a - b) * (a - b) for a, b in zip(vq, cq))
        if best is None or (d, cid) < best:
            best = (d, cid)
    return best[1]


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    n_centroids: int = 8,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat ANN (nprobe=1): assign every vector to its nearest seeded
    centroid, then score exact cosine ONLY inside the query's cluster —
    the coarse-quantizer counterpart to the SRP bucket path. The probe is
    a map-only filter + scan of one cluster + a tiny top-k reduce; recall
    is the standard IVF trade-off (raise nprobe to scan more clusters)."""
    cents = ivf_centroids(emb, n_centroids=n_centroids, id_col=id_col)
    assigned = ivf_assign(emb, cents, id_col=id_col)
    qrow = (
        emb.filter(F.col(id_col) == query_vec_id)
        .select(as_double().alias("qv"))
        .collect()
    )
    if not qrow:
        return assigned.select(
            id_col, "label", "cluster",
            F.lit(None).cast("double").alias("cosine_sim"),
        ).limit(0)
    qvec = list(qrow[0].qv)
    qcluster = ivf_cluster_of(qvec, cents)
    qv = F.array(*[F.lit(v) for v in qvec])
    qn = sum(v * v for v in qvec) ** 0.5
    return (
        assigned.filter(
            (F.col("cluster") == qcluster) & (F.col(id_col) != query_vec_id)
        )
        .select(
            id_col,
            "label",
            "cluster",
            F.round(
                _cosine_from_norms(
                    dot_product(as_double(), qv), l2_norm(as_double()), F.lit(qn)
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def srp_bucket_of(vec, n_planes: int = 8, scale: int = 1000000) -> int:
    """Driver-side SRP bucket of one vector — the pure-Python twin of
    ``srp_buckets``'s Spark expression (same md5-seeded ±1 planes, same
    floor(v*scale+0.5) quantization, same integer accumulation), so a
    query vector's bucket can be computed without a Spark job and used as
    a literal pushdown filter against the bucketed index table."""
    signs = _plane_signs(n_planes, len(vec))
    import math

    vq = [math.floor(float(v) * scale + 0.5) for v in vec]
    bucket = 0
    for p in range(n_planes):
        acc = sum(v * s for v, s in zip(vq, signs[p]))
        if acc >= 0:
            bucket |= 1 << p
    return bucket


def write_ann_index(
    emb: DataFrame,
    table: str,
    n_planes: int = 8,
    num_file_buckets: int = 16,
    id_col: str = "vec_id",
    path: str | None = None,
) -> None:
    """Materialize the SRP-bucketed ANN index: vectors + bucket column,
    written ``bucketBy(num_file_buckets, "bucket")`` so an equality filter
    on ``bucket`` scans only the matching file bucket (Spark bucket
    pruning — `SelectedBucketsCount: 1 out of N` in the plan) instead of
    the full corpus. This is the scale path ``ann_candidates`` narrates:
    build once per corpus snapshot, then every query reads ~1/2^n_planes
    of the data with no shuffle and no full scan.

    ``bucketBy`` requires a catalog table (``saveAsTable``); pass ``path``
    to make it external. A stale warehouse location from a dead session
    (in-memory catalog: metadata dies, files persist) is deleted first so
    ``saveAsTable`` cannot fail with LOCATION_ALREADY_EXISTS."""
    spark = emb.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark._jvm.org.apache.hadoop.fs.Path(  # noqa: SLF001
        f"{spark.conf.get('spark.sql.warehouse.dir')}/{table}"
    )
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if fs.exists(loc):
        fs.delete(loc, True)
    buckets = srp_buckets(emb, n_planes=n_planes, id_col=id_col)
    with_bucket = emb.join(buckets, id_col)
    writer = (
        with_bucket.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_file_buckets, "bucket")
        .sortBy("bucket")
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def bucket_pruned_scan(spark):
    """Scope ``autoBucketedScan=false`` around building AND executing a
    filter-only read of a bucketed table.

    Without a join/agg over the bucket key, Spark's planner deems the
    bucketed scan unnecessary ("Bucketed: false (disabled by query
    planner)") and drops bucket-file pruning with it — verified on this
    Spark even when the query carries a literal bucket filter. The conf is
    consumed at PHYSICAL planning (execution) time, so it must still be
    off when the action runs; this context manager makes that scoping
    explicit and restores the caller's value afterwards instead of
    mutating the shared session permanently.
    """
    return scoped_conf(
        spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
    )


def ann_query_bucketed(
    spark,
    table: str,
    query_vec,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k against a ``write_ann_index`` table. The query's bucket is
    computed driver-side (``srp_bucket_of`` — no Spark job), so the scan
    carries a literal ``bucket = b`` filter that bucket-prunes to one file
    bucket (``SelectedBucketsCount: 1 out of N``); exact cosine then
    scores only that bucket's vectors.

    IMPORTANT: execute the returned DataFrame inside
    ``with bucket_pruned_scan(spark):`` — Spark's planner otherwise
    disables the bucketed scan for filter-only reads and the literal
    filter degrades to a rowgroup-stat pushdown (correct results, full
    file listing). Results are identical either way; only the scan
    pruning differs."""
    qb = srp_bucket_of(query_vec, n_planes=n_planes)
    qv = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = sum(float(v) * float(v) for v in query_vec) ** 0.5
    return (
        spark.table(table)
        .filter(F.col("bucket") == qb)
        .select(
            id_col,
            "label",
            "bucket",
            F.round(
                _cosine_from_norms(
                    dot_product(as_double(), qv),
                    l2_norm(as_double()),
                    F.lit(qn),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def ann_candidates(
    emb: DataFrame, query_vec_id: int = 0, n_planes: int = 8, id_col: str = "vec_id"
) -> DataFrame:
    """ANN search: restrict exact cosine scoring to the query's SRP bucket,
    computing buckets inline (for a stored corpus, ``write_ann_index`` +
    ``ann_query_bucketed`` is the scale path — the bucket filter then
    prunes at the file level instead of post-scan)."""
    buckets = srp_buckets(emb, n_planes=n_planes, id_col=id_col)
    with_bucket = emb.join(buckets, id_col)
    qb = with_bucket.filter(F.col(id_col) == query_vec_id).select(
        F.col("bucket").alias("qbucket"), as_double().alias("qv")
    ).select("qbucket", "qv", l2_norm(F.col("qv")).alias("qn"))
    cands = with_bucket.filter(F.col(id_col) != query_vec_id)
    return (
        cands.join(F.broadcast(qb), cands.bucket == F.col("qbucket"))
        .select(
            id_col,
            "label",
            "bucket",
            F.round(
                _cosine_from_norms(
                    dot_product(as_double(), F.col("qv")),
                    l2_norm(as_double()),
                    F.col("qn"),
                ),
                6,
            ).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
    )


def semantic_dedup_clusters(
    emb: DataFrame,
    n_planes: int | None = None,
    tau2_num: int = 49,
    tau2_den: int = 400,
    scale: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication audit (Abbas et al. 2023 —
    public method): partition embeddings into semantically-coherent
    clusters, find near-identical pairs ONLY within clusters, and mark
    the higher id of each pair for removal. Returns one row per cluster:
    (cluster, n_vectors, n_dup_pairs, n_removed).

    Clustering: SRP-LSH buckets stand in for SemDeDup's k-means coarse
    quantizer. SemDeDup scales k WITH the corpus (k ~ 1e5 on LAION)
    precisely so clusters stay constant-size; here ``n_planes=None``
    derives p = min p>=3 with 64*2^p >= n, pinning expected cluster size
    at ~64. Crucially the per-row assignment cost is O(p·dim) = O(log n)
    — a k-means/IVF argmin is O(k·dim) per row, which at derived k both
    re-quadratizes the scan (n·k ~ n²/64) AND explodes the codegen'd
    argmin expression tree (measured: k=79 centroid literals hung
    Catalyst; p=7 planes is 7 fold expressions). Assignment is map-only
    integer math (srp_buckets), zero shuffle.

    Determinism: the cosine gate never compares floats. Components are
    quantized to integers (floor(v*scale+0.5)); dot products and squared
    norms are exact int64 sums; ``cos >= tau`` (with dot >= 0) becomes
    the integer cross-multiplication tau2_den*dot² >= tau2_num*|a|²|b|²
    (defaults: 49/400 = 0.35²). Bounds: with |v|<=1, dim<=64, scale=100,
    tau2_den*dot² <= 400*(64*100²)² ≈ 1.6e17 < 2^63.

    The derived-p path costs one documented count() action (like the
    ``srp_buckets`` dim lookup). SRP buckets are hash-balanced, not
    size-balanced; the per-cluster n_vectors column makes skew visible,
    and the dial against a hot bucket is more planes."""
    if n_planes is None:
        n = emb.count()
        n_planes = 3
        while (64 << n_planes) < n:
            n_planes += 1
    base = srp_buckets(
        emb, n_planes=n_planes, id_col=id_col, extra_cols=(emb_col,)
    )
    vq = _quantize(F.col(emb_col), scale)
    nq = F.aggregate(
        F.transform(vq, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    base = base.select(
        F.col(id_col).alias("vid"),
        F.col("bucket").cast("long").alias("cluster"),
        vq.alias("q"),
        nq.alias("nq"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.vid") < F.col("b.vid")),
    )
    dq = F.aggregate(
        F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    gated = pairs.select(
        F.col("a.cluster").alias("cluster"),
        F.col("a.vid").alias("va"),
        F.col("b.vid").alias("vb"),
        dq.alias("dq"),
        F.col("a.nq").alias("na"),
        F.col("b.nq").alias("nb"),
    ).filter(
        (F.col("dq") >= 0)
        & (
            F.lit(tau2_den) * F.col("dq") * F.col("dq")
            >= F.lit(tau2_num) * F.col("na") * F.col("nb")
        )
    )
    cl = base.groupBy("cluster").agg(F.count("*").alias("n_vectors"))
    g = gated.groupBy("cluster").agg(
        F.count("*").alias("n_dup_pairs"),
        F.countDistinct("vb").alias("n_removed"),
    )
    return cl.join(g, "cluster", "left").select(
        "cluster",
        F.col("n_vectors").cast("long").alias("n_vectors"),
        F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
        F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
    )
