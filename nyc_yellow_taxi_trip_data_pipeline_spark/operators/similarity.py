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

Column contract: vectors are (vec_id, label, embedding) rows, the
``embeddings`` table's schema.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark.functions.vector import dot_product, l2_norm

#: Quantization scale of the IVF assignment: dim * (2 * scale * |v|max)^2
#: must stay < 2^63, so every quantized distance is an exact int64 sum.
_IVF_SCALE = 1000


def as_double(col: str = "embedding") -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _cosine_sim(v: Column, q: Column, qn: Column) -> Column:
    """cos(v, q) rounded to 6 dp so rankings on it are reproducible; NULL
    when either norm is zero. ``qn`` is the query vector's norm."""
    denom = l2_norm(v) * qn
    cos = F.when(denom == 0, F.lit(None).cast("double")).otherwise(
        dot_product(v, q) / denom
    )
    return F.round(cos, 6)


def _long_sum(arr: Column) -> Column:
    """Exact int64 sum of an integer array column."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)


def _quantize(col: Column, scale: int) -> Column:
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale + 0.5).cast("long")
    )


def brute_force_topk(emb: DataFrame, query_vec_id: int = 0, k: int = 10) -> DataFrame:
    """Exact cosine top-k against one stored vector. Cosine is rounded to
    6 dp before ranking so the ordering itself is reproducible."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        as_double().alias("qv")
    ).select("qv", l2_norm(F.col("qv")).alias("qn"))
    e = emb.filter(F.col("vec_id") != query_vec_id).select(
        "vec_id", "label", as_double().alias("ev")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            _cosine_sim(F.col("ev"), F.col("qv"), F.col("qn")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def blocked_neardup_topk(emb: DataFrame, *, k: int, block_col: list[str]) -> DataFrame:
    """Most-similar within-block pairs (embedding near-dup detection).

    Blocking on ``block_col`` bounds the pairwise problem to within-block
    cardinality (the same role LSH buckets play when no natural block key
    exists). The O(block²) cosine matrix is computed per block in ONE
    Arrow-batched applyInPandas stage with BLAS (float64 matmul — the one
    place a vectorized Python stage beats interpreted higher-order
    expressions by an order of magnitude), emitting only each block's
    top candidates; the tiny survivor set is rounded and globally ranked
    JVM-side. Per-block emit keeps the shuffle O(blocks·k), not O(pairs).

    ``block_col`` lists the block key columns, emitted as they are. At
    scale a natural key alone grows with the corpus and the per-block
    O(block²) matmul turns quadratic (measured 8-12x wall for 10x rows);
    compounding it with an SRP bucket (``srp_buckets``) re-bounds block
    size at a recall trade-off — a near-dup pair split across sign
    buckets is missed, the standard LSH recall/cost dial.
    """
    margin = 3 * k  # per-block overfetch so global rounding ties can't
    #                 cut a pair that belongs in the global top-k

    def block_pairs(pdf):
        # Self-contained closure: executor workers can't import the repo.
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        e = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        norms = np.sqrt((e * e).sum(axis=1))
        sims = (e @ e.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), 1)
        # orient pairs as (min_id, max_id) to match the relational form
        a_ids, b_ids = ids[ia], ids[ib]
        lo = np.minimum(a_ids, b_ids)
        hi = np.maximum(a_ids, b_ids)
        cols = {c: pdf[c].iloc[0] for c in block_col}
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
        ", ".join(f"{c} {dtypes[c]}" for c in block_col)
        + ", vec_a long, vec_b long, cosine_raw double"
    )
    candidates = (
        emb.select("vec_id", *block_col, "embedding")
        .groupBy(*block_col)
        .applyInPandas(block_pairs, schema=schema)
    )
    return (
        candidates.select(
            *block_col,
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
            "vec_id", *extra_cols, F.lit(0).cast("int").alias("bucket")
        ).limit(0)
    signs = _plane_signs(n_planes, dim)
    vq = _quantize(F.col("embedding"), scale)
    bucket = None
    for p in range(n_planes):
        sign_arr = F.array(*[F.lit(s) for s in signs[p]])
        acc = _long_sum(F.zip_with(vq, sign_arr, lambda v, s: v * s.cast("long")))
        bit = F.when(acc >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return emb.select("vec_id", *extra_cols, bucket.cast("int").alias("bucket"))


def ivf_centroids(
    emb: DataFrame, n_centroids: int = 8
) -> list[tuple[int, list[float]]]:
    """Deterministic seeded centroids: the ``n_centroids`` vectors with the
    lowest ids. A production IVF runs k-means (Lloyd) refinement over a
    sample — the refinement changes WHERE the centroids sit, not the
    assignment/probe mechanics below, and seeded-from-data keeps the whole
    pipeline engine-exact (k-means float accumulation order would not be).
    One tiny driver collect: n_centroids × dim doubles."""
    rows = (
        emb.orderBy("vec_id")
        .limit(n_centroids)
        .select("vec_id", as_double().alias("cv"))
        .collect()
    )
    return [(r[0], list(r.cv)) for r in rows]


def ivf_assign(emb: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Cluster id per vector — a MAP-ONLY projection, like ``srp_buckets``.

    Assignment is argmin of QUANTIZED squared L2 distance: components
    quantize to integers (floor(v*_IVF_SCALE+0.5)), so distances are exact
    int64 sums any engine reproduces — no float-comparison ties. Ties
    break to the lowest centroid id via lexicographic struct min. The
    centroids enter the plan as literal arrays (no join, no shuffle); at
    corpus scale the assigned table is written bucketed/partitioned by
    ``cluster`` so a probe scans one cluster's files only."""
    vq = _quantize(F.col("embedding"), _IVF_SCALE)
    choices = []
    for cid, cvec in centroids:
        cq_arr = F.array(
            *[F.lit(int(math.floor(c * _IVF_SCALE + 0.5))) for c in cvec]
        )
        dist = _long_sum(F.zip_with(vq, cq_arr, lambda v, c: (v - c) * (v - c)))
        choices.append(F.struct(dist.alias("d"), F.lit(cid).alias("cid")))
    best = F.array_min(F.array(*choices))
    return emb.select("vec_id", "label", "embedding", best["cid"].alias("cluster"))


def ivf_cluster_of(vec, centroids: list[tuple[int, list[float]]]) -> int:
    """Driver-side twin of ``ivf_assign`` for one query vector — same
    quantized integer math, so the probe's cluster filter is a literal."""
    import math

    vq = [math.floor(float(v) * _IVF_SCALE + 0.5) for v in vec]
    best = None
    for cid, cvec in centroids:
        cq = [math.floor(c * _IVF_SCALE + 0.5) for c in cvec]
        d = sum((a - b) * (a - b) for a, b in zip(vq, cq))
        if best is None or (d, cid) < best:
            best = (d, cid)
    return best[1]


def ivf_topk(
    emb: DataFrame,
    query_vec_id: int = 0,
    n_centroids: int = 8,
    k: int = 10,
) -> DataFrame:
    """IVF-flat ANN (nprobe=1): assign every vector to its nearest seeded
    centroid, then score exact cosine ONLY inside the query's cluster —
    the coarse-quantizer counterpart to the SRP bucket path. The probe is
    a map-only filter + scan of one cluster + a tiny top-k reduce; recall
    is the standard IVF trade-off (raise nprobe to scan more clusters)."""
    cents = ivf_centroids(emb, n_centroids=n_centroids)
    assigned = ivf_assign(emb, cents)
    qrow = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(as_double().alias("qv"))
        .collect()
    )
    if not qrow:
        return assigned.select(
            "vec_id", "label", "cluster",
            F.lit(None).cast("double").alias("cosine_sim"),
        ).limit(0)
    qvec = list(qrow[0].qv)
    qcluster = ivf_cluster_of(qvec, cents)
    qv = F.array(*[F.lit(v) for v in qvec])
    qn = sum(v * v for v in qvec) ** 0.5
    return (
        assigned.filter(
            (F.col("cluster") == qcluster) & (F.col("vec_id") != query_vec_id)
        )
        .select(
            "vec_id",
            "label",
            "cluster",
            _cosine_sim(as_double(), qv, F.lit(qn)).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
    )


def ann_candidates(
    emb: DataFrame, query_vec_id: int = 0, n_planes: int = 8
) -> DataFrame:
    """ANN search: restrict exact cosine scoring to the query's SRP bucket.
    Buckets come from ``srp_buckets`` over the whole input; the query
    row's bucket and vector join back as a broadcast, so only vectors
    sharing the query's bucket are scored."""
    buckets = srp_buckets(emb, n_planes=n_planes)
    with_bucket = emb.join(buckets, "vec_id")
    qb = with_bucket.filter(F.col("vec_id") == query_vec_id).select(
        F.col("bucket").alias("qbucket"), as_double().alias("qv")
    ).select("qbucket", "qv", l2_norm(F.col("qv")).alias("qn"))
    cands = with_bucket.filter(F.col("vec_id") != query_vec_id)
    return (
        cands.join(F.broadcast(qb), cands.bucket == F.col("qbucket"))
        .select(
            "vec_id",
            "label",
            "bucket",
            _cosine_sim(as_double(), F.col("qv"), F.col("qn")).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    )


def semantic_dedup_clusters(emb: DataFrame, n_planes: int | None = None) -> DataFrame:
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
    quantized to integers (floor(v*100+0.5)); dot products and squared
    norms are exact int64 sums; ``cos >= 0.35`` (with dot >= 0) becomes
    the integer cross-multiplication 400*dot² >= 49*|a|²|b|² (49/400 =
    0.35²). Bounds: with |v|<=1, dim<=64,
    400*dot² <= 400*(64*100²)² ≈ 1.6e17 < 2^63.

    The derived-p path costs one documented count() action (like the
    ``srp_buckets`` dim lookup). SRP buckets are hash-balanced, not
    size-balanced; the per-cluster n_vectors column makes skew visible,
    and the dial against a hot bucket is more planes."""
    if n_planes is None:
        n = emb.count()
        n_planes = 3
        while (64 << n_planes) < n:
            n_planes += 1
    base = srp_buckets(emb, n_planes=n_planes, extra_cols=("embedding",))
    vq = _quantize(F.col("embedding"), 100)
    nq = _long_sum(F.transform(vq, lambda x: x * x))
    base = base.select(
        F.col("vec_id").alias("vid"),
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
    dq = _long_sum(F.zip_with(F.col("a.q"), F.col("b.q"), lambda x, y: x * y))
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
            F.lit(400) * F.col("dq") * F.col("dq")
            >= F.lit(49) * F.col("na") * F.col("nb")
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
