"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for the 100 TB training-data path:

- **Exact** dedup is a hash group-by — one shuffle on the text (or its md5,
  to keep shuffle rows small).
- **MinHash+LSH** is the scale path for near-dup detection: per-doc
  signatures are a single agg pass, band buckets turn the O(n^2) pairwise
  problem into an equi-join on band keys, and exact Jaccard runs only on
  band-colliding candidates.
- **SimHash** compresses each doc to a small integer fingerprint with one
  agg pass; near-dups collide on (or differ by few bits from) the
  fingerprint.
- **n-gram Jaccard** via an inverted shingle index (explode -> self-join on
  shingle -> count) — exact, used to verify candidates or as the oracle
  of record at small scale.

Determinism/portability: hash functions are md5-based (string-min MinHash,
hex-digit SimHash) so any engine reproduces identical signatures — no
engine-specific murmur seeds.

Column contract: documents are (doc_id, text[, source]) rows, the
``documents`` table's schema; every pair output is (doc_a, doc_b) with
doc_a < doc_b for the symmetric forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Candidate-pair count up to which the verification helpers broadcast the
#: candidate keys and pairs; above it they run spill-safe sort-merge joins.
_BROADCAST_CAP = 2_000_000


def tokenize_distinct(df: DataFrame) -> DataFrame:
    """(doc_id, w) pairs, distinct — the set representation of each doc."""
    return (
        df.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )


def shingle_distinct(df: DataFrame, n: int = 2) -> DataFrame:
    """(doc_id, n-gram shingle) pairs, distinct. Word n-grams via a native
    higher-order transform over the split array (1-indexed element_at, so
    the same expression is portable SQL)."""
    parts = " || ' ' || ".join(f"element_at(w, i + {j})" for j in range(n))
    return (
        df.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(f"transform(sequence(1, size(w) - {n - 1}), i -> {parts})")
            ).alias("shingle"),
        )
        .distinct()
    )


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: canonical (min) id + copy count per text."""
    return df.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )


def dedup_keep_first(
    df: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Deterministic dropDuplicates: keep the lowest ``order_col`` row per
    key (Spark's dropDuplicates keeps an arbitrary row — unacceptable for
    reproducible pipelines)."""
    w = Window.partitionBy(*key_cols).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signatures(shingles: DataFrame, n_hashes: int = 12) -> DataFrame:
    """Per-doc MinHash signature: for each hash i, the minimum of
    md5(i || ':' || shingle) over the doc's shingle set. String-min of a
    cryptographic hex digest is a valid uniform min-hash and is exactly
    reproducible in any engine with md5()."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_bands(sigs: DataFrame, n_hashes: int = 12, band_size: int = 2) -> DataFrame:
    """Long-format (doc_id, band_id, band_key): signature rows sliced into
    bands of ``band_size`` concatenated hashes. ``n_hashes`` must divide
    evenly into bands — a silent remainder would quietly weaken recall."""
    if n_hashes % band_size != 0:
        raise ValueError(
            f"n_hashes={n_hashes} is not divisible by band_size={band_size}; "
            "trailing hashes would be silently dropped, weakening recall"
        )
    n_bands = n_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(
                    *[F.col(f"mh{b * band_size + j}") for j in range(band_size)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_id").alias("band_id"), F.col("b.band_key").alias("band_key")
    )


def _cap_buckets(bands: DataFrame, max_bucket: int | None) -> DataFrame:
    """Drop every (band_id, band_key) bucket holding more than
    ``max_bucket`` docs; ``None`` keeps all.

    A band key shared by f docs emits O(f^2) join rows, so one giant
    bucket (a massively-duplicated boilerplate text) becomes a straggler
    partition at corpus scale (SimHash, measured: top bucket 1839 docs at
    sf0.1 -> 15551 at a 10x corpus = 121M pairs from ONE bucket). Recall
    trade-off: members of an over-cap bucket are near-identical en masse
    and belong to exact/boilerplate dedup (a group-by), not pairwise
    LSH — pairs are the wrong output shape for them anyway.

    The count is a window over the join key — measured (sf0.1, warm, 3
    reps) the cheapest of three shapes: the window adds ~0.4s over
    uncapped; an in-plan broadcast anti-join of over-cap keys re-runs the
    full upstream aggregation once per downstream reuse of this DataFrame
    (6x worse); an eagerly-collected literal NOT-isin filter pays a whole
    extra pipeline pass at plan-build time (1.5x worse). The window's
    per-hot-key partition holds O(f) rows — linear, exactly what the cap
    exists to guarantee the join never exceeds.
    """
    if max_bucket is None:
        return bands
    w = Window.partitionBy("band_id", "band_key")
    return (
        bands.withColumn("__bn", F.count("*").over(w))
        .filter(F.col("__bn") <= max_bucket)
        .drop("__bn")
    )


def lsh_candidate_pairs(bands: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band — the
    equi-join that replaces the quadratic all-pairs comparison. Buckets
    over ``max_bucket`` docs are dropped before the self-join
    (``_cap_buckets``)."""
    bands = _cap_buckets(bands, max_bucket)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _candidate_docs(
    pairs: DataFrame, pairs_count: int | None
) -> tuple[DataFrame, int, DataFrame]:
    """The verification prologue: returns (pairs, pairs_count, docs).

    A None ``pairs_count`` is measured here (eager localCheckpoint +
    count): ``pairs`` feeds both the candidate-doc semi-join and the
    verify join, so materializing stops the band-join chain recomputing
    per consumer, and the count picks the broadcast plan whenever it is
    safe. ``docs`` is the distinct doc ids on either side of the pairs —
    the key set every verification join is restricted to — broadcast at
    or under ``_BROADCAST_CAP`` pairs."""
    if pairs_count is None:
        pairs = pairs.localCheckpoint(eager=True)
        pairs_count = pairs.count()
    docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if pairs_count <= _BROADCAST_CAP:
        docs = F.broadcast(docs)
    return pairs, pairs_count, docs


def jaccard_on_pairs(
    pairs: DataFrame, shingles: DataFrame, pairs_count: int | None = None
) -> DataFrame:
    """EAGER when ``pairs_count`` is None: plan CONSTRUCTION then runs
    Spark jobs (localCheckpoint + count on ``pairs``) — pass
    ``pairs_count`` whenever the call site already knows it, both to
    stay lazy and because localCheckpoint lineage is unrecoverable on
    executor loss.

    Exact Jaccard for candidate pairs via the inverted index:
    |A ∩ B| from a shingle equi-join restricted to candidates,
    |A ∪ B| = |A| + |B| − |A ∩ B| from per-doc set sizes.

    CANDIDATE-RESTRICTED at any scale: the corpus shingle table is first
    cut down to candidate docs with a semi-join, so the corpus is never
    broadcast and never hash-built — only candidate-doc shingle mass
    (bounded by the bucket cap x shingles/doc) moves through the
    verification joins. Before this restriction, the un-hinted joins
    chose a plan-time BROADCAST of the FULL shingle and sizes tables
    (localCheckpoint's LogicalRDD stats undersell string-heavy tables;
    measured at 100x corpus: the driver died building a multi-GB hash
    relation), and a blanket SHUFFLE_HASH fix cost 1.5-2x at sf0.1 by
    shuffling the whole corpus.

    ``pairs_count`` (cheap on a localCheckpointed candidate set) selects
    the strategy: at or under ``_BROADCAST_CAP`` the candidate keys and
    pair list are broadcast (the semi-join and first verify join run
    map-side over the corpus scan — zero corpus shuffle); above it
    everything runs as sort-merge joins (SMJ spills; a shuffled-hash
    build does not, and AQE's partition coalescing can concentrate a
    build side past per-task memory — measured at 100x: 'Can't acquire
    ... bytes to build hash relation'), still linear at any corpus
    size. A None ``pairs_count`` is measured in ``_candidate_docs``."""
    pairs, pairs_count, docs_in = _candidate_docs(pairs, pairs_count)
    small = pairs_count <= _BROADCAST_CAP
    # The restricted shingle table feeds THREE subtrees (sizes + both
    # intersection-join sides); without pinning it, each subtree re-runs
    # the corpus-wide semi-join — the bulk of the r10 verification
    # delta. Candidate-doc shingle mass is bounded (bucket cap x
    # shingles/doc) and the checkpoint is executor-local disk-backed,
    # so the pin stays safe on the SMJ path too — it trades one bounded
    # write for two corpus-wide recomputes.
    r = shingles.join(docs_in, "doc_id", "left_semi").localCheckpoint(
        eager=True
    )
    sizes = r.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = r.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = r.select(F.col("doc_id").alias("doc_b"), "shingle")
    p = F.broadcast(pairs) if small else pairs.hint("merge")
    inter = (
        p.join(sa, "doc_a")
        .join(sb.hint("merge"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    if small:
        na, nb = F.broadcast(na), F.broadcast(nb)
    else:
        na = na.hint("merge")
        nb = nb.hint("merge")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def sig_agreement_filter(
    pairs: DataFrame,
    sigs: DataFrame,
    min_agree: int,
    n_hashes: int = 12,
    pairs_count: int | None = None,
) -> DataFrame:
    """EAGER when ``pairs_count`` is None: plan CONSTRUCTION then runs
    Spark jobs (localCheckpoint + count on ``pairs``) — pass
    ``pairs_count`` whenever the call site already knows it (see
    jaccard_on_pairs).

    Keep candidate pairs whose MinHash signatures agree on at least
    ``min_agree`` of ``n_hashes`` positions — the signature-based Jaccard
    ESTIMATE (E[agreement fraction] = true Jaccard) used as a cheap
    pre-verify gate.

    Measured necessity: on a corpus with a large borderline-similarity
    mass (10x replicas at Jaccard ~1/3), band collisions alone passed
    555k candidates through the bucket cap, and exact verification
    (candidates x shingles intersection join) dominated the whole
    pipeline. The signature check costs 12 string equalities per pair on
    a ~400-byte/doc join — orders of magnitude below the verify it
    spares. The estimate is binomial-noisy (sigma ~ sqrt(j(1-j)/n)), so
    ``min_agree`` must sit safely BELOW threshold*n_hashes to keep
    borderline recall; it is a deterministic function of the signatures,
    so an oracle reproduces the exact same survivor set.

    Candidate-restricted like ``jaccard_on_pairs``: the corpus-scaled
    signature table is semi-joined down to candidate docs first (the
    un-restricted join picked the full signature table as a plan-time
    broadcast build from localCheckpoint's misleading stats — fatal at
    100x corpus). ``pairs_count`` <= ``_BROADCAST_CAP`` broadcasts the
    candidate keys/pairs (map-side over the signature scan); above,
    spill-safe sort-merge joins. A None ``pairs_count`` is measured in
    ``_candidate_docs``."""
    pairs, pairs_count, docs_in = _candidate_docs(pairs, pairs_count)
    small = pairs_count <= _BROADCAST_CAP
    # sr feeds BOTH agreement-join sides; pin it so the corpus-wide
    # semi-join over the signature table runs once, not twice (same
    # rationale as jaccard_on_pairs' restricted-shingle pin).
    sr = sigs.join(docs_in, "doc_id", "left_semi").localCheckpoint(eager=True)
    a = sr.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"__a{i}") for i in range(n_hashes)],
    )
    b = sr.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"__b{i}") for i in range(n_hashes)],
    )
    agree = None
    for i in range(n_hashes):
        term = F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    p = F.broadcast(pairs) if small else pairs.hint("merge")
    joined = p.join(a, "doc_a")
    # The b side is ~25x wider than a pair row (n_hashes signature
    # strings), so its broadcast gets a 10x tighter bound; between the
    # two caps the join falls back to spill-safe sort-merge.
    if small and pairs_count <= _BROADCAST_CAP // 10:
        b = F.broadcast(b)
    else:
        joined = joined.hint("merge")
    return (
        joined.join(b, "doc_b")
        .filter(agree >= min_agree)
        .select("doc_a", "doc_b")
    )


def minhash_near_duplicates(
    df: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 2,
    shingle_n: int = 2,
    max_bucket: int | None = None,
    sig_agree_min: int | None = None,
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle -> signatures -> bands ->
    candidate pairs [-> signature-agreement pre-filter] -> exact-Jaccard
    verify -> threshold.

    ``sh`` / ``sigs`` optionally inject ALREADY-MATERIALIZED shingle /
    signature tables (they must have been built with the same
    ``shingle_n`` / ``n_hashes`` — the caller owns that
    consistency): a session that runs several pipelines over one corpus
    (symmetric near-dup + the delta-vs-index form) computes the two
    expensive base tables once and feeds every consumer, exactly as a
    cluster deployment would read per-corpus-snapshot shingle/signature
    parquet instead of recomputing them per query.

    ``sig_agree_min`` enables the estimate gate between candidate
    generation and exact verification (see ``sig_agreement_filter``) —
    the defense against borderline-similarity blobs whose band collisions
    survive the bucket cap but whose exact verification is wasted work.

    The shingle table feeds 3 downstream subtrees (sizes + both sides of
    the intersection join) and the signature table up to 4 (both band
    self-join branches + both sides of the agreement gate). Both are
    therefore materialized ONCE via eager localCheckpoint — at 10x corpus
    the signature computation (n_hashes md5s per shingle) re-ran per
    subtree and dominated the whole pipeline (measured 4-6x the useful
    work). At cluster scale the same role is played by writing the
    shingle/signature tables to parquet once per corpus snapshot."""
    if sh is None:
        sh = shingle_distinct(df, n=shingle_n).localCheckpoint(eager=True)
    if sigs is None:
        sigs = minhash_signatures(sh, n_hashes=n_hashes).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(
        lsh_bands(sigs, n_hashes=n_hashes, band_size=band_size),
        max_bucket=max_bucket,
    )
    # Candidates are a small (doc_a, doc_b) set; pinning them stops the
    # band-window/self-join/distinct chain from re-running inside the
    # multi-branch verification joins, and the count on the materialized
    # set (a cheap metadata-ish job, not a data pull) is what lets the
    # downstream helpers pick broadcast-restricted vs shuffle-restricted
    # verification plans from the ACTUAL candidate cardinality instead
    # of Spark's (checkpoint-blinded) estimates.
    cands = cands.localCheckpoint(eager=True)
    n_cands = cands.count()
    if sig_agree_min is not None:
        cands = sig_agreement_filter(
            cands,
            sigs,
            sig_agree_min,
            n_hashes=n_hashes,
            pairs_count=n_cands,
        ).localCheckpoint(eager=True)
        n_cands = cands.count()
    return jaccard_on_pairs(cands, sh, pairs_count=n_cands).filter(
        F.col("jaccard") >= threshold
    )


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair graph by
    iterative hash-min label propagation: every node's label converges to the
    MINIMUM node id in its component — the canonical-document assignment
    that turns near-dup PAIRS into dedup CLUSTERS.

    Each round is one shuffle join (labels propagated along edges) + a
    min-aggregate; rounds needed = graph diameter, and near-dup components
    are near-cliques (diameter 1-2), so convergence is 2-3 rounds in
    practice. ``localCheckpoint`` after every round truncates the lineage
    — without it the plan doubles per iteration and the job dies on plan
    explosion long before data size matters. At extreme scale the
    round count is further cut by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce"),
    which this deliberately keeps simpler than: diameter-bounded input
    makes plain min-propagation the cheaper plan.

    Returns (node, cluster) for every node appearing in ``pairs``;
    singletons never enter the graph and keep themselves as canonical.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)  # materialize once; reused every round
    )
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    def _hop(lbls):
        prop = (
            edges.join(lbls.select(F.col("u").alias("v"), "lbl"), "v")
            .groupBy("u")
            .agg(F.min("lbl").alias("nlbl"))
        )
        return (
            lbls.join(prop, "u", "left")
            # least() ignores NULL, so isolated rounds keep the old label
            .select("u", F.least("lbl", "nlbl").alias("lbl"))
        )

    changed = -1
    for _ in range(max_iters):
        # Two edge-hops per materialization/convergence check: the fixed
        # per-round cost (checkpoint + count job) is paid half as often
        # for the same propagation distance — near-clique dup components
        # converge in ONE round.
        new_labels = _hop(_hop(labels)).localCheckpoint(eager=True)
        changed = (
            new_labels.select("u", F.col("lbl").alias("new_lbl"))
            .join(labels, "u")
            .filter(F.col("new_lbl") < F.col("lbl"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # A silent exit here would return plausible-but-WRONG labels for
        # any component wider than 2*max_iters hops (e.g. a long chain of
        # borderline matches). Wrong cluster assignments poison downstream
        # dedup decisions invisibly; fail loudly and let the caller raise
        # max_iters instead.
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"iterations ({2 * max_iters} edge-hops): {changed} labels "
            "still changing — component diameter exceeds the hop budget; "
            "raise max_iters"
        )
    return labels.select(
        F.col("u").alias("node"), F.col("lbl").alias("cluster")
    )


def _simhash(tokens: DataFrame, n_bits: int, dtype: str) -> DataFrame:
    """(doc_id, simhash) in ONE aggregation pass over ``tokenize_distinct``
    rows: each distinct token hashes to ``n_bits`` bits (the first
    n_bits/4 hex chars of md5); each bit contributes +1/−1 to a per-bit
    accumulator; fingerprint bit j is the sign of accumulator j.
    All-integer arithmetic — bit-exact in any engine, no merge-order
    sensitivity."""
    # Hash once per token in a projection; the bit-vote aggregates then
    # read the integer column (inlining the md5 into each aggregate would
    # recompute it n_bits times per row — Catalyst does not CSE across
    # agg buffers).
    hashed = tokens.withColumn(
        "__hw",
        F.expr(
            f"CAST(conv(substring(md5(w), 1, {n_bits // 4}), 16, 10) AS BIGINT)"
        ),
    )
    sums = [
        F.expr(
            f"sum(CASE WHEN CAST(FLOOR(__hw / {1 << j}) AS BIGINT) % 2 = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"s{j}")
        for j in range(n_bits)
    ]
    acc = hashed.groupBy("doc_id").agg(*sums)
    fp = None
    for j in range(n_bits):
        bit = F.when(F.col(f"s{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return acc.select("doc_id", fp.cast(dtype).alias("simhash"))


def simhash16(tokens: DataFrame) -> DataFrame:
    """16-bit SimHash fingerprint per doc (int), over
    ``tokenize_distinct``'s (doc_id, w) rows."""
    return _simhash(tokens, 16, "int")


def simhash_fingerprints(tokens: DataFrame, n_bits: int = 60) -> DataFrame:
    """N-bit SimHash fingerprint per doc (long; generalized ``simhash16``).

    Fingerprint WIDTH is the scale dial for Hamming-LSH: band-bucket
    count is 2^(n_bits / n_bands), so bits must grow ~2*log2(corpus)
    or the band join saturates and turns quadratic (measured: the
    16-bit form hit a 15x wall ratio at a 10x corpus; 60 bits keeps
    buckets bounded to ~millions of docs). 60 = 15 hex digits of md5,
    so the fingerprint and every intermediate stays inside signed int64
    in any engine.
    """
    if n_bits % 4 != 0 or n_bits > 60:
        raise ValueError("n_bits must be a multiple of 4, at most 60")
    return _simhash(tokens, n_bits, "long")


def simhash_near_duplicates(
    fingerprints: DataFrame,
    n_bits: int = 60,
    n_bands: int = 4,
    max_hamming: int = 3,
    fp_col: str = "simhash",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints via Hamming-LSH banding.

    The fingerprint is sliced into ``n_bands`` equal bit-bands; pairs
    agreeing on at least one band are candidates (pigeonhole: a pair
    within Hamming distance d < n_bands MUST agree on some band — full
    recall for ``max_hamming`` = n_bands - 1), then exact
    bit_count(xor) verifies the radius on candidates only. Same shape as
    MinHash-LSH: band equi-join, never O(n^2); bucket count per band is
    2^(n_bits/n_bands), the knob that must track corpus size (see
    ``simhash_fingerprints``).

    ``max_bucket`` is the same hot-bucket cap ``lsh_candidate_pairs``
    applies (``_cap_buckets``): a mass of near-identical documents
    (boilerplate) concentrates into single band buckets.
    """
    if n_bits % n_bands != 0:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= n_bands={n_bands}: banding would "
            "miss in-radius pairs (full recall needs max_hamming < n_bands)"
        )
    bw = n_bits // n_bands
    mask = (1 << bw) - 1
    bands = fingerprints.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col(fp_col), bw * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band_id"), F.col("b.band_key"))
    cand = lsh_candidate_pairs(bands, max_bucket=max_bucket)
    fa = fingerprints.select(
        F.col("doc_id").alias("doc_a"), F.col(fp_col).alias("__fa")
    )
    fb = fingerprints.select(
        F.col("doc_id").alias("doc_b"), F.col(fp_col).alias("__fb")
    )
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")).cast("long"))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def lsh_candidate_pairs_asymmetric(
    bands_query: DataFrame,
    bands_index: DataFrame,
    max_bucket: int | None = None,
) -> DataFrame:
    """Asymmetric LSH candidate join: QUERY docs against an INDEX corpus
    (incremental-ingest dedup — new batch vs everything already accepted)
    instead of the self-join form. Returns (doc_a=query, doc_b=index)
    pairs sharing a band. The cap bounds INDEX-side bucket fan-out: a new
    doc colliding with a boilerplate index bucket would otherwise emit
    O(bucket) rows per query doc; over-cap index buckets are dropped (a
    query doc matching mass boilerplate is caught by exact dedup).
    """
    bands_index = _cap_buckets(bands_index, max_bucket)
    a = bands_query.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands_index.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    return (
        a.join(b, ["band_id", "band_key"])
        .select("doc_a", "doc_b")
        .distinct()
    )


def write_signature_index(
    docs: DataFrame,
    table: str,
    n_hashes: int = 12,
    band_size: int = 3,
    num_file_buckets: int = 16,
    *,
    path: str,
) -> None:
    """Materialize the accepted-corpus MinHash dedup index: built ONCE per
    corpus snapshot so each ingest batch pays O(|delta|), never an
    O(corpus) signature recompute. Two tables:

    - ``{table}_sigs``: (doc_id, fp=md5(lower(text)), mh0..mhN-1) over
      word-bigram shingles, bucketed by ``doc_id`` — the exact-dup
      fingerprint set and the index side of the signature-agreement
      verify (both join on doc_id/fp; bucketing makes the big index side
      shuffle-free in those joins).
    - ``{table}_bands``: (doc_id, band_id, band_key), bucketed by
      (band_id, band_key) — the index side of the asymmetric candidate
      join. The bucket spec matches BOTH the join keys and the
      ``max_bucket`` cap window's partition keys, so the per-batch plan
      shuffles only the delta's band rows; the index band table is read
      pre-clustered.

    ``bucketBy`` requires a catalog table (``saveAsTable``); both tables
    are external, written under ``path/sigs`` and ``path/bands``.
    """
    # Fingerprints are the base (LEFT join): a doc too short to shingle
    # still has an exact-dup fingerprint; its mh columns stay null, and a
    # null band_key (concat of nulls) can never equi-join — so it is
    # exact-dup-checkable but never an LSH candidate, matching the
    # cold-path semantics where it simply has no signature row.
    sigs = docs.select("doc_id", F.md5(F.lower(F.col("text"))).alias("fp")).join(
        minhash_signatures(shingle_distinct(docs, n=2), n_hashes=n_hashes),
        "doc_id",
        "left",
    )
    (
        sigs.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_file_buckets, "doc_id")
        .option("path", f"{path}/sigs")
        .saveAsTable(f"{table}_sigs")
    )

    # Re-read the materialized signatures so band derivation scans the
    # 12-hash-column parquet, not the raw corpus text a second time.
    bands = lsh_bands(
        docs.sparkSession.table(f"{table}_sigs"),
        n_hashes=n_hashes,
        band_size=band_size,
    )
    (
        bands.write.mode("overwrite")
        .format("parquet")
        .bucketBy(num_file_buckets, "band_id", "band_key")
        .option("path", f"{path}/bands")
        .saveAsTable(f"{table}_bands")
    )


def ngram_fingerprints(
    df: DataFrame,
    n: int = 4,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, ng) rows: md5 fingerprints of every SLIDING lowercase word
    n-gram (stride 1 — unlike ``shingle_distinct``'s set semantics, kept
    per-position then deduplicated downstream where needed). The n-gram
    array is built by a map-only higher-order transform; only the 32-char
    md5 travels, never the n-gram text."""
    w = F.split(F.lower(F.col("text")), " ")
    ngs = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - n + 1),
            lambda i: F.md5(F.array_join(F.slice(w, i, F.lit(n)), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select("doc_id", *extra_cols, F.explode(ngs).alias("ng"))


def ngram_contamination(
    train: DataFrame,
    bench: DataFrame,
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination at n-gram granularity (the GPT-3/Llama
    training-hygiene check): a train doc is contaminated if ANY of its
    sliding word n-grams appears verbatim in the benchmark set. Returns
    one row per contaminated train doc: (doc_id, source, n_hit = distinct
    benchmark n-grams it shares).

    Scale shape: benchmark suites are tiny next to a training corpus
    (MBs vs TBs), so the distinct benchmark n-gram set is BROADCAST and
    the train side's n-grams are generated map-side and probed against
    the broadcast hash set without ever shuffling — the only shuffled
    rows are the sparse hits, grouped on (id, group) to count distinct
    matching n-grams. Nothing in the plan scales with corpus x benchmark.
    """
    bench_ngs = (
        ngram_fingerprints(bench, n=n).select("ng").distinct()
    )
    train_ngs = ngram_fingerprints(train, n=n, extra_cols=("source",))
    return (
        train_ngs.join(F.broadcast(bench_ngs), "ng")
        .groupBy("doc_id", "source")
        .agg(F.countDistinct("ng").alias("n_hit"))
    )
