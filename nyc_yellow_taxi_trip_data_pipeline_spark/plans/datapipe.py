"""Training-data pipeline query inventory: dedup, similarity, text,
multimodal — the operators a 100 TB LLM-data pipeline needs, each
oracle-checked where SQL can express the semantics.

Implementation layer: operators/{dedup,similarity,text,multimodal}.py.
Hash portability: every signature/fingerprint derives from md5 (available
and identical in Spark, DuckDB, and any other engine) — never from
engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nyc_yellow_taxi_trip_data_pipeline_spark import memo
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import dedup as dd
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import multimodal as mm
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import similarity as sim
from nyc_yellow_taxi_trip_data_pipeline_spark.operators import text as tx
from nyc_yellow_taxi_trip_data_pipeline_spark.plans import cache
from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import sql_qsum
from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import register
from nyc_yellow_taxi_trip_data_pipeline_spark.session import scoped_conf
from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
    _data_fingerprint_token,
    read_table,
)


def _largest_group(spark, sf_dir: str, table: str, df, col: str):
    """(row_count, group_value) of the row-richest non-null ``col``
    group in ``df``, ties to the LARGEST group value — session-memoized
    on ``table``'s data fingerprint, so repeated runs (bench reps, parity
    + driver in one session) don't re-scan the source for a value that
    only changes when the data regenerates. Bounded pull: <= #groups
    rows. Null groups are filtered so the (n, group) tie-break max()
    can't hit a None/int comparison."""

    def build():
        rows = (
            df.filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count("*").alias("n"))
            .collect()
        )
        if not rows:
            raise AssertionError(
                f"_largest_group: no non-null {col!r} groups in {table}"
            )
        return max((r["n"], r[col]) for r in rows)

    return memo.get_or_build(
        spark,
        "largest_group",
        (sf_dir, table, col),
        _data_fingerprint_token(sf_dir, table),
        build,
    )


# Shared MinHash near-dup build (r16, the r15 verdict's item #1): five
# registered queries consume the SAME verified pair set — q32 (pairs +
# jaccard), q68/q112/q144 (pair graph -> connected components), and
# q101 at its own 24-hash dial — and each used to re-run the whole
# shingle -> signature -> band-join -> verify pipeline (~18 s of the
# 184 s r15 bench; at 100 TB you'd never recompute signatures five
# times per corpus snapshot either — ARCHITECTURE.md's answer there is
# ONE persisted signature/pair snapshot, which q98/q167's bucketed
# signature index already demonstrates; this memo is the in-session
# equivalent for the batch family). Each family below is one
# ``memo.get_or_build`` family; its values are eager-localCheckpointed
# (executor-local disk): the pair set is consumed by up to four
# downstream plan shapes per bench pass, and lineage past the
# checkpoint is already truncated inside minhash_near_duplicates.


def _minhash_recipe_key(
    spark: SparkSession, sf_dir: str, recipe: tuple, table: str = "documents"
) -> tuple:
    """(name, token) of a shared build. The name carries every axis a
    session legitimately reads again, so a new value there never evicts
    the old one: sf_dir (cross-corpus interleaving), every recipe dial
    (q101's sharpened dial can never collide with q32's default), and
    the session's CURRENT spark.sql.shuffle.partitions (the layout-flip
    determinism sweep, tools/rerun_determinism.py, runs both layouts in
    ONE session, and a layout-blind memo would hand the second layout
    the first layout's checkpointed build). The token is ``table``'s
    DATA fingerprint: an in-place regeneration rebuilds and evicts the
    superseded build (lesson 25; never path-keyed)."""
    name = (sf_dir, spark.conf.get("spark.sql.shuffle.partitions"), recipe)
    return name, _data_fingerprint_token(sf_dir, table)


def shared_build_seconds(app_id: str) -> dict:
    """Per-family EXCLUSIVE build seconds of ``app_id``'s session memo
    (nested builds — pairs -> sigs -> shingles — record under their own
    family, so the values sum without double counting)."""
    return {fam: c["build_s"] for fam, c in memo.stats(app_id).items()}


def _simhash_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_bits: int,
    n_bands: int,
    max_hamming: int,
    max_bucket: int | None,
) -> DataFrame:
    """Session-memoized text-SimHash near-dup pairs (doc_a, doc_b,
    hamming) over the documents corpus — q92 (the near-dup surface) and
    q123 (the edit-distance verifier over the SAME pair set) build the
    identical tokenize -> fingerprint -> band -> Hamming-verify pipeline;
    one artifact serves both, same key discipline as the MinHash ladder
    (`_minhash_recipe_key` folds in the corpus fingerprint and the
    current shuffle layout). pHash consumers (q113/q150) fingerprint
    media payloads, not text, and stay un-memoized by design."""
    name, token = _minhash_recipe_key(
        spark, sf_dir, ("simhash", n_bits, n_bands, max_hamming, max_bucket)
    )
    def _build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        fp = dd.simhash_fingerprints(
            dd.tokenize_distinct(docs), n_bits=n_bits
        ).localCheckpoint(eager=True)  # feeds bands + both verify sides
        return dd.simhash_near_duplicates(
            fp,
            n_bits=n_bits,
            n_bands=n_bands,
            max_hamming=max_hamming,
            max_bucket=max_bucket,
        ).localCheckpoint(eager=True)

    return memo.get_or_build(spark, "simhash_pairs", name, token, _build)


def _ann_rankings(spark: SparkSession, sf_dir: str) -> dict:
    """Session-memoized result tables of the three registered ANN
    pipelines — q34 (brute-force cosine truth), q36 (SRP-bucket), q66
    (IVF) — which the retrieval evals q145/q164/q169 all score against
    each other: one materialization of each pipeline serves every eval
    in the session instead of 9 sub-pipeline re-runs per bench pass.
    The pipelines' own registered rows keep un-memoized bodies, so
    their scale rows still time real builds. Keyed like the near-dup
    memos but on the EMBEDDINGS fingerprint (the only table all three
    read); results are tiny ranked lists, so the eager checkpoints pin
    kilobytes."""
    name, token = _minhash_recipe_key(
        spark, sf_dir, ("ann_rankings",), table="embeddings"
    )
    def _build() -> dict:
        return {
            "brute": q34_embedding_topk(spark, sf_dir).localCheckpoint(
                eager=True
            ),
            "srp": q36_ann_srp_bucket(spark, sf_dir).localCheckpoint(
                eager=True
            ),
            "ivf": q66_ivf_ann(spark, sf_dir).localCheckpoint(eager=True),
        }

    return memo.get_or_build(spark, "ann_rankings", name, token, _build)


def _minhash_shingles(
    spark: SparkSession, sf_dir: str, shingle_n: int = 2
) -> DataFrame:
    """Session-memoized distinct shingle table over the documents corpus
    — the level BELOW the signature memo: shingles depend only on
    ``shingle_n``, so the 12-hash default dial, the 24-hash sharp dial
    (q101), and the delta-vs-index pipeline (q94) all read ONE table.
    Same key discipline and eagerness as ``_minhash_verified_pairs``."""
    name, token = _minhash_recipe_key(spark, sf_dir, ("shingles", shingle_n))
    def _build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        return dd.shingle_distinct(docs, n=shingle_n).localCheckpoint(
            eager=True
        )

    return memo.get_or_build(spark, "minhash_shingles", name, token, _build)


def _minhash_shingle_sigs(
    spark: SparkSession,
    sf_dir: str,
    shingle_n: int = 2,
    n_hashes: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Session-memoized (shingle, signature) table pair — the two
    expensive corpus-wide base tables every MinHash pipeline starts
    from. The verified-pair memo builds on top of this, and q94's
    asymmetric delta-vs-index band join (whose PAIR SET differs from
    the symmetric build, so it cannot reuse the pair memo) consumes it
    directly. At cluster scale the same role is played by per-snapshot
    shingle/signature parquet tables."""
    name, token = _minhash_recipe_key(
        spark, sf_dir, ("shingle_sigs", shingle_n, n_hashes)
    )
    def _build() -> tuple:
        sh = _minhash_shingles(spark, sf_dir, shingle_n=shingle_n)
        sigs = dd.minhash_signatures(
            sh, n_hashes=n_hashes
        ).localCheckpoint(eager=True)
        return (sh, sigs)

    return memo.get_or_build(spark, "minhash_sigs", name, token, _build)


def _minhash_verified_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 2,
    max_bucket: int | None = None,
    sig_agree_min: int | None = None,
) -> DataFrame:
    """Session-memoized exact-verified MinHash near-dup pairs
    (doc_a, doc_b, jaccard >= threshold) over the documents corpus —
    the one build q32/q68/q112/q144 (default dial) and q101 (sharp
    dial) all share. EAGER on a cold key: building runs Spark jobs
    (the full dedup pipeline + a localCheckpoint pin)."""
    name, token = _minhash_recipe_key(
        spark,
        sf_dir,
        (threshold, n_hashes, band_size, shingle_n, max_bucket, sig_agree_min),
    )
    def _build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        sh, sigs = _minhash_shingle_sigs(
            spark, sf_dir, shingle_n=shingle_n, n_hashes=n_hashes
        )
        return (
            dd.minhash_near_duplicates(
                docs,
                threshold=threshold,
                n_hashes=n_hashes,
                band_size=band_size,
                shingle_n=shingle_n,
                max_bucket=max_bucket,
                sig_agree_min=sig_agree_min,
                sh=sh,
                sigs=sigs,
            )
            .select("doc_a", "doc_b", "jaccard")
            .localCheckpoint(eager=True)
        )

    return memo.get_or_build(spark, "minhash_pairs", name, token, _build)


def _minhash_cc_labels(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 2,
    max_bucket: int | None = None,
    sig_agree_min: int | None = None,
) -> DataFrame:
    """Session-memoized connected-component labels (node, cluster) over
    the shared verified pair graph — q68/q112/q144 each run the same
    hash-min label-propagation fixpoint on the same pairs, so the
    converged labels are memoized one level above the pairs. Same key
    discipline and eagerness as ``_minhash_verified_pairs``."""
    name, token = _minhash_recipe_key(
        spark,
        sf_dir,
        (threshold, n_hashes, band_size, shingle_n, max_bucket, sig_agree_min),
    )
    def _build() -> DataFrame:
        pairs = _minhash_verified_pairs(
            spark,
            sf_dir,
            threshold=threshold,
            n_hashes=n_hashes,
            band_size=band_size,
            shingle_n=shingle_n,
            max_bucket=max_bucket,
            sig_agree_min=sig_agree_min,
        ).select("doc_a", "doc_b")
        return dd.connected_components(pairs).localCheckpoint(eager=True)

    return memo.get_or_build(spark, "minhash_cc", name, token, _build)


def _dsir_bucket_counts(
    spark: SparkSession, sf_dir: str, n: int = 2
) -> DataFrame:
    """Session-memoized (doc_id, bucket, n) table — per-document counts
    of word-n-gram md5 fingerprints folded to the 256 first-byte
    buckets: the base table of the DSIR hashed-bigram contrast
    construction. q111 (ranked importance scores) and q114 (the curated
    shard manifest, which embeds the same contrast over the same
    corpus) both derive their target/source bucket totals AND their
    per-doc bucket counts from it, so ONE explode+md5 pass over the
    corpus replaces six former subtrees (three per query: target
    totals, source totals, per-doc counts — each used to re-run the
    full fingerprint explode). The per-doc aggregation collapses the
    n-gram mass to at most 256 rows per document BEFORE the pin, so the
    checkpoint holds bucket counts, never fingerprints. Bucket totals
    recovered as SUM(n) are exactly the former COUNT(*) over the
    exploded rows — integer equality, no float path. Same key
    discipline as every shared-build memo (lesson 35): session +
    corpus fingerprint + shuffle layout + recipe."""
    name, token = _minhash_recipe_key(spark, sf_dir, ("dsir_buckets", n))
    def _build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        bg = dd.ngram_fingerprints(docs, n=n, extra_cols=())
        bk = bg.select(
            "doc_id",
            F.expr(
                "(instr('0123456789abcdef', substr(ng, 1, 1)) - 1) * 16"
                " + (instr('0123456789abcdef', substr(ng, 2, 1)) - 1)"
            ).alias("bucket"),
        )
        return (
            bk.groupBy("doc_id", "bucket")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )

    return memo.get_or_build(spark, "dsir_buckets", name, token, _build)


def _signature_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    accepted: DataFrame,
    n_hashes: int,
    band_size: int,
    num_file_buckets: int = 16,
    recipe: str = "",
):
    """Resolve-or-build the materialized MinHash signature index for an
    accepted corpus snapshot (q98/q167's per-batch ingest path): a
    ``cache.build_once`` artifact keyed on the documents table's DATA
    FINGERPRINT plus ``cache.signature_index_salt`` (never the path
    alone, so in-place regeneration can never replay a stale index),
    written by ``dedup.write_signature_index`` (bucketBy needs
    saveAsTable; the temp catalog entries are external, so dropping
    them keeps the files) and registered by ``cache.register_bucketed``
    with the SAME ``num_file_buckets`` that wrote it.

    The salt folds in the mechanical recipe parameters (n_hashes,
    band_size, num_file_buckets) automatically; ``recipe`` is for the
    one ingredient the helper cannot see — the caller's ACCEPTED-SET
    predicate. A caller whose accepted set is anything but the plain
    ``doc_id % 10`` split must encode the discriminating constants in
    ``recipe`` (q167 passes its batch cap) so a predicate change can
    never replay a stale persistent index.

    Returns ``(sigs, bands)`` DataFrames reading the published index as
    BUCKETED catalog tables (doc_id / (band_id, band_key) clustering —
    the asymmetric per-batch joins scan the index pre-clustered, so only
    delta rows shuffle)."""

    def write(tmp_dir: str) -> None:
        tmp_tbl = cache.table_name(tmp_dir)
        dd.write_signature_index(
            accepted,
            tmp_tbl,
            n_hashes=n_hashes,
            band_size=band_size,
            num_file_buckets=num_file_buckets,
            path=tmp_dir,
        )
        for suffix in ("_sigs", "_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}{suffix}")

    salt = cache.signature_index_salt(
        n_hashes, band_size, num_file_buckets, recipe
    )
    target = cache.build_once(spark, sf_dir, "documents", prefix, salt, write)
    sigs, bands = cache.register_bucketed(
        spark,
        target,
        num_file_buckets,
        (("sigs", "doc_id"), ("bands", "band_id, band_key")),
    )
    return spark.table(sigs), spark.table(bands)


# ---------------------------------------------------------------------------
# q30 — exact dedup groups (hash group-by on content).
# ---------------------------------------------------------------------------
@register(
    "q30_dedup_exact",
    """
    SELECT text, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    description="Exact dedup: one shuffle on content (at scale: on md5(content) "
    "so shuffle rows stay small), min-id canonical representative.",
    tags=("dedup",),
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dd.exact_dedup_groups(docs).select("text", "canonical_id", "n_copies")


# ---------------------------------------------------------------------------
# q31 — deterministic keep-first dedup on a derived key.
# ---------------------------------------------------------------------------
@register(
    "q31_dedup_keep_first",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    )
    WHERE rn = 1
    """,
    description="Keep-first-per-key dedup via ranking window — the "
    "deterministic replacement for dropDuplicates (which keeps an "
    "arbitrary row).",
    tags=("dedup", "window"),
)
def q31_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dd.dedup_keep_first(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# q32 — MinHash + LSH near-duplicate detection (the scale path), with
# exact-Jaccard verification of band-colliding candidates only.
# ---------------------------------------------------------------------------
# 12 hashes in 4 bands of 3: P(candidate) = 1-(1-j^3)^4 — ~0.94 recall at
# j=0.8 (the planted near-dups) while random pairs (j≈0.05) collide with
# p≈5e-4, keeping the verify join linear in true candidates.
_MH_N = 12
_MH_BAND = 3
# Bucket-size cap: a band key shared by f docs emits O(f^2) candidate rows,
# so one massively-duplicated boilerplate text becomes a straggler at corpus
# scale. Over-cap buckets are dropped (their members belong to exact dedup,
# not pairwise LSH). 64 is far above any organic bucket at test SFs.
_MH_MAX_BUCKET = 64
# Signature-agreement pre-verify gate: candidates whose signatures agree on
# fewer than 5/12 positions (Jaccard estimate < ~0.42) skip the exact
# intersection join. Measured on a 10x corpus with a borderline-similarity
# blob (tools/scale_smoke.py): bucket-capped candidates still hit 555k and
# exact verify dominated; the gate removes the sub-threshold mass for 12
# string equalities per pair. Binomial noise: j=0.8 passes at 0.9995,
# j=0.6 at 0.92, j=1/3 at 0.37 — recall loss concentrates below threshold.
_MH_SIG_AGREE = 5

def _mh_sql(
    n_hashes: int = _MH_N,
    band_size: int = _MH_BAND,
    max_bucket: int = _MH_MAX_BUCKET,
    sig_agree: int = _MH_SIG_AGREE,
) -> str:
    """Generated MinHash+LSH oracle, parameterized on the same dials as
    ``dedup.minhash_near_duplicates`` so any configuration (e.g. the
    n_hashes=24 sharpened gate for blob-heavy corpora,
    ARCHITECTURE.md §scale) can be oracle-verified, not just the
    registered default."""
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || ".join(f"mh{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(n_hashes // band_size)
    )
    agree_expr = " + ".join(
        f"CAST(sa.mh{i} = sb.mh{i} AS INTEGER)" for i in range(n_hashes)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh0),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    capped AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands
      ) WHERE bn <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a
      JOIN capped b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    ),
    candf AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
      WHERE ({agree_expr}) >= {sig_agree}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM candf c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           (i.n_common / (sa.n + sb.n - i.n_common)) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE (i.n_common / (sa.n + sb.n - i.n_common)) >= 0.5
    """


@register(
    "q32_minhash_lsh_neardup",
    _mh_sql(),
    description="MinHash(12 md5-hashes)+LSH(4 bands of 3) near-dup pipeline over "
    "bigram shingles: signatures in one agg pass, candidates from a band "
    "equi-join (never O(n^2)) with a bucket-size cap so a hot band key "
    "cannot emit a quadratic straggler, exact Jaccard only on candidates. "
    "Known recall bound the oracle MIRRORS (so it cannot see it): the "
    "agreement gate (>=5/12) rejects ~19% of true j=0.5 at-threshold "
    "pairs (binomial tail); the n_hashes=24/agree-10 dial halves that "
    "sigma — oracle-verified at both settings in test_minhash_dial.py.",
    tags=("dedup", "minhash", "lsh"),
)
def q32_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared build: q32/q68/q112/q144 consume the same verified pair
    # set (fingerprint-keyed session memo — at 100 TB this is a
    # persisted per-snapshot pair table, never five recomputes).
    return _minhash_verified_pairs(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    ).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# q33 — SimHash fingerprints (16-bit, md5-derived, one agg pass).
# ---------------------------------------------------------------------------
def _simhash_sql() -> str:
    hv = (
        "((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 4096"
        " + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1) * 256"
        " + (strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1) * 16"
        " + (strpos('0123456789abcdef', substr(md5(w), 4, 1)) - 1))"
    )
    sums = ", ".join(
        f"SUM(CASE WHEN CAST(FLOOR({hv} / {1 << j}) AS BIGINT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(16)
    )
    fp = " + ".join(f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    d AS (SELECT DISTINCT doc_id, w FROM t),
    acc AS (SELECT doc_id, {sums} FROM d GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS INTEGER) AS simhash FROM acc
    """


@register(
    "q33_simhash",
    _simhash_sql(),
    description="16-bit SimHash per doc: token hash bits vote +1/-1 into 16 "
    "integer accumulators in a single agg pass — fingerprint sign pattern is "
    "exact integer math (order-independent).",
    tags=("dedup", "simhash"),
)
def q33_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return dd.simhash16(dd.tokenize_distinct(docs))


# ---------------------------------------------------------------------------
# q34 — exact cosine top-k similarity search (brute-force baseline).
# ---------------------------------------------------------------------------
@register(
    "q34_embedding_topk",
    """
    WITH q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ),
    e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings WHERE vec_id <> 0
    )
    SELECT vec_id, label,
           ROUND(list_dot_product(ev, qv)
                 / (SQRT(list_dot_product(ev, ev)) * SQRT(list_dot_product(qv, qv))),
                 6) AS cosine_sim
    FROM e, q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 10
    """,
    description="Exact cosine top-10 against a stored query vector: "
    "broadcast the query, one map-only scan (zip_with/aggregate vector "
    "math, JVM-side), tiny top-k reduce — no vector shuffle. "
    "VERIFIER: the exact full-scan baseline ANN recall is measured "
    "against (q145 does exactly that); the scale path is the "
    "cluster-pruned IVF probe.",
    tags=("similarity", "topk", "verifier"),
    scale_twin="q66_ivf_ann",
)
def q34_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, query_vec_id=0, k=10)


# ---------------------------------------------------------------------------
# q35 — embedding near-dup: most-similar within-block pairs, blocked by
# the COMPOUND label × SRP-bucket key. A single natural key alone grows
# with the corpus and the per-block O(block²) matmul turns quadratic
# (measured 8-12x wall at 10x rows before round 6); compounding with the
# md5-seeded sign-projection bucket re-bounds block size at the standard
# LSH recall trade-off. Output keeps the legacy single `block` (=label)
# column — the bucket is internal blocking, exposed by q83 for auditing.
# ---------------------------------------------------------------------------
_SRP_SCALE = 1000000
# Near-dup blocking planes: bucket count should track corpus size
# (planes ~ log2(n / target_block_size)) — 2^8 buckets over a few
# thousand vectors leaves ~1-vector blocks (all overhead, no recall),
# while 2^4 gives usefully-sized bounded blocks at every tested scale.
# At a real 100 TB corpus this constant comes from corpus stats.
_NEARDUP_PLANES = 4


def _srp_blocked_sql(planes: int, expose_bucket: bool) -> str:
    """Oracle for within-(label × SRP-bucket) top-20 near-dup pairs.

    Same md5-seeded ±1 planes and quantized-integer bucket math as q36's
    ANN oracle, so DuckDB reproduces the Spark blocks AND results exactly.
    ``expose_bucket`` controls whether the bucket is projected (q83) or
    kept internal with the legacy single `block` output column (q35).
    """
    sel = "a.label, a.bucket," if expose_bucket else "a.label AS block,"
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comps AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    quant AS (
      SELECT vec_id, j, CAST(FLOOR(v * {_SRP_SCALE} + 0.5) AS BIGINT) AS vq
      FROM comps
    ),
    planes AS (
      SELECT p, j,
             CASE WHEN substr(md5(p || ':' || j), 1, 1) >= '8' THEN 1 ELSE -1 END AS sign
      FROM generate_series(0, {planes - 1}) t(p)
      CROSS JOIN (SELECT DISTINCT j FROM comps) u
    ),
    bits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.vq * pl.sign) >= 0 THEN 1 ELSE 0 END AS bit
      FROM quant q JOIN planes pl ON q.j = pl.j
      GROUP BY q.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id, CAST(SUM(bit * (1 << p)) AS INTEGER) AS bucket
      FROM bits GROUP BY vec_id
    ),
    eb AS (
      SELECT e.vec_id, e.label, b.bucket, e.ev
      FROM e JOIN buckets b ON b.vec_id = e.vec_id
    )
    SELECT {sel}
           a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.ev, b.ev)
                 / (SQRT(list_dot_product(a.ev, a.ev))
                    * SQRT(list_dot_product(b.ev, b.ev))), 6) AS cosine_sim
    FROM eb a
    JOIN eb b ON a.label = b.label AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id
    ORDER BY cosine_sim DESC, vec_a, vec_b
    LIMIT 20
    """


@register(
    "q35_embedding_neardup",
    _srp_blocked_sql(_NEARDUP_PLANES, expose_bucket=False),
    description="Embedding-cosine near-dup candidates: top-20 most-similar "
    "pairs within label × SRP-bucket compound blocks (bucket internal; "
    "block size stays O(corpus / (labels · 2^planes)) as data grows — "
    "the recall dial is the SRP bucket split).",
    tags=("similarity", "dedup", "lsh"),
)
def q35_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    buckets = sim.srp_buckets(emb, n_planes=_NEARDUP_PLANES, scale=_SRP_SCALE)
    embb = emb.join(buckets, "vec_id")
    return sim.blocked_neardup_topk(
        embb, k=20, block_col=["label", "bucket"]
    ).select(
        F.col("label").alias("block"), "vec_a", "vec_b", "cosine_sim"
    )


# ---------------------------------------------------------------------------
# q36 — SRP-LSH ANN: bucket the space with md5-seeded sign projections,
# score only the query's bucket. Quantized integer accumulation makes
# bucket assignment engine-exact, so even this is oracle-checkable.
# ---------------------------------------------------------------------------
_SRP_PLANES = 8

def _srp_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comps AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    quant AS (
      SELECT vec_id, j, CAST(FLOOR(v * {_SRP_SCALE} + 0.5) AS BIGINT) AS vq
      FROM comps
    ),
    planes AS (
      -- dimension indices come from the data (DISTINCT j of the exploded
      -- vectors), not a hardcoded constant, so a dim change can't silently
      -- diverge from the Spark side (which infers dim at runtime too)
      SELECT p, j,
             CASE WHEN substr(md5(p || ':' || j), 1, 1) >= '8' THEN 1 ELSE -1 END AS sign
      FROM generate_series(0, {_SRP_PLANES - 1}) t(p)
      CROSS JOIN (SELECT DISTINCT j FROM comps) u
    ),
    bits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.vq * pl.sign) >= 0 THEN 1 ELSE 0 END AS bit
      FROM quant q JOIN planes pl ON q.j = pl.j
      GROUP BY q.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id, CAST(SUM(bit * (1 << p)) AS INTEGER) AS bucket
      FROM bits GROUP BY vec_id
    ),
    qrow AS (
      SELECT b.bucket AS qbucket, e.ev AS qv
      FROM buckets b JOIN e ON e.vec_id = b.vec_id WHERE b.vec_id = 0
    )
    SELECT e.vec_id, e.label, b.bucket,
           ROUND(list_dot_product(e.ev, q.qv)
                 / (SQRT(list_dot_product(e.ev, e.ev)) * SQRT(list_dot_product(q.qv, q.qv))),
                 6) AS cosine_sim
    FROM e
    JOIN buckets b ON e.vec_id = b.vec_id
    JOIN qrow q ON b.bucket = q.qbucket
    WHERE e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    """


@register(
    "q36_ann_srp_bucket",
    _srp_sql(),
    description="Approximate NN via signed-random-projection LSH: md5-seeded "
    "±1 hyperplanes, integer-quantized projections (bit-exact bucketing), "
    "exact cosine only within the query's bucket — 1/2^8 of the data "
    "scanned per query at scale.",
    tags=("similarity", "ann", "lsh"),
)
def q36_ann_srp_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    out = sim.ann_candidates(emb, query_vec_id=0, n_planes=_SRP_PLANES)
    return out.select("vec_id", "label", "bucket", "cosine_sim")


# ---------------------------------------------------------------------------
# q37 — text quality features + composite score.
# ---------------------------------------------------------------------------
_SW = ", ".join(f"'{s}'" for s in tx.STOPWORDS)


@register(
    "q37_text_quality",
    f"""
    WITH base AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct_words,
             len(list_filter(string_split(text, ' '), x -> x IN ({_SW}))) AS n_stop,
             length(replace(text, ' ', '')) AS n_alpha,
             len(regexp_extract_all(text, '[a-z]+')) AS n_runs,
             length(text) AS n_len
      FROM documents
    )
    SELECT doc_id, lang, n_chars,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
           n_distinct_words * 1.0 / n_words AS uniq_ratio,
           n_stop * 1.0 / n_words AS stopword_ratio,
           n_alpha * 1.0 / n_words AS avg_word_len,
           CAST(n_runs + CAST(FLOOR(n_len / 4.0) AS BIGINT) AS BIGINT) AS token_est,
           LEAST(1.0, n_words / 100.0) * 0.4
             + (n_distinct_words * 1.0 / n_words) * 0.4
             + LEAST(1.0, (n_stop * 1.0 / n_words) * 5.0) * 0.2 AS quality_score
    FROM base
    """,
    description="Per-document quality features (word/distinct/stopword "
    "counts, ratios, token estimate, composite score) — one codegen'd "
    "projection, no Python.",
    tags=("text", "quality"),
)
def q37_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return tx.quality_features(docs).select(
        "doc_id",
        "lang",
        "n_chars",
        "n_words",
        "n_distinct_words",
        "uniq_ratio",
        "stopword_ratio",
        "avg_word_len",
        "token_est",
        "quality_score",
    )


# ---------------------------------------------------------------------------
# q38 — language-ID heuristic (profile scores -> deterministic argmax).
# ---------------------------------------------------------------------------
def _langid_sql() -> str:
    score_cols = ", ".join(
        "len(list_filter(string_split(text, ' '), x -> x IN ({}))) AS s_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in tx.LANG_PROFILES.items()
    )
    langs = list(tx.LANG_PROFILES)
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]] + [
            f"s_{lang} > s_{p}" for p in langs[:i]
        ]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[0]}' END"
    return f"""
    WITH scored AS (SELECT doc_id, lang, {score_cols} FROM documents)
    SELECT doc_id, lang AS actual_lang, {case} AS predicted_lang,
           ({case}) = lang AS lang_match
    FROM scored
    """


@register(
    "q38_lang_id",
    _langid_sql(),
    description="Language-ID by marker-profile scoring + deterministic "
    "argmax (first-wins tie order) — the char-n-gram-profile structure with "
    "profiles as data.",
    tags=("text", "langid"),
)
def q38_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    pred = tx.predict_lang(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        pred.alias("predicted_lang"),
        (pred == F.col("lang")).alias("lang_match"),
    )


# ---------------------------------------------------------------------------
# q39 — content fingerprinting (md5 + 64-bit join key).
# ---------------------------------------------------------------------------
@register(
    "q39_fingerprint",
    """
    SELECT doc_id, md5(lower(text)) AS content_md5,
           substr(md5(lower(text)), 1, 16) AS content_key
    FROM documents
    """,
    description="Document fingerprints: md5 of normalized content plus a "
    "64-bit prefix key (what an exact-dedup shuffle keys on at scale).",
    tags=("text", "fingerprint"),
)
def q39_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return tx.fingerprint(docs).select("doc_id", "content_md5", "content_key")


# ---------------------------------------------------------------------------
# q40 — multimodal metadata (binary payload + typed metadata, JVM-side).
# ---------------------------------------------------------------------------
@register(
    "q40_multimodal_meta",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
                WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
                ELSE 'webp' END AS media_format
    FROM documents
    """,
    description="Opaque binary media column + typed metadata derived "
    "without decoding — the filter-before-decode columns.",
    tags=("multimodal",),
)
def q40_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    df = mm.payload_metadata(mm.attach_binary_payload(docs))
    return df.select("doc_id", "n_bytes", "media_format")


# ---------------------------------------------------------------------------
# q41 — multimodal decode via mapInPandas (Arrow-batched Python stage).
# The oracle reproduces the deterministic fake-decode arithmetic in SQL,
# so this checks the ENTIRE mapInPandas path end-to-end.
# ---------------------------------------------------------------------------
@register(
    "q41_multimodal_decode",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             CASE WHEN octet_length(encode(text)) % 3 = 0 THEN 'png'
                  WHEN octet_length(encode(text)) % 3 = 1 THEN 'jpeg'
                  ELSE 'webp' END AS format
      FROM documents
    )
    SELECT doc_id, n_bytes, format,
           CAST(64 + n_bytes % 640 AS INTEGER) AS width,
           CAST(64 + (n_bytes * 7) % 480 AS INTEGER) AS height,
           TRUE AS ok
    FROM m
    """,
    description="Decode stage as mapInPandas (iterator-of-Arrow-batches — "
    "the real codec-UDF contract; decode itself is a deterministic stub, "
    "media libs absent here). Oracle reproduces the stub arithmetic, "
    "verifying the full Python-stage round trip.",
    tags=("multimodal", "pandas-udf"),
)
def q41_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return mm.decode_images(mm.payload_metadata(mm.attach_binary_payload(docs)))


# ---------------------------------------------------------------------------
# q44 — Structured Streaming in the judged inventory: the events table
# replayed as a bounded file stream through a watermarked tumbling-window
# aggregate into a memory sink. With bounded input and complete output
# mode the final state is deterministic, so even the STREAMING path is
# oracle-checked against the batch date_trunc aggregate.
# ---------------------------------------------------------------------------
@register(
    "q44_streaming_hourly",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) / 100.0) AS sum_value
    FROM events
    GROUP BY 1
    """,
    description="Watermarked 1-hour tumbling window over a replayed event "
    "stream (Structured Streaming, memory sink, complete mode) — the final "
    "streamed state equals the batch aggregate, and the oracle proves it.",
    tags=("streaming", "window", "agg"),
)
def q44_streaming_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events")
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "n_events", "sum_value"
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# q45 — exact n-gram Jaccard near-dup within (lang, source) blocks via an
# inverted shingle index — the exact-similarity twin of q32's LSH path
# (blocking bounds the candidate join the way bands do).
# ---------------------------------------------------------------------------
@register(
    "q45_ngram_jaccard",
    """
    WITH w AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh0 AS (
      SELECT doc_id, lang, source,
             list_transform(generate_series(1, len(w) - 2),
                            i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT doc_id, lang, source, unnest(s) AS shingle FROM sh0),
    shc AS (
      SELECT doc_id, lang, source, shingle FROM (
        SELECT doc_id, lang, source, shingle,
               COUNT(*) OVER (PARTITION BY lang, source, shingle) AS df
        FROM sh
      ) WHERE df <= 64
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a
      JOIN shc b ON a.shingle = b.shingle AND a.lang = b.lang
                 AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           (i.n_common / (sa.n + sb.n - i.n_common)) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE (i.n_common / (sa.n + sb.n - i.n_common)) >= 0.2
    """,
    description="Exact trigram-Jaccard near-dup within (lang, source) "
    "blocks: inverted shingle index self-join (never all-pairs) with a "
    "stop-shingle df-cap (a shingle in f docs emits O(f^2) join rows; "
    "df>64 shingles are dropped and Jaccard is defined over the filtered "
    "shingle universe — the standard recall/straggler trade-off), set "
    "sizes precomputed — the exact twin of the MinHash-LSH path. "
    "VERIFIER: candidate mass rides shingle document-frequency, not a "
    "fixed bucket cap — the small-scale recall referee for the LSH "
    "forms, not the plan to run on a full corpus (scale twin: q32; "
    "q92 is the bit-sampling cousin).",
    tags=("dedup", "jaccard", "verifier"),
    scale_twin="q32_minhash_lsh_neardup",
)
def q45_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    sh = (
        docs.select("doc_id", "lang", "source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), i -> "
                    "concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', "
                    "element_at(w, i + 2)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    # Stop-shingle cap: drop shingles whose within-block document frequency
    # exceeds 64 BEFORE the self-join. A count window over the join key is
    # the measured-cheapest shape (sf0.1, warm): a broadcast anti-join or a
    # driver-collected literal filter both re-pay the hot-list aggregation
    # (per downstream reuse of sh, and at plan-build time respectively).
    # Per-hot-shingle window partitions hold O(f) rows — linear, which is
    # the bound the cap exists to enforce on the join. Sizes use the same
    # filtered set so Jaccard's union term stays consistent with the
    # intersection. The capped table feeds FOUR plan subtrees (both
    # self-join sides + both size lookups) and the planner reuses none of
    # those exchanges, so pin it once (lesson 24; 8 explode+distinct+
    # window passes -> 1, measured 2.0 -> 1.6 s isolated at sf0.1).
    wdf = Window.partitionBy("lang", "source", "shingle")
    sh = (
        sh.withColumn("__df", F.count("*").over(wdf))
        .filter(F.col("__df") <= 64)
        .drop("__df")
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", "shingle"
    )
    inter = (
        a.join(b, ["lang", "source", "shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


# ---------------------------------------------------------------------------
# q46 — TF-IDF (smoothed, sklearn-style) + top-3 terms per document.
# tf/df are exact integers; idf's ln() can differ by an ulp across libm
# implementations, so scores are rounded before ranking.
# ---------------------------------------------------------------------------
@register(
    "q46_tfidf_topterms",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             ROUND(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    WHERE rn <= 3
    """,
    description="TF-IDF vectorization (smoothed idf) with top-3 terms per "
    "doc via ranking window — term frequencies and doc frequencies are one "
    "explode + two aggregations; the idf table is tiny and broadcasts.",
    tags=("text", "tfidf", "window"),
)
def q46_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(
                F.col("tf")
                * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# q47 — event-time moving average per user (last 4 events): the rolling
# window op; quantized window sums keep it engine-exact.
# ---------------------------------------------------------------------------
@register(
    "q47_moving_avg",
    """
    SELECT event_id, user_id, ts, value,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0)
           / COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS moving_avg
    FROM events
    """,
    description="Rolling 4-event mean per user: one shuffle on user_id, "
    "sorted frame, exact quantized window sums.",
    tags=("window", "timeseries"),
)
def q47_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    qs = F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        ((qs.cast("long") / 100.0) / F.count("*").over(w)).alias("moving_avg"),
    )


# ---------------------------------------------------------------------------
# q48 — exact quantiles per group (median + p90 per event type).
# ---------------------------------------------------------------------------
@register(
    "q48_grouped_quantiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS median_value,
           ROUND(quantile_cont(value, 0.9), 6) AS p90_value,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    description="Exact interpolated quantiles per group — percentile "
    "accumulators merge per group key (at extreme scale swap for "
    "approx_percentile; the exact form is the oracle-checkable one).",
    tags=("agg", "quantile"),
)
def q48_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# q49 — unpivot / melt: wide metric columns to (key, metric, value) rows.
# ---------------------------------------------------------------------------
@register(
    "q49_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS metric_value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
    description="Unpivot via stack(): 3 metric columns to tall "
    "(metric, value) rows in a single pass — no join, no shuffle.",
    tags=("reshape",),
)
def q49_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.selectExpr(
        "l_orderkey",
        "l_linenumber",
        "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice, "
        "'discount', l_discount) AS (metric, metric_value)",
    )


# ---------------------------------------------------------------------------
# q50 — Pearson correlation, engine-exact: built from five quantized
# integer sums so the result is identical regardless of merge order or
# engine (built-in corr() differs in accumulation order).
# ---------------------------------------------------------------------------
@register(
    "q50_correlation",
    """
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_quantity) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxx,
             CAST(SUM(CAST(FLOOR((l_extendedprice * l_extendedprice) * 0.01 + 0.5) AS BIGINT)) AS BIGINT) AS syy,
             CAST(SUM(CAST(FLOOR((l_quantity * l_extendedprice) * 1 + 0.5) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem
    ),
    m AS (
      SELECT n,
             ((sx / 100.0) / n) AS mx,
             ((sy / 100.0) / n) AS my,
             (sxx / 100.0) AS exx,
             (syy * 100.0) AS eyy,
             (sxy / 1.0) AS exy
      FROM s
    )
    SELECT n,
           ROUND(((exy / n) - mx * my)
                 / (SQRT((exx / n) - mx * mx) * SQRT((eyy / n) - my * my)),
                 6) AS corr_qty_price
    FROM m
    """,
    description="Pearson correlation from five quantized integer sums — "
    "order-independent and engine-exact (native corr() is "
    "accumulation-order-sensitive); one aggregation pass.",
    tags=("agg", "stats"),
)
def q50_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")

    def isum(expr, scale):
        return F.sum(F.floor(expr * scale + F.lit(0.5)).cast("long")).cast("long")

    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count("*").alias("n"),
        isum(x, 100).alias("sx"),
        isum(y, 100).alias("sy"),
        isum(x * x, 100).alias("sxx"),
        isum(y * y, 0.01).alias("syy"),
        isum(x * y, 1).alias("sxy"),
    )
    m = s.select(
        "n",
        ((F.col("sx") / 100.0) / F.col("n")).alias("mx"),
        ((F.col("sy") / 100.0) / F.col("n")).alias("my"),
        (F.col("sxx") / 100.0).alias("exx"),
        (F.col("syy") * 100.0).alias("eyy"),
        (F.col("sxy") / 1.0).alias("exy"),
    )
    return m.select(
        "n",
        F.round(
            ((F.col("exy") / F.col("n")) - F.col("mx") * F.col("my"))
            / (
                F.sqrt((F.col("exx") / F.col("n")) - F.col("mx") * F.col("mx"))
                * F.sqrt((F.col("eyy") / F.col("n")) - F.col("my") * F.col("my"))
            ),
            6,
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# q52 — character-n-gram language ID: the classic char-bigram profile
# scorer (word-marker variant: q38). Profiles are literal data; argmax is
# the same deterministic first-wins CASE.
# ---------------------------------------------------------------------------
_CHAR_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("th", "he", "er"),
    "es": ("ta", "da", "at"),
    "de": ("co", "ol", "um"),
    "fr": ("jo", "oi", "in"),
    "zh": ("sp", "pa", "ba"),
}


def _char_langid_sql() -> str:
    bigrams = "list_transform(generate_series(1, length(text) - 1), i -> substr(text, i, 2))"
    score_cols = ", ".join(
        "len(list_filter({bg}, x -> x IN ({ms}))) AS s_{lang}".format(
            bg=bigrams, ms=", ".join(f"'{m}'" for m in markers), lang=lang
        )
        for lang, markers in _CHAR_PROFILES.items()
    )
    langs = list(_CHAR_PROFILES)
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{o}" for o in langs[i + 1 :]] + [
            f"s_{lang} > s_{p}" for p in langs[:i]
        ]
        branches.append(f"WHEN {' AND '.join(conds) if conds else 'TRUE'} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[0]}' END"
    return f"""
    WITH scored AS (SELECT doc_id, lang, {score_cols} FROM documents)
    SELECT doc_id, lang AS actual_lang, {case} AS predicted_lang
    FROM scored
    """


@register(
    "q52_char_ngram_langid",
    _char_langid_sql(),
    description="Language ID over character bigram profiles (the standard "
    "char-n-gram heuristic shape): per-profile hit counts from one "
    "higher-order transform over the raw text, deterministic argmax.",
    tags=("text", "langid"),
)
def q52_char_ngram_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")

    # A profile score is the number of bigram positions matching any of the
    # profile's markers. Since every marker has two distinct characters
    # (no "aa"-style self-overlap), per-marker occurrence counts are exactly
    # (len(text) - len(replace(text, marker))) / 2 — plain codegen'd string
    # ops, no O(len) array-of-strings allocation per row. This replaced a
    # transform(sequence(...))-built bigram array that dominated the bench
    # (the array build ran once per profile per row).
    def occurrences(marker: str):
        return (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(marker)))
        ) / F.lit(2)

    scores = {
        lang: sum(occurrences(m) for m in markers).cast("long")
        for lang, markers in _CHAR_PROFILES.items()
    }
    langs = list(_CHAR_PROFILES)
    pred = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        for prev in langs[:i]:
            c = scores[lang] > scores[prev]
            cond = c if cond is None else (cond & c)
        cond = cond if cond is not None else F.lit(True)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[0]))
    return docs.select(
        "doc_id", F.col("lang").alias("actual_lang"), pred.alias("predicted_lang")
    )


# ---------------------------------------------------------------------------
# q53 — winnowing document fingerprints (rolling-hash + window-min
# selection, the MOSS/plagiarism-detection scheme): per position, hash the
# trigram shingle; within each sliding window of 4 hashes keep the min;
# the distinct selected hashes are the doc's fingerprint set.
# ---------------------------------------------------------------------------
@register(
    "q53_winnowing",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    pos AS (
      SELECT doc_id, generate_subscripts(s, 1) AS p, unnest(s) AS shingle
      FROM (
        SELECT doc_id,
               list_transform(generate_series(1, len(w) - 2),
                              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS s
        FROM w
      )
    ),
    hashed AS (SELECT doc_id, p, md5(shingle) AS h FROM pos),
    winmin AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
      FROM hashed
    )
    SELECT DISTINCT doc_id, fp FROM winmin
    """,
    description="Winnowing fingerprints: rolling trigram hashes, window-min "
    "selection (guarantees shared fingerprints for sufficiently long shared "
    "substrings), distinct per doc — the shuffle is on (doc, window) only.",
    tags=("text", "fingerprint", "window"),
)
def q53_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    pos = (
        docs.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(w) - 2), i -> "
                    "concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', "
                    "element_at(w, i + 2)))"
                )
            ).alias("p0", "shingle"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("p"), F.md5("shingle").alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(-3, Window.currentRow)
    return (
        pos.select("doc_id", F.min("h").over(w).alias("fp")).distinct()
    )


# ---------------------------------------------------------------------------
# q54 — explicit semi/anti joins: EXISTS / NOT EXISTS as first-class plan
# nodes (left_semi / left_anti), tagged and unioned.
# ---------------------------------------------------------------------------
@register(
    "q54_semi_anti_join",
    """
    SELECT c_custkey, c_name, 'has_events' AS membership
    FROM customer c WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_name, 'no_events'
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
    description="left_semi + left_anti joins (EXISTS/NOT EXISTS plan "
    "nodes): the probe side streams, only join keys shuffle, no payload "
    "duplication — the scalable membership test.",
    tags=("join", "semi", "anti"),
)
def q54_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    ev = read_table(spark, sf_dir, "events").select("user_id")
    semi = (
        cust.join(ev, cust.c_custkey == ev.user_id, "left_semi")
        .select("c_custkey", "c_name", F.lit("has_events").alias("membership"))
    )
    anti = (
        cust.join(ev, cust.c_custkey == ev.user_id, "left_anti")
        .select("c_custkey", "c_name", F.lit("no_events").alias("membership"))
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# q55 — data-quality constraint audit: FK integrity, range checks, null
# rates — the expectations layer a production pipeline runs before
# publishing a table, as one aggregation + two anti-join counts.
# ---------------------------------------------------------------------------
@register(
    "q55_constraint_audit",
    """
    SELECT
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS orphan_part_fk,
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS orphan_supp_fk,
      (SELECT COUNT(*) FROM lineitem WHERE l_extendedprice < 0 OR l_quantity <= 0) AS range_violations,
      (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL) AS null_keys,
      (SELECT COUNT(*) FROM lineitem) AS n_rows
    """,
    description="Constraint/expectation audit: FK orphans via anti-join "
    "semantics, range violations, null keys — the data-quality gate run "
    "before a table is published downstream.",
    tags=("quality", "join"),
)
def q55_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").select("p_partkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey")
    orphan_part = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey, "left_anti"
    ).agg(F.count("*").alias("orphan_part_fk"))
    orphan_supp = li.join(
        F.broadcast(supp), li.l_suppkey == supp.s_suppkey, "left_anti"
    ).agg(F.count("*").alias("orphan_supp_fk"))
    checks = li.agg(
        F.sum(
            ((F.col("l_extendedprice") < 0) | (F.col("l_quantity") <= 0)).cast("long")
        ).alias("range_violations"),
        F.sum(F.col("l_orderkey").isNull().cast("long")).alias("null_keys"),
        F.count("*").alias("n_rows"),
    )
    return orphan_part.crossJoin(orphan_supp).crossJoin(checks).select(
        "orphan_part_fk", "orphan_supp_fk", "range_violations", "null_keys", "n_rows"
    )


# ---------------------------------------------------------------------------
# q64 — multimodal thumbnail resize via mapInPandas, downstream of the
# decode stage. Pure integer scale arithmetic (fit longer side to 256,
# never upscale) so the oracle reproduces the full decode->resize chain.
# ---------------------------------------------------------------------------
@register(
    "q64_multimodal_resize",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    d AS (
      SELECT doc_id,
             CAST(64 + n_bytes % 640 AS BIGINT) AS width,
             CAST(64 + (n_bytes * 7) % 480 AS BIGINT) AS height
      FROM m
    ),
    s AS (
      SELECT doc_id, width, height,
             LEAST(100, (100 * 256) // GREATEST(width, height)) AS scale_pct
      FROM d
    )
    SELECT doc_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST((width * scale_pct) // 100 AS INTEGER) AS out_width,
           CAST((height * scale_pct) // 100 AS INTEGER) AS out_height,
           CAST(scale_pct AS INTEGER) AS scale_pct
    FROM s
    """,
    description="Thumbnail-resize stage (aspect-preserving, never-upscale) "
    "as a second Arrow-batched mapInPandas hop after decode — the pixel op "
    "is stubbed (no media libs here) but the dimension arithmetic is the "
    "real contract and the oracle replays decode->resize end-to-end.",
    tags=("multimodal", "pandas-udf"),
)
def q64_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    decoded = mm.decode_images(
        mm.payload_metadata(mm.attach_binary_payload(docs))
    )
    return mm.resize_images(decoded, max_side=256).select(
        "doc_id", "width", "height", "out_width", "out_height", "scale_pct"
    )


# ---------------------------------------------------------------------------
# q65 — video frame sampling: the ROW-EXPANDING mapInPandas shape (one
# input row -> one row per sampled frame). Frame count is a deterministic
# stub from payload size; the every-4th selection and the md5 frame tags
# are exact, so the oracle replays the expansion with generate_series.
# ---------------------------------------------------------------------------
@register(
    "q65_frame_sample",
    """
    WITH m AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    f AS (SELECT doc_id, 1 + (n_bytes * 13) % 24 AS n FROM m),
    x AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM f
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(n AS INTEGER) AS n_frames,
           substr(md5(doc_id || ':' || i), 1, 8) AS frame_tag
    FROM x
    WHERE i % 4 = 0
    """,
    description="Frame-sampling stage for video payloads: mapInPandas with "
    "row expansion (each input emits one row per every-4th frame), bounded "
    "output per input row, md5 frame tags portable across engines. The "
    "keyframe index is stubbed from payload size; the sampling arithmetic "
    "and batch shape are the real video-pipeline contract.",
    tags=("multimodal", "pandas-udf"),
)
def q65_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    meta = mm.payload_metadata(mm.attach_binary_payload(docs)).select(
        "doc_id", "n_bytes"
    )
    return mm.sample_frames(meta, every_n=4)


# ---------------------------------------------------------------------------
# q66 — IVF-flat ANN (nprobe=1): coarse-quantizer counterpart to q36's
# SRP buckets. Centroids are the 8 lowest-id vectors (deterministic seed;
# Lloyd refinement would move centroids, not change the mechanics);
# assignment is argmin of QUANTIZED squared-L2 (exact int64, ties to the
# lowest centroid id), probe scores exact cosine inside one cluster.
# ---------------------------------------------------------------------------
# Shared oracle CTE prefix: embeddings as double arrays, 8 lowest-id seed
# centroids, quantized integer squared-L2 argmin assignment (ties to the
# lowest centroid id) — the SQL twin of similarity.ivf_centroids +
# ivf_assign, reused by q66 (ANN probe) and q73 (Lloyd step).
def _ivf_assign_ctes(k_sql: str = "8") -> str:
    """IVF assignment CTE prefix with a parameterizable centroid count —
    q66/q73 use the literal 8; q108 derives k from the corpus size so
    clusters stay constant-size as the corpus grows (SemDeDup's k
    scaling)."""
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cid, ev AS cv FROM e ORDER BY vec_id LIMIT {k_sql}
    ),
    comp AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    vq AS (
      SELECT vec_id, j, CAST(FLOOR(v * 1000 + 0.5) AS BIGINT) AS vq FROM comp
    ),
    ccomp AS (
      SELECT cid, generate_subscripts(cv, 1) AS j, unnest(cv) AS c FROM cent
    ),
    cq AS (
      SELECT cid, j, CAST(FLOOR(c * 1000 + 0.5) AS BIGINT) AS cq FROM ccomp
    ),
    dists AS (
      SELECT v.vec_id, c.cid, SUM((v.vq - c.cq) * (v.vq - c.cq)) AS d
      FROM vq v JOIN cq c ON v.j = c.j
      GROUP BY 1, 2
    ),
    assign AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists
      ) WHERE rn = 1
    )"""


_IVF_ASSIGN_CTES = _ivf_assign_ctes()


@register(
    "q66_ivf_ann",
    _IVF_ASSIGN_CTES
    + """,
    q AS (
      SELECT a.cluster AS qcluster, e.ev AS qv
      FROM e JOIN assign a ON a.vec_id = e.vec_id
      WHERE e.vec_id = 0
    )
    SELECT e.vec_id, e.label, CAST(a.cluster AS BIGINT) AS cluster,
           ROUND(list_dot_product(e.ev, q.qv)
                 / (SQRT(list_dot_product(e.ev, e.ev))
                    * SQRT(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM e
    JOIN assign a ON a.vec_id = e.vec_id
    CROSS JOIN q
    WHERE a.cluster = q.qcluster AND e.vec_id <> 0
    ORDER BY cosine_sim DESC, e.vec_id
    LIMIT 10
    """,
    description="IVF-flat ANN with nprobe=1: deterministic seeded "
    "centroids (8 lowest-id vectors — k-means refinement moves centroids "
    "but not the probe mechanics), map-only argmin assignment over "
    "quantized integer squared-L2 (centroids baked as literal arrays, no "
    "join/shuffle), exact cosine only within the query's cluster. At "
    "corpus scale the assigned table is written bucketed by cluster so a "
    "probe reads one cluster's files.",
    tags=("similarity", "ann", "ivf"),
)
def q66_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(emb, query_vec_id=0, n_centroids=8, k=10)


# ---------------------------------------------------------------------------
# q67 — custom stateful STREAMING sessionization (applyInPandasWithState)
# replayed over the bounded events table; final per-user counts must equal
# the batch lag-window sessionization (q20), and the oracle IS that batch
# SQL — the strongest streams-equals-batch check the engine makes.
# Cumulative update-mode emission guarantees bounded replays flush final
# values (watermark-finalized session windows would hold back the tail).
# ---------------------------------------------------------------------------
@register(
    "q67_streaming_sessionize",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                          - CAST(FLOOR(EPOCH(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new_session
      FROM ordered
    )
    SELECT user_id,
           CAST(SUM(is_new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
    description="Stateful streaming sessionization: per-user 30-min-gap "
    "session/event counts kept in applyInPandasWithState state across "
    "micro-batches, cumulative rows emitted in update mode, final values "
    "extracted as max per key. Oracle is the BATCH sessionization SQL "
    "(q20) — the streamed state must reproduce it exactly.",
    tags=("streaming", "stateful", "sessionize", "pandas-udf"),
)
def q67_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        sessionize_stateful,
    )

    stream = read_table_stream(spark, sf_dir, "events")
    sessions = sessionize_stateful(stream, gap_seconds=1800)
    # Cumulative emission: the final value per key is the max across
    # batches (single-batch replays emit exactly one row per key).
    # 8 state partitions: one pandas state call per user runs as
    # parallel tasks (1 partition measured 1.6x slower at sf0.1,
    # plans/r18/probe_replay_partitions.txt).
    return (
        drain_to_memory(sessions, "update", state_partitions=8)
        .groupBy("key")
        .agg(
            F.max("n_sessions").alias("n_sessions"),
            F.max("n_events").alias("n_events"),
        )
        .select(F.col("key").alias("user_id"), "n_sessions", "n_events")
    )


# ---------------------------------------------------------------------------
# q68 — near-dup CLUSTERS from the q32 pair graph: connected components by
# iterative hash-min label propagation (operators/dedup.connected_components).
# The oracle computes the same fixpoint with a recursive transitive-closure
# CTE — min reachable id == converged min-label, so the iterative Spark
# algorithm is hash-checked end-to-end against declarative SQL.
# ---------------------------------------------------------------------------
def _cc_sql_prefix() -> str:
    """The recursive-CTE prefix up to ``labels`` (doc_id -> cluster),
    shared by q68 (membership) and q112 (size histogram)."""
    return f"""
    WITH RECURSIVE prs AS ({_mh_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION
      SELECT doc_b AS u, doc_a AS v FROM prs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u
    )"""


def _cc_sql() -> str:
    return (
        _cc_sql_prefix()
        + """
    SELECT doc_id, cluster,
           COUNT(*) OVER (PARTITION BY cluster) AS n_members
    FROM labels
    """
    )


@register(
    "q68_dedup_clusters",
    _cc_sql(),
    description="Dedup clusters: connected components over the MinHash-LSH "
    "near-dup pair graph via iterative hash-min label propagation "
    "(localCheckpoint per round to truncate lineage; rounds = component "
    "diameter, 2-3 for near-clique dup groups). Canonical id = min doc_id "
    "in the component. Oracle is a recursive transitive-closure CTE "
    "computing the identical fixpoint.",
    tags=("dedup", "clustering", "iterative"),
)
def q68_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Shared build: pair graph AND converged CC labels come from the
    # fingerprint-keyed session memo q112/q144 also read.
    cc = _minhash_cc_labels(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    )
    return (
        cc.select(F.col("node").alias("doc_id"), "cluster")
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("cluster"))
        )
    )


# ---------------------------------------------------------------------------
# q69 — lookback range join (attribution): for every error event, how many
# views did the same user generate in the preceding 10 minutes? A raw
# inequality join is a nested-loop O(n*m) plan; the operator rewrites it as
# a binned equi-join (operators/joins.binned_lookback_join) — hash shuffle
# on (user_id, time_bin), exact range check only on bucket survivors.
# ---------------------------------------------------------------------------
@register(
    "q69_lookback_range_join",
    """
    SELECT e.event_id, e.user_id,
           COUNT(v.event_id) AS n_preceding_views
    FROM events e
    LEFT JOIN events v
      ON v.user_id = e.user_id
     AND v.event_type = 'view'
     AND CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)
         >= CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) - 600
     AND CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)
         < CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    """,
    description="Interval/lookback range join via time-binning: errors "
    "explode to the candidate 10-min bins, equi-join views on "
    "(user_id, bin), exact half-open range filter after the hash join — "
    "never a nested-loop inequality join. Left semantics keep zero-view "
    "errors.",
    tags=("join", "range", "interval"),
)
def q69_lookback_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.joins import (
        binned_lookback_join,
    )

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("vts")
    )
    matched = binned_lookback_join(
        errors, views, ["user_id"], "ts", "vts", lookback_s=600
    ).groupBy("event_id", "user_id").agg(
        F.count("view_id").alias("n_preceding_views")
    )
    # LEFT semantics: errors with no candidate bin match drop out of the
    # join; restore them with zero counts via a cheap anti-side union.
    return (
        errors.select("event_id", "user_id")
        .join(matched.select("event_id"), "event_id", "left_anti")
        .withColumn("n_preceding_views", F.lit(0).cast("long"))
        .unionByName(matched)
    )


# ---------------------------------------------------------------------------
# q70 — deterministic stratified sampling. Spark's sample()/sampleBy() draw
# from a seeded RNG whose stream depends on partitioning — not reproducible
# across engines or re-partitions. The portable scale form: hash-mod on a
# stable key (md5), which any engine reproduces bit-identically and which
# keeps the SAME rows in the sample as the corpus grows.
# ---------------------------------------------------------------------------
@register(
    "q70_stratified_sample",
    """
    WITH s AS (
      SELECT event_type, value
      FROM events
      WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 4) < '199a'
    ),
    tot AS (SELECT event_type, COUNT(*) AS n_total FROM events GROUP BY 1)
    SELECT t.event_type, t.n_total,
           COUNT(s.value) AS n_sample,
           (CAST(FLOOR(CAST(10000 * COUNT(s.value) AS DOUBLE)
                       / t.n_total + 0.5) AS BIGINT) / 10000.0)
             AS sample_rate,
           {qavg} AS sample_avg_value
    FROM tot t LEFT JOIN s ON s.event_type = t.event_type
    GROUP BY 1, 2
    """.format(
        qavg="(CAST(SUM(CAST(FLOOR(s.value * 100 + 0.5) AS BIGINT)) AS BIGINT)"
        " / 100.0 / COUNT(s.value))"
    ),
    description="Deterministic ~10% stratified sample per event_type via "
    "md5 hash-mod on the row key (first 4 hex digits < 0x199a = 6554/65536)"
    " — reproducible across engines, partitionings, and corpus growth, "
    "unlike RNG-based sample(); per-stratum rate and quantized sample mean "
    "verify the draw.",
    tags=("sampling", "agg"),
)
def q70_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import qavg

    ev = read_table(spark, sf_dir, "events")
    sample = ev.filter(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 4) < "199a"
    )
    tot = ev.groupBy("event_type").agg(F.count("*").alias("n_total"))
    samp = sample.groupBy("event_type").agg(
        F.count("value").alias("n_sample"),
        qavg(F.col("value")).alias("sample_avg_value"),
    )
    return (
        tot.join(samp, "event_type", "left")
        .select(
            "event_type",
            "n_total",
            F.coalesce("n_sample", F.lit(0)).alias("n_sample"),
            # FLOOR-quantized, not round(): Spark's round() goes through
            # the double's shortest decimal repr (half-up) while DuckDB
            # rounds the raw binary — they diverge exactly on decimal
            # ties, which rationals like count/total CAN hit (the q86
            # sf0.001 red). FLOOR of an identical IEEE quotient is
            # engine-identical always.
            F.expr(
                "CAST(FLOOR(CAST(10000 * coalesce(n_sample, 0) AS DOUBLE)"
                " / n_total + 0.5D) AS BIGINT) / 10000.0D"
            ).alias("sample_rate"),
            "sample_avg_value",
        )
    )


# ---------------------------------------------------------------------------
# q71 — token counting: whitespace tokens plus a BPE-ish subword segmentation
# (letter runs / digit runs / single non-alphanumerics — the pre-merge
# byte-pair vocabulary shape), the budget metric every LLM-corpus pipeline
# reports. Pure columnar regexp work, whole-stage codegen, no Python.
# ---------------------------------------------------------------------------
@register(
    "q71_token_counts",
    """
    WITH d AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
               AS n_subwords
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_subwords) AS BIGINT) AS total_subwords,
           (CAST(FLOOR(CAST(10000 * SUM(n_tokens) AS DOUBLE)
                       / COUNT(*) + 0.5) AS BIGINT) / 10000.0)
             AS avg_tokens_per_doc
    FROM d
    GROUP BY lang
    """,
    description="Per-language token budget: whitespace token counts and a "
    "BPE-ish subword count (letter-run | digit-run | single symbol regex — "
    "the pre-merge BPE vocabulary segmentation) summed per lang. Identical "
    "regex semantics in Java regex and RE2 for this pattern class.",
    tags=("text", "tokens", "agg"),
)
def q71_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.regexp_count(
            F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")
        ).alias("n_subwords"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_subwords").cast("long").alias("total_subwords"),
        F.expr(
            "CAST(FLOOR(CAST(10000 * SUM(n_tokens) AS DOUBLE)"
            " / COUNT(*) + 0.5D) AS BIGINT) / 10000.0D"
        ).alias("avg_tokens_per_doc"),
    )


# ---------------------------------------------------------------------------
# q72 — incremental rollup: monthly aggregates REAGGREGATED from daily
# partials instead of rescanning raw events — the materialized-rollup
# pattern (count and quantized sum are reaggregable; means derive at read
# time). At 100 TB the daily table is written once per day and every
# coarser granularity (week/month/quarter) is a cheap rollup over partials.
# ---------------------------------------------------------------------------
@register(
    "q72_incremental_rollup",
    """
    SELECT date_trunc('week', ts) AS week,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
            / 100.0) AS sum_value
    FROM events
    GROUP BY 1
    """,
    description="Weekly rollup computed from daily partial aggregates "
    "(count + quantized integer sum are associative/commutative, so "
    "merging partials is exact) — the oracle aggregates raw events "
    "directly, proving partial-merge == direct aggregation.",
    tags=("agg", "rollup", "incremental"),
)
def q72_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("qsum"),
    )
    return daily.groupBy(F.date_trunc("week", "day").alias("week")).agg(
        F.sum("n_events").alias("n_events"),
        (F.sum("qsum").cast("long") / 100.0).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q73 — one k-means Lloyd iteration over the IVF seed centroids, engine-
# exact: assignment is the quantized integer argmin (ivf_assign), the new
# centroid is the component-wise mean computed as an EXACT integer sum of
# quantized components divided at the end — so the refined centroids hash-
# match the oracle bit-for-bit (naive float mean would not: merge order).
# Full k-means = a driver loop over this step (2 shuffles per round:
# map-only assign + one sum shuffle) until centroid movement ~ 0, the same
# iterate-until-converged pattern as q68's connected components.
# ---------------------------------------------------------------------------
@register(
    "q73_kmeans_step",
    _IVF_ASSIGN_CTES
    + """,
    sums AS (
      SELECT a.cluster, v.j, SUM(v.vq) AS sq, COUNT(*) AS n
      FROM vq v JOIN assign a ON a.vec_id = v.vec_id
      GROUP BY 1, 2
    )
    SELECT CAST(s.cluster AS BIGINT) AS cluster,
           CAST(s.j AS INTEGER) AS j,
           CAST(s.n AS BIGINT) AS n_members,
           ROUND(cc.c, 6) AS old_c,
           (CAST(FLOOR(CAST(1000 * s.sq AS DOUBLE) / s.n + 0.5)
                 AS BIGINT) / 1000000.0) AS new_c
    FROM sums s
    JOIN ccomp cc ON cc.cid = s.cluster AND cc.j = s.j
    """,
    description="k-means refinement step for the IVF coarse quantizer: "
    "quantized-integer argmin assignment, then per-(cluster, component) "
    "exact integer sums -> new centroid means. Long-format output "
    "(cluster, j, n_members, old_c, new_c); movement per cluster derives "
    "from old_c/new_c downstream.",
    tags=("ml", "clustering", "iterative", "similarity"),
)
def q73_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(emb, n_centroids=8)
    assigned = sim.ivf_assign(emb, cents)
    comp = assigned.select(
        "cluster",
        F.posexplode(sim.as_double("embedding")).alias("pos", "v"),
    ).select(
        "cluster",
        (F.col("pos") + 1).cast("int").alias("j"),
        F.floor(F.col("v") * 1000 + F.lit(0.5)).cast("long").alias("vq"),
    )
    sums = comp.groupBy("cluster", "j").agg(
        F.sum("vq").alias("sq"), F.count("*").alias("n_members")
    )
    old = spark.createDataFrame(
        [
            (int(cid), j, float(c))
            for cid, cvec in cents
            for j, c in enumerate(cvec, start=1)
        ],
        "cluster long, j int, old_c double",
    )
    return (
        sums.join(F.broadcast(old), ["cluster", "j"])
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "j",
            F.col("n_members").cast("long").alias("n_members"),
            F.round("old_c", 6).alias("old_c"),
            F.expr(
                "CAST(FLOOR(CAST(1000 * sq AS DOUBLE) / n_members + 0.5D)"
                " AS BIGINT) / 1000000.0D"
            ).alias("new_c"),
        )
    )


# ---------------------------------------------------------------------------
# q74 — deterministic per-group "reservoir": k uniformly-random-LOOKING
# rows per stratum, drawn by ranking on md5(key) — the reproducible
# replacement for per-group reservoir sampling (RNG state is partition-
# dependent; a hash rank is a pure function of the row). One window pass;
# at scale, a pre-filter on the hash prefix bounds the sort input first.
# ---------------------------------------------------------------------------
@register(
    "q74_reservoir_topn",
    """
    SELECT event_type, rank, event_id, value
    FROM (
      SELECT event_type, event_id, value,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS INTEGER) AS rank
      FROM events
    )
    WHERE rank <= 5
    """,
    description="Deterministic 5-row uniform draw per event_type: rank on "
    "md5(event_id) (hash order == uniform order, bit-reproducible in any "
    "engine) with an id tiebreak, row_number window, keep rank <= 5.",
    tags=("sampling", "window"),
)
def q74_reservoir_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.row_number().over(w).cast("int").alias("rank"),
        )
        .filter(F.col("rank") <= 5)
        .select("event_type", "rank", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# q75 — int8 embedding quantization: per-vector max-abs scale + rounded
# int8 codes — 4x storage compression for a 100 TB vector store, with the
# scale kept alongside for approximate reconstruction. floor(x + 0.5)
# rounding and exact double division keep codes bit-identical across
# engines (no engine round() tie-break differences).
# ---------------------------------------------------------------------------
@register(
    "q75_embedding_quantize",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comp AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    scales AS (
      SELECT vec_id, MAX(ABS(v)) AS scale FROM comp GROUP BY vec_id
    )
    SELECT c.vec_id, CAST(c.j AS INTEGER) AS j,
           ROUND(s.scale, 6) AS scale,
           CAST(CASE WHEN s.scale = 0 THEN 0
                     ELSE FLOOR(c.v / s.scale * 127 + 0.5) END AS INTEGER)
             AS code
    FROM comp c JOIN scales s ON s.vec_id = c.vec_id
    """,
    description="Per-vector max-abs int8 quantization of the embedding "
    "column (code = floor(v/scale*127 + 0.5), scale kept for "
    "reconstruction) — long format (vec_id, j, scale, code). The vector-"
    "store compression path: codes shuffle/store at 1/4 the bytes.",
    tags=("similarity", "compression", "embedding"),
)
def q75_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode(sim.as_double("embedding")).alias("pos", "v")
    ).select("vec_id", (F.col("pos") + 1).cast("int").alias("j"), "v")
    scales = comp.groupBy("vec_id").agg(F.max(F.abs("v")).alias("scale"))
    return comp.join(scales, "vec_id").select(
        "vec_id",
        "j",
        F.round("scale", 6).alias("scale"),
        F.when(F.col("scale") == 0, F.lit(0))
        .otherwise(F.floor(F.col("v") / F.col("scale") * 127 + F.lit(0.5)))
        .cast("int")
        .alias("code"),
    )


# ---------------------------------------------------------------------------
# q76 — STREAM-STREAM interval join: the streamed twin of q69's batch range
# join. Two filtered views of the same replayed event stream join on
# user_id + a time-interval condition; watermarks bound the join state so
# an unbounded run evicts rows older than the lookback. Bounded replay in
# one micro-batch makes the append-mode output deterministic, so the
# result is hash-checked against the batch inner-join SQL — the
# streams-equals-batch guarantee for JOINS, not just aggregates.
# ---------------------------------------------------------------------------
@register(
    "q76_stream_stream_join",
    """
    SELECT e.event_id, e.user_id,
           COUNT(v.event_id) AS n_preceding_views
    FROM events e
    JOIN events v
      ON v.user_id = e.user_id
     AND v.event_type = 'view'
     AND CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)
         >= CAST(FLOOR(EPOCH(e.ts)) AS BIGINT) - 600
     AND CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)
         < CAST(FLOOR(EPOCH(e.ts)) AS BIGINT)
    WHERE e.event_type = 'error'
    GROUP BY 1, 2
    """,
    description="Stream-stream interval join (errors x views of the same "
    "replayed stream): watermarks on both sides + a raw-timestamp interval "
    "bound let Spark evict join state; the exact whole-second half-open "
    "window is applied on top so semantics match the batch oracle. Raw "
    "pairs land append-mode in the sink; the per-error counts equal q69's "
    "inner rows.",
    tags=("streaming", "join", "interval"),
)
def q76_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events")
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "2 hours")
    )
    joined = errors.join(
        views,
        F.expr(
            """
            user_id = v_user_id
            AND vts >= ts - INTERVAL 11 MINUTES
            AND vts <= ts
            AND unix_timestamp(vts) >= unix_timestamp(ts) - 600
            AND unix_timestamp(vts) < unix_timestamp(ts)
            """
        ),
    ).select("event_id", "user_id", "view_id")
    return (
        drain_to_memory(joined, "append")
        .groupBy("event_id", "user_id")
        .agg(F.count("view_id").alias("n_preceding_views"))
    )


# ---------------------------------------------------------------------------
# q77 — per-group 10% trimmed mean, expressed NATIVELY as a rank-window
# trim + quantized integer aggregation. This is the scale path: the window
# sort is Tungsten sort-based and spills to disk, so an arbitrarily large
# event_type group degrades gracefully — unlike a grouped-agg Arrow batch,
# which must hold the whole group in one executor allocation (that UDF
# form lives on in q86 on a bounded event_type × day key). The trimmed
# multiset is tie-order-free, so row_number tie assignment cannot change
# the result.
# ---------------------------------------------------------------------------
@register(
    "q77_trimmed_mean_udaf",
    """
    WITH r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_used,
           (CAST(FLOOR(CAST(100 * SUM(CAST(FLOOR(value * 100 + 0.5)
                                          AS BIGINT)) AS DOUBLE)
                       / COUNT(*) + 0.5) AS BIGINT) / 10000.0)
             AS trimmed_mean
    FROM r
    WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT)
    GROUP BY event_type
    """,
    description="10% trimmed mean of value per event_type as a native "
    "rank-window trim (spill-safe at any group size) with quantized "
    "integer summation; the GROUPED_AGG pandas-UDF formulation is q86, "
    "registered only on a bounded key.",
    tags=("window", "agg", "robust-stats"),
)
def q77_trimmed_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w_rank = Window.partitionBy("event_type").orderBy("value")
    w_grp = Window.partitionBy("event_type")
    k = F.floor(F.col("n") * 0.1).cast("bigint")
    return (
        ev.select("event_type", "value")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_grp))
        .filter((F.col("rn") > k) & (F.col("rn") <= F.col("n") - k))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_used"),
            F.expr(
                "CAST(FLOOR(CAST(100 * SUM(CAST(FLOOR(value * 100 + 0.5D)"
                " AS BIGINT)) AS DOUBLE) / COUNT(*) + 0.5D) AS BIGINT)"
                " / 10000.0D"
            ).alias("trimmed_mean"),
        )
    )


# ---------------------------------------------------------------------------
# q86 — GROUPED_AGG pandas UDF: the same 10% trimmed mean, on the BOUNDED
# event_type × day key. A grouped-agg UDF ships each whole group as one
# Arrow batch, so it is only registered where group size has a hard bound
# (one key-day of events); q77 is the unbounded-group scale form.
# Completes the UDF surface: scalar pandas_udf (q28), applyInPandas (q27),
# mapInPandas (q41), applyInPandasWithState (q67), UDTF (q78),
# grouped-agg pandas_udf (here).
# ---------------------------------------------------------------------------
@register(
    "q86_trimmed_mean_udaf_bounded",
    """
    WITH r AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, CAST(ts AS DATE) ORDER BY value
             ) AS rn,
             COUNT(*) OVER (
               PARTITION BY event_type, CAST(ts AS DATE)
             ) AS n
      FROM events
    )
    SELECT event_type, day,
           COUNT(*) AS n_used,
           (CAST(FLOOR(CAST(100 * SUM(CAST(FLOOR(value * 100 + 0.5)
                                          AS BIGINT)) AS DOUBLE)
                       / COUNT(*) + 0.5) AS BIGINT) / 10000.0)
             AS trimmed_mean
    FROM r
    WHERE rn > CAST(FLOOR(n * 0.1) AS BIGINT)
      AND rn <= n - CAST(FLOOR(n * 0.1) AS BIGINT)
    GROUP BY event_type, day
    """,
    description="10% trimmed mean via GROUPED_AGG pandas UDF on the "
    "bounded event_type × day key (one Arrow batch per group — the key "
    "bound is what makes this safe; see q77 for unbounded groups). "
    "Quantized integer summation inside the UDF matches the oracle "
    "bit-for-bit.",
    tags=("pandas-udf", "udaf", "agg"),
)
def q86_trimmed_mean_udaf_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tsum(v):
        # Quantized integer cents sum of the trimmed set (registry
        # contract): integer summation is order-exact, and returning the
        # INTEGER (not a rounded float mean) lets the expression layer
        # derive the mean with FLOOR quantization — Spark's round() on a
        # double goes through its shortest decimal repr (half-up) while
        # DuckDB rounds the raw binary, so exact decimal ties like
        # q/(100n) = x.xxxx5 diverged (the round-8 sf0.001 red).
        import numpy as np

        s = v.sort_values()
        k = int(len(s) // 10)
        kept = s.iloc[k : len(s) - k] if k else s
        return int(np.floor(kept.to_numpy() * 100 + 0.5).astype("int64").sum())

    def _tcount(v):
        k = int(len(v) // 10)
        return int(len(v) - 2 * k) if k else int(len(v))

    # Real annotations: `from __future__ import annotations` in this
    # module would stringify inline hints and break pandas_udf inspection.
    _tsum.__annotations__ = {"v": pd.Series, "return": int}
    _tcount.__annotations__ = {"v": pd.Series, "return": int}
    tsum_udf = pandas_udf("long")(_tsum)
    tcount_udf = pandas_udf("long")(_tcount)

    ev = read_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(
            tcount_udf("value").alias("n_used"),
            tsum_udf("value").alias("__qsum"),
        )
        .select(
            "event_type",
            "day",
            "n_used",
            F.expr(
                "CAST(FLOOR(CAST(100 * __qsum AS DOUBLE) / n_used + 0.5D)"
                " AS BIGINT) / 10000.0D"
            ).alias("trimmed_mean"),
        )
    )


# ---------------------------------------------------------------------------
# q78 — Python UDTF (table function): chunk each document into overlapping
# training context windows (size 128 tokens, stride 64) via a LATERAL
# table-function join — the one UDF shape (one row -> many rows with
# per-call state) that scalar/grouped pandas UDFs cannot express.
# Emits (chunk_idx, n_tokens, md5) per window; the md5 lets the oracle
# verify the exact chunk CONTENT without shipping chunk text around.
# ---------------------------------------------------------------------------
@register(
    "q78_chunk_windows_udtf",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id, w, unnest(range(1, len(w) + 1, 64)) AS s FROM t
    )
    SELECT doc_id,
           CAST((s - 1) / 64 AS INTEGER) AS chunk_idx,
           CAST(len(list_slice(w, s, least(s + 127, len(w))))
                AS INTEGER) AS n_tokens,
           md5(array_to_string(
             list_slice(w, s, least(s + 127, len(w))), ' '
           )) AS chunk_md5
    FROM g
    """,
    description="Training-window chunker as a Python UDTF in a LATERAL "
    "join: 128-token windows at stride 64 per document, one output row "
    "per window with an md5 content fingerprint. Arrow-batched UDTF "
    "execution; at scale the chunk table is the unit that shuffles, "
    "never the full document.",
    tags=("udtf", "text", "chunking"),
)
def q78_chunk_windows_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    class ChunkWindows:
        def eval(self, doc_id, text):
            # Self-contained: executor workers can't import this repo.
            import hashlib

            w = (text or "").split(" ")
            for idx, s in enumerate(range(0, len(w), 64)):
                chunk = w[s : s + 128]
                yield (
                    doc_id,
                    idx,
                    len(chunk),
                    hashlib.md5(" ".join(chunk).encode()).hexdigest(),
                )

    chunk_udtf = udtf(
        ChunkWindows,
        returnType="doc_id bigint, chunk_idx int, n_tokens int, "
        "chunk_md5 string",
        # Arrow-serialized exchange (ArrowEvalPythonUDTF); without it the
        # UDTF runs row-at-a-time pickling (BatchEvalPythonUDTF) — the
        # plan-audit flags that as the slow path.
        useArrow=True,
    )
    spark.udtf.register("chunk_windows", chunk_udtf)
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_md5
        FROM documents d, LATERAL chunk_windows(d.doc_id, d.text) c
        """
    )


# ---------------------------------------------------------------------------
# q79 — the end-to-end curation funnel, composed from the inventory's own
# stages: language gate -> quality gate (length + lexical diversity) ->
# exact near-dedup on normalized content -> token budget. One row per
# kept language with the full funnel counts — the numbers a training-data
# curation run reports. Every stage is the scale-shaped form: columnar
# predicates, one md5 group-by for dedup (shuffles 16-byte keys, not
# text), integer token sums.
# ---------------------------------------------------------------------------
@register(
    "q79_curation_funnel",
    """
    WITH base AS (
      SELECT doc_id, lang, text,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
      WHERE lang IN ('en', 'de', 'fr')
    ),
    quality AS (
      SELECT * FROM base
      WHERE n_words >= 30 AND n_distinct * 1.0 / n_words >= 0.3
    ),
    uniq AS (
      SELECT lang, md5(lower(text)) AS ck, MAX(n_words) AS n_words
      FROM quality
      GROUP BY 1, 2
    )
    SELECT t.lang,
           t.n_total,
           q.n_quality,
           u.n_unique,
           u.total_tokens
    FROM (SELECT lang, COUNT(*) AS n_total FROM base GROUP BY 1) t
    JOIN (SELECT lang, COUNT(*) AS n_quality FROM quality GROUP BY 1) q
      ON q.lang = t.lang
    JOIN (SELECT lang, COUNT(*) AS n_unique,
                 CAST(SUM(n_words) AS BIGINT) AS total_tokens
          FROM uniq GROUP BY 1) u
      ON u.lang = t.lang
    """,
    description="Curation funnel per language: lang gate -> quality gate "
    "(>=30 words, >=0.3 distinct-word ratio) -> exact dedup on "
    "md5(lower(text)) keep-one -> token budget. Funnel counts "
    "(n_total/n_quality/n_unique/total_tokens) are the run report of a "
    "corpus curation job.",
    tags=("datapipe", "dedup", "text", "funnel"),
)
def q79_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "de", "fr")
    )
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).alias("n_words"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_distinct"),
    )
    quality = base.filter(
        (F.col("n_words") >= 30)
        & (F.col("n_distinct") * 1.0 / F.col("n_words") >= 0.3)
    )
    uniq = quality.groupBy(
        "lang", F.md5(F.lower("text")).alias("ck")
    ).agg(F.max("n_words").alias("n_words"))
    tot = base.groupBy("lang").agg(F.count("*").alias("n_total"))
    qn = quality.groupBy("lang").agg(F.count("*").alias("n_quality"))
    un = uniq.groupBy("lang").agg(
        F.count("*").alias("n_unique"),
        F.sum("n_words").cast("long").alias("total_tokens"),
    )
    return tot.join(qn, "lang").join(un, "lang").select(
        "lang", "n_total", "n_quality", "n_unique", "total_tokens"
    )


# ---------------------------------------------------------------------------
# q80 — stream-STATIC enrichment join: the replayed event stream joins two
# broadcast dimension tables (customer -> nation) micro-batch by
# micro-batch — the dimension-enrichment shape every streaming ETL needs,
# complementing q76's stream-stream join. Static sides broadcast once; no
# join state accumulates (unlike stream-stream). Complete-mode grouped
# aggregate over the enriched stream equals the batch star join.
# ---------------------------------------------------------------------------
@register(
    "q80_stream_static_join",
    """
    SELECT n.n_name AS nation,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
            / 100.0) AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
    description="Stream-static broadcast join: replayed events enriched "
    "with customer->nation dims inside the streaming query (static sides "
    "broadcast, zero join state), complete-mode per-nation aggregate — "
    "final state hash-matches the batch star join.",
    tags=("streaming", "join", "broadcast"),
)
def q80_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events").select("user_id", "value")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    ).join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            / 100.0
        ).alias("sum_value"),
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# q81 — STREAMING dedup within watermark: the at-least-once -> effectively-
# once repair every streaming ingest needs. The replayed event stream is
# unioned with itself (every event delivered twice — the redelivery
# model), then dropDuplicatesWithinWatermark on event_id collapses the
# duplicates while the watermark bounds dedup state (ids older than the
# horizon are evicted — at 100 TB you cannot keep every-seen-id state).
# The deduped per-type counts must equal the batch DISTINCT counts.
# ---------------------------------------------------------------------------
@register(
    "q81_streaming_dedup",
    """
    SELECT event_type, COUNT(DISTINCT event_id) AS n_events
    FROM events
    GROUP BY 1
    """,
    description="Streaming dedup: stream unioned with itself (2x "
    "delivery), dropDuplicatesWithinWatermark(event_id) with a 2h "
    "watermark bounding state, append-mode sink; per-type counts equal "
    "the batch DISTINCT — the effectively-once ingest guarantee.",
    tags=("streaming", "dedup", "stateful"),
)
def q81_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    once = read_table_stream(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    twice = once.unionByName(
        read_table_stream(spark, sf_dir, "events").select(
            "event_id", "event_type", "ts"
        )
    )
    deduped = twice.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # 8 state partitions: dedup state holds every event id, so its
    # commits run as parallel tasks (1 partition measured 1.3x slower
    # at sf0.1, plans/r18/probe_replay_partitions.txt).
    return (
        drain_to_memory(deduped, "append", state_partitions=8)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# q82 — triangle counting over the near-dup graph: the second distributed
# graph primitive after q68's components. Canonical a<b<c orientation means
# each triangle is ONE row of the 3-way self-join; joining the (already
# oriented) pair list twice keeps the plan a pair of hash joins whose
# intermediate is bounded by |E| * max-degree — with the LSH bucket cap
# bounding degree, never quadratic. Triangle density separates true dup
# CLUSTERS (cliques) from chains of borderline matches.
# ---------------------------------------------------------------------------
def _tri_sql() -> str:
    return f"""
    WITH prs AS ({_mh_sql()}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM prs),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT COUNT(*) AS n_triangles,
           (SELECT COUNT(*) FROM e) AS n_edges
    FROM tri
    """


@register(
    "q82_triangle_count",
    _tri_sql(),
    description="Triangle count over the MinHash-LSH near-dup pair graph: "
    "pairs pre-oriented a<b, so two hash self-joins enumerate each "
    "triangle exactly once (a<b<c); degree is bounded by the LSH bucket "
    "cap, keeping the wedge intermediate linear-ish. Clique density "
    "distinguishes dup clusters from borderline-match chains.",
    tags=("dedup", "graph", "join"),
)
def q82_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared build (same dial as q32/q68/q112/q144): the memoized pair
    # set is already checkpointed, so one artifact serves all three
    # join branches below AND every other consumer in the session.
    pairs = _minhash_verified_pairs(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e = pairs
    e1 = e
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
        )
    )
    return tri.agg(F.count("*").alias("n_triangles")).crossJoin(
        e.agg(F.count("*").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# q83 — blocked embedding near-dup with a COMPOUND block key: natural key
# (label) x SRP sign bucket. q35's single-key blocks grow with the corpus
# and its per-block O(block^2) BLAS matmul turns quadratic (measured 8.2x
# wall at 10x rows — tools/scale_smoke.py); compounding with the md5-seeded
# SRP bucket re-bounds block size at the standard LSH recall trade-off
# (pairs split across sign buckets are missed). Same md5/quantized bucket
# math as q36, so the oracle reproduces blocks AND results exactly.
# ---------------------------------------------------------------------------
# Shares _NEARDUP_PLANES / _srp_blocked_sql with q35 (defined there):
# q35 is the user-facing near-dup query (bucket internal), q83 exposes
# the compound key for block-size auditing.


@register(
    "q83_blocked_neardup_srp",
    _srp_blocked_sql(_NEARDUP_PLANES, expose_bucket=True),
    description="Top-20 most-similar pairs within (label, SRP-bucket) "
    "compound blocks: the bounded-block scale form of q35 — block size "
    "stays O(corpus / (labels * 2^planes)) as data grows, per-block BLAS "
    "matmul stays constant-bounded; recall dial is the SRP bucket split.",
    tags=("similarity", "dedup", "lsh", "pandas-udf"),
)
def q83_blocked_neardup_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    buckets = sim.srp_buckets(emb, n_planes=_NEARDUP_PLANES, scale=_SRP_SCALE)
    embb = emb.join(buckets, "vec_id")
    return sim.blocked_neardup_topk(
        embb, k=20, block_col=["label", "bucket"]
    )


# ---------------------------------------------------------------------------
# q84 — PER-GROUP quantile sketches with per-group rank verification: the
# grouped twin of q42's global sketch contract (and the scale form of
# q48's exact grouped quantiles — exact percentile buffers every value
# per group; the sketch holds a fixed-size summary). Each group's sketched
# median is verified by counting rows at-or-below it: a pure counting
# pass, scale-safe, and the booleans are what the oracle hash-matches.
# ---------------------------------------------------------------------------
@register(
    "q84_grouped_sketch_quantiles",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(TRUE AS BOOLEAN) AS median_rank_ok
    FROM events
    GROUP BY 1
    """,
    description="percentile_approx median per event_type (accuracy 5000, "
    "fixed-size sketch per group) verified by its rank guarantee: "
    "count(value <= sketched median) within 2% of n/2 per group — far "
    "outside the sketch's n/5000 rank-error bound. Oracle side is exact "
    "counts + literal TRUE.",
    tags=("agg", "approx", "groupby"),
)
def q84_grouped_sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile_approx("value", 0.5, 5000).alias("_amed"),
    )
    ranks = (
        ev.join(F.broadcast(sk), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("_amed"), 1).otherwise(0)
            ).alias("_rank")
        )
    )
    return sk.join(ranks, "event_type").select(
        "event_type",
        "n",
        (
            F.abs(F.col("_rank") - 0.5 * F.col("n")) <= 0.02 * F.col("n")
        ).alias("median_rank_ok"),
    )


# ---------------------------------------------------------------------------
# q85 — multimodal feature extraction: perceptual average-hash (aHash) per
# media payload via mapInPandas, completing the multimodal surface
# (metadata q40, decode q41, resize q64, frame-sample q65, feature/hash
# q85). The oracle reproduces the stubbed pixel-grid arithmetic with
# generate_series integer math, so the whole Arrow stage (schema, batch
# shape, bit math) is verified end to end; equal hashes then group into
# media-dup buckets exactly like text fingerprints do.
# ---------------------------------------------------------------------------
@register(
    "q85_multimodal_phash",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    px AS (
      SELECT doc_id, n_bytes, i,
             -- n_bytes reduced mod 256 first, mirroring the Python stage:
             -- the unreduced product overflows BIGINT past ~59 MB payloads
             ((n_bytes % 256) * (i + 3) * 2654435761) % 256 AS p
      FROM d, generate_series(0, 55) t(i)
    ),
    m AS (
      SELECT doc_id,
             -- // : DuckDB integer '/' yields DOUBLE and CAST rounds;
             -- floor-division matches the Python stage's // exactly
             CAST(SUM(p) // 56 AS BIGINT) AS mean_px
      FROM px GROUP BY doc_id
    ),
    h AS (
      SELECT px.doc_id,
             CAST(SUM(CASE WHEN px.p > m.mean_px
                           THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM px JOIN m ON m.doc_id = px.doc_id
      GROUP BY px.doc_id
    )
    SELECT d.doc_id, d.n_bytes, h.ahash, CAST(m.mean_px AS INTEGER) AS mean_px,
           COUNT(*) OVER (PARTITION BY h.ahash) AS n_hash_dups
    FROM d JOIN h ON h.doc_id = d.doc_id JOIN m ON m.doc_id = d.doc_id
    """,
    description="Perceptual average-hash per media payload (stubbed 7x8 "
    "pixel grid, 56-bit hash, all-integer math) via an Arrow-batched "
    "mapInPandas stage; hash-equality groups are the media-dedup "
    "buckets. Oracle rebuilds the identical grid/threshold/bit math.",
    tags=("multimodal", "dedup", "pandas-udf"),
)
def q85_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    hashed = mm.phash_images(
        mm.payload_metadata(mm.attach_binary_payload(docs))
    )
    return hashed.withColumn(
        "n_hash_dups", F.count("*").over(Window.partitionBy("ahash"))
    )


# ---------------------------------------------------------------------------
# q87 — SEQUENCE PACKING: greedy first-fit of documents into fixed
# token-budget training bins — the op that turns a curated corpus into
# dense training batches. Packing is inherently sequential, so the scale
# design is hash-chunked: docs land in chunks by doc_id % N (bounded
# groups, embarrassingly parallel), each chunk packs independently in
# doc_id order via one Arrow batch. Bin quality loses only the
# cross-chunk boundary bins (N-1 partially-filled bins per N chunks).
# N is DERIVED FROM THE CORPUS — ceil(n_docs / 64), floor 8 — so chunk
# size stays bounded (~64 docs) no matter how the corpus grows; a fixed
# N would recreate exactly the unbounded-Arrow-group OOM q77 had. Both
# engines compute N from the same table (Spark: one count() job at plan
# build; oracle: scalar subquery), so the assignment is identical. The
# oracle walks the identical greedy recurrence with a recursive CTE
# (recursion depth = chunk size, also bounded by the same dial).
# ---------------------------------------------------------------------------
_PACK_BUDGET = 512
_PACK_CHUNK_DOCS = 64  # target docs per chunk; n_chunks = ceil(n/64), min 8


@register(
    "q87_sequence_packing",
    f"""
    WITH RECURSIVE n AS (
      SELECT GREATEST(8, CAST(CEIL(COUNT(*) / {_PACK_CHUNK_DOCS}.0) AS BIGINT))
             AS n_chunks
      FROM documents
    ),
    t AS (
      SELECT doc_id, doc_id % n.n_chunks AS chunk,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % n.n_chunks
                                ORDER BY doc_id) AS rn
      FROM documents, n
    ),
    pack(chunk, rn, doc_id, n_tokens, bin_idx, fill) AS (
      SELECT chunk, rn, doc_id, n_tokens, 0, n_tokens
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.chunk, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {_PACK_BUDGET}
                  THEN p.bin_idx + 1 ELSE p.bin_idx END,
             CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {_PACK_BUDGET}
                  THEN t.n_tokens ELSE p.fill + t.n_tokens END
      FROM pack p JOIN t ON t.chunk = p.chunk AND t.rn = p.rn + 1
    )
    SELECT doc_id, chunk, CAST(bin_idx AS INTEGER) AS bin_idx, n_tokens
    FROM pack
    """,
    description=f"Greedy first-fit sequence packing into {_PACK_BUDGET}-token "
    "training bins, hash-chunked with a corpus-derived chunk count "
    f"(ceil(n_docs/{_PACK_CHUNK_DOCS}), floor 8) so each chunk packs "
    "independently in one Arrow batch BOUNDED at any corpus size — the "
    "parallel form of an inherently sequential op (cost: only the "
    "per-chunk boundary bins pack sub-optimally). Oracle replays the same "
    "recurrence as a recursive CTE with the same derived chunk count.",
    tags=("pandas-udf", "packing", "training-data"),
)
def q87_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    docs = read_table(spark, sf_dir, "documents")
    # One cheap count() at plan build keeps chunk size bounded forever;
    # parquet row-group metadata makes this a metadata-only scan.
    n_docs = docs.count()
    n_chunks = max(8, math.ceil(n_docs / _PACK_CHUNK_DOCS))
    sized = docs.select(
        "doc_id",
        (F.col("doc_id") % n_chunks).alias("chunk"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    budget = _PACK_BUDGET

    def pack_chunk(pdf):
        # Self-contained closure: executor workers can't import this repo.
        import pandas as pd

        pdf = pdf.sort_values("doc_id", ignore_index=True)
        bins, fills = [], 0
        bin_idx = 0
        fill = 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if not first and fill > 0 and fill + n > budget:
                bin_idx += 1
                fill = n
            else:
                fill += n
            first = False
            bins.append(bin_idx)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "chunk": pdf["chunk"],
                "bin_idx": pd.array(bins, dtype="int32"),
                "n_tokens": pdf["n_tokens"],
            }
        )

    return sized.groupBy("chunk").applyInPandas(
        pack_chunk, schema="doc_id long, chunk long, bin_idx int, n_tokens long"
    )


# ---------------------------------------------------------------------------
# q88 — PII detection/redaction audit: plant deterministic synthetic PII
# (emails on every 5th doc, phone numbers on every 7th), then detect and
# redact with columnar regexp — the safety scrub every training corpus
# needs before the tokenizer sees it. Everything stays JVM-side on the
# Spark side; the per-source md5 probe over the redacted text proves the
# REPLACEMENT itself matches the oracle, not just the counts. Match
# COUNTS are derived from regexp_replace alone in BOTH engines —
# length(replace-with-sentinel) - length(replace-with-empty) equals the
# non-overlapping match count exactly — because DuckDB's
# len(regexp_extract_all(...)) changed behavior across versions
# (round-6 driver-red despite local equality); the whole query now
# depends on one regex primitive with identical semantics everywhere.
# On a real corpus the planting stage is dropped.
# ---------------------------------------------------------------------------
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "q88_pii_redaction_audit",
    f"""
    WITH planted AS (
      SELECT doc_id, source,
             text
             || CASE WHEN doc_id % 5 = 0
                     THEN ' contact user' || doc_id || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                     THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-4567'
                     ELSE '' END AS text
      FROM documents
    ),
    scanned AS (
      SELECT doc_id, source,
             CAST(length(regexp_replace(text, '{_EMAIL_RE}', '#', 'g'))
                  - length(regexp_replace(text, '{_EMAIL_RE}', '', 'g'))
                  AS BIGINT) AS n_emails,
             CAST(length(regexp_replace(text, '{_PHONE_RE}', '#', 'g'))
                  - length(regexp_replace(text, '{_PHONE_RE}', '', 'g'))
                  AS BIGINT) AS n_phones,
             md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
      FROM planted
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_emails > 0 AS BIGINT)) AS BIGINT) AS n_with_email,
           CAST(SUM(CAST(n_phones > 0 AS BIGINT)) AS BIGINT) AS n_with_phone,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(n_phones) AS BIGINT) AS total_phones,
           MIN(redacted_md5) AS redaction_probe
    FROM scanned
    GROUP BY source
    """,
    description="PII scrub audit: synthetic emails/phones planted "
    "deterministically, counted via the regexp_replace sentinel "
    "length-difference (one regex primitive, identical semantics in "
    "every engine version) and redacted with regexp_replace (all "
    "JVM-side, no Python); per-source counts plus an md5 probe over the "
    "redacted text verify the replacement byte-for-byte against the "
    "oracle.",
    tags=("text", "safety", "training-data"),
)
def q88_pii_redaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call 555-01"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
                    F.lit("-4567"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scanned = planted.select(
        "source",
        (
            F.length(F.regexp_replace("text", _EMAIL_RE, "#"))
            - F.length(F.regexp_replace("text", _EMAIL_RE, ""))
        )
        .cast("long")
        .alias("n_emails"),
        (
            F.length(F.regexp_replace("text", _PHONE_RE, "#"))
            - F.length(F.regexp_replace("text", _PHONE_RE, ""))
        )
        .cast("long")
        .alias("n_phones"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            )
        ).alias("redacted_md5"),
    )
    return scanned.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_emails") > 0).cast("long")).alias("n_with_email"),
        F.sum((F.col("n_phones") > 0).cast("long")).alias("n_with_phone"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.min("redacted_md5").alias("redaction_probe"),
    )


# ---------------------------------------------------------------------------
# q89 — CROSS-SOURCE CONTAMINATION: identical normalized content appearing
# under more than one source — the train/benchmark-overlap check every
# training corpus needs before eval numbers mean anything. One md5
# fingerprint pass, distinct (source, fp), then a fp self-join with
# source_a < source_b. The join key is the fingerprint: per-fp fan-out is
# bounded by the SOURCE count (not corpus size), so a boilerplate text
# shared by every source costs C(n_sources, 2) rows, never O(docs²).
# ---------------------------------------------------------------------------
@register(
    "q89_cross_source_contamination",
    """
    WITH fp AS (
      SELECT DISTINCT source, 'exact' AS kind, md5(lower(text)) AS fp
      FROM documents
      UNION
      SELECT DISTINCT source, 'lead8' AS kind,
             md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b, a.kind,
           COUNT(*) AS n_shared
    FROM fp a
    JOIN fp b ON a.kind = b.kind AND a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2, 3
    """,
    description="Train/benchmark contamination check at two granularities "
    "— exact normalized content and an 8-word lead fingerprint "
    "(boilerplate overlap) — distinct fingerprints shared across source "
    "pairs via one md5 pass + a fingerprint equi-join (per-key fan-out "
    "bounded by the source count, never O(docs²)).",
    tags=("dedup", "contamination", "training-data"),
)
def q89_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    exact = docs.select(
        "source",
        F.lit("exact").alias("kind"),
        F.md5(F.lower("text")).alias("fp"),
    )
    lead = docs.select(
        "source",
        F.lit("lead8").alias("kind"),
        F.md5(
            F.array_join(F.slice(F.split(F.lower("text"), " "), 1, 8), " ")
        ).alias("fp"),
    )
    fp = exact.unionByName(lead).distinct()
    a = fp.select(F.col("source").alias("source_a"), "kind", "fp")
    b = fp.select(F.col("source").alias("source_b"), "kind", "fp")
    return (
        a.join(b, ["kind", "fp"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "kind")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# q90 — DOMAIN MIXING under a token budget: deterministic per-source
# sampling to a fixed token allowance — how a training mix hits target
# domain proportions without an RNG. Docs are ordered inside each source
# by md5(doc_id) (uniform pseudo-random, engine-portable, partition-
# independent) and kept while the running token sum stays inside the
# per-source budget. One window per source — a single shuffle on the
# mixing key at any corpus size. Token counting is space-count + 1
# (length minus length-without-spaces), numerically identical to
# splitting on single spaces while keeping empty tokens, but built from
# length/replace ONLY — string_split's empty-token boundary behavior has
# drifted across DuckDB versions (round-6 driver-red despite local
# equality), and integer length arithmetic cannot.
# ---------------------------------------------------------------------------
_MIX_BUDGET_TOKENS = 3000


@register(
    "q90_domain_mix_budget",
    f"""
    WITH sized AS (
      SELECT doc_id, source,
             CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS rk
      FROM documents
    ),
    runs AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY rk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM sized
    )
    SELECT source,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
    FROM runs
    WHERE cum_tokens <= {_MIX_BUDGET_TOKENS}
    GROUP BY source
    """,
    description=f"Deterministic domain mixing: per-source docs ordered by "
    "md5(doc_id) (RNG-free, partition-independent) and kept while the "
    f"running token sum stays within a {_MIX_BUDGET_TOKENS}-token "
    "per-source allowance — one window shuffle on the mixing key.",
    tags=("sampling", "window", "training-data"),
)
def q90_domain_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        (F.length("text") - F.length(F.translate("text", " ", "")) + F.lit(1))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        runs.filter(F.col("cum_tokens") <= _MIX_BUDGET_TOKENS)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )


# ---------------------------------------------------------------------------
# q91 — per-group HLL distinct counting, rank-error-verified: the grouped
# twin of q42's global sketch contract (q84 covers grouped quantile
# sketches; this covers grouped cardinality). Exact per-group distinct
# buffers every key; the HLL sketch is a fixed-size register set per
# group — the 100 TB form. Verification is an error-bound boolean the
# oracle can reproduce: |HLL - exact| within 2% of exact (rsd=0.01, so
# 2% is ~2 sigma). Exact and approx are computed in SEPARATE aggregations
# joined after — mixing count_distinct with sketch aggregates in one agg
# triggers the multi-distinct Expand that drags sketch buffers through
# duplicated rows (measured 6x on q42, ARCHITECTURE.md).
# ---------------------------------------------------------------------------
@register(
    "q91_grouped_hll_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_distinct_users,
           CAST(TRUE AS BOOLEAN) AS hll_within_2pct
    FROM events
    GROUP BY 1
    """,
    description="Per-event_type user cardinality: exact distinct (the "
    "oracle-matched column) alongside approx_count_distinct rsd=0.01 "
    "(the fixed-size scale path), verified by the 2%-error boolean both "
    "engines must agree is TRUE; separate aggregations sidestep the "
    "multi-distinct Expand.",
    tags=("agg", "sketch", "approx"),
)
def q91_grouped_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_distinct_users")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("n_approx")
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "n_distinct_users",
            (
                F.abs(F.col("n_approx") - F.col("n_distinct_users"))
                <= F.col("n_distinct_users") * 0.02
            ).alias("hll_within_2pct"),
        )
    )


# ---------------------------------------------------------------------------
# q92 — SimHash Hamming-LSH near-dup PAIRS: completes the dedup matrix
# (MinHash-LSH gives Jaccard pairs q32; SimHash previously stopped at
# fingerprints q33). The fingerprint is 60-bit (vs q33's legacy 16-bit
# fingerprint table): band-bucket count is 2^(bits/bands), so width must
# track ~2*log2(corpus) — the 16-bit form measured a 15x wall ratio at a
# 10x corpus because its 256-bucket bands saturate. 4 bands of 15 bits
# give FULL recall for Hamming radius 3 (pigeonhole: d < n_bands) and
# 32768 buckets per band; exact bit_count(xor) verifies the radius on
# candidates only. Same shape as q32: band equi-join, never O(n²).
# ---------------------------------------------------------------------------
_SH_BITS = 60
_SH_BANDS = 4
_SH_RADIUS = 3
_SH_MAX_BUCKET = 64


def _simhash_wide_sql(n_bits: int) -> str:
    """DuckDB twin of ``dedup.simhash_fingerprints``: n-bit md5-derived
    SimHash (hex-digit positional arithmetic, +1/-1 bit votes)."""
    hex_chars = n_bits // 4
    hv = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(w), {i + 1}, 1)) - 1)"
        f" * {1 << (4 * (hex_chars - 1 - i))}"
        for i in range(hex_chars)
    )
    sums = ", ".join(
        f"SUM(CASE WHEN CAST(FLOOR(hw / {1 << j}) AS BIGINT) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{j}"
        for j in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(n_bits)
    )
    return f"""
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM (
      SELECT doc_id, {sums} FROM (
        SELECT doc_id, ({hv}) AS hw FROM (
          SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents
        )
      ) GROUP BY doc_id
    )
    """


def _simhash_pairs_sql(
    n_bits: int, n_bands: int, max_hamming: int, max_bucket: int
) -> str:
    bw = n_bits // n_bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash // {1 << (bw * b)}) % {1 << bw} AS band_key FROM fp"
        for b in range(n_bands)
    )
    return f"""
    WITH fp AS ({_simhash_wide_sql(n_bits)}),
    bands AS ({band_rows}),
    capped AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands
      ) WHERE bn <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a
      JOIN capped b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(CAST(xor(fa.simhash, fb.simhash) AS BIGINT))
                AS INTEGER) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE bit_count(CAST(xor(fa.simhash, fb.simhash) AS BIGINT)) <= {max_hamming}
    """


@register(
    "q92_simhash_neardup",
    _simhash_pairs_sql(_SH_BITS, _SH_BANDS, _SH_RADIUS, _SH_MAX_BUCKET),
    description=f"SimHash near-dup pairs within Hamming distance {_SH_RADIUS}: "
    f"{_SH_BITS}-bit fingerprints, {_SH_BANDS}-band Hamming-LSH (full "
    "recall by pigeonhole, 2^15 buckets per band so the equi-join stays "
    "bounded — the 16-bit form saturates and goes quadratic), the same "
    "hot-bucket cap as q32 (boilerplate masses belong to exact dedup), "
    "and exact bit_count(xor) verification on candidates — the "
    "bit-sampling twin of q32's MinHash band join.",
    tags=("dedup", "simhash", "lsh"),
)
def q92_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared build: q123 verifies edit distance over this exact pair
    # set, so the tokenize->fingerprint->band->Hamming pipeline is
    # session-memoized and computed once per corpus.
    return _simhash_verified_pairs(
        spark,
        sf_dir,
        n_bits=_SH_BITS,
        n_bands=_SH_BANDS,
        max_hamming=_SH_RADIUS,
        max_bucket=_SH_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# q93 — sequenced CONVERSION FUNNEL: view → click → purchase with strict
# temporal ordering per user (each stage's timestamp must follow the
# previous stage's). Three stacked whole-partition window minima over ONE
# user_id exchange — each stage references the previous stage's column,
# and Catalyst reuses the same hash partitioning for all three Window
# operators, so the funnel costs one shuffle at any event volume. The
# oracle mirrors the identical nested-window formulation.
# ---------------------------------------------------------------------------
@register(
    "q93_conversion_funnel",
    """
    WITH w1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    w2 AS (
      SELECT user_id, event_type, ts, t1,
             MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
               OVER (PARTITION BY user_id) AS t2
      FROM w1
    ),
    w3 AS (
      SELECT user_id, t1, t2,
             MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
               OVER (PARTITION BY user_id) AS t3
      FROM w2
    ),
    per_user AS (SELECT DISTINCT user_id, t1, t2, t3 FROM w3)
    SELECT COUNT(*) AS n_users,
           COUNT(t1) AS n_viewed,
           COUNT(t2) AS n_clicked_after_view,
           COUNT(t3) AS n_purchased_after_click
    FROM per_user
    """,
    description="Strictly-ordered view→click→purchase funnel per user: "
    "three stacked whole-partition window minima (each stage gated on "
    "the previous stage's timestamp) over a single user_id exchange; "
    "final counts are the per-stage surviving users.",
    tags=("window", "funnel", "agg"),
)
def q93_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    staged = (
        ev.select("user_id", "event_type", "ts")
        .withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.select("user_id", "t1", "t2", "t3").distinct()
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked_after_view"),
        F.count("t3").alias("n_purchased_after_click"),
    )


# ---------------------------------------------------------------------------
# q94 — INCREMENTAL ingest dedup: a new batch (doc_id % 10 = 0, the
# simulated crawl delta) deduped against the already-accepted INDEX
# (everything else) — the production shape where dedup is new-vs-corpus,
# not corpus-vs-itself. Exact layer: md5 anti-join against the index.
# Near-dup layer: the SAME MinHash signatures/bands as q32, but the
# candidate join is ASYMMETRIC (query bands x index bands) so candidate
# count scales with |delta| x collision rate, never |corpus|²; the
# bucket cap bounds index-side fan-out. Output: accepted new docs.
#
# Measured at a 10x replica corpus: wall ratio ~5.7x, dominated by COLD
# recomputation of the INDEX signatures (10x linear md5 work), not by
# the candidate join — adding q32's agreement gate measured net-negative
# here (the delta-side candidate set is already small). In production
# the index signature/band tables are materialized once per corpus
# snapshot and only the delta is computed fresh, making the per-batch
# cost O(|delta|); this query keeps the cold form so the oracle can
# verify the whole pipeline from raw text.
# ---------------------------------------------------------------------------
def _incremental_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(_MH_N)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || ".join(f"mh{b * _MH_BAND + j}" for j in range(_MH_BAND)),
        )
        for b in range(_MH_N // _MH_BAND)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh0),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    idx_bands AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands WHERE doc_id % 10 <> 0
      ) WHERE bn <= {_MH_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN idx_bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id % 10 = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    neardup AS (
      SELECT DISTINCT i.doc_a FROM (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cand c
        JOIN sh x ON x.doc_id = c.doc_a
        JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY 1, 2
      ) i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE (i.n_common / (sa.n + sb.n - i.n_common)) >= 0.5
    ),
    exactdup AS (
      SELECT DISTINCT n.doc_id
      FROM documents n
      JOIN documents x ON md5(lower(n.text)) = md5(lower(x.text))
                      AND x.doc_id % 10 <> 0
      WHERE n.doc_id % 10 = 0
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND d.doc_id NOT IN (SELECT doc_id FROM exactdup)
      AND d.doc_id NOT IN (SELECT doc_a FROM neardup)
    """


@register(
    "q94_incremental_dedup",
    _incremental_sql(),
    description="Incremental ingest dedup: the new batch (doc_id % 10 = 0) "
    "deduped against the accepted index via an md5 exact anti-join plus an "
    "ASYMMETRIC MinHash band join (query bands x capped index bands — "
    "candidates scale with the delta, never the corpus squared); "
    "accepted new docs survive both layers.",
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def q94_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    new_docs = docs.filter(is_new)
    index_docs = docs.filter(~is_new)

    # Session-memoized shingle/signature base tables (same default dial
    # as the q32 family — the asymmetric delta-vs-index band join below
    # produces a DIFFERENT pair set than the symmetric build, so only
    # the base tables are shared, not the verified pairs; in production
    # the index side is a materialized signature table and only the
    # delta is computed fresh).
    sh, sigs = _minhash_shingle_sigs(spark, sf_dir, shingle_n=2, n_hashes=_MH_N)
    bands = dd.lsh_bands(sigs, n_hashes=_MH_N, band_size=_MH_BAND)
    bands_new = bands.join(new_docs.select("doc_id"), "doc_id")
    bands_idx = bands.join(index_docs.select("doc_id"), "doc_id")
    cand = dd.lsh_candidate_pairs_asymmetric(
        bands_new, bands_idx, max_bucket=_MH_MAX_BUCKET
    ).localCheckpoint(eager=True)
    neardup_new = (
        dd.jaccard_on_pairs(cand, sh, pairs_count=cand.count())
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    exactdup_new = (
        new_docs.select("doc_id", F.md5(F.lower("text")).alias("fp"))
        .join(
            index_docs.select(F.md5(F.lower("text")).alias("fp")).distinct(),
            "fp",
        )
        .select("doc_id")
        .distinct()
    )
    return (
        new_docs.select("doc_id", "lang", "source")
        .join(exactdup_new, "doc_id", "left_anti")
        .join(neardup_new, "doc_id", "left_anti")
    )


# ---------------------------------------------------------------------------
# q95 — STREAMING incremental dedup: the crawl-delta stream anti-joined
# against the STATIC accepted-fingerprint index inside the streaming
# query — q94's ingest layer as it actually deploys (the delta arrives
# as a stream; the index is a table). Stream-static LEFT ANTI join is
# stateless (no watermark, no join state — the static side broadcasts),
# so the only state is the final per-source counting aggregate. The
# final complete-mode state equals the batch anti-join, and the oracle
# proves it.
# ---------------------------------------------------------------------------
@register(
    "q95_streaming_incremental_dedup",
    """
    SELECT d.source, COUNT(*) AS n_accepted
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND md5(lower(d.text)) NOT IN (
        SELECT md5(lower(x.text)) FROM documents x WHERE x.doc_id % 10 <> 0
      )
    GROUP BY d.source
    """,
    description="Streaming ingest dedup: the new-batch stream LEFT ANTI "
    "joined against the static accepted-fingerprint index inside the "
    "streaming query (stateless — static side broadcast, zero join "
    "state), per-source accepted counts in complete mode hash-match the "
    "batch anti-join.",
    tags=("streaming", "dedup", "join"),
)
def q95_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_table_stream,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    delta = (
        read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("source", F.md5(F.lower("text")).alias("fp"))
    )
    index = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 != 0)
        .select(F.md5(F.lower("text")).alias("fp"))
        .distinct()
    )
    accepted = delta.join(F.broadcast(index), "fp", "left_anti")
    agg = accepted.groupBy("source").agg(F.count("*").alias("n_accepted"))
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# q96 — recency-weighted engagement score: per-user sum of event values
# decayed by hours-since-corpus-max — the time-decay feature every
# recommendation/training pipeline derives. Determinism contract: the
# decay weight uses RATIONAL decay value/(1+hours) (a single IEEE
# divide, bit-identical across engines — exp()/pow() differ in final
# ulps between libm implementations), quantized per-row to integer
# units BEFORE the sum so aggregation order cannot matter. The corpus
# max-ts is a scalar subquery both engines evaluate identically.
# ---------------------------------------------------------------------------
@register(
    "q96_recency_weighted_score",
    """
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    scored AS (
      SELECT user_id,
             CAST(FLOOR(
               value * 10000.0
               / (1.0 + (CAST(FLOOR(epoch(mx.tmax)) AS BIGINT)
                         - CAST(FLOOR(epoch(ts)) AS BIGINT)) / 3600.0)
               + 0.5) AS BIGINT) AS wq
      FROM events, mx
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(wq) AS BIGINT) / 10000.0 AS recency_score
    FROM scored
    GROUP BY user_id
    """,
    description="Per-user recency-weighted engagement: rational decay "
    "value/(1+hours_since_max) — one IEEE divide, bit-identical across "
    "engines where exp/pow are not; epoch seconds FLOORed on both sides "
    "because unix_timestamp truncates where a bare BIGINT cast rounds — "
    "(order-independent), scaled back after. One shuffle on user_id.",
    tags=("agg", "feature", "time-decay"),
)
def q96_recency_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    tmax = ev.agg(F.max("ts").alias("tmax"))
    scored = ev.crossJoin(F.broadcast(tmax)).select(
        "user_id",
        F.floor(
            F.col("value")
            * F.lit(10000.0)
            / (
                F.lit(1.0)
                + (
                    F.unix_timestamp("tmax").cast("long")
                    - F.unix_timestamp("ts").cast("long")
                )
                / F.lit(3600.0)
            )
            + F.lit(0.5)
        )
        .cast("long")
        .alias("wq"),
    )
    return scored.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.sum("wq").cast("long") / F.lit(10000.0)).alias("recency_score"),
    )


# ---------------------------------------------------------------------------
# q97 — grouped MAD outlier audit: median absolute deviation per
# event_type, the robust-statistics outlier gate (3-sigma via the 1.4826
# normal-consistency constant) that survives the heavy tails that break
# mean/stddev fences. Two grouped percentile passes (median, then median
# of |x - med|) + one counting pass — three aggregations on the SAME
# event_type key, so AQE reuses the partitioning; exact interpolated
# percentile matches DuckDB's continuous median bit-for-bit (the q48
# equivalence). med/mad are EMITTED as quantized BIGINTs
# (floor(x*1e4+0.5) — registry contract rule 1) rather than
# ROUND-on-double: Spark's ROUND goes through BigDecimal HALF_UP while
# DuckDB rounds in float, a last-bit divergence that only shows up on
# unlucky data (driver-red in round 6 despite local equality).
# ---------------------------------------------------------------------------
@register(
    "q97_grouped_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS med FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY 1
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(FLOOR(m.med * 10000 + 0.5) AS BIGINT) AS med_q4,
           CAST(FLOOR(d.mad * 10000 + 0.5) AS BIGINT) AS mad_q4,
           CAST(SUM(CAST(ABS(e.value - m.med) > 3 * 1.4826 * d.mad AS BIGINT))
                AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m ON m.event_type = e.event_type
    JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
    description="Per-event_type MAD outlier audit: exact interpolated "
    "median, median absolute deviation (both emitted as 1e-4-quantized "
    "BIGINTs for cross-engine hash stability), and the 3-sigma-equivalent "
    "(1.4826·MAD) outlier count — the robust fence heavy tails cannot "
    "break; three aggregations sharing one grouping key.",
    tags=("agg", "robust-stats", "quality"),
)
def q97_grouped_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        ev.join(med, "event_type")
        .groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        ev.join(med, "event_type")
        .join(mad, "event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    F.abs(F.col("value") - F.col("med"))
                    > F.lit(3) * F.lit(1.4826) * F.col("mad")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            F.floor(F.col("med") * 10000 + F.lit(0.5)).cast("long").alias("med_q4"),
            F.floor(F.col("mad") * 10000 + F.lit(0.5)).cast("long").alias("mad_q4"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# q98 — incremental dedup against a MATERIALIZED signature index: q94's
# production form, executed. q94 keeps the cold shape (everything
# recomputed from raw text) so its oracle verifies the whole pipeline;
# its measured 10x ratio (5.7x) is dominated by exactly that cold index
# recompute. Here the index is built ONCE per corpus snapshot
# (dedup.write_signature_index — sigs bucketed by doc_id, bands bucketed
# by (band_id, band_key)) and every subsequent batch pays O(|delta|):
# delta signatures fresh, candidates via the asymmetric band join whose
# INDEX side is read pre-clustered (bucketed scan — only the delta's
# band rows shuffle), near-dup decided by signature agreement (>= 6/12
# positions, Jaccard estimate >= 0.5) so the verify needs only the
# materialized signatures, never the index's shingles or text. The
# first call per (session, corpus) builds the index; reps after that
# measure the true per-batch cost (bench/scale_smoke take min-of-2, so
# the warm batch is what's recorded). The oracle recomputes signatures
# from raw text — materialized vs recomputed md5 MinHash signatures are
# bit-identical, which is the whole portability contract.
# ---------------------------------------------------------------------------
_MH_MIN_AGREE = 6  # decision gate: >= 6/12 agreeing positions ~ Jaccard 0.5


def _incremental_indexed_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(_MH_N)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || ".join(f"mh{b * _MH_BAND + j}" for j in range(_MH_BAND)),
        )
        for b in range(_MH_N // _MH_BAND)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_MH_N)
    )
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh0),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    idx_bands AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands WHERE doc_id % 10 <> 0
      ) WHERE bn <= {_MH_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN idx_bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id % 10 = 0
    ),
    neardup AS (
      SELECT DISTINCT c.doc_a
      FROM cand c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
      WHERE {agree} >= {_MH_MIN_AGREE}
    ),
    exactdup AS (
      SELECT DISTINCT n.doc_id
      FROM documents n
      JOIN documents x ON md5(lower(n.text)) = md5(lower(x.text))
                      AND x.doc_id % 10 <> 0
      WHERE n.doc_id % 10 = 0
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND d.doc_id NOT IN (SELECT doc_id FROM exactdup)
      AND d.doc_id NOT IN (SELECT doc_a FROM neardup)
    """


@register(
    "q98_incremental_dedup_indexed",
    _incremental_indexed_sql(),
    description="Incremental ingest dedup against a MATERIALIZED signature "
    "index (built once per corpus snapshot, bucketed on the join keys): "
    "per-batch cost is O(|delta|) — delta signatures computed fresh, "
    "asymmetric band join reads the index pre-clustered, and the near-dup "
    "decision is signature agreement (>= 6/12 ~ Jaccard 0.5), touching "
    "only materialized signatures, never index text or shingles.",
    tags=("dedup", "minhash", "lsh", "incremental", "index"),
)
def q98_incremental_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % 10 == 0
    delta = docs.filter(is_new)

    # One-time index build per corpus SNAPSHOT: the table name carries
    # the documents table's data-fingerprint token (not just an sf_dir
    # hash), so different corpora — including the same path regenerated
    # in place — never share an index, and the build/publish is atomic
    # under concurrent same-token sessions (_signature_index, r13).
    sigs_idx, bands_idx = _signature_index(
        spark,
        sf_dir,
        "q98_sig_index",
        docs.filter(~is_new),
        n_hashes=_MH_N,
        band_size=_MH_BAND,
    )

    # Per-batch work — everything below is O(|delta|) + the band join.
    sigs_d = dd.minhash_signatures(
        dd.shingle_distinct(delta, n=2), n_hashes=_MH_N
    ).localCheckpoint(eager=True)
    bands_d = dd.lsh_bands(sigs_d, n_hashes=_MH_N, band_size=_MH_BAND)
    cand = dd.lsh_candidate_pairs_asymmetric(
        bands_d, bands_idx, max_bucket=_MH_MAX_BUCKET
    )
    sigs_all = sigs_d.unionByName(sigs_idx.select(*sigs_d.columns))
    neardup_new = (
        dd.sig_agreement_filter(
            cand, sigs_all, min_agree=_MH_MIN_AGREE, n_hashes=_MH_N
        )
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    exactdup_new = (
        delta.select("doc_id", F.md5(F.lower("text")).alias("fp"))
        .join(sigs_idx.select("fp").distinct(), "fp")
        .select("doc_id")
        .distinct()
    )
    return (
        delta.select("doc_id", "lang", "source")
        .join(exactdup_new, "doc_id", "left_anti")
        .join(neardup_new, "doc_id", "left_anti")
    )


# ---------------------------------------------------------------------------
# q101 — the MinHash n_hashes=24 dial as a REGISTERED query: q32's known
# recall bound (the >=5/12 agreement gate rejects ~19% of true j=0.5
# at-threshold pairs, and 12 hashes cannot separate the j~1/3 borderline
# mass of blob-heavy corpora — the documented 20x LSH frontier) is
# mitigated by doubling the signature (24 hashes, agreement >=10/24:
# same ~0.42 relative gate at half the estimator sigma, 2x signature
# cost). Previously oracle-verified only inside test_minhash_dial.py;
# registering it gives the mitigation its own driver row, so the scale
# knob the architecture recommends for exactly the corpora that break
# q32 is externally hash-verified every round it's in the window.
# ---------------------------------------------------------------------------
_MH_SHARP_N = 24
_MH_SHARP_AGREE = 10


@register(
    "q101_minhash_neardup_sharp",
    _mh_sql(_MH_SHARP_N, _MH_BAND, _MH_MAX_BUCKET, _MH_SHARP_AGREE),
    description="MinHash near-dup at the sharpened 24-hash dial (8 bands "
    "of 3, agreement >=10/24): the registered form of the blob-heavy-"
    "corpus knob — half the Jaccard-estimator sigma of q32's 12-hash "
    "default, same band/cap scale shape, exact Jaccard only on gated "
    "candidates.",
    tags=("dedup", "minhash", "lsh", "scale-dial"),
)
def q101_minhash_neardup_sharp(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same shared-build memo as q32, at the sharpened dial — the recipe
    # tuple in the memo key keeps the two dials from ever colliding.
    return _minhash_verified_pairs(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_SHARP_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SHARP_AGREE,
    ).select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# q102 — corpus snapshot diff: what changed between two corpus versions
# (added / removed / changed docs) — the audit every incremental training
# corpus needs before retraining decisions. Snapshots are simulated
# deterministically from the one documents table (v1 = doc_id % 7 != 1,
# v2 = doc_id % 7 != 2, with v2 texts "edited" on doc_id % 5 == 0), so
# the oracle reproduces both sides exactly. The plan is ONE full outer
# join on doc_id (the natural co-partition key) comparing md5
# fingerprints — one shuffle, no text comparison (fingerprints travel,
# texts don't), then a tiny status rollup. At 100 TB both snapshots
# arrive partitioned/bucketed by doc_id and even that shuffle drops out.
# ---------------------------------------------------------------------------
@register(
    "q102_corpus_snapshot_diff",
    """
    WITH v1 AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 7 <> 1
    ),
    v2 AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 7 <> 2
    ),
    d AS (
      SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
             CASE WHEN v1.doc_id IS NULL THEN 'added'
                  WHEN v2.doc_id IS NULL THEN 'removed'
                  WHEN v1.fp <> v2.fp THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT status, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM d
    GROUP BY status
    """,
    description="Corpus snapshot diff (added/removed/changed/unchanged): "
    "one full outer join on doc_id comparing md5 fingerprints — "
    "fingerprints shuffle, texts don't — then a status rollup; with "
    "doc_id-bucketed snapshots the join is shuffle-free.",
    tags=("dedup", "audit", "incremental"),
)
def q102_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % 7 != 1).select(
        "doc_id", F.md5("text").alias("fp")
    )
    v2 = docs.filter(F.col("doc_id") % 7 != 2).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat("text", F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("fp"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    d = j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.fp") != F.col("b.fp"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
    )


# ---------------------------------------------------------------------------
# q103 — repetition filters (the Gopher/C4-style quality rules): a doc
# whose mass concentrates in one word or whose bigrams repeat heavily is
# boilerplate/spam, not training text. The bigram-repetition side is a
# map-only HOF projection; the top-word count is explode + two-level
# hash aggregation — measured the fastest linear shape by a wide margin
# (the count-per-distinct-word HOF is O(distinct·n) per doc, 19.7x wall
# at a 10x corpus; a linear sorted-run-length HOF fold is interpreted
# per element and still ran 6x slower than the codegen'd explode/agg).
# The gates are INTEGER cross-multiplications (10*top_n <= 3*n_words
# instead of top_frac <= 0.3), so every output column is an int/bool —
# nothing for a float hasher to split on. Per-doc output, à la q37.
# ---------------------------------------------------------------------------
@register(
    "q103_repetition_filters",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    wu AS (SELECT doc_id, unnest(w) AS word FROM w),
    topw AS (
      SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_word_n FROM (
        SELECT doc_id, word, COUNT(*) AS cnt FROM wu GROUP BY doc_id, word
      ) GROUP BY doc_id
    ),
    f AS (
      SELECT w.doc_id,
             CAST(len(w.w) AS BIGINT) AS n_words,
             t.top_word_n,
             CAST(CASE WHEN len(w.w) >= 2
                  THEN len(list_distinct(list_transform(
                         generate_series(1, len(w.w) - 1),
                         i -> w.w[i] || ' ' || w.w[i + 1])))
                  ELSE 0 END AS BIGINT) AS distinct_bigrams,
             CAST(CASE WHEN len(w.w) >= 2 THEN len(w.w) - 1 ELSE 0 END
                  AS BIGINT) AS total_bigrams
      FROM w JOIN topw t ON t.doc_id = w.doc_id
    )
    SELECT doc_id, n_words, top_word_n, distinct_bigrams, total_bigrams,
           10 * top_word_n <= 3 * n_words AS pass_top_word,
           5 * (total_bigrams - distinct_bigrams) <= total_bigrams
             AS pass_dup_bigrams
    FROM f
    """,
    description="Gopher/C4-style repetition quality gates per document: "
    "top-word concentration (<=0.3) and duplicate-bigram mass (<=0.2) as "
    "integer cross-multiplied booleans, computed entirely with map-only "
    "array higher-order functions — no explode, no shuffle, no Python.",
    tags=("text", "quality", "training-data"),
)
def q103_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # Max word multiplicity via explode + two-level hash aggregation (the
    # q71 shape): linear work, map-side partial combine, whole-stage
    # codegen. Two HOF formulations measured worse: count-per-distinct-
    # word is O(distinct·n) per doc (19.7x wall at a 10x corpus), and a
    # linear sorted-run-length fold still ran 6x slower than this because
    # every HOF lambda step is interpreted per element while the
    # explode/agg path never leaves generated code. The (doc_id, word)
    # shuffle this buys is the same one any vocabulary pass pays.
    wdf = docs.select("doc_id", F.split("text", " ").alias("w"))
    topw = (
        wdf.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("long").alias("top_word_n"))
    )
    wcol = F.col("w")
    nw = F.size("w")
    bigrams = F.transform(
        F.sequence(F.lit(1), nw - 1),
        lambda i: F.concat(
            F.element_at(wcol, i), F.lit(" "), F.element_at(wcol, i + 1)
        ),
    )
    distinct_bi = (
        F.when(nw >= 2, F.size(F.array_distinct(bigrams)))
        .otherwise(F.lit(0))
        .cast("long")
    )
    total_bi = F.when(nw >= 2, nw - 1).otherwise(F.lit(0)).cast("long")
    f = (
        wdf.select(
            "doc_id",
            nw.cast("long").alias("n_words"),
            distinct_bi.alias("distinct_bigrams"),
            total_bi.alias("total_bigrams"),
        )
        .join(topw, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "top_word_n",
            "distinct_bigrams",
            "total_bigrams",
        )
    )
    return f.select(
        "*",
        (10 * F.col("top_word_n") <= 3 * F.col("n_words")).alias("pass_top_word"),
        (
            5 * (F.col("total_bigrams") - F.col("distinct_bigrams"))
            <= F.col("total_bigrams")
        ).alias("pass_dup_bigrams"),
    )


# ---------------------------------------------------------------------------
# q104 — embedding drift audit between corpus snapshots: after a corpus
# update (q102's diff), did the embedding distribution move? Per-label,
# per-component centroid deltas between v1 and v2 (snapshots simulated
# like q102: vec_id % 7 splits, v2 perturbed on vec_id % 5 == 0).
# Contract-grade determinism: components are quantized to integer 1e-6
# units BEFORE summation (rule 1 — order-free integer sums), the two
# snapshot means come from exact integer sums over counts, and each
# component delta is re-quantized to an integer BEFORE the per-label sum
# (16 doubles summed in arbitrary order would be bit-unstable; 16
# integers are not). One pass, conditional aggregation on a (label, j)
# shuffle, then a tiny (label) rollup.
# ---------------------------------------------------------------------------
@register(
    "q104_embedding_drift_audit",
    """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    v1 AS (
      SELECT label, generate_subscripts(ev, 1) AS j,
             unnest(ev) AS v, 1 AS side
      FROM e WHERE vec_id % 7 <> 1
    ),
    v2 AS (
      SELECT label, generate_subscripts(ev, 1) AS j,
             unnest(CASE WHEN vec_id % 5 = 0
                    THEN list_transform(ev, (x, i) -> x + 0.01 * ((i % 3) - 1))
                    ELSE ev END) AS v, 2 AS side
      FROM e WHERE vec_id % 7 <> 2
    ),
    u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2),
    comp AS (
      SELECT label, j,
             SUM(CASE WHEN side = 1
                 THEN CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) END) AS s1,
             SUM(CASE WHEN side = 1 THEN 1 END) AS n1,
             SUM(CASE WHEN side = 2
                 THEN CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) END) AS s2,
             SUM(CASE WHEN side = 2 THEN 1 END) AS n2
      FROM u GROUP BY label, j
    ),
    delta AS (
      SELECT label, j,
             CAST(FLOOR(ABS(s2 * 1.0 / n2 - s1 * 1.0 / n1) / 100 + 0.5)
                  AS BIGINT) AS dq
      FROM comp
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(dq) AS BIGINT) AS drift_q4,
           CAST(MAX(dq) AS BIGINT) AS max_component_q4
    FROM delta
    GROUP BY label
    """,
    description="Per-label embedding centroid drift between two corpus "
    "snapshots: integer-quantized component sums (order-free), exact "
    "integer-over-count means, per-component deltas re-quantized to "
    "1e-4 integers before the per-label rollup — L1 drift and max "
    "component shift, hash-stable in any engine.",
    tags=("embedding", "audit", "incremental", "quality"),
)
def q104_embedding_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
    )
    # DuckDB list lambdas index 1-based; Spark's posexplode/transform are
    # 0-based — both sides are written against the 1-BASED j.
    perturbed = F.transform(
        F.col("ev"),
        lambda x, i: x + 0.01 * (((i + 1) % 3) - 1),
    )
    v1 = (
        e.filter(F.col("vec_id") % 7 != 1)
        .select("label", F.posexplode("ev").alias("j0", "v"))
        .select("label", (F.col("j0") + 1).alias("j"), "v", F.lit(1).alias("side"))
    )
    v2 = (
        e.filter(F.col("vec_id") % 7 != 2)
        .select(
            "label",
            F.posexplode(
                F.when(F.col("vec_id") % 5 == 0, perturbed).otherwise(F.col("ev"))
            ).alias("j0", "v"),
        )
        .select("label", (F.col("j0") + 1).alias("j"), "v", F.lit(2).alias("side"))
    )
    vq = F.floor(F.col("v") * 1000000 + F.lit(0.5)).cast("long")
    comp = (
        v1.unionByName(v2)
        .groupBy("label", "j")
        .agg(
            F.sum(F.when(F.col("side") == 1, vq)).alias("s1"),
            F.sum(F.when(F.col("side") == 1, 1)).alias("n1"),
            F.sum(F.when(F.col("side") == 2, vq)).alias("s2"),
            F.sum(F.when(F.col("side") == 2, 1)).alias("n2"),
        )
    )
    delta = comp.select(
        "label",
        F.floor(
            F.abs(F.col("s2") / F.col("n2") - F.col("s1") / F.col("n1")) / 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("dq"),
    )
    return delta.groupBy("label").agg(
        F.count("*").cast("long").alias("n_components"),
        F.sum("dq").cast("long").alias("drift_q4"),
        F.max("dq").cast("long").alias("max_component_q4"),
    )


# ---------------------------------------------------------------------------
# q105 — benchmark decontamination at n-gram granularity (the GPT-3 /
# Llama training-hygiene pass, deeper than q89's whole-doc/lead-8
# fingerprints): a train doc is contaminated if any sliding lowercase
# word 4-gram appears verbatim in the held-out benchmark set (simulated
# as doc_id % 19 = 0). The benchmark's distinct n-gram md5 set is tiny
# next to any training corpus, so it BROADCASTS; train n-grams are
# generated map-side and probed without shuffling — only the sparse hits
# shuffle, then a per-source rollup. Nothing scales with corpus x bench.
# ---------------------------------------------------------------------------
_DECON_N = 4


@register(
    "q105_ngram_decontamination",
    f"""
    WITH w AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id, source,
             CASE WHEN len(w) >= {_DECON_N}
                  THEN list_transform(
                         generate_series(1, len(w) - {_DECON_N - 1}),
                         i -> md5(array_to_string(
                                w[i:i+{_DECON_N - 1}], ' ')))
                  ELSE [] END AS ngs
      FROM w
    ),
    bench AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM g WHERE doc_id % 19 = 0
    ),
    tr AS (
      SELECT doc_id, source, unnest(ngs) AS ng FROM g WHERE doc_id % 19 <> 0
    ),
    hits AS (
      SELECT t.doc_id, t.source, COUNT(DISTINCT t.ng) AS n_hit
      FROM tr t JOIN bench b ON t.ng = b.ng
      GROUP BY t.doc_id, t.source
    ),
    tdocs AS (
      SELECT source, COUNT(*) AS n_train_docs
      FROM documents WHERE doc_id % 19 <> 0 GROUP BY source
    )
    SELECT d.source, CAST(d.n_train_docs AS BIGINT) AS n_train_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(SUM(h.n_hit), 0) AS BIGINT) AS n_hit_ngrams
    FROM tdocs d LEFT JOIN hits h ON h.source = d.source
    GROUP BY d.source, d.n_train_docs
    """,
    description="Benchmark decontamination at sliding word-4-gram "
    "granularity: benchmark n-gram md5 set broadcast, train n-grams "
    "probed map-side (no corpus-side shuffle), sparse hits rolled up "
    "per source — contaminated-doc and shared-n-gram counts.",
    tags=("dedup", "contamination", "training-data", "broadcast"),
)
def q105_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 19 == 0)
    train = docs.filter(F.col("doc_id") % 19 != 0)
    hits = dd.ngram_contamination(train, bench, n=_DECON_N)
    tdocs = train.groupBy("source").agg(
        F.count("*").cast("long").alias("n_train_docs")
    )
    per_src = hits.groupBy("source").agg(
        F.count("doc_id").cast("long").alias("n_contaminated"),
        F.sum("n_hit").cast("long").alias("n_hit_ngrams"),
    )
    return tdocs.join(per_src, "source", "left").select(
        "source",
        "n_train_docs",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        F.coalesce("n_hit_ngrams", F.lit(0)).cast("long").alias("n_hit_ngrams"),
    )


# ---------------------------------------------------------------------------
# q106 — deterministic training-shard manifest (the pre-training "global
# shuffle"): every doc is assigned shard = md5('shard:'||doc_id) folded
# to [0,16) — reproducible across engines/partitionings/corpus growth,
# unlike RNG or engine hash partitioners — and the manifest audits each
# shard: doc count, token budget, id range, and an ORDER-FREE content
# checksum (sum of 16-bit md5-prefix integers — bounded ints, exact
# integer sum in any order). The hex->int fold uses instr positional
# arithmetic, which parses IDENTICALLY in Spark SQL and DuckDB, so both
# engines run the same fragment (built by _hex_fold_sql). The write-path
# twin is sources.io.write_training_shards (partitionBy(shard) +
# md5-sortWithinPartitions — one shuffle, no global sort).
# ---------------------------------------------------------------------------
def _hex_fold_sql(h: str, n_chars: int = 4) -> str:
    """SQL fragment folding the first n hex chars of expression ``h`` to
    an integer — identical text parses in Spark SQL and DuckDB."""
    hexpos = "instr('0123456789abcdef', substr({h}, {i}, 1)) - 1"
    return " + ".join(
        f"({hexpos.format(h=h, i=i + 1)}) * {16 ** (n_chars - 1 - i)}"
        for i in range(n_chars)
    )


_SHARD_MD5 = "md5(concat('shard:', CAST(doc_id AS {st})))"
_CKSUM_MD5 = "md5(lower(text))"


def _q106_sql(string_type: str) -> str:
    shard = _hex_fold_sql(_SHARD_MD5.format(st=string_type))
    cksum = _hex_fold_sql(_CKSUM_MD5)
    return f"""
    WITH s AS (
      SELECT CAST(({shard}) % 16 AS BIGINT) AS shard,
             doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST({cksum} AS BIGINT) AS ck
      FROM documents
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(SUM(ck) AS BIGINT) AS checksum
    FROM s GROUP BY shard
    """


@register(
    "q106_shard_manifest",
    _q106_sql("VARCHAR"),
    description="Deterministic training-shard manifest: md5-folded shard "
    "assignment in [0,16), per-shard doc/token counts, id range, and an "
    "order-free 16-bit-md5-prefix sum checksum — the audit record a "
    "shard writer (sources.io.write_training_shards) emits per shard.",
    tags=("training-data", "sampling", "audit"),
)
def q106_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    shard = _hex_fold_sql(_SHARD_MD5.format(st="STRING"))
    cksum = _hex_fold_sql(_CKSUM_MD5)
    s = docs.select(
        F.expr(f"CAST(({shard}) % 16 AS BIGINT)").alias("shard"),
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.expr(f"CAST({cksum} AS BIGINT)").alias("ck"),
    )
    return s.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.sum("ck").cast("long").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# q107 — length-bucket batching audit: group docs into power-of-2 token-
# length buckets (the sequence-batching strategy that bounds padding) and
# report per-bucket doc/token counts and the padding waste a fixed-length
# batcher would pay (bucket_len*n_docs - total_tokens). The bucket ladder
# is integer CASE comparisons (no log2 — float log at exact powers of two
# is a cross-engine boundary hazard); waste_permille divides two exact
# integers in one IEEE op then floors, identical in both engines. Map-
# only until the tiny bucket rollup; at 100 TB this is a scan + 6-row agg.
# The q87 sequence packer is the remedy this audit sizes: waste here is
# what packing recovers.
# ---------------------------------------------------------------------------
_LEN_BUCKETS = (16, 32, 64, 128, 256)


def _bucket_case(n: str) -> str:
    cases = " ".join(
        f"WHEN {n} <= {b} THEN {b}" for b in _LEN_BUCKETS
    )
    return f"CASE {cases} ELSE 512 END"


@register(
    "q107_length_bucket_padding",
    f"""
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT CAST({_bucket_case('n_tokens')} AS BIGINT) AS bucket, n_tokens
      FROM t
    )
    SELECT bucket, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(bucket * COUNT(*) - SUM(n_tokens) AS BIGINT) AS padded_tokens,
           CAST(FLOOR(1000.0 * (bucket * COUNT(*) - SUM(n_tokens))
                      / (bucket * COUNT(*))) AS BIGINT) AS waste_permille
    FROM b GROUP BY bucket
    """,
    description="Power-of-2 length-bucket batching audit: per-bucket doc/"
    "token counts and fixed-length padding waste (absolute + permille) — "
    "integer CASE bucketing (no float log2), map-only scan plus a 6-row "
    "rollup; sizes exactly the waste q87's packer recovers.",
    tags=("training-data", "text", "audit", "agg"),
)
def q107_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select(F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    b = t.select(
        F.expr(f"CAST({_bucket_case('n_tokens')} AS BIGINT)").alias("bucket"),
        "n_tokens",
    )
    g = b.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )
    padded = F.col("bucket") * F.col("n_docs") - F.col("total_tokens")
    return g.select(
        "bucket",
        "n_docs",
        "total_tokens",
        padded.cast("long").alias("padded_tokens"),
        F.floor(1000.0 * padded / (F.col("bucket") * F.col("n_docs")))
        .cast("long")
        .alias("waste_permille"),
    )


# ---------------------------------------------------------------------------
# q108 — SemDeDup-style semantic dedup audit (Abbas et al. 2023): partition
# embeddings into semantically-coherent clusters, find near-identical
# pairs ONLY within clusters (O(Σ cluster²), never O(n²) — SemDeDup's
# whole point), and mark the higher id of each pair for removal. The
# coarse quantizer is SRP-LSH (q36's md5-seeded hyperplanes) with a
# CORPUS-DERIVED plane count p = min p>=3 with 64·2^p >= n, pinning
# expected cluster size at ~64 as the corpus grows — SemDeDup's own k
# scaling, but with O(p·dim) = O(log n) per-row assignment where a
# derived-k IVF argmin is O(k·dim) per row (re-quadratizing the scan
# AND exploding the codegen'd argmin tree — measured: k=79 centroid
# literals hung Catalyst; p=7 planes is 7 fold expressions). The
# cosine >= 0.35 gate never compares floats: quantized integer
# dot/norms with the cross-multiplied form 400·dot² >= 49·|a|²|b|²
# (dot >= 0) — exact int64 arithmetic in both engines.
# ---------------------------------------------------------------------------
@register(
    "q108_semantic_dedup",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comps AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    quant AS (
      SELECT vec_id, j, CAST(FLOOR(v * {_SRP_SCALE} + 0.5) AS BIGINT) AS vq
      FROM comps
    ),
    np AS (
      SELECT MIN(p) AS np FROM generate_series(3, 29) t(p)
      WHERE (CAST(1 AS BIGINT) << p) * 64 >= (SELECT COUNT(*) FROM e)
    ),
    planes AS (
      SELECT p, j,
             CASE WHEN substr(md5(p || ':' || j), 1, 1) >= '8'
                  THEN 1 ELSE -1 END AS sign
      FROM generate_series(0, 29) t(p)
      CROSS JOIN (SELECT DISTINCT j FROM comps) u
      WHERE p < (SELECT np FROM np)
    ),
    bits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.vq * pl.sign) >= 0 THEN 1 ELSE 0 END AS bit
      FROM quant q JOIN planes pl ON q.j = pl.j
      GROUP BY q.vec_id, pl.p
    ),
    assign AS (
      SELECT vec_id, CAST(SUM(bit * (1 << p)) AS BIGINT) AS cluster
      FROM bits GROUP BY vec_id
    ),
    vq1 AS (
      SELECT vec_id, j, CAST(FLOOR(v * 100 + 0.5) AS BIGINT) AS q FROM comps
    ),
    norms AS (
      SELECT vec_id, CAST(SUM(q * q) AS BIGINT) AS nq FROM vq1 GROUP BY vec_id
    ),
    pr AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.cluster AS cluster
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    ),
    dots AS (
      SELECT p.va, p.vb, p.cluster, CAST(SUM(x.q * y.q) AS BIGINT) AS dq
      FROM pr p
      JOIN vq1 x ON x.vec_id = p.va
      JOIN vq1 y ON y.vec_id = p.vb AND y.j = x.j
      GROUP BY p.va, p.vb, p.cluster
    ),
    gated AS (
      SELECT d.cluster, d.va, d.vb
      FROM dots d
      JOIN norms na ON na.vec_id = d.va
      JOIN norms nb ON nb.vec_id = d.vb
      WHERE d.dq >= 0 AND 400 * d.dq * d.dq >= 49 * na.nq * nb.nq
    ),
    cl AS (SELECT cluster, COUNT(*) AS n_vectors FROM assign GROUP BY cluster)
    SELECT CAST(cl.cluster AS BIGINT) AS cluster,
           CAST(cl.n_vectors AS BIGINT) AS n_vectors,
           CAST(COUNT(g.va) AS BIGINT) AS n_dup_pairs,
           CAST(COUNT(DISTINCT g.vb) AS BIGINT) AS n_removed
    FROM cl LEFT JOIN gated g ON g.cluster = cl.cluster
    GROUP BY cl.cluster, cl.n_vectors
    """,
    description="SemDeDup semantic dedup audit: SRP-LSH coarse clusters "
    "with corpus-derived plane count (expected cluster size ~64 at any "
    "corpus scale, O(log n) per-row assignment), within-cluster "
    "near-identical pairs via an exact integer-quantized cosine gate "
    "(400·dot² >= 49·|a|²|b|², cos>=0.35), higher id of each pair "
    "marked removed — per-cluster vector/pair/removal counts.",
    tags=("similarity", "dedup", "embedding", "training-data", "lsh"),
)
def q108_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return sim.semantic_dedup_clusters(emb, n_planes=None)


# ---------------------------------------------------------------------------
# q109 — BPE merge step (the tokenizer-training primitive): count
# adjacent CHARACTER-pair occurrences across the corpus, weighted by
# word frequency — the argmax pair is the next BPE merge. The scale
# trick is the classic one: the corpus collapses to its VOCABULARY
# first (word -> freq, the standard map-side-combined vocab pass), and
# pair enumeration runs over distinct words only — pair work scales
# with |vocab|, not corpus tokens. All string/integer ops; top-20 with
# a total-order tiebreak (count desc, pair asc) per registry rule 2.
# ---------------------------------------------------------------------------
@register(
    "q109_bpe_merge_step",
    """
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 20
    """,
    description="BPE merge step: adjacent char-pair counts weighted by "
    "word frequency, enumerated over the DISTINCT vocabulary (pair work "
    "scales with |vocab|, not corpus tokens) — top-20 merge candidates "
    "with a total-order tiebreak.",
    tags=("text", "tokenizer", "training-data", "agg"),
)
def q109_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = wf.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q110 — SLIDING-window streaming monitor (q44 is the tumbling form):
# 2-hour windows sliding every hour, so each event belongs to exactly
# two overlapping windows — the ingest-rate dashboard shape (smooth
# trend + early spike detection) a tumbling window can't express. The
# oracle materializes the overlap explicitly: each event unnests to its
# two window starts (date_trunc minus 0/1 hour), then aggregates —
# proving Spark's window(ts, '2 hours', '1 hour') semantics exactly.
# State is bounded by the watermark (windows older than 4h finalize and
# evict); the value sum is quantized per registry rule 1.
# ---------------------------------------------------------------------------
@register(
    "q110_streaming_sliding_rate",
    """
    WITH x AS (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS window_start,
             value
      FROM events
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
            / 100.0) AS sum_value
    FROM x GROUP BY window_start
    """,
    description="Sliding-window streaming rate monitor: 2h windows every "
    "1h (each event in exactly two windows), watermark-bounded state, "
    "complete-mode final state oracle-checked against an explicit "
    "unnest-both-windows batch aggregate.",
    tags=("streaming", "window", "agg", "sliding"),
)
def q110_streaming_sliding_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events")
    # (exact COUNT(DISTINCT) is unsupported in streaming aggregations —
    # the per-user form of this monitor is q81's dropDuplicates ancestor;
    # here the window keeps count + quantized sum.)
    agg = (
        stream.withWatermark("ts", "4 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
                / 100.0
            ).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# q111 — DSIR-style data selection via hashed n-gram importance weights
# (Xie et al. 2023 — public method), made engine-exact by replacing the
# log-likelihood ratio with a RATIONAL integer contrast (logs are the
# one libm call the determinism contract can't trust across engines):
# bigrams hash into 256 buckets (md5 2-hex fold — portable), the target
# distribution is the held-out benchmark slice (doc_id % 19 = 0, as in
# q105), and each bucket's contrast is the scale-normalized integer
#   c_b = (1000 * t_b * S) div (s_b * T + 1)
# (t/s = bucket counts, T/S = totals — exact BIGINT products, exact
# integer division in both engines; +1 guards empty source buckets). A
# train doc's importance score is its bucket-count-weighted sum of c_b.
# Scale shape: ONE corpus pass builds the 256-row distributions (map-
# side combined), c_b broadcasts back onto the per-doc bucket counts,
# top-20 by (score desc, doc_id) with total-order tiebreak.
# ---------------------------------------------------------------------------
@register(
    "q111_importance_weights",
    """
    WITH w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
    ),
    bg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w) - 1),
                           i -> md5(w[i] || ' ' || w[i + 1]))
                    ELSE [] END) AS h
      FROM w
    ),
    bk AS (
      SELECT doc_id,
             (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket
      FROM bg
    ),
    t AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS t_b
      FROM bk WHERE doc_id % 19 = 0 GROUP BY bucket
    ),
    s AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS s_b
      FROM bk WHERE doc_id % 19 <> 0 GROUP BY bucket
    ),
    c AS (
      SELECT COALESCE(t.bucket, s.bucket) AS bucket,
             (1000 * COALESCE(t.t_b, 0) * (SELECT SUM(s_b) FROM s))
             // (COALESCE(s.s_b, 0) * (SELECT SUM(t_b) FROM t) + 1) AS c_b
      FROM t FULL OUTER JOIN s ON t.bucket = s.bucket
    ),
    doc_counts AS (
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
      FROM bk WHERE doc_id % 19 <> 0 GROUP BY doc_id, bucket
    )
    SELECT d.doc_id,
           CAST(SUM(d.n) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.n * c.c_b) AS BIGINT) AS importance_score
    FROM doc_counts d JOIN c ON c.bucket = d.bucket
    GROUP BY d.doc_id
    ORDER BY importance_score DESC, d.doc_id
    LIMIT 20
    """,
    description="DSIR-style hashed-bigram importance weights with a "
    "rational integer likelihood contrast (no libm logs): 256-bucket "
    "md5-fold features, target=benchmark slice vs source distributions "
    "built in one corpus pass, contrast table broadcast back, top-20 "
    "highest-importance train docs with total-order tiebreak.",
    tags=("training-data", "sampling", "text", "importance"),
)
def q111_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared build: per-(doc, bucket) bigram-fingerprint counts from the
    # session memo q114 also consumes (_dsir_bucket_counts). Bucket
    # totals are integer SUMs of the per-doc counts — exactly the former
    # COUNT(*) over the exploded fingerprints, no float path.
    bb = _dsir_bucket_counts(spark, sf_dir, n=2)
    t = (
        bb.filter(F.col("doc_id") % 19 == 0)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("t_b"))
    )
    s = (
        bb.filter(F.col("doc_id") % 19 != 0)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("s_b"))
    )
    t_total = t.agg(F.sum("t_b").alias("T")).withColumn("__k", F.lit(1))
    s_total = s.agg(F.sum("s_b").alias("S")).withColumn("__k", F.lit(1))
    c = (
        t.alias("t")
        .join(s.alias("s"), F.col("t.bucket") == F.col("s.bucket"), "full_outer")
        .select(
            F.coalesce(F.col("t.bucket"), F.col("s.bucket")).alias("bucket"),
            F.coalesce(F.col("t.t_b"), F.lit(0)).alias("t_b"),
            F.coalesce(F.col("s.s_b"), F.lit(0)).alias("s_b"),
            F.lit(1).alias("__k"),
        )
        .join(F.broadcast(t_total), "__k")
        .join(F.broadcast(s_total), "__k")
        .select(
            "bucket",
            F.expr("(1000 * t_b * S) div (s_b * T + 1)").alias("c_b"),
        )
    )
    doc_counts = bb.filter(F.col("doc_id") % 19 != 0)
    return (
        doc_counts.join(F.broadcast(c), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.sum(F.col("n") * F.col("c_b")).cast("long").alias("importance_score"),
        )
        .orderBy(F.desc("importance_score"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q112 — duplicate-cluster size histogram: the curation report on top of
# q68's connected components — how many dup clusters of each size exist
# and how much of the corpus they hold (big clusters = boilerplate mass
# that exact dedup should have caught; a long size-2/3 tail = genuine
# near-dup pairs). Docs in no near-dup pair are size-1 singletons via a
# left-anti join (no driver-side count action). The histogram itself is
# a two-level rollup over the tiny (cluster, size) table.
# ---------------------------------------------------------------------------
@register(
    "q112_dup_cluster_histogram",
    _cc_sql_prefix()
    + """,
    sizes AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM labels GROUP BY cluster
    ),
    hist AS (
      SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM sizes GROUP BY cluster_size
      UNION ALL
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             CAST(COUNT(*) AS BIGINT) AS n_clusters
      FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM labels)
    )
    SELECT cluster_size,
           CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
           CAST(cluster_size * SUM(n_clusters) AS BIGINT) AS n_docs
    FROM hist GROUP BY cluster_size
    """,
    description="Dup-cluster size histogram over the MinHash-LSH "
    "component graph: clusters and corpus mass per size, singletons via "
    "left-anti join — the dedup curation report (boilerplate mass vs "
    "near-dup tail) with no driver-side actions.",
    tags=("dedup", "clustering", "audit", "training-data"),
)
def q112_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # Shared build: converged CC labels from the same fingerprint-keyed
    # session memo as q68/q144.
    cc = _minhash_cc_labels(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    )
    sizes = cc.groupBy("cluster").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )
    singles = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
        )
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(F.lit(1).cast("long").alias("cluster_size"), "n_clusters")
    )
    return (
        hist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("long").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# q113 — media near-duplicate pairs: perceptual hashes (q85's Arrow-
# batched pHash stage, plus a deterministic one-bit size-band
# perturbation so the radius logic is exercised, not just equality)
# within Hamming distance 3 via the SAME 4-band Hamming-LSH the text
# SimHash path uses (operators/dedup.simhash_near_duplicates — it is
# fingerprint-agnostic). Run UNCAPPED here, which makes the banding
# EXACTLY equal to brute force by the pigeonhole full-recall guarantee
# (d <= 3 < 4 bands) — and the oracle IS the brute-force all-pairs
# scan, so this query PROVES the LSH recall guarantee end-to-end. At
# corpus scale, switch on the q92 hot-bucket cap: identical-hash
# boilerplate media concentrates into single buckets.
# ---------------------------------------------------------------------------
@register(
    "q113_media_neardup_phash",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    px AS (
      SELECT doc_id, i,
             ((n_bytes % 256) * (i + 3) * 2654435761) % 256 AS p
      FROM d, generate_series(0, 55) t(i)
    ),
    m AS (
      SELECT doc_id, CAST(SUM(p) // 56 AS BIGINT) AS mean_px
      FROM px GROUP BY doc_id
    ),
    h AS (
      SELECT px.doc_id,
             CAST(SUM(CASE WHEN px.p > m.mean_px
                           THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM px JOIN m ON m.doc_id = px.doc_id
      GROUP BY px.doc_id
    ),
    f AS (
      SELECT h.doc_id,
             xor(h.ahash,
                 CAST(1 AS BIGINT)
                 << CAST((d.n_bytes // 256) % 56 AS INTEGER)) AS phash
      FROM h JOIN d ON d.doc_id = h.doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM f a JOIN f b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
    """,
    description="Media near-dup pairs: Arrow-batched perceptual hashes "
    "(one-bit size-band perturbation exercises radius 2) within Hamming "
    "3 via uncapped 4-band Hamming-LSH — pigeonhole full recall makes "
    "the band join EXACTLY brute force, and the brute-force oracle "
    "proves it; the q92 hot-bucket cap is the scale dial. VERIFIER: "
    "uncapped buckets grow with boilerplate mass — the capped "
    "registration (q150) is the form to run at corpus scale.",
    tags=("multimodal", "dedup", "lsh", "pandas-udf", "verifier"),
    scale_twin="q150_media_neardup_capped",
)
def q113_media_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    hashed = mm.phash_images(
        mm.payload_metadata(mm.attach_binary_payload(docs))
    )
    fp = hashed.select(
        "doc_id",
        F.expr(
            "ahash ^ shiftleft(CAST(1 AS BIGINT),"
            " CAST((n_bytes div 256) % 56 AS INT))"
        ).alias("phash"),
    )
    return dd.simhash_near_duplicates(
        fp,
        n_bits=56,
        n_bands=4,
        max_hamming=3,
        fp_col="phash",
        max_bucket=None,
    )


# ---------------------------------------------------------------------------
# q114 — curated shard build (the capstone: what the round-7 ops exist
# FOR, composed into the single declarative plan a pre-training data
# build runs): quality gates (length + distinct-word ratio, integer
# cross-multiplied) -> exact dedup keep-first (md5 fingerprint window)
# -> DSIR importance score carried per doc (q111's rational integer
# contrast, target = the q105/q111 benchmark slice) -> md5-fold shard
# assignment (q106) -> per-shard manifest (docs, tokens, summed
# importance, order-free checksum). One corpus pass for the bigram
# distributions (tiny, broadcast back), one window shuffle on the
# fingerprint, one rollup shuffle on the shard key — Catalyst sees the
# whole lineage and prunes text out of every post-gate stage.
# ---------------------------------------------------------------------------
@register(
    "q114_curated_shard_build",
    f"""
    WITH w AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS w
      FROM documents WHERE doc_id % 19 <> 0
    ),
    gated AS (
      SELECT doc_id, text, w,
             CAST(len(w) AS BIGINT) AS n_tokens
      FROM w
      WHERE len(w) >= 30
        AND 10 * len(list_distinct(w)) >= 3 * len(w)
    ),
    deduped AS (
      SELECT doc_id, w, n_tokens FROM (
        SELECT doc_id, w, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY md5(lower(text))
                                  ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ),
    allbg AS (
      SELECT doc_id,
             unnest(CASE WHEN len(w) >= 2
                    THEN list_transform(generate_series(1, len(w) - 1),
                           i -> md5(w[i] || ' ' || w[i + 1]))
                    ELSE [] END) AS h
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    ),
    bk AS (
      SELECT doc_id,
             (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
             + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket
      FROM allbg
    ),
    t AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS t_b
      FROM bk WHERE doc_id % 19 = 0 GROUP BY bucket
    ),
    srcd AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS s_b
      FROM bk WHERE doc_id % 19 <> 0 GROUP BY bucket
    ),
    c AS (
      SELECT COALESCE(t.bucket, srcd.bucket) AS bucket,
             (1000 * COALESCE(t.t_b, 0) * (SELECT SUM(s_b) FROM srcd))
             // (COALESCE(srcd.s_b, 0) * (SELECT SUM(t_b) FROM t) + 1) AS c_b
      FROM t FULL OUTER JOIN srcd ON t.bucket = srcd.bucket
    ),
    scored AS (
      SELECT d.doc_id, d.n_tokens,
             CAST(COALESCE(SUM(b.n * c.c_b), 0) AS BIGINT) AS importance
      FROM deduped d
      LEFT JOIN (
        SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n
        FROM bk GROUP BY doc_id, bucket
      ) b ON b.doc_id = d.doc_id
      LEFT JOIN c ON c.bucket = b.bucket
      GROUP BY d.doc_id, d.n_tokens
    ),
    sharded AS (
      SELECT CAST(({_hex_fold_sql(_SHARD_MD5.format(st="VARCHAR"))}) % 16
                  AS BIGINT) AS shard,
             doc_id, n_tokens, importance,
             CAST({_hex_fold_sql(_CKSUM_MD5)} AS BIGINT) AS ck
      FROM scored JOIN documents USING (doc_id)
    )
    SELECT shard, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(importance) AS BIGINT) AS total_importance,
           CAST(SUM(ck) AS BIGINT) AS checksum
    FROM sharded GROUP BY shard
    """,
    description="Curated shard build capstone: quality gates (integer "
    "cross-multiplied) -> exact dedup keep-first -> DSIR importance "
    "scores -> md5-fold shard assignment -> per-shard manifest with an "
    "order-free checksum; one distribution pass broadcast back, one "
    "fingerprint window, one shard rollup.",
    tags=("training-data", "dedup", "sampling", "importance", "capstone"),
)
def q114_curated_shard_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import shard_column
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 19 != 0)
    w = F.split(F.lower("text"), " ")
    gated = train.select(
        "doc_id", "text", F.size(w).cast("long").alias("n_tokens")
    ).filter(
        (F.size(w) >= 30)
        & (10 * F.size(F.array_distinct(w)) >= 3 * F.size(w))
    )
    win = Window.partitionBy(F.md5(F.lower("text"))).orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_tokens")
    )
    # DSIR contrast table (q111's construction over the FULL corpus),
    # fed by the SAME session-memoized per-(doc, bucket) count table
    # (_dsir_bucket_counts); bucket totals as integer SUMs of per-doc
    # counts are exactly the former COUNT(*) over exploded fingerprints.
    bb = _dsir_bucket_counts(spark, sf_dir, n=2)
    t = (
        bb.filter(F.col("doc_id") % 19 == 0)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("t_b"))
    )
    src = (
        bb.filter(F.col("doc_id") % 19 != 0)
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("s_b"))
    )
    t_total = t.agg(F.sum("t_b").alias("T")).withColumn("__k", F.lit(1))
    s_total = src.agg(F.sum("s_b").alias("S")).withColumn("__k", F.lit(1))
    c = (
        t.alias("t")
        .join(src.alias("s"), F.col("t.bucket") == F.col("s.bucket"), "full_outer")
        .select(
            F.coalesce(F.col("t.bucket"), F.col("s.bucket")).alias("bucket"),
            F.coalesce(F.col("t.t_b"), F.lit(0)).alias("t_b"),
            F.coalesce(F.col("s.s_b"), F.lit(0)).alias("s_b"),
            F.lit(1).alias("__k"),
        )
        .join(F.broadcast(t_total), "__k")
        .join(F.broadcast(s_total), "__k")
        .select("bucket", F.expr("(1000 * t_b * S) div (s_b * T + 1)").alias("c_b"))
    )
    doc_counts = bb
    scored = (
        deduped.join(doc_counts, "doc_id", "left")
        .join(F.broadcast(c), "bucket", "left")
        .groupBy("doc_id", "n_tokens")
        .agg(
            F.coalesce(F.sum(F.col("n") * F.col("c_b")), F.lit(0))
            .cast("long")
            .alias("importance")
        )
    )
    cksum = _hex_fold_sql(_CKSUM_MD5)
    sharded = scored.join(docs.select("doc_id", "text"), "doc_id").select(
        shard_column("doc_id", 16).alias("shard"),
        "doc_id",
        "n_tokens",
        "importance",
        F.expr(f"CAST({cksum} AS BIGINT)").alias("ck"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("importance").cast("long").alias("total_importance"),
        F.sum("ck").cast("long").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# q115 — streaming UPSERT into a live JDBC table (embedded Derby), the
# idempotent S13+S8 composition: an update-mode per-user aggregate
# emits only CHANGED keys each micro-batch, the upsert sink
# (streaming.foreach_batch_jdbc_upsert: within-batch keyed dedup ->
# distributed staging write -> one set-based DELETE+INSERT driver-side)
# overwrites them, and the final table state must equal the batch
# aggregate EXACTLY — which the DuckDB oracle asserts. Retried batches
# converge to the same state (proven in the live Derby test), which a
# plain append sink cannot do: this is the exactly-once RDBMS story.
# ---------------------------------------------------------------------------
@register(
    "q115_streaming_upsert_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
            / 100.0) AS sum_value
    FROM events GROUP BY user_id
    """,
    description="Streaming update-mode per-user totals upserted into a "
    "LIVE embedded-Derby table through the idempotent keyed upsert sink "
    "(staging write + set-based DELETE/INSERT); the final table state "
    "read back over JDBC must equal the batch aggregate, oracle-proven.",
    tags=("streaming", "jdbc", "upsert", "exactly-once"),
)
def q115_streaming_upsert_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import (
        read_jdbc,
        read_table_stream,
    )
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        foreach_batch_jdbc_upsert,
        replay_query,
    )

    url = f"jdbc:derby:memory:q115_{uuid.uuid4().hex[:8]};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    table = "Q115_TOTALS"
    stream = read_table_stream(spark, sf_dir, "events")
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            / 100.0
        ).alias("sum_value"),
    )
    writer = agg.writeStream.outputMode("update").foreachBatch(
        foreach_batch_jdbc_upsert(
            url, table, key_cols=["user_id"], properties=props
        )
    )
    with replay_query(spark, writer) as q:
        q.processAllAvailable()
    return read_jdbc(spark, url, table, props).select(
        "user_id", "n_events", "sum_value"
    )


# ---------------------------------------------------------------------------
# q116 — BPE merge APPLICATION (q109 picks the merge; this applies it —
# one full iteration of the tokenizer-training loop): the argmax pair is
# applied to every vocabulary word by sequential non-overlapping
# replacement (replace() has identical greedy left-to-right semantics in
# Spark and DuckDB, and each merge shortens the word by exactly one
# char, so merge counts are pure length arithmetic — no regex, no
# Python). Corpus-weighted before/after token counts quantify the
# compression this merge buys. The argmax is a documented 1-row driver
# pull on the Spark side (like the IVF centroid seeds); the oracle picks
# it in a CTE — both sides use the same (count desc, pair asc) total
# order, so they choose the same pair.
# ---------------------------------------------------------------------------
@register(
    "q116_bpe_apply_merge",
    """
    WITH wf AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substr(word, i, 2))) AS pair,
             freq
      FROM wf WHERE length(word) >= 2
    ),
    best AS (
      SELECT pair FROM pairs
      GROUP BY pair ORDER BY SUM(freq) DESC, pair LIMIT 1
    ),
    applied AS (
      SELECT wf.word, wf.freq, b.pair,
             CAST(length(wf.word) AS BIGINT) AS len_before,
             CAST(length(replace(wf.word, b.pair, '#')) AS BIGINT) AS len_after
      FROM wf CROSS JOIN best b
    )
    SELECT pair AS merge_pair,
           CAST(SUM(freq * (len_before - len_after)) AS BIGINT) AS n_merges,
           CAST(SUM(freq * len_before) AS BIGINT) AS tokens_before,
           CAST(SUM(freq * len_after) AS BIGINT) AS tokens_after
    FROM applied GROUP BY pair
    """,
    description="BPE merge application (the iteration step after q109's "
    "argmax): greedy non-overlapping replace over the DISTINCT "
    "vocabulary, merge counts as pure length arithmetic, corpus-weighted "
    "before/after token totals; argmax is a documented 1-row driver "
    "pull with a total-order tiebreak.",
    tags=("text", "tokenizer", "training-data", "iterative"),
)
def q116_bpe_apply_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    pairs = wf.filter(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    best_row = (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(1)
        .collect()
    )
    best = best_row[0]["pair"] if best_row else ""
    applied = wf.select(
        "word",
        "freq",
        F.lit(best).alias("pair"),
        F.length("word").cast("long").alias("len_before"),
        F.length(F.replace(F.col("word"), F.lit(best), F.lit("#")))
        .cast("long")
        .alias("len_after"),
    )
    return applied.groupBy("pair").agg(
        F.sum(F.col("freq") * (F.col("len_before") - F.col("len_after")))
        .cast("long")
        .alias("n_merges"),
        F.sum(F.col("freq") * F.col("len_before")).cast("long").alias("tokens_before"),
        F.sum(F.col("freq") * F.col("len_after")).cast("long").alias("tokens_after"),
    ).select(
        F.col("pair").alias("merge_pair"),
        "n_merges",
        "tokens_before",
        "tokens_after",
    )


# ---------------------------------------------------------------------------
# q117 — referential-integrity audit across the warehouse: orphan counts
# for every foreign-key relation the engine's joins depend on (orders ->
# customer, lineitem -> orders, documents -> embeddings by id) plus row
# totals — the data-quality precondition every star join and enrichment
# assumes. Each relation is one LEFT ANTI join on the key (shuffle
# bounded by the child table; at scale the dim side broadcasts exactly
# like the production join it guards). Orphans are summarized, never
# listed — audit output stays O(relations).
# ---------------------------------------------------------------------------
@register(
    "q117_referential_integrity",
    """
    SELECT 'orders->customer' AS relation,
           (SELECT COUNT(*) FROM orders) AS n_child,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'documents->embeddings',
           (SELECT COUNT(*) FROM documents),
           (SELECT COUNT(*) FROM documents d
            WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                              WHERE e.vec_id = d.doc_id))
    """,
    description="Referential-integrity audit: orphan counts per FK "
    "relation (orders->customer, lineitem->orders, "
    "documents->embeddings) via LEFT ANTI joins with broadcastable dim "
    "sides — the precondition audit for every star join; O(relations) "
    "output.",
    tags=("audit", "join", "data-quality"),
)
def q117_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = [
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("documents->embeddings", "documents", "doc_id", "embeddings", "vec_id"),
    ]
    out = None
    for name, child, ck, parent, pk in rels:
        c = read_table(spark, sf_dir, child)
        p = read_table(spark, sf_dir, parent).select(F.col(pk).alias(ck)).distinct()
        orphans = c.select(ck).join(F.broadcast(p), ck, "left_anti")
        row = (
            c.agg(F.count("*").alias("n_child"))
            .withColumn("__k", F.lit(1))
            .join(
                orphans.agg(F.count("*").alias("n_orphans")).withColumn(
                    "__k", F.lit(1)
                ),
                "__k",
            )
            .select(F.lit(name).alias("relation"), "n_child", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# q118 — session documents: turn raw event logs into TRAINING DOCUMENTS
# (the conversation-log -> corpus conversion a chat/agent-model data
# pipeline runs): events sessionize per user on a 30-minute gap (q20's
# lag-window machinery), then each session becomes one document — the
# ordered event-type sequence serialized to text. Ordered aggregation
# is the determinism trap here: collect_list order is partition-
# dependent, so the sequence is built by sorting an array of (epoch,
# event_id, type) structs — array_sort on a struct is a total order,
# bit-reproducible anywhere — and DuckDB's twin is string_agg ORDER BY
# the same keys. One user_id shuffle for the session window, one
# (user_id, session) aggregation.
# ---------------------------------------------------------------------------
@register(
    "q118_session_documents",
    """
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN prev_ts IS NULL
                       OR es - CAST(FLOOR(EPOCH(prev_ts)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM ordered
    ),
    sess AS (
      SELECT *,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events,
           string_agg(event_type, ' ' ORDER BY es, event_id) AS doc_text,
           CAST(MIN(es) AS BIGINT) AS session_start_es
    FROM sess
    GROUP BY user_id, session_id
    """,
    description="Session documents: 30-min-gap sessionization, then each "
    "session serialized to one training document (ordered event-type "
    "sequence) via sorted-struct aggregation — a total order, never "
    "partition-dependent collect_list; oracle twin is string_agg ORDER "
    "BY the same keys.",
    tags=("text", "sessionize", "window", "training-data"),
)
def q118_session_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.unix_timestamp("ts").alias("es"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "is_new",
        F.when(
            F.col("prev_ts").isNull()
            | (
                F.col("es") - F.unix_timestamp("prev_ts") > 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("es", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("doc_text"),
            F.min("es").cast("long").alias("session_start_es"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            "n_events",
            "doc_text",
            "session_start_es",
        )
    )


# ---------------------------------------------------------------------------
# q119 — embedding truncation audit (Matryoshka representation learning,
# Kusupati et al. 2022 — public method): how much cosine fidelity
# survives truncating stored embeddings to their first d components?
# For a prefix truncation, cos²(v[:d], v) reduces to |v[:d]|²/|v|²
# (the cross-dot equals the prefix norm), so the whole audit is two
# integer norm sums per vector per d — map-only, no pairs, no Python.
# Components quantize to integers first (rule 1); the per-vector ratio
# quantizes to 1e-4 BEFORE the mean (exact integer sums in any order),
# and the mean itself is an exact integer division. The decision this
# feeds: which truncation tier the vector store can serve (q75's int8
# codes are the byte-axis twin of this dimension-axis knob).
# ---------------------------------------------------------------------------
_TRUNC_DIMS = (8, 16, 32)


@register(
    "q119_embedding_truncation_audit",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comps AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j,
             CAST(FLOOR(unnest(ev) * 1000 + 0.5) AS BIGINT) AS q
      FROM e
    ),
    norms AS (
      SELECT vec_id,
             CAST(SUM(q * q) AS BIGINT) AS nf,
             {", ".join(
               f"CAST(SUM(CASE WHEN j <= {d} THEN q * q ELSE 0 END) AS BIGINT)"
               f" AS n{d}" for d in _TRUNC_DIMS
             )}
      FROM comps GROUP BY vec_id
    ),
    ratios AS (
      {" UNION ALL ".join(
        f"SELECT CAST({d} AS BIGINT) AS trunc_dim,"
        f" (10000 * n{d}) // nf AS r FROM norms WHERE nf > 0"
        for d in _TRUNC_DIMS
      )}
    )
    SELECT trunc_dim, COUNT(*) AS n_vectors,
           CAST(SUM(r) AS BIGINT) // COUNT(*) AS mean_cos2_q4
    FROM ratios GROUP BY trunc_dim
    """,
    description="Matryoshka truncation audit: cosine fidelity of prefix-"
    "truncated embeddings via the |v[:d]|²/|v|² identity — two integer "
    "norm sums per vector per tier, map-only; per-vector ratios "
    "quantized to 1e-4 before an exact integer mean.",
    tags=("embedding", "audit", "compression", "similarity"),
)
def q119_embedding_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast("long"),
    )

    def norm2(col):
        return F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    base = emb.select(
        "vec_id",
        norm2(q).alias("nf"),
        *[norm2(F.slice(q, 1, d)).alias(f"n{d}") for d in _TRUNC_DIMS],
    ).filter(F.col("nf") > 0)
    ratios = None
    for d in _TRUNC_DIMS:
        r = base.select(
            F.lit(d).cast("long").alias("trunc_dim"),
            F.expr(f"(10000 * n{d}) div nf").alias("r"),
        )
        ratios = r if ratios is None else ratios.unionByName(r)
    return ratios.groupBy("trunc_dim").agg(
        F.count("*").alias("n_vectors"),
        F.expr("CAST(SUM(r) AS BIGINT) div COUNT(*)").alias("mean_cos2_q4"),
    )


# ---------------------------------------------------------------------------
# q120 — JOIN-KEY SKEW AUDIT: the pre-flight diagnostic every large join
# needs. Per-key row counts on the prospective join key, each key's share
# of the table, and the salt factor a skewed key would need so its rows
# spread across ~32 shuffle partitions (ceil(n_rows * 32 / total) in
# exact integer math). One map-side-combined shuffle on the key; the
# table total arrives by broadcasting a 1-row aggregate (a SUM() OVER ()
# on the keyset would funnel every key through one partition — the exact
# failure this audit exists to prevent). Top-20 keys under a total order.
# ---------------------------------------------------------------------------
@register(
    "q120_join_skew_audit",
    """
    WITH per AS (
      SELECT user_id, COUNT(*) AS n_rows FROM events GROUP BY user_id
    ),
    tot AS (SELECT SUM(n_rows) AS t FROM per)
    SELECT user_id,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST((n_rows * 1000) // t AS BIGINT) AS share_permille,
           CAST((n_rows * 32 + t - 1) // t AS BIGINT) AS salt_factor
    FROM per, tot
    ORDER BY n_rows DESC, user_id
    LIMIT 20
    """,
    description="Join-key skew audit: per-key counts, table share, and the "
    "salt factor needed to spread each hot key over ~32 partitions — one "
    "map-combined shuffle plus a broadcast 1-row total (never SUM() "
    "OVER (), which would single-partition the keyset).",
    tags=("audit", "skew", "join", "agg"),
)
def q120_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select("user_id")
    per = ev.groupBy("user_id").agg(F.count("*").alias("n_rows"))
    tot = per.agg(F.sum("n_rows").alias("__t")).withColumn("__k", F.lit(1))
    return (
        per.withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
        .select(
            "user_id",
            "n_rows",
            F.expr("(n_rows * 1000) div __t").alias("share_permille"),
            F.expr("(n_rows * 32 + __t - 1) div __t").alias("salt_factor"),
        )
        .orderBy(F.desc("n_rows"), F.asc("user_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q121 — SALTED SKEW JOIN, result-equality proven: the orders->customer
# join re-keyed on (c_custkey, salt): the dim side replicates each row
# across _SALT_N salt ids (explode over a literal sequence — still
# broadcastable when the dim is small; at 100 TB the same rewrite is what
# makes a sort-merge join survive a hot key, which is why the fact side
# is hinted to MERGE here so the salted co-partitioning is actually
# exercised, not silently broadcast away), and the fact side picks its
# salt deterministically from md5(o_orderkey) — reproducible across runs
# and engines, unlike rand()-salting. The oracle is the PLAIN join: the
# salted plan must produce bit-identical aggregates, which is the whole
# contract of salting.
# ---------------------------------------------------------------------------
_SALT_N = 8
_SALT_FOLD = _hex_fold_sql("md5(concat('salt:', CAST(o_orderkey AS {st})))")


@register(
    "q121_salted_skew_join",
    f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           ({sql_qsum('o.o_totalprice', 100)}) AS total_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    description=f"Salted skew join: dim replicated over {_SALT_N} salt ids, "
    "fact salted by md5(o_orderkey) fold (deterministic, not rand()), "
    "joined MERGE-hinted on (custkey, salt) so the rewrite is exercised; "
    "oracle is the plain join — salting must be value-invisible.",
    tags=("join", "skew", "agg"),
)
def q121_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators.skew import salted_join
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import qsum

    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(
        read_table(spark, sf_dir, "orders"),
        cust,
        "o_custkey",
        "c_custkey",
        F.expr(f"({_SALT_FOLD.format(st='STRING')})"),
        n_salts=_SALT_N,
        hint="merge",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        qsum(F.col("o_totalprice"), 100).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# q122 — SCD-2 INTERVAL BUILD from an event log (the change-data-capture
# merge every warehouse dimension load runs): each user's events become
# validity intervals via LEAD over the (ts, event_id) total order —
# valid_to NULL marks the CURRENT state. The audit aggregates per state:
# how many users currently sit in it, how many closed intervals it
# produced, and total dwell seconds (exact integer epoch math — Spark's
# unix_timestamp truncates, so the oracle FLOORs EPOCH identically).
# One user_id shuffle for the window, then a tiny per-type rollup.
# ---------------------------------------------------------------------------
@register(
    "q122_scd2_intervals",
    """
    WITH o AS (
      SELECT user_id, event_type, ts,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_current_users,
           CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_closed,
           CAST(SUM(CASE WHEN valid_to IS NOT NULL
                         THEN CAST(FLOOR(EPOCH(valid_to)) AS BIGINT)
                              - CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS total_dwell_s
    FROM o GROUP BY event_type
    """,
    description="SCD-2 interval build: LEAD over the per-user (ts, "
    "event_id) total order turns an event log into validity intervals "
    "(valid_to NULL = current state); per-state rollup of current users, "
    "closed intervals, and exact integer dwell seconds. One user_id "
    "shuffle.",
    tags=("window", "cdc", "scd2", "agg"),
)
def q122_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.withColumn("valid_to", F.lead("ts").over(w))
    closed = F.col("valid_to").isNotNull()
    dwell = F.unix_timestamp("valid_to") - F.unix_timestamp("ts")
    return o.groupBy("event_type").agg(
        F.sum(F.when(~closed, 1).otherwise(0)).cast("long")
        .alias("n_current_users"),
        F.sum(F.when(closed, 1).otherwise(0)).cast("long").alias("n_closed"),
        F.sum(F.when(closed, dwell).otherwise(0)).cast("long")
        .alias("total_dwell_s"),
    )


# ---------------------------------------------------------------------------
# q123 — LSH candidates verified by EDIT DISTANCE: the standard two-stage
# near-dup pipeline (cheap recall stage -> exact precision stage) with
# Levenshtein as the verifier instead of q32's Jaccard. Candidates come
# from q92's Hamming-LSH band join (never O(n^2)); each surviving pair
# pays one Levenshtein on a 120-char PREFIX — the cap is the scale
# contract, since edit distance is O(len^2) and unbounded docs would make
# a single boilerplate pair a straggler. Both engines implement textbook
# Levenshtein; the prefix cap also bounds the distance, keeping the
# filter threshold meaningful.
# ---------------------------------------------------------------------------
_EDIT_PREFIX = 120
_EDIT_MAX = 30


@register(
    "q123_lsh_verify_editdist",
    f"""
    WITH pairs AS ({_simhash_pairs_sql(_SH_BITS, _SH_BANDS, _SH_RADIUS,
                                       _SH_MAX_BUCKET)})
    SELECT p.doc_a, p.doc_b, p.hamming,
           CAST(levenshtein(substr(da.text, 1, {_EDIT_PREFIX}),
                            substr(db.text, 1, {_EDIT_PREFIX}))
                AS INTEGER) AS edit_dist
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE levenshtein(substr(da.text, 1, {_EDIT_PREFIX}),
                      substr(db.text, 1, {_EDIT_PREFIX})) <= {_EDIT_MAX}
    """,
    description="Two-stage near-dup verification: Hamming-LSH candidate "
    f"pairs (q92's band join) verified by exact Levenshtein on a "
    f"{_EDIT_PREFIX}-char prefix (the cap bounds the O(len^2) verifier), "
    f"keeping pairs within edit distance {_EDIT_MAX}.",
    tags=("dedup", "lsh", "verify", "text"),
)
def q123_lsh_verify_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # Shared build (same dial as q92): the verifier costs two prefix
    # joins + a levenshtein over the memoized pair set.
    pairs = _simhash_verified_pairs(
        spark,
        sf_dir,
        n_bits=_SH_BITS,
        n_bands=_SH_BANDS,
        max_hamming=_SH_RADIUS,
        max_bucket=_SH_MAX_BUCKET,
    )
    pref = F.substring("text", 1, _EDIT_PREFIX)
    da = docs.select(F.col("doc_id").alias("doc_a"), pref.alias("__ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), pref.alias("__tb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "edit_dist",
            F.levenshtein(F.col("__ta"), F.col("__tb")).cast("int"),
        )
        .filter(F.col("edit_dist") <= _EDIT_MAX)
        .select("doc_a", "doc_b", "hamming", "edit_dist")
    )


# ---------------------------------------------------------------------------
# q124 — HASH-THRESHOLD STRATIFIED SAMPLING: per-source sampling rates
# applied by comparing an md5 fold of the doc id against a permille
# threshold — deterministic (same keep-set on every run, engine, and
# partitioning; rand()-sampling is none of these), stable under corpus
# growth (a doc's keep/drop never changes as neighbors arrive — the
# property that makes downstream caches and dedup indexes incremental),
# and map-only: the only shuffle is the tiny per-source audit rollup.
# Rates derive from the source's numeric suffix (src0..src19 -> 1000/500/
# 250/125 permille by suffix % 4); the kept-set is certified by an
# order-free integer checksum, not just a count.
# ---------------------------------------------------------------------------
_SAMP_FOLD = _hex_fold_sql("md5(concat('samp:', CAST(doc_id AS {st})))")
_RATE_CASE = (
    "CASE CAST(substr(source, 4) AS INTEGER) % 4 "
    "WHEN 0 THEN 1000 WHEN 1 THEN 500 WHEN 2 THEN 250 ELSE 125 END"
)


def _q124_sql(string_type: str) -> str:
    fold = _SAMP_FOLD.format(st=string_type)
    return f"""
    WITH s AS (
      SELECT source,
             CAST({_RATE_CASE} AS BIGINT) AS rate_permille,
             CASE WHEN ({fold}) % 1000 < ({_RATE_CASE})
                  THEN 1 ELSE 0 END AS kept,
             CAST(({fold}) AS BIGINT) AS ck
      FROM documents
    )
    SELECT source, rate_permille,
           COUNT(*) AS n_total,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept * ck) AS BIGINT) AS kept_checksum
    FROM s GROUP BY source, rate_permille
    """


@register(
    "q124_hash_threshold_sample",
    _q124_sql("VARCHAR"),
    description="Deterministic stratified sampling: per-source permille "
    "rates enforced by md5-fold thresholds on doc_id — reproducible "
    "across engines/partitionings and stable under corpus growth, unlike "
    "rand(); map-only with a per-source audit rollup certifying the "
    "kept-set via an order-free integer checksum.",
    tags=("sampling", "training-data", "audit"),
)
def q124_hash_threshold_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fold = _SAMP_FOLD.format(st="STRING")
    s = docs.select(
        "source",
        F.expr(f"CAST({_RATE_CASE} AS BIGINT)").alias("rate_permille"),
        F.expr(
            f"CASE WHEN ({fold}) % 1000 < ({_RATE_CASE}) THEN 1 ELSE 0 END"
        ).alias("kept"),
        F.expr(f"CAST(({fold}) AS BIGINT)").alias("ck"),
    )
    return s.groupBy("source", "rate_permille").agg(
        F.count("*").alias("n_total"),
        F.sum("kept").cast("long").alias("n_kept"),
        F.sum(F.col("kept") * F.col("ck")).cast("long").alias("kept_checksum"),
    )


# ---------------------------------------------------------------------------
# q125 — WORD-FREQUENCY SPECTRUM (the Zipf audit): how many vocabulary
# types occur with frequency in each power-of-2 band. This is the
# distribution check run before tokenizer training and after any filter
# pass (a dedup or quality gate visibly shifts the singleton band). The
# bucket ladder is integer CASE comparisons — no log2(), whose float
# behavior at exact powers of two is a cross-engine boundary hazard —
# and, unlike a rank-based Zipf curve, needs NO global sort: word-count
# agg (map-combined), then a ~20-row rollup.
# ---------------------------------------------------------------------------
_FREQ_BANDS = [1 << i for i in range(1, 21)]  # 2 .. 1048576


def _freq_bucket_case(n: str) -> str:
    cases = " ".join(f"WHEN {n} < {b} THEN {b // 2}" for b in _FREQ_BANDS)
    return f"CASE {cases} ELSE {_FREQ_BANDS[-1]} END"


@register(
    "q125_word_freq_spectrum",
    f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    )
    SELECT CAST({_freq_bucket_case('freq')} AS BIGINT) AS freq_band_lo,
           COUNT(*) AS n_types,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(MIN(word) AS VARCHAR) AS first_word
    FROM wf GROUP BY freq_band_lo
    """,
    description="Word-frequency spectrum: vocabulary types bucketed into "
    "power-of-2 frequency bands (integer CASE ladder — no float log2) "
    "with per-band type/token mass — the Zipf audit before tokenizer "
    "training; word-count agg plus a ~20-row rollup, no global sort.",
    tags=("text", "tokens", "audit", "agg"),
)
def q125_word_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return (
        wf.select(
            F.expr(f"CAST({_freq_bucket_case('freq')} AS BIGINT)").alias(
                "freq_band_lo"
            ),
            "word",
            "freq",
        )
        .groupBy("freq_band_lo")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("freq").cast("long").alias("n_tokens"),
            F.min("word").alias("first_word"),
        )
    )


# ---------------------------------------------------------------------------
# q126 — DETERMINISTIC TRAINING-MIX SCHEDULE: the order documents are fed
# to training, honoring per-language mix weights, WITHOUT any global
# shuffle state: every doc gets schedule key md5-fold(doc) * 8 / weight —
# a doc stream sorted by this key interleaves languages in proportion to
# their weights in every prefix (inverse-weight spacing of md5-uniform
# positions). Map-only keying; the first N schedule slots come out of a
# TakeOrderedAndProject (per-partition top-N + tiny driver merge), never
# a full sort. Epoch re-shuffles are just a different salt in the md5.
# ---------------------------------------------------------------------------
_MIX_WEIGHTS = {"en": 4, "de": 2, "fr": 2, "es": 1, "zh": 1}
_MIX_FOLD = _hex_fold_sql("md5(concat('mix:', CAST(doc_id AS {st})))", 5)


def _mix_weight_case() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN {w}" for lang, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"CASE lang {cases} ELSE 1 END"


@register(
    "q126_training_mix_schedule",
    f"""
    SELECT CAST((({_MIX_FOLD.format(st='VARCHAR')}) * 8)
                // ({_mix_weight_case()}) AS BIGINT) AS sched_key,
           lang, doc_id
    FROM documents
    ORDER BY sched_key, doc_id
    LIMIT 40
    """,
    description="Deterministic training-mix schedule: md5-fold position "
    "divided by language weight interleaves sources proportionally in "
    "every schedule prefix — map-only keying + top-N "
    "(TakeOrderedAndProject), no global sort, no RNG state; epoch "
    "re-shuffle = new md5 salt.",
    tags=("training-data", "sampling", "ordering"),
)
def q126_training_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fold = _MIX_FOLD.format(st="STRING")
    return (
        docs.select(
            F.expr(
                f"CAST((({fold}) * 8) div ({_mix_weight_case()}) AS BIGINT)"
            ).alias("sched_key"),
            "lang",
            "doc_id",
        )
        .orderBy("sched_key", "doc_id")
        .limit(40)
    )


# ---------------------------------------------------------------------------
# q127 — HASHED-LINEAR QUALITY CLASSIFIER (the fasttext-style scorer a
# curation pipeline runs on every document): tokens hash into 256
# feature buckets (md5 fold — no vocabulary table to ship), each bucket
# carries a deterministic "pretrained" weight in [-100, 100] (md5-derived
# here; a real model just swaps the weight expression for a broadcast
# lookup), a doc's raw score is the token-weight sum, normalized per
# token and squashed by the RATIONAL sigmoid x/(1+|x|) — one IEEE divide,
# bit-identical everywhere, where exp() is not (the q96 lesson). Signed
# quantization uses FLOOR(x + 0.5) on an exactly-computed double — NOT
# integer div, whose rounding direction on negatives differs between
# engines (Spark `div` truncates toward zero; DuckDB `//` floors).
# Map-side explode + one doc_id agg + a tiny source rollup.
# ---------------------------------------------------------------------------
_QC_BUCKET = _hex_fold_sql("md5(concat('qw:', w))", 2)
def _qc_weight_sql(string_type: str) -> str:
    inner = _hex_fold_sql(f"md5(concat('qv:', CAST(b AS {string_type})))", 2)
    return f"CAST(({inner}) % 201 AS BIGINT) - 100"


_QC_WEIGHT_SPARK = _qc_weight_sql("STRING")


@register(
    "q127_quality_classifier",
    f"""
    WITH tok AS (
      SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    weighted AS (
      SELECT doc_id, source, ({_qc_weight_sql('VARCHAR')}) AS wt FROM (
        SELECT doc_id, source, (({_QC_BUCKET}) % 256) AS b FROM tok
      )
    ),
    per_doc AS (
      SELECT doc_id, source,
             CAST(FLOOR(CAST(1000 * SUM(wt) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS score_q
      FROM weighted GROUP BY doc_id, source
    ),
    sig AS (
      SELECT source,
             CAST(FLOOR(CAST(1000 * score_q AS DOUBLE)
                        / (1000 + abs(score_q)) + 0.5) AS BIGINT) AS s
      FROM per_doc
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(s) AS BIGINT) AS sig_sum,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM sig GROUP BY source
    """,
    description="Hashed-linear quality classifier: md5-fold feature "
    "hashing into 256 buckets with deterministic weights, per-token "
    "normalization, and a rational sigmoid (x/(1+|x|) — bit-portable "
    "where exp is not); signed scores quantized via FLOOR(x+0.5), never "
    "integer div (engines disagree on negative rounding). Map-side "
    "explode, one doc agg, tiny source rollup.",
    tags=("text", "quality", "ml", "training-data"),
)
def q127_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    )
    bucketed = tok.select(
        "doc_id", "source",
        F.expr(f"(({_QC_BUCKET}) % 256)").alias("b"),
    )
    weighted = bucketed.select(
        "doc_id", "source", F.expr(_QC_WEIGHT_SPARK).alias("wt")
    )
    per_doc = weighted.groupBy("doc_id", "source").agg(
        F.expr(
            "CAST(FLOOR(CAST(1000 * SUM(wt) AS DOUBLE) / COUNT(*) + 0.5D)"
            " AS BIGINT)"
        ).alias("score_q")
    )
    sig = per_doc.select(
        "source",
        F.expr(
            "CAST(FLOOR(CAST(1000 * score_q AS DOUBLE)"
            " / (1000 + abs(score_q)) + 0.5D) AS BIGINT)"
        ).alias("s"),
    )
    return sig.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("s").cast("long").alias("sig_sum"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).cast("long")
        .alias("n_positive"),
    )


# ---------------------------------------------------------------------------
# q128 — BLOOM-PREFILTERED SEMI JOIN: the build-side keys (customers in
# one segment) fold into a 1024-bit bitmap (32 x 32-bit words, built by
# a bit_or aggregation — fixed-size state like q91's HLL), the bitmap is
# collected to the driver (32 longs — the same documented tiny-pull class
# as IVF centroid seeds) and applied as a LITERAL array filter on the
# probe side BEFORE the exact semi join kills the ~3% false positives.
# At 100 TB this is the manual form of Spark's runtime bloom-filter
# pushdown (spark.sql.optimizer.runtime.bloomFilter.*): the probe scan
# discards ~80% of rows without shuffling them. The oracle is the PLAIN
# semi join — the prefilter must be value-invisible, which is the whole
# contract of a Bloom filter (no false negatives).
# ---------------------------------------------------------------------------
_BF_BITS = 1024
_BF_WORD = 32  # bits per word; 1 << bit stays far inside BIGINT
_BF_SEGMENT = "BUILDING"


def _bf_bucket_sql(key_expr: str, string_type: str) -> str:
    fold = _hex_fold_sql(f"md5(concat('bf:', CAST({key_expr} AS {string_type})))", 3)
    return f"(({fold}) % {_BF_BITS})"


@register(
    "q128_bloom_prefilter_join",
    f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ({sql_qsum('o.o_totalprice', 100)}) AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_mktsegment = '{_BF_SEGMENT}')
    GROUP BY o.o_orderpriority
    """,
    description=f"Bloom-prefiltered semi join: build-side keys folded into "
    f"a {_BF_BITS}-bit bitmap (bit_or agg, fixed-size state), broadcast "
    "as a literal probe-side filter ahead of the exact semi join (false "
    "positives removed, false negatives impossible) — the manual form of "
    "Spark's runtime bloom-filter pushdown; oracle is the plain semi "
    "join.",
    tags=("join", "bloom", "prefilter", "agg"),
)
def q128_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import qsum

    dim = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == _BF_SEGMENT)
        .select("c_custkey")
    )
    bucket = _bf_bucket_sql("c_custkey", "STRING")
    words = dim.select(
        F.expr(f"({bucket}) div {_BF_WORD}").alias("w"),
        F.expr(f"shiftleft(1L, ({bucket}) % {_BF_WORD})").alias("v"),
    ).groupBy("w").agg(F.expr("bit_or(v)").alias("m"))
    # Documented tiny pull: <= 32 rows of (word_index, mask) — same class
    # as the IVF centroid-seed collect (operators/similarity.py).
    mask = [0] * (_BF_BITS // _BF_WORD)
    for r in words.collect():
        mask[int(r["w"])] = int(r["m"])
    mask_lit = F.array(*[F.lit(v).cast("long") for v in mask])

    fact = read_table(spark, sf_dir, "orders")
    fbucket = _bf_bucket_sql("o_custkey", "STRING")
    prefiltered = fact.withColumn("__mask", mask_lit).filter(
        F.expr(
            f"element_at(__mask, CAST(({fbucket}) div {_BF_WORD} AS INT) + 1)"
            f" & shiftleft(1L, ({fbucket}) % {_BF_WORD}) != 0"
        )
    ).drop("__mask")
    exact = prefiltered.join(F.broadcast(dim),
                             prefiltered.o_custkey == dim.c_custkey,
                             "left_semi")
    return exact.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        qsum(F.col("o_totalprice"), 100).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# q129 — CHUNK-LEVEL DUPLICATION MASS (line-level dedup, the CCNet /
# RefinedWeb stage finer than whole-doc q30 and fuzzier-than-exact q32):
# each doc splits into non-overlapping 8-word chunks, a chunk is
# "duplicated" when its md5 fingerprint appears in >= 2 DISTINCT docs,
# and each doc reports the permille of its words inside duplicated
# chunks. Per-source rollup: mean duplication mass and how many docs
# exceed 50% (the docs line-level dedup would rewrite). Shuffle budget:
# one fingerprint agg (map-combined), one fingerprint equi-join (fan-out
# = chunk multiplicity, never all-pairs), one doc agg, a 20-row rollup.
# ---------------------------------------------------------------------------
_CHUNK_W = 8


@register(
    "q129_chunk_dup_mass",
    f"""
    WITH w AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS ws
      FROM documents
    ),
    chunks AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(ws, i * {_CHUNK_W} + 1,
                                            i * {_CHUNK_W} + {_CHUNK_W}), ' '))
               AS fp,
             CASE WHEN len(ws) - i * {_CHUNK_W} < {_CHUNK_W}
                  THEN len(ws) - i * {_CHUNK_W} ELSE {_CHUNK_W} END AS n_words
      FROM (
        SELECT doc_id, source, ws,
               unnest(generate_series(0, (len(ws) + {_CHUNK_W - 1})
                                         // {_CHUNK_W} - 1)) AS i
        FROM w
      )
    ),
    fps AS (
      SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY fp
    ),
    per_doc AS (
      SELECT c.doc_id, c.source,
             CAST((1000 * SUM(CASE WHEN f.nd >= 2 THEN c.n_words ELSE 0 END))
                  // SUM(c.n_words) AS BIGINT) AS dup_permille
      FROM chunks c JOIN fps f ON f.fp = c.fp
      GROUP BY c.doc_id, c.source
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(dup_permille) // COUNT(*) AS BIGINT) AS mean_dup_permille,
           CAST(SUM(CASE WHEN dup_permille > 500 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_over_half
    FROM per_doc GROUP BY source
    """,
    description=f"Chunk-level duplication mass: non-overlapping "
    f"{_CHUNK_W}-word chunks fingerprinted with md5; a chunk in >=2 "
    "distinct docs is duplicated, each doc reports the permille of its "
    "words in duplicated chunks, per-source mean + over-50% count — the "
    "line-level dedup audit between whole-doc q30 and fuzzy q32; one fp "
    "agg + one fp equi-join, never all-pairs.",
    tags=("dedup", "text", "training-data", "agg"),
)
def q129_chunk_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("ws")
    )
    chunks = (
        w.select(
            "doc_id",
            "source",
            "ws",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"CAST((size(ws) + {_CHUNK_W - 1}) div {_CHUNK_W}"
                           " AS INT) - 1"),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "source",
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(f"slice(ws, i * {_CHUNK_W} + 1, {_CHUNK_W})"),
                )
            ).alias("fp"),
            F.expr(
                f"CASE WHEN size(ws) - i * {_CHUNK_W} < {_CHUNK_W} "
                f"THEN size(ws) - i * {_CHUNK_W} ELSE {_CHUNK_W} END"
            ).alias("n_words"),
        )
    )
    fps = chunks.groupBy("fp").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    per_doc = (
        chunks.join(fps, "fp")
        .groupBy("doc_id", "source")
        .agg(
            F.expr(
                "CAST((1000 * SUM(CASE WHEN nd >= 2 THEN n_words ELSE 0 END))"
                " div SUM(n_words) AS BIGINT)"
            ).alias("dup_permille")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.expr("CAST(SUM(dup_permille) div COUNT(*) AS BIGINT)").alias(
            "mean_dup_permille"
        ),
        F.sum(F.when(F.col("dup_permille") > 500, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_over_half"),
    )


# ---------------------------------------------------------------------------
# q130 — WATERMARK LATE-DATA DROP SEMANTICS, oracle-proven end to end:
# the one streaming behavior no single-batch replay can exercise. The
# event table replays as FOUR micro-batches in a controlled arrival
# order (batch = event_id % 4 — arrival deliberately decorrelated from
# event time, so most of batches 1-3 arrive "late"), through a
# 90-minute watermark and hourly tumbling windows in APPEND mode. The
# oracle reproduces Spark's exact micro-batch watermark algebra,
# validated empirically against stateOperators metrics
# (numRowsDroppedByWatermark):
#   W_i = runmax(max event-time ms of batches <= i) - 5,400,000
#   * a batch-b row is KEPT iff its window end > W_{b-2} — the data
#     filter uses the PREVIOUS trigger's watermark (one-batch lag,
#     Spark's documented global-watermark propagation), while
#   * eviction/emission uses the current one: a window is in the final
#     APPEND output iff window_end <= W_last (the final no-data batch
#     flushes evicted windows; boundary strictness is measure-zero —
#     event times are microsecond-grained, window ends hour-aligned).
# Replay determinism: `streaming.pipeline.replay_files` stages each
# arrival batch as one parquet file, in batch order, and streams one file
# per micro-batch. Production replaces the file replay with Kafka arrival
# order; the watermark algebra is the part that carries.
# ---------------------------------------------------------------------------
_Q130_DELAY_MS = 90 * 60 * 1000
_Q130_BATCHES = 4


@register(
    "q130_streaming_late_drop",
    f"""
    WITH e AS (
      SELECT event_id % {_Q130_BATCHES} AS b,
             epoch_ms(ts) AS tms,
             ((epoch_ms(ts) // 3600000) + 1) * 3600000 AS wend,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    bm AS (SELECT b, MAX(tms) AS mx FROM e GROUP BY b),
    wms AS (
      SELECT b, MAX(mx) OVER (ORDER BY b) - {_Q130_DELAY_MS} AS wm FROM bm
    ),
    fin AS (SELECT MAX(mx) - {_Q130_DELAY_MS} AS fwm FROM bm),
    kept AS (
      SELECT e.wend, e.qv FROM e
      LEFT JOIN wms p ON p.b = e.b - 2
      WHERE p.wm IS NULL OR e.wend > p.wm
    )
    SELECT CAST(k.wend - 3600000 AS BIGINT) AS window_start_ms,
           COUNT(*) AS n_events,
           (CAST(SUM(k.qv) AS BIGINT) / 100.0) AS sum_value
    FROM kept k, fin
    GROUP BY k.wend, fin.fwm
    HAVING k.wend <= fin.fwm
    """,
    description="Watermark late-data semantics proven against a batch "
    "oracle: 4-micro-batch replay (arrival = event_id % 4, decorrelated "
    "from event time), 90-min watermark, hourly windows, APPEND mode — "
    "the oracle encodes Spark's exact algebra (data filtered with the "
    "one-batch-LAGGED watermark, windows emitted once end <= final "
    "watermark), validated against numRowsDroppedByWatermark.",
    tags=("streaming", "watermark", "late-data", "window"),
)
def q130_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        replay_files,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    batches = [
        ev.filter(F.pmod("event_id", F.lit(_Q130_BATCHES)) == i)
        for i in range(_Q130_BATCHES)
    ]
    with replay_files(spark, batches) as stream:
        agg = (
            stream.withWatermark("ts", "90 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(
                F.count("*").alias("n_events"),
                (
                    F.sum(
                        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                    )
                    / 100.0
                ).alias("sum_value"),
            )
            .select(
                F.expr("unix_millis(w.start)").alias("window_start_ms"),
                "n_events",
                "sum_value",
            )
        )
        return drain_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# q131 — COGROUP RECONCILIATION (applyInPandas over a cogroup — the one
# Pandas-UDF form the UDF matrix lacked): orders and lineitem co-grouped
# on the order key, each key's pair of Arrow batches reconciled in
# pandas (header total vs sum of line extended prices, both quantized to
# integer cents IN the worker so the comparison is exact), then a tiny
# presence-class rollup (both / order_only / lineitem_only). The closure
# is fully self-contained (executor workers cannot import this package —
# CLAUDE.md invariant 3). One co-partitioned shuffle on the key; the
# pandas stage sees each key once, never the whole table. The oracle is
# a FULL OUTER JOIN of the two aggregates.
# ---------------------------------------------------------------------------
@register(
    "q131_cogroup_reconcile",
    """
    WITH o AS (
      SELECT o_orderkey AS k,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS o_cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY o_orderkey
    ),
    l AS (
      SELECT l_orderkey AS k,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS l_cents,
             COUNT(*) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT COALESCE(o.k, l.k) AS k,
             CASE WHEN o.k IS NULL THEN 'lineitem_only'
                  WHEN l.k IS NULL THEN 'order_only'
                  ELSE 'both' END AS presence,
             COALESCE(o.o_cents, 0) AS o_cents,
             COALESCE(l.l_cents, 0) AS l_cents,
             COALESCE(l.n_lines, 0) AS n_lines
      FROM o FULL OUTER JOIN l ON l.k = o.k
    )
    SELECT presence,
           COUNT(*) AS n_keys,
           CAST(SUM(n_lines) AS BIGINT) AS n_lines,
           CAST(SUM(abs(o_cents - l_cents)) AS BIGINT) AS abs_diff_cents
    FROM j GROUP BY presence
    """,
    description="Cogroup reconciliation via applyInPandas over "
    "groupBy().cogroup() — orders vs lineitem totals per order key, "
    "quantized to integer cents inside the worker, rolled up by "
    "presence class; self-contained closure, one co-partitioned "
    "shuffle; oracle is the FULL OUTER JOIN of both aggregates.",
    tags=("udf", "cogroup", "join", "audit"),
)
def q131_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    lines = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )

    # Cogroup on a HASH BUCKET of the key, not the key itself: per-key
    # cogroups make one Python call per order (measured 60s at sf0.1 —
    # interpreter overhead on ~150k 1-5 row groups); bucketing gives
    # each Arrow batch ~N/buckets keys and the reconciliation vectorizes
    # as one pandas outer merge per bucket. At larger corpora the bucket
    # count is the dial that keeps per-task memory bounded; at sf0.1,
    # 128 buckets measured ~10% faster than 256 (median 0.99s vs 1.08s
    # over 6 interleaved warm runs — fewer Arrow batch round-trips at
    # the same per-task memory headroom), so 128 is the registered form.
    def reconcile(odf, ldf):
        # Self-contained: numpy/pandas only; executor can't import the
        # repo. np.floor on float64 is the same IEEE op both engines use.
        import numpy as np
        import pandas as pd

        oc = (
            odf.assign(
                c=np.floor(
                    odf["o_totalprice"].to_numpy() * 100 + 0.5
                ).astype("int64")
            )
            .groupby("o_orderkey")
            .agg(o_cents=("c", "sum"))
            if len(odf)
            else pd.DataFrame(columns=["o_cents"])
        )
        lc = (
            ldf.assign(
                c=np.floor(
                    ldf["l_extendedprice"].to_numpy() * 100 + 0.5
                ).astype("int64")
            )
            .groupby("l_orderkey")
            .agg(l_cents=("c", "sum"), n_lines=("c", "size"))
            if len(ldf)
            else pd.DataFrame(columns=["l_cents", "n_lines"])
        )
        j = oc.join(lc, how="outer")
        has_o = j["o_cents"].notna()
        has_l = j["l_cents"].notna()
        presence = np.where(
            has_o & has_l, "both", np.where(has_o, "order_only", "lineitem_only")
        )
        return pd.DataFrame(
            {
                "presence": presence,
                "n_lines": j["n_lines"].fillna(0).astype("int64"),
                "abs_diff_cents": (
                    j["o_cents"].fillna(0) - j["l_cents"].fillna(0)
                )
                .abs()
                .astype("int64"),
            }
        )

    per_key = (
        orders.groupBy(F.expr("o_orderkey % 128").alias("b"))
        .cogroup(lines.groupBy(F.expr("l_orderkey % 128").alias("b")))
        .applyInPandas(
            reconcile,
            "presence string, n_lines long, abs_diff_cents long",
        )
    )
    return per_key.groupBy("presence").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.sum("abs_diff_cents").cast("long").alias("abs_diff_cents"),
    )


# ---------------------------------------------------------------------------
# q132 — VOCABULARY COVERAGE / OOV AUDIT: freeze a top-1000 vocabulary
# from a snapshot slice (doc_id % 10 = 0 — the q102 snapshot convention)
# under a total order (count DESC, word ASC — the rank-1000 tie is
# deterministic), then measure out-of-vocabulary token permille per
# language over the full corpus. The tokenizer-coverage check run before
# shipping a vocab: a lang whose OOV mass is high needs vocab growth or
# transliteration. Vocab is top-k via TakeOrderedAndProject (no global
# sort) and broadcast to the probe side; one word-count shuffle on the
# snapshot, one lang rollup on the corpus.
# ---------------------------------------------------------------------------
_OOV_K = 1000


@register(
    "q132_vocab_oov_coverage",
    f"""
    WITH vocab AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS c FROM (
          SELECT unnest(string_split(lower(text), ' ')) AS w
          FROM documents WHERE doc_id % 10 = 0
        ) GROUP BY w
      ) ORDER BY c DESC, w LIMIT {_OOV_K}
    ),
    tok AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    )
    SELECT t.lang,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST((1000 * SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS oov_permille
    FROM tok t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.lang
    """,
    description=f"Vocabulary OOV audit: top-{_OOV_K} vocab frozen from the "
    "doc_id%10 snapshot under a total order (count DESC, word ASC), "
    "broadcast against the full corpus, OOV token permille per language "
    "— the tokenizer-coverage gate; top-k via TakeOrderedAndProject, no "
    "global sort.",
    tags=("text", "tokens", "audit", "training-data"),
)
def q132_vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(_OOV_K)
        .select("w")
    )
    tok = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    joined = tok.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "w", "left"
    )
    return joined.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "CAST((1000 * SUM(CASE WHEN __in IS NULL THEN 1 ELSE 0 END))"
            " div COUNT(*) AS BIGINT)"
        ).alias("oov_permille"),
    )


# ---------------------------------------------------------------------------
# q133 — stream-stream LEFT OUTER interval join (q76's inner join plus
# the semantic inner joins cannot show: null-extension on WATERMARK
# EXPIRY). An unmatched error row emits (error, NULL) only once the
# global watermark — min of both sides' watermarks — passes the last
# instant a matching view could still arrive (vts < ts, so expiry is
# wm > ts); unmatched rows younger than the final watermark never emit.
# The oracle encodes exactly that: inner matches + NOT EXISTS rows with
# event-time-ms < min(max_error_ms, max_view_ms) - 2h, validated
# empirically (2002/2014 unmatched errors emit at sf0.01, 12 remain in
# state). Strictness at the boundary is measure-zero (microsecond event
# times). State is evicted by the same watermark, so memory is bounded
# by the interval + delay at any volume.
# ---------------------------------------------------------------------------
@register(
    "q133_stream_outer_join",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, epoch_ms(ts) AS tms,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'error'
    ),
    v AS (
      SELECT event_id AS view_id, user_id AS vu, ts AS vts,
             epoch_ms(ts) AS vms,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS vs
      FROM events WHERE event_type = 'view'
    ),
    fwm AS (
      SELECT least((SELECT MAX(tms) FROM e), (SELECT MAX(vms) FROM v))
             - 7200000 AS w
    ),
    matched AS (
      SELECT e.event_id, e.user_id, COUNT(*) AS n_preceding_views
      FROM e JOIN v
        ON v.vu = e.user_id AND v.vs >= e.es - 600 AND v.vs < e.es
       AND v.vts >= e.ts - INTERVAL 11 MINUTE AND v.vts <= e.ts
      GROUP BY e.event_id, e.user_id
    ),
    expired_unmatched AS (
      SELECT e.event_id, e.user_id, CAST(0 AS BIGINT) AS n_preceding_views
      FROM e, fwm
      WHERE e.tms < fwm.w
        AND NOT EXISTS (
          SELECT 1 FROM v
          WHERE v.vu = e.user_id AND v.vs >= e.es - 600 AND v.vs < e.es
            AND v.vts >= e.ts - INTERVAL 11 MINUTE AND v.vts <= e.ts
        )
    )
    SELECT event_id, user_id, n_preceding_views FROM matched
    UNION ALL
    SELECT event_id, user_id, n_preceding_views FROM expired_unmatched
    """,
    description="Stream-stream LEFT OUTER interval join: errors joined to "
    "preceding views within 10 minutes, with watermark-expiry "
    "null-extension — unmatched errors emit count 0 only once the "
    "global (min-of-both-sides) watermark passes their timestamp; the "
    "oracle reproduces matches + the exact expiry cutoff. State bounded "
    "by interval + delay.",
    tags=("streaming", "join", "watermark", "outer-join"),
)
def q133_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events")
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "2 hours")
    )
    joined = errors.join(
        views,
        F.expr(
            """
            user_id = v_user_id
            AND vts >= ts - INTERVAL 11 MINUTES
            AND vts <= ts
            AND unix_timestamp(vts) >= unix_timestamp(ts) - 600
            AND unix_timestamp(vts) < unix_timestamp(ts)
            """
        ),
        "left_outer",
    ).select("event_id", "user_id", "view_id")
    return (
        drain_to_memory(joined, "append")
        .groupBy("event_id", "user_id")
        .agg(F.count("view_id").cast("long").alias("n_preceding_views"))
    )


# ---------------------------------------------------------------------------
# q134 — CHAINED STATEFUL OPERATORS (Spark 4's multi-stateful pipeline):
# a stream-stream interval join feeding a windowed aggregation in ONE
# streaming query — error events matched to a preceding view, then
# counted per hour, both operators holding watermark-bounded state. The
# watermark PROPAGATES through the join by simulation (SPARK-42376):
# the join delays only its own state eviction, not the downstream
# watermark, so the aggregation finalizes windows against the plain
# global watermark min(max_error, max_view) - 2h — which is exactly
# what the oracle encodes (verified empirically at sf0.01 and sf0.1).
# Before multi-stateful support this took two queries and an
# intermediate sink; state remains bounded by interval + delay in both
# operators.
# ---------------------------------------------------------------------------
@register(
    "q134_chained_stateful",
    """
    WITH e AS (
      SELECT event_id, user_id, ts, epoch_ms(ts) AS tms,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es
      FROM events WHERE event_type = 'error'
    ),
    v AS (
      SELECT user_id AS vu, ts AS vts, epoch_ms(ts) AS vms,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS vs
      FROM events WHERE event_type = 'view'
    ),
    fwm AS (
      SELECT least((SELECT MAX(tms) FROM e), (SELECT MAX(vms) FROM v))
             - 7200000 AS w
    ),
    pairs AS (
      SELECT ((e.tms // 3600000) + 1) * 3600000 AS wend
      FROM e JOIN v
        ON v.vu = e.user_id AND v.vs >= e.es - 600 AND v.vs < e.es
       AND v.vts >= e.ts - INTERVAL 11 MINUTE AND v.vts <= e.ts
    )
    SELECT CAST(p.wend - 3600000 AS BIGINT) AS window_start_ms,
           COUNT(*) AS n_pairs
    FROM pairs p, fwm
    GROUP BY p.wend, fwm.w
    HAVING p.wend <= fwm.w
    """,
    description="Chained stateful operators in one streaming query: "
    "stream-stream interval join (errors to preceding views) feeding an "
    "hourly windowed count — Spark 4 multi-stateful pipeline; the "
    "watermark propagates through the join undelayed (simulation, "
    "SPARK-42376), so the oracle finalizes windows at the plain global "
    "min-of-sides watermark.",
    tags=("streaming", "join", "window", "watermark", "multi-stateful"),
)
def q134_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.io import read_table_stream
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import drain_to_memory

    stream = read_table_stream(spark, sf_dir, "events")
    errors = (
        stream.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "2 hours")
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("vts"),
        )
        .withWatermark("vts", "2 hours")
    )
    joined = errors.join(
        views,
        F.expr(
            """
            user_id = v_user_id
            AND vts >= ts - INTERVAL 11 MINUTES
            AND vts <= ts
            AND unix_timestamp(vts) >= unix_timestamp(ts) - 600
            AND unix_timestamp(vts) < unix_timestamp(ts)
            """
        ),
    ).select("ts")
    agg = (
        joined.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.expr("unix_millis(w.start)").alias("window_start_ms"),
            "n_pairs",
        )
    )
    return drain_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# q135 — dropDuplicatesWithinWatermark (q81's unbounded-state dedup made
# scale-correct: dedup state EXPIRES): replayed over the q130 4-batch
# harness, a key re-emits once the watermark passes its state's
# first-seen timestamp + delay — bounded state is exactly the behavior
# that matters at 100 TB, and it is oracle-checked here. The DuckDB twin
# unrolls the 4-batch state machine per key (m_b = min event-ms of the
# key's rows surviving the late filter in batch b): state set by the
# first emitting batch, evicted and late-filtered with the one-batch-
# LAGGED watermark W_{b-2} (the same lag q130 pinned against
# stateOperators metrics; eviction lag verified the same way — only the
# lagged rule reproduces the emission counts). Within a batch, WHICH
# duplicate row seeds the state is row-order-dependent in Spark, so the
# replay writes each batch file sorted by (ts, event_id): the first row
# the operator sees per key is the MIN event time by construction, and
# the oracle's MIN form is exact, not scan-order luck.
# ---------------------------------------------------------------------------
_Q135_DELAY_MS = 90 * 60 * 1000


def _q135_oracle() -> str:
    D = _Q135_DELAY_MS
    key = "user_id, event_type"
    per_batch = []
    for b in range(4):
        late = (
            f" AND tms >= (SELECT wm FROM w WHERE b = {b - 2})"
            if b >= 2
            else ""
        )
        per_batch.append(
            f"k{b} AS (SELECT {key}, MIN(tms) AS m FROM e "
            f"WHERE b = {b}{late} GROUP BY {key})"
        )
    return f"""
    WITH e AS (
      SELECT event_id % 4 AS b, user_id, event_type, epoch_ms(ts) AS tms
      FROM events
    ),
    bm AS (SELECT b, MAX(tms) AS mx FROM e GROUP BY b),
    w AS (SELECT b, MAX(mx) OVER (ORDER BY b) - {D} AS wm FROM bm),
    {", ".join(per_batch)},
    keys AS (SELECT DISTINCT {key} FROM e),
    j AS (
      SELECT keys.user_id, keys.event_type,
             k0.m AS m0, k1.m AS m1, k2.m AS m2, k3.m AS m3
      FROM keys
      LEFT JOIN k0 USING (user_id, event_type)
      LEFT JOIN k1 USING (user_id, event_type)
      LEFT JOIN k2 USING (user_id, event_type)
      LEFT JOIN k3 USING (user_id, event_type)
    ),
    sim AS (
      SELECT user_id, event_type,
             m0, m1, m2, m3,
             COALESCE(m0, m1) + {D} AS s1,
             (SELECT wm FROM w WHERE b = 0) AS w0,
             (SELECT wm FROM w WHERE b = 1) AS w1
      FROM j
    ),
    sim2 AS (
      SELECT user_id, event_type, m0, m1, m2, m3, w1,
             (s1 IS NOT NULL AND s1 >= w0) AS alive2,
             CASE WHEN (s1 IS NOT NULL AND s1 >= w0) THEN s1
                  WHEN m2 IS NOT NULL THEN m2 + {D}
                  ELSE NULL END AS s2
      FROM sim
    ),
    emits AS (
      SELECT user_id, event_type,
             (CASE WHEN m0 IS NOT NULL THEN 1 ELSE 0 END
              + CASE WHEN m1 IS NOT NULL AND m0 IS NULL THEN 1 ELSE 0 END
              + CASE WHEN m2 IS NOT NULL AND NOT alive2 THEN 1 ELSE 0 END
              + CASE WHEN m3 IS NOT NULL
                          AND NOT (s2 IS NOT NULL AND s2 >= w1)
                     THEN 1 ELSE 0 END) AS n_emissions
      FROM sim2
    )
    SELECT event_type,
           COUNT(*) AS n_keys,
           CAST(SUM(n_emissions) AS BIGINT) AS n_emissions,
           CAST(SUM(CASE WHEN n_emissions > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_reemitted
    FROM emits
    WHERE n_emissions > 0
    GROUP BY event_type
    """


@register(
    "q135_streaming_dedup_within_watermark",
    _q135_oracle(),
    description="dropDuplicatesWithinWatermark over a 4-micro-batch "
    "replay: dedup state EXPIRES at first-seen + 90min so late "
    "re-occurrences re-emit — bounded-state streaming dedup, with the "
    "full per-key 4-batch state machine (lagged-watermark late filter "
    "AND eviction) unrolled in the oracle; per-event-type key/emission/"
    "re-emission counts.",
    tags=("streaming", "dedup", "watermark", "state"),
)
def q135_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        replay_files,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    # Each batch file is SORTED by (ts, event_id): the dedup operator
    # sees a key's rows in event-time order (single map task per file,
    # order preserved per reducer), so the state seed is the MIN event
    # time BY CONSTRUCTION — not scan-order luck. Without the sort, Spark
    # seeds from whichever duplicate happens first in file order and the
    # oracle would be row-order-dependent (min-vs-max seeding measurably
    # diverges at sf0.1).
    batches = [
        ev.filter(F.pmod("event_id", F.lit(4)) == i).orderBy("ts", "event_id")
        for i in range(4)
    ]
    with replay_files(spark, batches) as stream:
        dedup = (
            stream.withWatermark("ts", "90 minutes")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        per_key = (
            drain_to_memory(dedup, "append")
            .groupBy("user_id", "event_type")
            .agg(F.count("*").alias("n_emissions"))
        )
    return per_key.groupBy("event_type").agg(
        F.count("*").alias("n_keys"),
        F.sum("n_emissions").cast("long").alias("n_emissions"),
        F.sum(F.when(F.col("n_emissions") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_reemitted"),
    )


# ---------------------------------------------------------------------------
# q136 — K-ANONYMITY AUDIT (the privacy gate before a dataset release):
# group by the quasi-identifier tuple (user cohort, event_type, day) and
# report, per event_type, how many QI-groups and rows fall below k=5 —
# rows whose QI combination is so rare they are re-identifiable. One
# map-combined shuffle on the QI tuple plus a tiny rollup; at 100 TB the
# QI cardinality (cohorts x types x days), not the row count, bounds the
# aggregation state. Cohort = user_id div 10 — the generalization step
# k-anonymization applies to a high-cardinality identifier.
# ---------------------------------------------------------------------------
_KANON_K = 5


@register(
    "q136_k_anonymity_audit",
    f"""
    WITH qi AS (
      SELECT event_type,
             user_id // 10 AS cohort,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(*) AS n
      FROM events
      GROUP BY event_type, cohort, d
    )
    SELECT event_type,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
             AS n_exposed_rows,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM qi GROUP BY event_type
    """,
    description=f"k-anonymity audit (k={_KANON_K}): per event_type, the "
    "quasi-identifier groups (user cohort x day) too small to release — "
    "group counts, exposed rows, min group size; one QI-tuple shuffle "
    "whose state is bounded by QI cardinality, not rows.",
    tags=("audit", "privacy", "agg", "training-data"),
)
def q136_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    qi = ev.groupBy(
        "event_type",
        F.expr("user_id div 10").alias("cohort"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(F.count("*").alias("n"))
    return qi.groupBy("event_type").agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("n") < _KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
        F.min("n").cast("long").alias("min_group_size"),
    )


# ---------------------------------------------------------------------------
# q137 — LABEL-SHIFT AUDIT via total-variation distance: compare the
# label distribution of the embedding corpus's snapshot half (vec_id %
# 2 = 0) against the live half. TVD = 1/2 * sum |p - q| in exact
# integer arithmetic: per-label counts scaled to permille by integer
# division against broadcast totals, then one |p-q| sum — no ln()/KL,
# whose float behavior diverges across engines (the same reason q96
# uses rational decay). This is the drift gate run before retraining:
# TVD above threshold means the new data's label mix moved. Two tiny
# label-count aggregations + a broadcast join of 1-row totals.
# ---------------------------------------------------------------------------
@register(
    "q137_label_shift_tvd",
    """
    WITH a AS (
      SELECT label, COUNT(*) AS n FROM embeddings
      WHERE vec_id % 2 = 0 GROUP BY label
    ),
    b AS (
      SELECT label, COUNT(*) AS n FROM embeddings
      WHERE vec_id % 2 = 1 GROUP BY label
    ),
    ta AS (SELECT SUM(n) AS t FROM a),
    tb AS (SELECT SUM(n) AS t FROM b),
    labels AS (
      SELECT label FROM a UNION SELECT label FROM b
    ),
    j AS (
      SELECT l.label,
             CAST((1000 * COALESCE(a.n, 0)) // ta.t AS BIGINT) AS p_permille,
             CAST((1000 * COALESCE(b.n, 0)) // tb.t AS BIGINT) AS q_permille
      FROM labels l
      LEFT JOIN a ON a.label = l.label
      LEFT JOIN b ON b.label = l.label, ta, tb
    )
    SELECT label, p_permille, q_permille,
           CAST(abs(p_permille - q_permille) AS BIGINT) AS abs_diff
    FROM j
    """,
    description="Label-shift audit: snapshot-vs-live label distributions "
    "compared per label in exact integer permille (total-variation "
    "components — no ln()/KL float divergence); two label-count "
    "aggregations + broadcast 1-row totals.",
    tags=("audit", "drift", "ml", "agg"),
)
def q137_label_shift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    a = (
        emb.filter(F.col("vec_id") % 2 == 0)
        .groupBy("label")
        .agg(F.count("*").alias("na"))
    )
    b = (
        emb.filter(F.col("vec_id") % 2 == 1)
        .groupBy("label")
        .agg(F.count("*").alias("nb"))
    )
    ta = a.agg(F.sum("na").alias("__ta")).withColumn("__k", F.lit(1))
    tb = b.agg(F.sum("nb").alias("__tb")).withColumn("__k", F.lit(1))
    labels = a.select("label").union(b.select("label")).distinct()
    j = (
        labels.join(a, "label", "left")
        .join(b, "label", "left")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(ta), "__k")
        .join(F.broadcast(tb), "__k")
        .select(
            "label",
            F.expr("(1000 * COALESCE(na, 0)) div __ta").alias("p_permille"),
            F.expr("(1000 * COALESCE(nb, 0)) div __tb").alias("q_permille"),
        )
    )
    return j.select(
        "label",
        "p_permille",
        "q_permille",
        F.abs(F.col("p_permille") - F.col("q_permille"))
        .cast("long")
        .alias("abs_diff"),
    )


# ---------------------------------------------------------------------------
# q138 — TPC-H Q5-SHAPE STAR JOIN: lineitem joins orders (the one
# genuine fact-fact join in the schema), both correlated dimension
# chains (customer->nation->region and supplier, with the Q5 "local
# supplier" condition c_nationkey = s_nationkey), a region filter that
# prunes the dim chain at the scan, and a one-year date window pushed
# into the orders scan. The revenue expression quantizes
# l_extendedprice*(1-l_discount) per row BEFORE the integer sum
# (registry rule 1; the product of two doubles is one exact IEEE op).
# Catalyst broadcasts every dim and reorders the join chain; only
# lineitem<->orders shuffles — the plan shape TPC-H Q5 exists to test.
# ---------------------------------------------------------------------------
@register(
    "q138_star_join_q5",
    """
    SELECT n.n_name AS nation_name,
           COUNT(*) AS n_lineitems,
           (CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                                * 100 + 0.5) AS BIGINT)) AS BIGINT)
            / 100.0) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    description="TPC-H Q5-shape join: the lineitem-orders fact-fact join "
    "plus both correlated dim chains (local-supplier condition), region "
    "filter pruning the dim chain and a pushed one-year date window; "
    "per-nation revenue with per-row quantized discount arithmetic.",
    tags=("join", "star", "agg", "pushdown"),
)
def q138_star_join_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    rev_q = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    ).cast("long")
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.count("*").alias("n_lineitems"),
        (F.sum(rev_q) / 100.0).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q139 — A/B EXPOSURE AUDIT: users hash-split into two variants
# (user_id % 2 — deterministic assignment, the md5-threshold form of
# q124 is the production assigner), per variant: exposed users (any
# 'view'), converted users (a 'purchase' strictly after their first
# view — q93's gated-window machinery), and the conversion rate in
# exact integer permille. One user_id shuffle for the windows, then a
# 2-row rollup — the experiment-analysis readout every product
# pipeline runs next to its funnels.
# ---------------------------------------------------------------------------
@register(
    "q139_ab_exposure_audit",
    """
    WITH w1 AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS first_view
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)
               AS exposed,
             MAX(CASE WHEN event_type = 'purchase' AND ts > first_view
                      THEN 1 ELSE 0 END) AS converted
      FROM w1 GROUP BY user_id
    )
    SELECT CAST(user_id % 2 AS BIGINT) AS variant,
           COUNT(*) AS n_users,
           CAST(SUM(exposed) AS BIGINT) AS n_exposed,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           CAST((1000 * SUM(converted)) // SUM(exposed) AS BIGINT)
             AS conv_permille
    FROM per_user
    GROUP BY variant
    """,
    description="A/B exposure audit: deterministic variant split, "
    "exposed (any view) and converted (purchase strictly after first "
    "view) users per variant with exact integer permille conversion — "
    "one user_id shuffle + 2-row rollup.",
    tags=("window", "funnel", "experiment", "agg"),
)
def q139_ab_exposure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    staged = ev.withColumn(
        "first_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    per_user = staged.groupBy("user_id").agg(
        F.max(
            F.when(F.col("first_view").isNotNull(), 1).otherwise(0)
        ).alias("exposed"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("first_view")),
                1,
            ).otherwise(0)
        ).alias("converted"),
    )
    return per_user.groupBy(
        F.expr("CAST(user_id % 2 AS BIGINT)").alias("variant")
    ).agg(
        F.count("*").alias("n_users"),
        F.sum("exposed").cast("long").alias("n_exposed"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("CAST((1000 * SUM(converted)) div SUM(exposed) AS BIGINT)")
        .alias("conv_permille"),
    )


# ---------------------------------------------------------------------------
# q140 — WINSORIZED ROBUST MEAN per group: exact interpolated p05/p95
# per l_returnflag (the q09 percentile machinery, grouped), values
# CLIPPED to the fences, then the quantized mean — the robust
# preprocessing that makes a mean survive heavy tails without dropping
# rows (q97's MAD audit is the detector; this is the treatment). The
# per-group fences are a 3-row aggregate broadcast back onto the fact;
# boundary equality is harmless because clip leaves boundary values
# unchanged under either comparison.
# ---------------------------------------------------------------------------
@register(
    "q140_winsorized_mean",
    """
    WITH fences AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    ),
    clipped AS (
      SELECT l.l_returnflag,
             CAST(FLOOR(
               CASE WHEN l.l_extendedprice < f.lo THEN f.lo
                    WHEN l.l_extendedprice > f.hi THEN f.hi
                    ELSE l.l_extendedprice END * 100 + 0.5
             ) AS BIGINT) AS q
      FROM lineitem l JOIN fences f ON f.l_returnflag = l.l_returnflag
    )
    SELECT l_returnflag, COUNT(*) AS n_rows,
           (CAST(SUM(q) AS BIGINT) / 100.0) / COUNT(*) AS winsorized_mean
    FROM clipped GROUP BY l_returnflag
    """,
    description="Winsorized mean per return flag: exact interpolated "
    "p05/p95 fences (3-row aggregate broadcast back), values clipped "
    "then quantized-mean'd — the heavy-tail-robust treatment paired "
    "with q97's MAD detector.",
    tags=("agg", "quantile", "robust-stats"),
)
def q140_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    fences = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.05)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("hi"),
    )
    clipped = li.join(F.broadcast(fences), "l_returnflag").select(
        "l_returnflag",
        F.floor(
            F.when(F.col("l_extendedprice") < F.col("lo"), F.col("lo"))
            .when(F.col("l_extendedprice") > F.col("hi"), F.col("hi"))
            .otherwise(F.col("l_extendedprice"))
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("q"),
    )
    return clipped.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        ((F.sum("q") / 100.0) / F.count("*")).alias("winsorized_mean"),
    )


# ---------------------------------------------------------------------------
# q141 — trailing time-RANGE window (the frame q47's row-based moving
# average cannot express): per user, the sum of quantized values over
# the trailing hour by EVENT TIME — a RANGE frame over epoch seconds,
# so rows with equal timestamps are frame-peers (set-based, order-
# insensitive — no tiebreak needed, unlike ROWS frames). One user_id
# shuffle; frame evaluation is a per-partition sliding aggregate. The
# top-20 heaviest trailing windows surface burst users under a total
# order.
# ---------------------------------------------------------------------------
@register(
    "q141_trailing_range_window",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS es,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    w AS (
      SELECT event_id, user_id,
             CAST(SUM(qv) OVER (PARTITION BY user_id ORDER BY es
                                RANGE BETWEEN 3599 PRECEDING
                                AND CURRENT ROW) AS BIGINT)
               AS trailing_hour_q
      FROM e
    )
    SELECT event_id, user_id, trailing_hour_q
    FROM w
    ORDER BY trailing_hour_q DESC, event_id
    LIMIT 20
    """,
    description="Trailing 1-hour RANGE-frame sum per user over epoch "
    "seconds — equal-timestamp rows are frame peers, so the frame is "
    "set-based and needs no tiebreak; top-20 burst windows under a "
    "total order. One user_id shuffle.",
    tags=("window", "range-frame", "time"),
)
def q141_trailing_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("es"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3599, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.sum("qv").over(w).cast("long").alias("trailing_hour_q"),
        )
        .orderBy(F.desc("trailing_hour_q"), F.asc("event_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q142 — FORWARD FILL (gap-filling imputation): purchases carry the
# only "real" readings; every other event's value is masked NULL and
# filled from the user's most recent purchase via last_value IGNORE
# NULLS over the (ts, event_id) total order — the sensor/price
# gap-fill that P10's static imputation cannot express. Values quantize
# BEFORE the fill so the filled column is integer end-to-end. One
# user_id shuffle; per-user audit rollup (how many rows got a fill,
# the filled sum).
# ---------------------------------------------------------------------------
@register(
    "q142_forward_fill",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  ELSE NULL END AS qv
      FROM events
    ),
    filled AS (
      SELECT user_id,
             last_value(qv IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS fv
      FROM e
    )
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(COUNT(fv) AS BIGINT) AS n_filled,
           CAST(COALESCE(SUM(fv), 0) AS BIGINT) AS filled_sum_q
    FROM filled GROUP BY user_id
    ORDER BY user_id
    LIMIT 50
    """,
    description="Forward-fill imputation: sparse readings (purchases) "
    "propagated to every later row per user via last_value IGNORE NULLS "
    "over a total order, quantized before filling; per-user fill audit, "
    "one user_id shuffle.",
    tags=("window", "imputation", "time"),
)
def q142_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id", F.last("qv", ignorenulls=True).over(w).alias("fv")
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("fv").cast("long").alias("n_filled"),
            F.coalesce(F.sum("fv"), F.lit(0)).cast("long")
            .alias("filled_sum_q"),
        )
        .orderBy("user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# q143 — COMPLETENESS / GAP AUDIT (islands-and-gaps): per event_type,
# how many of the expected hourly buckets (the global min..max hour
# spine) actually contain events, how many are missing, and the longest
# gap in hours (LAG over the distinct present hours — the window runs
# over hours x types, thousands of rows, never raw events). The
# data-delivery SLA check every ingest pipeline runs; one distinct-hour
# aggregation plus a tiny window.
# ---------------------------------------------------------------------------
@register(
    "q143_completeness_gaps",
    """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600 AS hr
      FROM events
    ),
    spine AS (
      SELECT MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) AS h0,
             MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 3600) AS h1
      FROM events
    ),
    gaps AS (
      SELECT event_type, hr,
             hr - lag(hr) OVER (PARTITION BY event_type ORDER BY hr) - 1
               AS gap
      FROM h
    )
    SELECT g.event_type,
           COUNT(*) AS n_hours_present,
           CAST(s.h1 - s.h0 + 1 AS BIGINT) AS n_hours_expected,
           CAST(s.h1 - s.h0 + 1 - COUNT(*) AS BIGINT) AS n_missing,
           CAST(COALESCE(MAX(g.gap), 0) AS BIGINT) AS max_gap_hours
    FROM gaps g, spine s
    GROUP BY g.event_type, s.h0, s.h1
    """,
    description="Completeness audit: per event_type, present vs expected "
    "hourly buckets on the global spine and the longest gap (LAG over "
    "distinct hours — the window sees hours x types, never raw events); "
    "the ingest-SLA check.",
    tags=("audit", "window", "time", "data-quality"),
)
def q143_completeness_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = read_table(spark, sf_dir, "events")
    hr = F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT) div 3600")
    h = ev.select("event_type", hr.alias("hr")).distinct()
    spine = ev.agg(
        F.expr("MIN(CAST(unix_timestamp(ts) AS BIGINT) div 3600)").alias("h0"),
        F.expr("MAX(CAST(unix_timestamp(ts) AS BIGINT) div 3600)").alias("h1"),
    ).withColumn("__k", F.lit(1))
    w = Window.partitionBy("event_type").orderBy("hr")
    gaps = h.withColumn("gap", F.col("hr") - F.lag("hr").over(w) - 1)
    return (
        gaps.withColumn("__k", F.lit(1))
        .join(F.broadcast(spine), "__k")
        .groupBy("event_type", "h0", "h1")
        .agg(
            F.count("*").alias("n_hours_present"),
            F.coalesce(F.max("gap"), F.lit(0)).cast("long")
            .alias("max_gap_hours"),
        )
        .select(
            "event_type",
            "n_hours_present",
            F.expr("CAST(h1 - h0 + 1 AS BIGINT)").alias("n_hours_expected"),
            F.expr("CAST(h1 - h0 + 1 - n_hours_present AS BIGINT)").alias(
                "n_missing"
            ),
            "max_gap_hours",
        )
    )


# ---------------------------------------------------------------------------
# q144 — KEEP-BEST DEDUP (the production dedup output policy): q68's
# duplicate clusters, but the canonical survivor is the HIGHEST-QUALITY
# member (longest n_chars, doc_id tiebreak), not the arbitrary
# min-doc_id — what a curation pipeline actually ships (q31's
# keep-first is the cheap baseline). Per multi-member cluster: the kept
# doc, member count, and an order-free integer checksum of the removed
# ids. Costs q68's CC plus one argmax window over cluster members
# (thousands of rows, never the corpus).
# ---------------------------------------------------------------------------
@register(
    "q144_keep_best_dedup",
    _cc_sql_prefix()
    + """
    , scored AS (
      SELECT l.doc_id, l.cluster, d.n_chars
      FROM labels l JOIN documents d ON d.doc_id = l.doc_id
    ),
    best AS (
      SELECT cluster, doc_id AS keep_doc_id FROM (
        SELECT cluster, doc_id,
               ROW_NUMBER() OVER (PARTITION BY cluster
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT s.cluster, b.keep_doc_id,
           COUNT(*) AS n_members,
           CAST(SUM(CASE WHEN s.doc_id <> b.keep_doc_id
                         THEN s.doc_id ELSE 0 END) AS BIGINT)
             AS removed_id_sum
    FROM scored s JOIN best b ON b.cluster = s.cluster
    GROUP BY s.cluster, b.keep_doc_id
    """,
    description="Keep-best dedup: q68's near-dup clusters with the "
    "HIGHEST-QUALITY member kept (n_chars argmax, doc_id tiebreak) — "
    "the survivor policy curation ships, vs q31's keep-first; per "
    "cluster the kept doc, member count, and an order-free removed-id "
    "checksum.",
    tags=("dedup", "clustering", "quality", "training-data"),
)
def q144_keep_best_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    # Shared build: converged CC labels from the same fingerprint-keyed
    # session memo as q68/q112.
    labels = _minhash_cc_labels(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    ).select(F.col("node").alias("doc_id"), "cluster")
    scored = labels.join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("doc_id").alias("keep_doc_id"))
    )
    return (
        scored.join(best, "cluster")
        .groupBy("cluster", "keep_doc_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("keep_doc_id"), F.col("doc_id")
                ).otherwise(0)
            )
            .cast("long")
            .alias("removed_id_sum"),
        )
    )


# ---------------------------------------------------------------------------
# q145 — ANN RECALL EVALUATION: the deployment gate every approximate
# index needs — recall@10 of the SRP-bucket (q36) and IVF (q66) paths
# against the brute-force exact top-10 (q34) ground truth, for the same
# query vector. All three pipelines are deterministic (md5 planes,
# quantized argmin, total-order tops), so recall is an EXACT integer
# here, not a sampled estimate — and the oracle composes the three
# registered oracle subqueries verbatim, proving the whole eval is
# reproducible outside Spark. Retrieval stays index-pruned (bucket /
# cluster probes); only top-k lists (tens of rows) reach the join.
# ---------------------------------------------------------------------------
def _q145_oracle() -> str:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import QUERIES as _Q

    brute = _Q["q34_embedding_topk"].oracle
    srp = _Q["q36_ann_srp_bucket"].oracle
    ivf = _Q["q66_ivf_ann"].oracle
    return f"""
    WITH brute AS (SELECT vec_id FROM ({brute})),
    srp AS (
      SELECT vec_id FROM ({srp})
      ORDER BY cosine_sim DESC, vec_id LIMIT 10
    ),
    ivf AS (SELECT vec_id FROM ({ivf})),
    cand AS (
      SELECT 'srp_bucket' AS method, vec_id FROM srp
      UNION ALL
      SELECT 'ivf' AS method, vec_id FROM ivf
    )
    SELECT c.method,
           COUNT(*) AS k_retrieved,
           CAST(SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_recalled,
           CAST((1000 * SUM(CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END))
                // 10 AS BIGINT) AS recall_permille
    FROM cand c LEFT JOIN brute b ON b.vec_id = c.vec_id
    GROUP BY c.method
    """


@register(
    "q145_ann_recall_eval",
    _q145_oracle(),
    description="ANN recall@10 evaluation: SRP-bucket and IVF retrieval "
    "scored against the brute-force exact top-10 for the same query "
    "vector — exact integer recall (every pipeline is deterministic), "
    "composed verbatim from the three registered oracles; only top-k "
    "lists reach the eval join.",
    tags=("similarity", "ann", "eval", "audit"),
)
def q145_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Shared rankings (q164/q169 score the same three pipelines): each
    # pipeline is materialized once per session, not once per eval.
    rank = _ann_rankings(spark, sf_dir)
    brute = rank["brute"].select("vec_id")
    srp = (
        rank["srp"]
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ivf = rank["ivf"].select("vec_id")
    cand = srp.withColumn("method", F.lit("srp_bucket")).unionByName(
        ivf.withColumn("method", F.lit("ivf"))
    )
    flagged = cand.join(
        F.broadcast(brute.withColumn("__hit", F.lit(1))), "vec_id", "left"
    )
    return flagged.groupBy("method").agg(
        F.count("*").alias("k_retrieved"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
        .cast("long")
        .alias("n_recalled"),
        F.expr(
            "CAST((1000 * SUM(COALESCE(__hit, 0))) div 10 AS BIGINT)"
        ).alias("recall_permille"),
    )


# ---------------------------------------------------------------------------
# q146 — EXACT-INTEGER TREND (OLS slope without floats): per-source
# daily token production fitted with least squares entirely in integer
# arithmetic — slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) emitted as an
# exact (numerator, denominator) BIGINT pair plus a floor'd permille
# slope, so the capacity forecast ("is this source growing?") is
# bit-identical in any engine — float OLS (ddof variance paths, fused
# multiply-adds) is not. x = day index from the corpus epoch, y = daily
# whitespace tokens. One (source, day) rollup then a 20-row fit.
# ---------------------------------------------------------------------------
@register(
    "q146_integer_ols_trend",
    """
    WITH daily AS (
      SELECT source,
             CAST(doc_id % 30 AS BIGINT) AS day_idx,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS y
      FROM documents
      GROUP BY source, day_idx
    ),
    fit AS (
      SELECT source,
             COUNT(*) AS n,
             CAST(SUM(day_idx) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(day_idx * y) AS BIGINT) AS sxy,
             CAST(SUM(day_idx * day_idx) AS BIGINT) AS sxx
      FROM daily GROUP BY source
    )
    SELECT source, n,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(FLOOR((1000.0 * CAST(n * sxy - sx * sy AS DOUBLE))
                      / (n * sxx - sx * sx) + 0.5)
                AS BIGINT) AS slope_permille
    FROM fit
    """,
    description="Exact-integer OLS: per-source daily-token trend as the "
    "rational slope (n*Sxy-Sx*Sy)/(n*Sxx-Sx^2) in BIGINT pairs plus a "
    "round-half-up permille quantized on an exact double (signed-safe "
    "per CLAUDE.md lesson 11) — bit-identical capacity forecasting where "
    "float OLS is not; one (source, day) rollup + 20-row fit.",
    tags=("agg", "regression", "audit", "training-data"),
)
def q146_integer_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    daily = docs.groupBy(
        "source", F.expr("CAST(doc_id % 30 AS BIGINT)").alias("day_idx")
    ).agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("y")
    )
    fit = daily.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("day_idx").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("day_idx") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("day_idx") * F.col("day_idx")).cast("long").alias("sxx"),
    )
    return fit.select(
        "source",
        "n",
        F.expr("CAST(n * sxy - sx * sy AS BIGINT)").alias("slope_num"),
        F.expr("CAST(n * sxx - sx * sx AS BIGINT)").alias("slope_den"),
        F.expr(
            # Lesson 11 (CLAUDE.md): integer `div`//`//` diverge on negative
            # operands (truncate-toward-zero vs floor).  The slope numerator
            # IS signed (roughly half the sources trend down), so quantize
            # on an exactly-computed double instead: num/den are exact
            # BIGINTs, and (1000.0*num)/den + 0.5 -> FLOOR is the identical
            # IEEE sequence in both engines.  1000.0D forces DOUBLE (Spark
            # SQL text parses bare 1000.0 as DECIMAL, CLAUDE.md rule 4).
            "CAST(FLOOR((1000.0D * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (n * sxx - sx * sx) + 0.5D) AS BIGINT)"
        ).alias("slope_permille"),
    )


# ---------------------------------------------------------------------------
# q147 — COHORT RETENTION MATRIX: users grouped by first-seen week
# (cohort), counted in each subsequent activity week — the retention
# triangle every growth dashboard draws. Two passes over one user_id
# partitioning (first-seen via a whole-partition MIN window, then the
# distinct (cohort, week, user) rollup); the matrix is weeks x weeks,
# never rows. Week index = epoch days div 7 from the global epoch,
# exact integer in both engines.
# ---------------------------------------------------------------------------
@register(
    "q147_cohort_retention",
    """
    WITH e AS (
      SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 604800 AS week
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(week) AS cohort FROM e GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort, e.week
      FROM e JOIN firsts f ON f.user_id = e.user_id
    )
    SELECT cohort,
           CAST(week - cohort AS BIGINT) AS weeks_since,
           COUNT(*) AS n_active_users
    FROM active
    GROUP BY cohort, weeks_since
    """,
    description="Cohort retention triangle: users by first-seen week, "
    "counted in each later activity week (weeks-since offset) — two "
    "aggregations over one user_id key, matrix bounded by weeks^2, "
    "exact integer week math.",
    tags=("agg", "cohort", "window", "analytics"),
)
def q147_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 604800").alias("week"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("week").alias("cohort"))
    active = (
        ev.join(firsts, "user_id")
        .select("user_id", "cohort", "week")
        .distinct()
    )
    return active.groupBy(
        "cohort", F.expr("CAST(week - cohort AS BIGINT)").alias("weeks_since")
    ).agg(F.count("*").alias("n_active_users"))


# ---------------------------------------------------------------------------
# q148 — EMBEDDING COMPONENT VARIANCE SPECTRUM: per-dimension energy
# (quantized mean and variance) across the corpus — the audit that says
# WHY q119's Matryoshka truncation works (leading components carry the
# variance) and which tail dimensions are dead weight. posexplode keeps
# the dimension index; variance is the exact integer rational
# (n*Sxx - Sx^2)/n^2 over quantized components, but computed in the
# CENTERED, DIVIDE-EARLY form so no intermediate needs the ~n^2*q^2
# headroom the naive form does (n*Sxx overflows int64 around n~1e6 for
# unit-scale embeddings at quantization 1000 — DuckDB would raise,
# Spark would silently wrap):
#   pass 1: per-dim integer mean m = round_half_up(Sx/n) (16 rows,
#           broadcast back);
#   pass 2: centered sums s1 = SUM(q-m), s2 = SUM((q-m)^2). Shift
#           invariance gives n*Sxx - Sx^2 == n*s2 - s1^2 EXACTLY, and
#           |s1| <= n/2 by the rounding, so with a = s2 div n,
#           r = s2 % n (both operands non-negative, lesson 11 safe):
#             var_q = (n*s2 - s1^2) div n^2
#                   = a + floor((n*r - s1^2)/n^2)
#                   = a - (1 if n*r < s1^2 else 0)
#           because -n^2/4 <= n*r - s1^2 < n^2 pins the floor term to
#           {-1, 0} — no wide product survives. Largest intermediates:
#           s1^2 <= n^2/4 and n*r < n^2, so EXACT while n < 3.0e9 rows
#           per dim (vs ~1e6 naive); s2 ~ n*var_q holds to n ~ 1e12.
#   mean_q reconstructs Sx = s1 + n*m exactly (BIGINT, ~n*|mean|) and
#   applies the lesson-11 round-half-up on an exact double (Sx can be
#   negative; div/`//` would diverge).
# The oracle casts the float32 array to DOUBLE[] first — raw FLOAT
# arithmetic in DuckDB diverges from Spark's float64 lambda. One extra
# tiny rollup + broadcast vs the naive form; 16 output rows.
# ---------------------------------------------------------------------------
@register(
    "q148_component_variance",
    """
    WITH e AS (
      SELECT CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    c0 AS (
      SELECT unnest(list_transform(
               generate_series(1, len(ev)),
               i -> {'dim': i - 1,
                     'q': CAST(FLOOR(ev[i] * 1000 + 0.5) AS BIGINT)}
             )) AS s
      FROM e
    ),
    c AS (SELECT s.dim AS dim, s.q AS q FROM c0),
    means AS (
      SELECT dim,
             CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
               AS m
      FROM c GROUP BY dim
    ),
    agg AS (
      SELECT c.dim, COUNT(*) AS n, ANY_VALUE(means.m) AS m,
             CAST(SUM(q - m) AS BIGINT) AS s1,
             CAST(SUM((q - m) * (q - m)) AS BIGINT) AS s2
      FROM c JOIN means ON means.dim = c.dim
      GROUP BY c.dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           CAST(FLOOR(CAST(1000 * (s1 + n * m) AS DOUBLE) / n + 0.5)
                AS BIGINT) AS mean_q,
           CAST((s2 // n) - (CASE WHEN n * (s2 % n) < s1 * s1
                             THEN 1 ELSE 0 END) AS BIGINT) AS var_q
    FROM agg
    """,
    description="Embedding component variance spectrum: per-dimension "
    "quantized mean and exact integer variance ((n*Sxx-Sx^2)/n^2), "
    "computed via centered divide-early sums so intermediates stay in "
    "int64 to ~3e9 rows/dim (naive n*Sxx wraps at ~1e6) — the energy "
    "audit behind q119's truncation fidelity; posexplode + a 16-row "
    "mean broadcast + one dim rollup, 16 rows.",
    tags=("embedding", "audit", "agg", "compression"),
)
def q148_component_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    c = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * 1000 + 0.5).cast(
                    "long"
                ),
            )
        ).alias("dim", "q")
    )
    means = c.groupBy("dim").agg(
        F.expr(
            "CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5D) AS BIGINT)"
        ).alias("m")
    )
    agg = (
        c.join(F.broadcast(means), "dim")
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.first("m").alias("m"),
            F.sum(F.col("q") - F.col("m")).cast("long").alias("s1"),
            F.sum((F.col("q") - F.col("m")) * (F.col("q") - F.col("m")))
            .cast("long")
            .alias("s2"),
        )
    )
    return agg.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.expr(
            "CAST(FLOOR(CAST(1000 * (s1 + n * m) AS DOUBLE) / n + 0.5D)"
            " AS BIGINT)"
        ).alias("mean_q"),
        F.expr(
            "CAST((s2 div n) - (CASE WHEN n * (s2 % n) < s1 * s1"
            " THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("var_q"),
    )


# ---------------------------------------------------------------------------
# q149 — CROSS-LANGUAGE DUPLICATE AUDIT: identical normalized content
# appearing under MULTIPLE language labels — almost always a lang-ID
# mislabel or a template leak, and a poison pair for language-balanced
# sampling (q124/q126 quotas double-count it). One md5 fingerprint
# aggregation; flagged groups carry their languages as a SORTED
# comma-joined string (array order would be partition-dependent) and a
# min-doc_id anchor for triage.
# ---------------------------------------------------------------------------
@register(
    "q149_cross_language_dups",
    """
    WITH g AS (
      SELECT md5(lower(text)) AS content_md5,
             COUNT(*) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
      FROM documents
      GROUP BY content_md5
    )
    SELECT n_langs,
           COUNT(*) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_groups
    FROM g GROUP BY n_langs
    """,
    description="Cross-language duplicate audit: content-fingerprint "
    "groups bucketed by how many language labels they span — any "
    "n_langs >= 2 row is a lang-ID mislabel / template leak that "
    "breaks language-balanced quotas; one md5 fingerprint aggregation "
    "plus a tiny rollup (always-populated summary, zero rows never "
    "masks a broken probe).",
    tags=("dedup", "audit", "text", "data-quality"),
)
def q149_cross_language_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5(F.lower("text")).alias("content_md5")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    return g.groupBy("n_langs").agg(
        F.count("*").alias("n_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_groups"),
    )


# ---------------------------------------------------------------------------
# q150 — the CAPPED twin of q113: identical pHash fingerprints, identical
# 4-band Hamming-LSH, but with the q92 hot-bucket cap switched ON — the
# form that is actually safe at corpus scale (uncapped, one boilerplate
# pHash bucket at 100x is O(bucket^2) pairs from a single band key;
# measured in ARCHITECTURE.md). q113 keeps the uncapped registration
# because uncapped banding == brute force by pigeonhole and its oracle
# PROVES that; this query oracle-checks the capped program itself: the
# oracle replays the cap exactly (COUNT(*) OVER per band key, drop
# over-cap buckets) so the scale-safe plan — not just its uncapped
# idealization — carries a hard external row. Pair survival under the
# cap is deterministic (bucket membership is a pure function of the
# fingerprints), so the oracle is exact, as q92 already demonstrates.
# ---------------------------------------------------------------------------
_MEDIA_MAX_BUCKET = 64


def _phash_capped_oracle(n_bits: int, n_bands: int, max_hamming: int,
                         max_bucket: int) -> str:
    bw = n_bits // n_bands
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, phash, {b} AS band_id, "
        f"(phash // {1 << (bw * b)}) % {1 << bw} AS band_key FROM f"
        for b in range(n_bands)
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents
    ),
    px AS (
      SELECT doc_id, i,
             ((n_bytes % 256) * (i + 3) * 2654435761) % 256 AS p
      FROM d, generate_series(0, {n_bits - 1}) t(i)
    ),
    m AS (
      SELECT doc_id, CAST(SUM(p) // {n_bits} AS BIGINT) AS mean_px
      FROM px GROUP BY doc_id
    ),
    h AS (
      SELECT px.doc_id,
             CAST(SUM(CASE WHEN px.p > m.mean_px
                           THEN (CAST(1 AS BIGINT) << px.i) ELSE 0 END)
                  AS BIGINT) AS ahash
      FROM px JOIN m ON m.doc_id = px.doc_id
      GROUP BY px.doc_id
    ),
    f AS (
      SELECT h.doc_id,
             xor(h.ahash,
                 CAST(1 AS BIGINT)
                 << CAST((d.n_bytes // 256) % {n_bits} AS INTEGER)) AS phash
      FROM h JOIN d ON d.doc_id = h.doc_id
    ),
    bands AS ({band_rows}),
    capped AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands
      ) WHERE bn <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a
      JOIN capped b ON a.band_id = b.band_id AND a.band_key = b.band_key
                    AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(fa.phash, fb.phash)) AS INTEGER) AS hamming
    FROM cand c
    JOIN f fa ON fa.doc_id = c.doc_a
    JOIN f fb ON fb.doc_id = c.doc_b
    WHERE bit_count(xor(fa.phash, fb.phash)) <= {max_hamming}
    """


@register(
    "q150_media_neardup_capped",
    _phash_capped_oracle(56, 4, 3, _MEDIA_MAX_BUCKET),
    description="Media near-dup pairs under the SCALE-SAFE dial: q113's "
    "exact pHash pipeline with the q92 hot-bucket cap ON "
    f"(max_bucket={_MEDIA_MAX_BUCKET}) — over-cap band buckets (identical-"
    "hash boilerplate media) are dropped before the self-join, bounding "
    "candidates at any corpus size; the oracle replays the cap exactly, "
    "so the 100TB-shaped plan itself is oracle-checked (q113 remains the "
    "uncapped banding==brute-force recall proof).",
    tags=("multimodal", "dedup", "lsh", "pandas-udf", "scale-dial"),
)
def q150_media_neardup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    hashed = mm.phash_images(
        mm.payload_metadata(mm.attach_binary_payload(docs))
    )
    fp = hashed.select(
        "doc_id",
        F.expr(
            "ahash ^ shiftleft(CAST(1 AS BIGINT),"
            " CAST((n_bytes div 256) % 56 AS INT))"
        ).alias("phash"),
    )
    return dd.simhash_near_duplicates(
        fp,
        n_bits=56,
        n_bands=4,
        max_hamming=3,
        fp_col="phash",
        max_bucket=_MEDIA_MAX_BUCKET,
    )


# ---------------------------------------------------------------------------
# q151 — SPLIT LEAKAGE AUDIT: near-duplicate pairs straddling the
# train/valid/test hash split — the contamination mode that inflates
# eval scores silently (a test doc whose near-twin sits in train is a
# leaked answer key). Composes the q32 MinHash-LSH pair pipeline with
# the q124-style deterministic md5 split (800/100/100 permille on
# doc_id), then rolls pairs up by (split_a, split_b): any off-diagonal
# row is leakage. Scale shape: the pair set is the LSH output (bounded
# by band caps), the split is a map-only derived column, and the rollup
# is 9 rows — the audit costs one doc_id equi-join more than q32
# itself. The oracle embeds the SAME parameterized MinHash SQL q32/q68
# verify against.
# ---------------------------------------------------------------------------
_SPLIT_FOLD = _hex_fold_sql("md5(concat('split:', CAST(doc_id AS {st})))")
_SPLIT_CASE = (
    "CASE WHEN ({fold}) % 1000 < 800 THEN 'train' "
    "WHEN ({fold}) % 1000 < 900 THEN 'valid' ELSE 'test' END"
)


def _q151_sql(string_type: str) -> str:
    fold = _SPLIT_FOLD.format(st=string_type)
    split_case = _SPLIT_CASE.format(fold=fold)
    return f"""
    WITH prs AS ({_mh_sql()}),
    sp AS (
      SELECT doc_id, {split_case} AS split FROM documents
    )
    SELECT sa.split AS split_a, sb.split AS split_b,
           COUNT(*) AS n_pairs,
           CAST(CASE WHEN sa.split <> sb.split THEN 1 ELSE 0 END
                AS BIGINT) AS is_leak,
           CAST(MIN(p.doc_a) AS BIGINT) AS min_doc_a
    FROM prs p
    JOIN sp sa ON sa.doc_id = p.doc_a
    JOIN sp sb ON sb.doc_id = p.doc_b
    GROUP BY sa.split, sb.split
    """


@register(
    "q151_split_leakage_audit",
    _q151_sql("VARCHAR"),
    description="Train/test split leakage: MinHash-LSH near-dup pairs "
    "(the q32 pipeline, same dials) joined to a deterministic md5 "
    "800/100/100 doc split and rolled up by (split_a, split_b) — "
    "off-diagonal rows are eval contamination (a test doc's near-twin "
    "in train). One doc_id equi-join over the bounded LSH pair set; "
    "9-row output with a min-doc anchor for triage.",
    tags=("dedup", "lsh", "governance", "training-data", "audit"),
)
def q151_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    # Shared build: same dial as q32/q68/q112/q144, so the audit costs
    # one doc_id equi-join over the memoized pair set, as documented.
    pairs = _minhash_verified_pairs(
        spark,
        sf_dir,
        threshold=0.5,
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        shingle_n=2,
        max_bucket=_MH_MAX_BUCKET,
        sig_agree_min=_MH_SIG_AGREE,
    ).select("doc_a", "doc_b")
    fold = _SPLIT_FOLD.format(st="STRING")
    sp = docs.select(
        "doc_id", F.expr(_SPLIT_CASE.format(fold=fold)).alias("split")
    )
    j = (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
            ),
            "doc_b",
        )
    )
    return j.groupBy("split_a", "split_b").agg(
        F.count("*").alias("n_pairs"),
        F.expr(
            "CAST(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("is_leak"),
        F.min("doc_a").cast("long").alias("min_doc_a"),
    )


# ---------------------------------------------------------------------------
# q152 — SOURCE OVERLAP MATRIX: exact pairwise bigram-shingle Jaccard
# between every pair of SOURCES — the corpus-acquisition dashboard that
# says which feeds are rebrands/mirrors of each other (near-1 overlap
# means paying twice for the same crawl). Distinct (source, shingle)
# inverted index self-joined on shingle: each shingle row fans out to
# at most C(n_sources, 2) pairs, so candidate mass is LINEAR in the
# distinct shingle mass times a constant — no doc-pair quadratic
# anywhere, and the matrix is n_sources^2 rows regardless of corpus
# size. Jaccard emitted as round-half-up permille on exact integer
# counts (lesson-11-safe: counts are non-negative, division quantized
# on an exact double).
# ---------------------------------------------------------------------------
@register(
    "q152_source_overlap_matrix",
    """
    WITH w AS (
      SELECT source, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh0 AS (
      SELECT source,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT source, unnest(s) AS shingle FROM sh0),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*) AS n_common
      FROM sh a
      JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS n_a,
           CAST(sb.n AS BIGINT) AS n_b,
           CAST(FLOOR(1000.0 * CAST(i.n_common AS DOUBLE)
                      / (sa.n + sb.n - i.n_common) + 0.5)
                AS BIGINT) AS jaccard_permille
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
    description="Pairwise source-level bigram-shingle Jaccard matrix: "
    "distinct (source, shingle) inverted index self-joined on shingle "
    "(fan-out bounded by n_sources per shingle — linear in shingle "
    "mass, never doc-quadratic), exact integer intersections, "
    "round-half-up permille Jaccard; the mirror/rebrand detector for "
    "corpus acquisition.",
    tags=("dedup", "jaccard", "audit", "training-data"),
)
def q152_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = docs.select("source", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 2
    )
    sh = (
        w.select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ',"
                    " element_at(w, i + 1)))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "shingle")
    b = sh.select(F.col("source").alias("source_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("n").alias("n_a")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n").alias("n_b")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(
                "CAST(FLOOR(1000.0D * CAST(n_common AS DOUBLE)"
                " / (n_a + n_b - n_common) + 0.5D) AS BIGINT)"
            ).alias("jaccard_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q153 — DOMAIN RANK: 3 unrolled rounds of damped power iteration
# (PageRank) over the source-level shared-content graph — the crawl-
# prioritization signal ("which feeds sit at the center of the mirror/
# syndication web"). Edges: source pairs sharing exact content
# fingerprints (distinct (md5, source) pairs self-joined on the
# fingerprint — fan-out per fingerprint is bounded by n_sources after
# the distinct, so edge building is LINEAR in distinct fingerprint
# mass); weights = shared-fingerprint counts. Ranks are integer ppm:
# teleport (15*base) div 100 plus damped (85*Σ contrib) div 100 where
# contrib = FLOOR(r_u * w_uv / W_u + 0.5) on an exact double — every
# div operand non-negative (lesson 11 safe), every SUM over BIGINT, so
# three rounds are bit-identical across engines. The oracle unrolls
# the identical three rounds as CTEs; the Spark side is a 3-step
# DataFrame loop over a ~n_sources-row rank table (no checkpoint needed
# at this depth — the iterative-checkpoint machinery is q68's).
# ---------------------------------------------------------------------------
def _q153_round_sql(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.source AS v,
             CAST((15 * (1000000 // (SELECT COUNT(*) FROM nodes))) // 100
                  + (85 * COALESCE(SUM(CAST(FLOOR(
                        CAST({prev}.r AS DOUBLE) * e.w / deg.wu + 0.5)
                      AS BIGINT)), 0)) // 100
                  AS BIGINT) AS r
      FROM nodes n
      LEFT JOIN e ON e.v = n.source
      LEFT JOIN {prev} ON {prev}.v = e.u
      LEFT JOIN deg ON deg.u = e.u
      GROUP BY n.source
    )"""


@register(
    "q153_domain_rank",
    f"""
    WITH g AS (
      SELECT DISTINCT md5(lower(text)) AS fp, source FROM documents
    ),
    e AS (
      SELECT a.source AS u, b.source AS v, COUNT(*) AS w
      FROM g a JOIN g b ON a.fp = b.fp AND a.source <> b.source
      GROUP BY 1, 2
    ),
    nodes AS (SELECT DISTINCT source FROM documents),
    deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wu FROM e GROUP BY u),
    r0 AS (
      SELECT source AS v,
             CAST(1000000 // (SELECT COUNT(*) FROM nodes) AS BIGINT) AS r
      FROM nodes
    ),
    {_q153_round_sql("r0", "r1")},
    {_q153_round_sql("r1", "r2")},
    {_q153_round_sql("r2", "r3")}
    SELECT v AS source, r AS rank_ppm FROM r3
    """,
    description="Domain rank: 3 unrolled damped power-iteration rounds "
    "(PageRank, d=0.85, integer-ppm arithmetic, lesson-11-safe "
    "non-negative div) over the source graph whose edges are shared "
    "exact-content fingerprints — edge building is linear in distinct "
    "fingerprint mass (fan-out bounded by n_sources per fingerprint), "
    "rank iteration touches only an n_sources-row table; the crawl-"
    "prioritization twin of the q68 clustering family.",
    tags=("graph", "iterative", "audit", "training-data"),
)
def q153_domain_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    g = docs.select(F.md5(F.lower("text")).alias("fp"), "source").distinct()
    a = g.select(F.col("fp"), F.col("source").alias("u"))
    b = g.select(F.col("fp"), F.col("source").alias("v"))
    e = (
        a.join(b, "fp")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        # n_sources^2 rows at most; materialize once so the 3-round loop
        # joins a tiny cached table instead of re-running the corpus-wide
        # edge build every round (same subtree-reuse lesson as the q68 CC
        # loop — the un-checkpointed plan carried 39 exchanges).
        .localCheckpoint(eager=True)
    )
    nodes = docs.select("source").distinct().localCheckpoint(eager=True)
    ncnt = nodes.agg(F.count("*").cast("long").alias("n_nodes"))
    deg = e.groupBy("u").agg(F.sum("w").cast("long").alias("wu"))
    r = (
        nodes.crossJoin(F.broadcast(ncnt))
        .select(
            F.col("source").alias("v"),
            F.expr("CAST(1000000 div n_nodes AS BIGINT)").alias("r"),
        )
    )
    for _ in range(3):
        contrib = (
            e.join(
                r.select(F.col("v").alias("u"), F.col("r").alias("ru")), "u"
            )
            .join(deg, "u")
            .select(
                "v",
                F.expr(
                    "CAST(FLOOR(CAST(ru AS DOUBLE) * w / wu + 0.5D)"
                    " AS BIGINT)"
                ).alias("c"),
            )
        )
        agg = contrib.groupBy("v").agg(F.sum("c").cast("long").alias("s"))
        r = (
            nodes.crossJoin(F.broadcast(ncnt))
            .join(agg, nodes.source == agg.v, "left")
            .select(
                F.col("source").alias("v"),
                F.expr(
                    "CAST((15 * (1000000 div n_nodes)) div 100"
                    " + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100"
                    " AS BIGINT)"
                ).alias("r"),
            )
        )
    return r.select(F.col("v").alias("source"), F.col("r").alias("rank_ppm"))


# ---------------------------------------------------------------------------
# q154 — MULTI-WATERMARK UNION (global-minimum policy), oracle-proven:
# two branches of the same replayed stream carry DIFFERENT watermark
# delays (30 min on branch 0, 120 min on branch 1 — the "fast clickslog
# joined with a slow export" shape), are unioned, and feed one hourly
# windowed aggregation in APPEND mode. The semantic under test is
# Spark's documented multipleWatermarkPolicy=min default: the stateful
# operator advances with the SLOWEST branch — each watermark operator
# tracks its own branch's running-max event time minus its own delay,
# and the global watermark is the MINIMUM across operators. Pinned
# empirically (round 8) before writing the oracle: 4-batch replay with
# branch decorrelated from arrival batch (branch = (event_id div 4) %
# 2, batch = event_id % 4), published per-batch watermarks equal the
# per-branch-runmax minimum, numRowsDroppedByWatermark = 246/247 at
# batches 2/3, and the q130 two-batch-lag late filter reproduces the
# kept set EXACTLY (365/365 rows) while a one-batch lag does not.
# Emission: window end <= final global watermark, as q130.
# ---------------------------------------------------------------------------
_Q154_FAST_MS = 30 * 60 * 1000
_Q154_SLOW_MS = 120 * 60 * 1000


@register(
    "q154_streaming_union_watermarks",
    f"""
    WITH e AS (
      SELECT event_id % 4 AS b,
             (event_id // 4) % 2 AS br,
             epoch_ms(ts) AS tms,
             ((epoch_ms(ts) // 3600000) + 1) * 3600000 AS wend
      FROM events
    ),
    bm AS (SELECT b, br, MAX(tms) AS mx FROM e GROUP BY b, br),
    wms AS (
      SELECT b,
             MIN(CASE WHEN br = 0 THEN rm - {_Q154_FAST_MS}
                      ELSE rm - {_Q154_SLOW_MS} END) AS wm
      FROM (SELECT b, br, MAX(mx) OVER (PARTITION BY br ORDER BY b) AS rm
            FROM bm)
      GROUP BY b
    ),
    fin AS (SELECT MAX(wm) AS fwm FROM wms),
    kept AS (
      SELECT e.wend, e.br FROM e
      LEFT JOIN wms p ON p.b = e.b - 2
      WHERE p.wm IS NULL OR e.wend > p.wm
    )
    SELECT CAST(k.wend - 3600000 AS BIGINT) AS window_start_ms,
           CAST(k.br AS BIGINT) AS branch,
           COUNT(*) AS n_events
    FROM kept k, fin
    GROUP BY k.wend, k.br, fin.fwm
    HAVING k.wend <= fin.fwm
    """,
    description="Union of two watermarked branches with DIFFERENT delays "
    "(30 min / 120 min) into one hourly APPEND aggregation: the global "
    "watermark is the per-branch-runmax MINIMUM (multipleWatermarkPolicy "
    "= min), late data filtered with the two-batch-lagged global "
    "watermark, windows emitted once end <= the final one — algebra "
    "pinned against published watermarks and numRowsDroppedByWatermark "
    "before the oracle was written (365/365 exact at sf0.001).",
    tags=("streaming", "watermark", "union", "late-data", "window"),
)
def q154_streaming_union_watermarks(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        replay_files,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "ts")
    batches = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    with replay_files(spark, batches) as stream:
        branch = F.pmod(F.expr("event_id div 4"), F.lit(2))
        fast = (
            stream.filter(branch == 0)
            .withColumn("branch", F.lit(0).cast("long"))
            .withWatermark("ts", "30 minutes")
        )
        slow = (
            stream.filter(branch == 1)
            .withColumn("branch", F.lit(1).cast("long"))
            .withWatermark("ts", "120 minutes")
        )
        agg = (
            fast.unionByName(slow)
            .groupBy(F.window("ts", "1 hour").alias("w"), "branch")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.expr("unix_millis(w.start)").alias("window_start_ms"),
                "branch",
                "n_events",
            )
        )
        return drain_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# q155 — VOCABULARY GROWTH CURVE (Heaps-law audit): cumulative distinct
# bigram vocabulary as the corpus grows through 10 equal doc_id deciles
# — the measurement behind "is more crawl still buying new language?"
# (a flattening curve says new data is rehash, i.e. dedup ROI rises).
# Scale shape: "cumulative distinct over growing prefixes" is NOT a
# re-scan per prefix — each distinct shingle contributes exactly once
# at its FIRST decile (groupBy shingle -> MIN(bucket)), then a 10-row
# running sum finishes the curve. One shingle aggregation, one tiny
# window; bucket boundaries come from a broadcast 1-row MAX(doc_id).
# ---------------------------------------------------------------------------
@register(
    "q155_vocab_growth",
    """
    WITH mx AS (SELECT MAX(doc_id) + 1 AS m FROM documents),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS shingle
      FROM w
    ),
    bsh AS (
      SELECT (sh.doc_id * 10) // mx.m AS bucket, sh.shingle
      FROM sh, mx
    ),
    firsts AS (
      SELECT shingle, MIN(bucket) AS first_bucket FROM bsh GROUP BY shingle
    ),
    nv AS (
      SELECT first_bucket AS bucket, COUNT(*) AS vocab_new
      FROM firsts GROUP BY first_bucket
    ),
    toks AS (
      SELECT (d.doc_id * 10) // mx.m AS bucket,
             CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_docs
      FROM documents d, mx
      GROUP BY 1
    )
    SELECT t.bucket,
           t.n_docs,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT)
             AS tokens_cum,
           CAST(COALESCE(nv.vocab_new, 0) AS BIGINT) AS vocab_new,
           CAST(SUM(COALESCE(nv.vocab_new, 0)) OVER (ORDER BY t.bucket)
                AS BIGINT) AS vocab_cum
    FROM toks t LEFT JOIN nv ON nv.bucket = t.bucket
    """,
    description="Heaps-law vocabulary growth: cumulative distinct bigram "
    "vocabulary across 10 doc_id deciles, computed via first-occurrence "
    "buckets (each shingle counted once at MIN(bucket) — one shingle "
    "aggregation, never a per-prefix re-scan) + a 10-row running sum; "
    "the dedup-ROI / crawl-saturation audit.",
    tags=("text", "agg", "audit", "training-data"),
)
def q155_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    w = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    sh = (
        w.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ',"
                    " element_at(w, i + 1)))"
                )
            ).alias("shingle"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            F.expr("(doc_id * 10) div m").alias("bucket"), "shingle"
        )
    )
    firsts = sh.groupBy("shingle").agg(F.min("bucket").alias("first_bucket"))
    nv = firsts.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count("*").alias("vocab_new")
    )
    toks = (
        w.crossJoin(F.broadcast(mx))
        .groupBy(F.expr("(doc_id * 10) div m").alias("bucket"))
        .agg(
            F.sum(F.size("w")).cast("long").alias("n_tokens"),
            F.count("*").alias("n_docs"),
        )
    )
    win = Window.orderBy("bucket")  # 10-row frame — global sort is free
    return (
        toks.join(nv, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.sum("n_tokens").over(win).cast("long").alias("tokens_cum"),
            F.coalesce(F.col("vocab_new"), F.lit(0))
            .cast("long")
            .alias("vocab_new"),
            F.sum(F.coalesce(F.col("vocab_new"), F.lit(0)))
            .over(win)
            .cast("long")
            .alias("vocab_cum"),
        )
    )


# ---------------------------------------------------------------------------
# q156 — L-DIVERSITY AUDIT, the q136 companion: k-anonymity counts rows
# per quasi-identifier group, but a large group whose SENSITIVE value
# is constant still leaks ("everyone in cohort 12 on Jan 3 purchased").
# Per QI group (user cohort x day) count DISTINCT sensitive values
# (event_type); groups with l < 2 are homogeneous disclosures. One
# QI-tuple aggregation with a distinct-count (state bounded by QI x
# sensitive cardinality), rolled up per day.
# ---------------------------------------------------------------------------
@register(
    "q156_l_diversity_audit",
    """
    WITH qi AS (
      SELECT user_id // 10 AS cohort,
             CAST(date_trunc('day', ts) AS DATE) AS d,
             COUNT(DISTINCT event_type) AS l,
             COUNT(*) AS n
      FROM events
      GROUP BY cohort, d
    )
    SELECT d,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous,
           CAST(SUM(CASE WHEN l < 2 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_disclosed,
           CAST(MIN(l) AS BIGINT) AS min_l
    FROM qi GROUP BY d
    """,
    description="l-diversity audit (l>=2) over (user cohort x day) "
    "quasi-identifier groups with event_type as the sensitive value: "
    "homogeneous groups leak even when k-anonymous (q136's blind spot); "
    "one QI aggregation with bounded distinct-count state, per-day "
    "rollup.",
    tags=("audit", "privacy", "agg", "training-data"),
)
def q156_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    qi = ev.groupBy(
        F.expr("user_id div 10").alias("cohort"),
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).agg(
        F.countDistinct("event_type").alias("l"),
        F.count("*").alias("n"),
    )
    return qi.groupBy("d").agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("l") < 2, 1).otherwise(0))
        .cast("long")
        .alias("n_homogeneous"),
        F.sum(F.when(F.col("l") < 2, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_rows_disclosed"),
        F.min("l").cast("long").alias("min_l"),
    )


# ---------------------------------------------------------------------------
# q157 — FUNCTIONAL-DEPENDENCY VIOLATION AUDIT: data-quality gate that
# checks candidate FDs X -> Y and reports, per FD, how many X groups
# carry MULTIPLE Y values and how much row mass sits in those groups —
# the structural-integrity complement to q117's referential checks
# (which verify key EXISTENCE, not value consistency). Three candidate
# FDs over two tables, each one groupBy-X shuffle with a tiny distinct
# state, unioned into a 3-row report. The three candidates span the
# spectrum (generator-dependent: part->supplier is near-functional,
# order->returnflag and customer->priority are deliberately weak) so
# the audit exercises both zero- and non-zero-violation paths.
# ---------------------------------------------------------------------------
def _fd_sql(fd_name: str, table: str, x: str, y: str) -> str:
    return f"""
    SELECT '{fd_name}' AS fd,
           COUNT(*) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_rows_in_violation,
           CAST(MAX(nd) AS BIGINT) AS max_distinct_y
    FROM (
      SELECT {x}, COUNT(DISTINCT {y}) AS nd, COUNT(*) AS n
      FROM {table} GROUP BY {x}
    )
    """


@register(
    "q157_fd_violation_audit",
    f"""
    {_fd_sql("lineitem:orderkey->returnflag", "lineitem",
             "l_orderkey", "l_returnflag")}
    UNION ALL
    {_fd_sql("lineitem:partkey->suppkey", "lineitem",
             "l_partkey", "l_suppkey")}
    UNION ALL
    {_fd_sql("orders:custkey->orderpriority", "orders",
             "o_custkey", "o_orderpriority")}
    """,
    description="Functional-dependency audit: for candidate FDs X->Y "
    "(order->returnflag, part->supplier, customer->priority), the X "
    "groups carrying multiple Y values and their row mass — schema-"
    "consistency gate complementing q117's existence checks; one "
    "distinct-count aggregation per FD, 3-row report.",
    tags=("audit", "data-quality", "agg"),
)
def q157_fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")

    def fd(df: DataFrame, fd_name: str, x: str, y: str) -> DataFrame:
        g = df.groupBy(x).agg(
            F.countDistinct(y).alias("nd"), F.count("*").alias("n")
        )
        return g.agg(
            F.lit(fd_name).alias("fd"),
            F.count("*").alias("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_violating_groups"),
            F.sum(F.when(F.col("nd") > 1, F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_rows_in_violation"),
            F.max("nd").cast("long").alias("max_distinct_y"),
        )

    return (
        fd(li, "lineitem:orderkey->returnflag", "l_orderkey", "l_returnflag")
        .unionByName(
            fd(li, "lineitem:partkey->suppkey", "l_partkey", "l_suppkey")
        )
        .unionByName(
            fd(
                orders,
                "orders:custkey->orderpriority",
                "o_custkey",
                "o_orderpriority",
            )
        )
    )


# ---------------------------------------------------------------------------
# q158 — EXACT HEAVY HITTERS via Misra-Gries candidate pruning: every
# word whose corpus frequency exceeds n/(k+1), with EXACT counts — the
# canonical "frequent tokens without shuffling the token mass" pattern.
# Stage 1 (mapInPandas, one pass): each partition keeps a k-counter
# Misra-Gries summary (bounded memory, k=255) and yields only its
# candidate WORDS. Pigeonhole guarantee: a word absent from partition
# p's summary has freq_p <= n_p/(k+1), so a word absent from EVERY
# summary has freq <= n/(k+1) — the candidate union provably contains
# all true heavy hitters NO MATTER how rows are partitioned. Stage 2:
# exact recount of candidate words only (explode + broadcast semi-join
# + one small groupBy), filtered by the integer cross-multiplied
# threshold cnt*(k+1) > n. The candidate SET is partitioning-dependent;
# the OUTPUT is deterministic because stage 2 recounts exactly and the
# guarantee covers every partitioning — which is why a plain GROUP BY /
# HAVING oracle can verify it value-for-value. At 100 TB the shuffle
# carries <= k * n_partitions candidate words + the tiny recount of
# pre-filtered tokens, never the full token mass.
# ---------------------------------------------------------------------------
_HH_K = 255


@register(
    "q158_heavy_hitters",
    f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    n AS (SELECT COUNT(*) AS n FROM tok)
    SELECT t.w AS word,
           COUNT(*) AS n_occurrences,
           CAST(FLOOR(1000.0 * COUNT(*) / ANY_VALUE(n.n) + 0.5) AS BIGINT)
             AS share_permille
    FROM tok t, n
    GROUP BY t.w
    HAVING COUNT(*) * {_HH_K + 1} > ANY_VALUE(n.n)
    """,
    description=f"Exact heavy hitters (freq > n/{_HH_K + 1}) with exact "
    "counts via two stages: bounded-memory Misra-Gries summaries per "
    "partition (mapInPandas, k counters, yields candidate words only; "
    "pigeonhole guarantees every true hitter survives ANY partitioning) "
    "then an exact recount of candidates behind a broadcast semi-join — "
    "the shuffle carries k*partitions words, never the token mass; the "
    "plain GROUP BY oracle verifies the output value-for-value.",
    tags=("text", "sketch", "pandas-udf", "agg", "training-data"),
)
def q158_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")

    k = _HH_K

    def mg_candidates(batches):
        # Self-contained (CLAUDE.md invariant 3): executor workers cannot
        # import this package.
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for text in pdf["text"]:
                for w in str(text).lower().split(" "):
                    if w in counters:
                        counters[w] += 1
                    elif len(counters) < k:
                        counters[w] = 1
                    else:
                        # decrement-all: removes k+1 distinct occurrences
                        dead = []
                        for key in counters:
                            counters[key] -= 1
                            if counters[key] == 0:
                                dead.append(key)
                        for key in dead:
                            del counters[key]
        yield pd.DataFrame({"word": list(counters.keys())})

    cand = (
        docs.select("text")
        .mapInPandas(mg_candidates, schema="word string")
        .distinct()
    )
    tok = docs.select(
        F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    n = tok.agg(F.count("*").cast("long").alias("n"))
    counts = (
        tok.join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        counts.crossJoin(F.broadcast(n))
        .filter(F.col("n_occurrences") * (k + 1) > F.col("n"))
        .select(
            "word",
            "n_occurrences",
            F.expr(
                "CAST(FLOOR(1000.0D * n_occurrences / n + 0.5D) AS BIGINT)"
            ).alias("share_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q159 — the MAX-POLICY twin of q154: same two-delay union replay with
# spark.sql.streaming.multipleWatermarkPolicy=max, where the global
# watermark advances with the FASTEST branch — the "low latency beats
# slow-source completeness" dial (late rows of the slow branch are
# sacrificed). Pinned empirically alongside q154 before the oracle was
# written: published watermarks equal the per-branch-runmax MAXIMUM,
# drop counts diverge from the min run (246/248 vs 246/247), and the
# MAX-aggregate oracle reproduces the kept set exactly (367/367 at
# sf0.001) while the MIN algebra does not. The policy conf is set and
# restored around the stream start (it is read at query start, so the
# scoped set works under the driver's bare session too).
# ---------------------------------------------------------------------------
@register(
    "q159_streaming_union_watermark_max",
    f"""
    WITH e AS (
      SELECT event_id % 4 AS b,
             (event_id // 4) % 2 AS br,
             epoch_ms(ts) AS tms,
             ((epoch_ms(ts) // 3600000) + 1) * 3600000 AS wend
      FROM events
    ),
    bm AS (SELECT b, br, MAX(tms) AS mx FROM e GROUP BY b, br),
    wms AS (
      SELECT b,
             MAX(CASE WHEN br = 0 THEN rm - {_Q154_FAST_MS}
                      ELSE rm - {_Q154_SLOW_MS} END) AS wm
      FROM (SELECT b, br, MAX(mx) OVER (PARTITION BY br ORDER BY b) AS rm
            FROM bm)
      GROUP BY b
    ),
    fin AS (SELECT MAX(wm) AS fwm FROM wms),
    kept AS (
      SELECT e.wend FROM e
      LEFT JOIN wms p ON p.b = e.b - 2
      WHERE p.wm IS NULL OR e.wend > p.wm
    )
    SELECT CAST(k.wend - 3600000 AS BIGINT) AS window_start_ms,
           COUNT(*) AS n_events
    FROM kept k, fin
    GROUP BY k.wend, fin.fwm
    HAVING k.wend <= fin.fwm
    """,
    description="q154's union replay under multipleWatermarkPolicy=max: "
    "the global watermark is the per-branch-runmax MAXIMUM (fast branch "
    "wins, slow-branch late data dropped) — both policies' algebras "
    "pinned against published watermarks and drop metrics, and the two "
    "oracles are measurably non-interchangeable on the same replay.",
    tags=("streaming", "watermark", "union", "late-data", "window"),
)
def q159_streaming_union_watermark_max(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        replay_files,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "ts")
    batches = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    with replay_files(spark, batches) as stream:
        branch = F.pmod(F.expr("event_id div 4"), F.lit(2))
        fast = stream.filter(branch == 0).withWatermark("ts", "30 minutes")
        slow = stream.filter(branch == 1).withWatermark("ts", "120 minutes")
        agg = (
            fast.unionByName(slow)
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(
                F.expr("unix_millis(w.start)").alias("window_start_ms"),
                "n_events",
            )
        )
        policy = {"spark.sql.streaming.multipleWatermarkPolicy": "max"}
        with scoped_conf(spark, policy):
            return drain_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# q160 — PYTHON DATASOURCE SCAN (Spark 4 pyspark.sql.datasource API):
# the documents table read through a custom manifest-sharded source
# (sources/pydatasource.py) with an EqualTo('source', ...) filter
# PUSHED into the Python reader — partitions are pruned via parquet
# row-group min/max stats before any row is read, the custom-source
# analogue of partition pruning; one partition per manifest file keeps
# scan parallelism = ingest-batch count. Result: the per-source rollup
# with a doc_id-sum checksum certifying the custom scan read exactly
# the native scan's rows (oracle = plain SQL over the same parquet).
# The filter-pushdown conf is runtime-set and restored so the driver's
# bare session exercises the same code path.
# ---------------------------------------------------------------------------
@register(
    "q160_python_datasource_scan",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_checksum
    FROM documents
    WHERE source = 'src3'
    GROUP BY source
    """,
    description="Custom Python DataSource scan (Spark 4 API): manifest-"
    "sharded document reader with EqualTo filter pushdown + row-group-"
    "stats partition pruning inside the Python source, one partition "
    "per ingest file; rollup checksummed against the native-scan "
    "oracle, proving the extension surface reads bit-identical rows.",
    tags=("source", "python-datasource", "pushdown", "agg"),
)
def q160_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from nyc_yellow_taxi_trip_data_pipeline_spark.sources.pydatasource import (
        manifest_datasource,
    )

    pushdown = {"spark.sql.python.filterPushdown.enabled": "true"}
    with scoped_conf(spark, pushdown):
        spark.dataSource.register(manifest_datasource())
        df = (
            spark.read.format("doc_manifest")
            .option("path", os.path.join(sf_dir, "documents.parquet"))
            .load()
            .filter(F.col("source") == "src3")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.sum("doc_id").cast("long").alias("doc_id_checksum"),
            )
        )
        # Materialize under the pushdown conf: the conf is read at scan
        # planning time, and the parity/driver harness collects AFTER
        # this function returns — so force the read into a local result
        # and hand back a tiny createDataFrame instead of a lazy plan
        # that would observe the restored conf (lesson 15).
        rows = df.collect()
    return spark.createDataFrame(
        rows, "source string, n_docs bigint, sum_chars bigint,"
        " doc_id_checksum bigint"
    )


# ---------------------------------------------------------------------------
# q161 — BUILT-IN SESSION WINDOWS, batch mode: Spark's session_window()
# operator (dynamic-gap session assignment inside Catalyst — a
# SessionWindow physical node, not a window-function composition)
# verified value-for-value against the classic gaps-and-islands SQL.
# Completes the sessionization triangle: q20 is the lag+cumsum window
# form, q67 the custom stateful-UDF streaming form, q161 the built-in
# operator — all three must agree on the same 30-minute gap. Session
# semantics under test: window.start = first event time, window.end =
# LAST event time + gap, events chain transitively while consecutive
# gaps <= 30 min. One (user_id) shuffle; per-user session state is
# sort-local within the partition.
# Boundary + precision PINNED empirically (r9, two-event fixtures in
# tests/test_round9_invariants.py): a gap of EXACTLY 30 min MERGES
# (adjacent windows coalesce when next.start == prev.end); 30 min +
# 1 us SPLITS — so the oracle's break rule is strict `>` at FULL
# MICROSECOND precision (tus - prev > 1800000000). The r8 oracle
# compared ms-truncated epochs, which merges any gap in
# (30min, 30min+1ms) that Spark splits (ADVICE r8); event times are
# us-grained so that interval has real mass. Outputs stay in ms:
# unix_millis floors, and floor(us/1000) commutes with +30min.
# ---------------------------------------------------------------------------
@register(
    "q161_session_window_batch",
    """
    WITH ordered AS (
      SELECT user_id, ts,
             epoch_us(ts) AS tus,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, tus,
             CASE WHEN prev IS NULL OR tus - prev > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM ordered
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY tus
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(MIN(tus) // 1000 AS BIGINT) AS session_start_ms,
           CAST(MAX(tus) // 1000 + 1800000 AS BIGINT) AS session_end_ms,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    description="Built-in session_window() (SessionWindow Catalyst "
    "operator, 30-min gap) in batch mode, value-matched against the "
    "gaps-and-islands oracle — session start = first event, end = last "
    "event + gap; the third corner of the sessionization triangle "
    "(q20 lag+cumsum, q67 stateful-UDF streaming).",
    tags=("window", "session", "agg"),
)
def q161_session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            "user_id",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.expr("unix_millis(w.start)").alias("session_start_ms"),
            F.expr("unix_millis(w.end)").alias("session_end_ms"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# q162 — VARIANT ROUND-TRIP (Spark 4 semi-structured type): each event
# serialized to a nested JSON envelope, parsed back with parse_json()
# into a VARIANT, and fields extracted via variant_get typed paths
# ('$.user.id', '$.meta.kind', '$.val') — the open-schema ingestion
# shape (logs/API payloads) where columns are not known at write time.
# The rollup over extracted fields must equal the same rollup over the
# ORIGINAL columns (the oracle never sees JSON), proving the
# serialize -> variant -> typed-path pipeline is lossless including a
# quantized double through the JSON text representation. Map-only until
# the final small aggregation.
# ---------------------------------------------------------------------------
@register(
    "q162_variant_roundtrip",
    """
    SELECT event_type AS kind,
           COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS user_id_checksum,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS qvalue_sum
    FROM events
    GROUP BY event_type
    """,
    description="Spark 4 VARIANT round-trip: events serialized to nested "
    "JSON, parse_json() into VARIANT, fields back out via typed "
    "variant_get paths ($.user.id, $.meta.kind, $.val) — rollup equals "
    "the original-column oracle, proving lossless open-schema ingestion "
    "(ints and a quantized double survive the text hop); map-only + one "
    "small aggregation.",
    tags=("variant", "json", "agg", "source"),
)
def q162_variant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    env = ev.select(
        F.to_json(
            F.struct(
                F.struct(F.col("user_id").alias("id")).alias("user"),
                F.struct(F.col("event_type").alias("kind")).alias("meta"),
                F.col("value").alias("val"),
            )
        ).alias("j")
    )
    v = env.select(F.parse_json(F.col("j")).alias("v"))
    ex = v.select(
        F.variant_get(F.col("v"), "$.meta.kind", "string").alias("kind"),
        F.variant_get(F.col("v"), "$.user.id", "bigint").alias("uid"),
        F.variant_get(F.col("v"), "$.val", "double").alias("val"),
    )
    return ex.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("uid").cast("long").alias("user_id_checksum"),
        F.sum(F.floor(F.col("val") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("qvalue_sum"),
    )


# ---------------------------------------------------------------------------
# q163 — CUPED VARIANCE-REDUCED A/B READOUT: the adjusted-metric
# estimator every experimentation platform runs (Deng et al., WSDM'13
# — public method): per-user PRE-period metric as covariate, pooled
# theta = cov(x,y)/var(x), per-arm adjusted mean
# y_bar - theta * (x_bar - x_bar_pool). All sufficient statistics are
# exact quantized BIGINTs (one user rollup + a 1-row pooled aggregate
# broadcast back); theta and the adjusted means are then derived in a
# FIXED sequence of IEEE double ops from those exact integers —
# deterministic across engines because both execute the identical
# expression text on identical integers (q146's signed-safe pattern;
# FLOOR(x+0.5) quantization at the end). The pre/post cut is the
# data-derived midpoint day, a broadcast scalar. Two output rows.
# ---------------------------------------------------------------------------
# Centered, divide-early sufficient statistics (q148's pattern, applied
# here per ADVICE r8): the r8 form computed theta from RAW products
# n*SUM(x*y) and n*SUM(x*x) — per-user cent sums make those BIGINT
# products wrap silently in Spark (DuckDB raises) once n_users*mean^2
# nears 2^63. Centering first (integer per-pool means mx/my, broadcast
# back) and dividing by n INSIDE the double expression keeps every
# integer intermediate at SUM((x-mx)^2) ~ n_users*dev^2 — exact while
# n_users * dev^2 < 2^63, e.g. 9e8 users at per-user deviation 1e5
# cents ($1k), vs ~1e6 users for the raw form at the same deviation.
# Shift invariance: n*Sxy - Sx*Sy == n*SUM((x-mx)(y-my)) - s1x*s1y and
# likewise for xx, so theta is ALGEBRAICALLY unchanged; the computed
# value differs only in IEEE rounding order, and both engines execute
# the identical expression text on identical integers (determinism
# contract preserved). var(x)=0 is detected exactly via MIN(x)=MAX(x)
# instead of the wide-product zero test.
_Q163_FORMULAS = dict(
    theta=(
        "CASE WHEN minx = maxx THEN 0.0{d} "
        "ELSE (CAST(sxy_c AS DOUBLE)"
        " - CAST(s1x AS DOUBLE) * CAST(s1y AS DOUBLE) / n)"
        " / (CAST(sxx_c AS DOUBLE)"
        " - CAST(s1x AS DOUBLE) * CAST(s1x AS DOUBLE) / n) END"
    ),
    mean_y=("FLOOR(10.0{d} * CAST(ay AS DOUBLE) / n_users + 0.5{d})"),
    adj=(
        "FLOOR(10.0{d} * (CAST(ay AS DOUBLE) / n_users"
        " - ({theta}) * (CAST(ax AS DOUBLE) / n_users"
        " - (CAST(mx AS DOUBLE) + CAST(s1x AS DOUBLE) / n))) + 0.5{d})"
    ),
)


def _q163_sql() -> str:
    theta = _Q163_FORMULAS["theta"].format(d="")
    return f"""
    WITH base AS (
      SELECT user_id,
             CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    cut AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS c FROM base),
    u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(SUM(CASE WHEN day < cut.c THEN qv ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN day >= cut.c THEN qv ELSE 0 END)
                  AS BIGINT) AS y
      FROM base, cut GROUP BY user_id
    ),
    m AS (
      SELECT CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS mx,
             CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*) + 0.5)
                  AS BIGINT) AS my
      FROM u
    ),
    pool AS (
      SELECT COUNT(*) AS n,
             ANY_VALUE(m.mx) AS mx,
             CAST(SUM(x - m.mx) AS BIGINT) AS s1x,
             CAST(SUM(y - m.my) AS BIGINT) AS s1y,
             CAST(SUM((x - m.mx) * (y - m.my)) AS BIGINT) AS sxy_c,
             CAST(SUM((x - m.mx) * (x - m.mx)) AS BIGINT) AS sxx_c,
             MIN(x) AS minx,
             MAX(x) AS maxx
      FROM u, m
    ),
    arm AS (
      SELECT variant, COUNT(*) AS n_users,
             CAST(SUM(x) AS BIGINT) AS ax,
             CAST(SUM(y) AS BIGINT) AS ay
      FROM u GROUP BY variant
    )
    SELECT variant, n_users,
           CAST({_Q163_FORMULAS["mean_y"].format(d="")} AS BIGINT)
             AS mean_y_milli,
           CAST({_Q163_FORMULAS["adj"].format(d="", theta=theta)} AS BIGINT)
             AS adj_mean_y_milli,
           CAST(FLOOR(1000000.0 * ({theta}) + 0.5) AS BIGINT)
             AS theta_micro
    FROM arm, pool
    """


@register(
    "q163_cuped_adjusted_ab",
    _q163_sql(),
    description="CUPED variance-reduced A/B readout: pre-period covariate "
    "per user (midpoint-day cut, broadcast scalar), pooled "
    "theta=cov/var from exact quantized BIGINT sufficient statistics, "
    "per-arm adjusted mean via a fixed IEEE double sequence quantized "
    "to milli-units — one user rollup, a 1-row pooled broadcast, 2 "
    "output rows.",
    tags=("experiment", "agg", "audit", "training-data"),
)
def q163_cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400").alias("day"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("qv"),
    )
    cut = base.agg(
        F.expr("CAST((MIN(day) + MAX(day) + 1) div 2 AS BIGINT)").alias("c")
    )
    u = (
        base.crossJoin(F.broadcast(cut))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(user_id % 2 AS BIGINT)").alias("variant"),
            F.expr(
                "CAST(SUM(CASE WHEN day < c THEN qv ELSE 0 END) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(SUM(CASE WHEN day >= c THEN qv ELSE 0 END) AS BIGINT)"
            ).alias("y"),
        )
    )
    # Two-pass centered pool stats (see _Q163_FORMULAS comment): pass 1
    # is a 1-row integer-mean aggregate broadcast back; pass 2 sums the
    # centered products — no n*Sxx-style wide BIGINT product anywhere.
    m = u.agg(
        F.expr(
            "CAST(FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) + 0.5D) AS BIGINT)"
        ).alias("mx"),
        F.expr(
            "CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*) + 0.5D) AS BIGINT)"
        ).alias("my"),
    )
    pool = u.crossJoin(F.broadcast(m)).agg(
        F.count("*").alias("n"),
        F.first("mx").alias("mx"),
        F.sum(F.col("x") - F.col("mx")).cast("long").alias("s1x"),
        F.sum(F.col("y") - F.col("my")).cast("long").alias("s1y"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
        .cast("long")
        .alias("sxy_c"),
        F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx")))
        .cast("long")
        .alias("sxx_c"),
        F.min("x").alias("minx"),
        F.max("x").alias("maxx"),
    )
    arm = u.groupBy("variant").agg(
        F.count("*").alias("n_users"),
        F.sum("x").cast("long").alias("ax"),
        F.sum("y").cast("long").alias("ay"),
    )
    theta = _Q163_FORMULAS["theta"].format(d="D")
    return arm.crossJoin(F.broadcast(pool)).select(
        "variant",
        "n_users",
        F.expr(
            f"CAST({_Q163_FORMULAS['mean_y'].format(d='D')} AS BIGINT)"
        ).alias("mean_y_milli"),
        F.expr(
            f"CAST({_Q163_FORMULAS['adj'].format(d='D', theta=theta)}"
            " AS BIGINT)"
        ).alias("adj_mean_y_milli"),
        F.expr(
            f"CAST(FLOOR(1000000.0D * ({theta}) + 0.5D) AS BIGINT)"
        ).alias("theta_micro"),
    )


# ---------------------------------------------------------------------------
# q164 — RANK-WEIGHTED RETRIEVAL EVAL (AP@10 + reciprocal rank), the
# position-sensitive companion to q145's recall: recall says WHETHER
# the true neighbors were found, AP/RR say WHERE they landed. Both
# metrics are computed EXACTLY in integers: precision@p terms are
# scaled by lcm(1..10) = 2520 so AP@10 = ap_scaled / 25200 is a pure
# BIGINT rational (no order-dependent float summation — summing
# doubles over ranked rows is engine-order-dependent, the one trap a
# ranked metric adds over q145), and RR = 1e6 // first_hit_rank. The
# oracle composes the three registered retrieval oracles verbatim with
# the identical ROW_NUMBER total order (score desc, vec_id).
# ---------------------------------------------------------------------------
def _q164_oracle() -> str:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import QUERIES as _Q

    brute = _Q["q34_embedding_topk"].oracle
    srp = _Q["q36_ann_srp_bucket"].oracle
    ivf = _Q["q66_ivf_ann"].oracle
    return f"""
    WITH brute AS (SELECT vec_id FROM ({brute})),
    srp AS (
      SELECT vec_id, cosine_sim FROM ({srp})
      ORDER BY cosine_sim DESC, vec_id LIMIT 10
    ),
    ivf AS (SELECT vec_id, cosine_sim FROM ({ivf})),
    cand AS (
      SELECT 'srp_bucket' AS method, vec_id, cosine_sim FROM srp
      UNION ALL
      SELECT 'ivf' AS method, vec_id, cosine_sim FROM ivf
    ),
    ranked AS (
      SELECT c.method, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY c.method
                                ORDER BY c.cosine_sim DESC, c.vec_id) AS pos,
             CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM cand c LEFT JOIN brute b ON b.vec_id = c.vec_id
    ),
    run AS (
      SELECT method, pos, rel,
             SUM(rel) OVER (PARTITION BY method ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS hits
      FROM ranked
    )
    SELECT method,
           COUNT(*) AS k_retrieved,
           CAST(SUM(rel * hits * (2520 // pos)) AS BIGINT) AS ap_scaled,
           CAST((1000000 * SUM(rel * hits * (2520 // pos))) // 25200
                AS BIGINT) AS ap_micro,
           CAST(COALESCE(1000000 // MIN(CASE WHEN rel = 1 THEN pos END), 0)
                AS BIGINT) AS rr_micro
    FROM run GROUP BY method
    """


@register(
    "q164_retrieval_rank_eval",
    _q164_oracle(),
    description="Exact AP@10 + reciprocal rank for the SRP and IVF "
    "retrieval paths against brute-force ground truth: precision terms "
    "scaled by lcm(1..10)=2520 so average precision is a BIGINT "
    "rational (no order-dependent float sums over ranked rows); "
    "composes the three registered retrieval oracles with an identical "
    "ROW_NUMBER total order — the position-sensitive companion to "
    "q145's recall gate.",
    tags=("similarity", "ann", "eval", "audit"),
)
def q164_retrieval_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Shared rankings (one materialization per pipeline per session —
    # see _ann_rankings; q145/q169 read the same artifacts).
    rank = _ann_rankings(spark, sf_dir)
    brute = rank["brute"].select("vec_id")
    srp = (
        rank["srp"]
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cosine_sim")
        .withColumn("method", F.lit("srp_bucket"))
    )
    ivf = (
        rank["ivf"]
        .select("vec_id", "cosine_sim")
        .withColumn("method", F.lit("ivf"))
    )
    cand = srp.unionByName(ivf)
    ranked = cand.join(
        F.broadcast(brute.withColumn("__rel", F.lit(1))), "vec_id", "left"
    ).select(
        "method",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("method").orderBy(
                F.desc("cosine_sim"), F.asc("vec_id")
            )
        )
        .alias("pos"),
        F.coalesce(F.col("__rel"), F.lit(0)).alias("rel"),
    )
    run = ranked.withColumn(
        "hits",
        F.sum("rel").over(
            Window.partitionBy("method")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return run.groupBy("method").agg(
        F.count("*").alias("k_retrieved"),
        F.expr("CAST(SUM(rel * hits * (2520 div pos)) AS BIGINT)").alias(
            "ap_scaled"
        ),
        F.expr(
            "CAST((1000000 * SUM(rel * hits * (2520 div pos))) div 25200"
            " AS BIGINT)"
        ).alias("ap_micro"),
        F.expr(
            "CAST(COALESCE(1000000 div MIN(CASE WHEN rel = 1 THEN pos END),"
            " 0) AS BIGINT)"
        ).alias("rr_micro"),
    )


# ---------------------------------------------------------------------------
# q165 — CORPUS DATASHEET (Gebru et al.'s "Datasheets for Datasets",
# public methodology): one integrity row per released table — row
# count, primary-key distinctness (dup keys = silent join fan-out
# downstream), key-sum checksum (order-free, catches partial loads
# bit-exactly), and null mass in the most load-bearing column. The
# artifact a data release ships next to its tables; each table costs
# one aggregation pass, the report is 5 rows. The oracle is the same
# battery in plain SQL.
# ---------------------------------------------------------------------------
def _datasheet_sql(table: str, key: str, probe: str) -> str:
    return f"""
    SELECT '{table}' AS table_name,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT {key}) AS BIGINT) AS n_distinct_keys,
           CAST(SUM({key}) AS BIGINT) AS key_checksum,
           CAST(SUM(CASE WHEN {probe} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_probe
    FROM {table}
    """


@register(
    "q165_corpus_datasheet",
    " UNION ALL ".join(
        _datasheet_sql(t, k, p)
        for t, k, p in (
            ("documents", "doc_id", "text"),
            ("events", "event_id", "ts"),
            ("embeddings", "vec_id", "embedding"),
            ("orders", "o_orderkey", "o_totalprice"),
            ("lineitem", "l_orderkey", "l_extendedprice"),
        )
    ),
    description="Corpus datasheet: per released table, row count, "
    "primary-key distinctness (dup keys fan out silently in downstream "
    "joins), order-free key-sum checksum (catches partial loads "
    "bit-exactly), and null mass in the load-bearing column — the "
    "release artifact of 'Datasheets for Datasets'; one aggregation "
    "pass per table, 5-row report.",
    tags=("audit", "data-quality", "agg", "training-data"),
)
def q165_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    def sheet(table: str, key: str, probe: str) -> DataFrame:
        df = read_table(spark, sf_dir, table)
        return df.agg(
            F.lit(table).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).cast("long").alias("n_distinct_keys"),
            F.sum(key).cast("long").alias("key_checksum"),
            F.sum(F.when(F.col(probe).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_probe"),
        )

    out = None
    for t, k, p in (
        ("documents", "doc_id", "text"),
        ("events", "event_id", "ts"),
        ("embeddings", "vec_id", "embedding"),
        ("orders", "o_orderkey", "o_totalprice"),
        ("lineitem", "l_orderkey", "l_extendedprice"),
    ):
        s = sheet(t, k, p)
        out = s if out is None else out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# q166 — NEYMAN ALLOCATION (optimal stratified sampling design): split a
# fixed labeling/eval budget of T=1000 draws across sources in
# proportion to N_h * S_h (stratum size x stratum std — the allocation
# minimizing estimator variance; Neyman 1934, public methodology),
# entirely in exact integer arithmetic so the design is reproducible:
# stratum variance of quantized value-cents via the q148 centered
# divide-early form, S_h = FLOOR(SQRT(var)) (double sqrt of an exact
# integer — identical IEEE op both engines), seats = largest-remainder
# apportionment (base = T*w_h div W, leftover seats to the largest
# remainders with a total-order tiebreak). One stratum rollup + a
# 20-row allocation window; the draw itself is q124's hash-threshold
# machinery with these rates.
# ---------------------------------------------------------------------------
_NEYMAN_T = 1000


@register(
    "q166_neyman_allocation",
    f"""
    WITH q AS (
      SELECT event_type AS stratum,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    m AS (
      SELECT stratum,
             CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
               AS mu
      FROM q GROUP BY stratum
    ),
    s AS (
      SELECT q.stratum, COUNT(*) AS n,
             CAST(SUM(qv - m.mu) AS BIGINT) AS s1,
             CAST(SUM((qv - m.mu) * (qv - m.mu)) AS BIGINT) AS s2
      FROM q JOIN m ON m.stratum = q.stratum
      GROUP BY q.stratum
    ),
    v AS (
      SELECT stratum, n,
             (s2 // n) - (CASE WHEN n * (s2 % n) < s1 * s1
                          THEN 1 ELSE 0 END) AS var_q
      FROM s
    ),
    w AS (
      SELECT stratum, n,
             CAST(n * CAST(FLOOR(SQRT(CAST(var_q AS DOUBLE))) AS BIGINT)
                  AS BIGINT) AS wt
      FROM v
    ),
    tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w),
    base AS (
      SELECT w.stratum, w.n, w.wt,
             CASE WHEN t.tw = 0 THEN 0
                  ELSE ({_NEYMAN_T} * w.wt) // t.tw END AS seats0,
             CASE WHEN t.tw = 0 THEN 0
                  ELSE ({_NEYMAN_T} * w.wt) % t.tw END AS rem
      FROM w, tot t
    ),
    ranked AS (
      SELECT stratum, n, wt, seats0, rem,
             ROW_NUMBER() OVER (ORDER BY rem DESC, stratum) AS rk,
             CAST({_NEYMAN_T} AS BIGINT) - SUM(seats0) OVER () AS leftover
      FROM base
    )
    SELECT stratum,
           CAST(n AS BIGINT) AS n_rows,
           wt AS weight,
           CAST(seats0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_alloc
    FROM ranked
    """,
    description=f"Neyman allocation of a T={_NEYMAN_T} sampling budget "
    "across strata proportional to N_h*S_h: exact integer stratum "
    "variance (q148's centered divide-early form), integer sqrt via an "
    "identical-IEEE double, and largest-remainder apportionment with a "
    "total-order tiebreak — the optimal stratified design, bit-"
    "reproducible; one stratum rollup + a stratum-count-sized window.",
    tags=("sampling", "agg", "training-data", "audit"),
)
def q166_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    q = ev.select(
        F.col("event_type").alias("stratum"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("qv"),
    )
    m = q.groupBy("stratum").agg(
        F.expr(
            "CAST(FLOOR(CAST(SUM(qv) AS DOUBLE) / COUNT(*) + 0.5D) AS BIGINT)"
        ).alias("mu")
    )
    s = (
        q.join(F.broadcast(m), "stratum")
        .groupBy("stratum")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("qv") - F.col("mu")).cast("long").alias("s1"),
            F.sum((F.col("qv") - F.col("mu")) * (F.col("qv") - F.col("mu")))
            .cast("long")
            .alias("s2"),
        )
    )
    w = s.select(
        "stratum",
        "n",
        F.expr(
            "CAST(n * CAST(FLOOR(SQRT(CAST("
            "(s2 div n) - (CASE WHEN n * (s2 % n) < s1 * s1"
            " THEN 1 ELSE 0 END)"
            " AS DOUBLE))) AS BIGINT) AS BIGINT)"
        ).alias("wt"),
    )
    tot = w.agg(F.sum("wt").cast("long").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n",
        "wt",
        F.expr(
            f"CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE ({_NEYMAN_T} * wt) div tw END"
        ).alias("seats0"),
        F.expr(
            f"CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE ({_NEYMAN_T} * wt) % tw END"
        ).alias("rem"),
    )
    ranked = base.select(
        "stratum",
        "n",
        "wt",
        "seats0",
        "rem",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("stratum")))
        .alias("rk"),
        (
            F.lit(_NEYMAN_T).cast("long")
            - F.sum("seats0").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("leftover"),
    )
    return ranked.select(
        "stratum",
        F.col("n").cast("long").alias("n_rows"),
        F.col("wt").alias("weight"),
        F.expr(
            "CAST(seats0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("n_alloc"),
    )


# ---------------------------------------------------------------------------
# q167 — KEEP-BEST DEDUP AGAINST THE MATERIALIZED SIGNATURE INDEX (the
# r8 verdict's #2 ask): q144 recomputes MinHash signatures for the WHOLE
# corpus every run — the right shape for a once-per-snapshot rebuild,
# but at 100 TB the per-ingest-batch form must pay O(|batch|) only.
# q167 is that production twin: the accepted corpus lives in a bucketed
# signature index (dedup.write_signature_index); each batch computes
# signatures for the BATCH alone, finds exact (fp equality) and near
# (asymmetric capped band join + >=6/12 signature agreement) matches
# against the index, and applies the keep-best POLICY per batch doc:
# 'new' (no match), 'replace' (the batch doc beats the best-quality
# matched index member on n_chars, doc_id tiebreak), or 'drop'. Only
# the batch's band rows shuffle; the index sides are read pre-clustered
# (bucketed scans). The batch is FIXED-SIZE (doc_id % 10 == 0 AND
# doc_id < 10000) — an ingest batch does not grow because the archive
# did, and modeling it that way is what makes the measured 10x ratio
# reflect the production cost (the first cut used a %-only batch that
# grew 10x with the corpus and measured 3.4x; the fixed batch measures
# ~1x against a 10x index, q98's warm-delta result). The oracle
# recomputes everything from raw text — materialized vs recomputed
# signatures are bit-identical (the q98 portability contract).
# ---------------------------------------------------------------------------
_Q167_BATCH_MAX_ID = 10_000


def _q167_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(_MH_N)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || ".join(f"mh{b * _MH_BAND + j}" for j in range(_MH_BAND)),
        )
        for b in range(_MH_N // _MH_BAND)
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(_MH_N)
    )
    bmax = _Q167_BATCH_MAX_ID
    return f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    sh0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1]) AS s
      FROM w
    ),
    sh AS (SELECT DISTINCT doc_id, unnest(s) AS shingle FROM sh0),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    delta AS (
      SELECT doc_id, n_chars, md5(lower(text)) AS fp FROM documents
      WHERE doc_id % 10 = 0 AND doc_id < {bmax}
    ),
    idx AS (
      SELECT doc_id, n_chars, md5(lower(text)) AS fp FROM documents
      WHERE doc_id % 10 <> 0 OR doc_id >= {bmax}
    ),
    bands AS ({band_selects}),
    idx_bands AS (
      SELECT doc_id, band_id, band_key FROM (
        SELECT doc_id, band_id, band_key,
               COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
        FROM bands WHERE doc_id % 10 <> 0 OR doc_id >= {bmax}
      ) WHERE bn <= {_MH_MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN idx_bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.doc_id % 10 = 0 AND a.doc_id < {bmax}
    ),
    near AS (
      SELECT DISTINCT c.doc_a, c.doc_b
      FROM cand c
      JOIN sigs a ON a.doc_id = c.doc_a
      JOIN sigs b ON b.doc_id = c.doc_b
      WHERE {agree} >= {_MH_MIN_AGREE}
    ),
    exact AS (
      SELECT d.doc_id AS doc_a, x.doc_id AS doc_b
      FROM delta d JOIN idx x ON d.fp = x.fp
    ),
    matches AS (SELECT doc_a, doc_b FROM near
                UNION SELECT doc_a, doc_b FROM exact),
    ranked AS (
      SELECT m.doc_a, m.doc_b, i.n_chars AS b_chars,
             ROW_NUMBER() OVER (PARTITION BY m.doc_a
                                ORDER BY i.n_chars DESC, m.doc_b) AS rn,
             COUNT(*) OVER (PARTITION BY m.doc_a) AS nm
      FROM matches m JOIN idx i ON i.doc_id = m.doc_b
    ),
    best AS (SELECT doc_a, doc_b, b_chars, nm FROM ranked WHERE rn = 1)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(b.nm, 0) AS BIGINT) AS n_matches,
           CAST(COALESCE(b.doc_b, -1) AS BIGINT) AS best_match_id,
           CAST(COALESCE(b.b_chars, -1) AS BIGINT) AS best_match_chars,
           CASE WHEN b.doc_b IS NULL THEN 'new'
                WHEN d.n_chars > b.b_chars
                     OR (d.n_chars = b.b_chars AND d.doc_id < b.doc_b)
                THEN 'replace' ELSE 'drop' END AS decision
    FROM delta d LEFT JOIN best b ON b.doc_a = d.doc_id
    """


@register(
    "q167_keep_best_indexed",
    _q167_sql(),
    description="Keep-best dedup in the per-batch INDEXED form (q144's "
    "production twin): delta docs matched against the materialized "
    "bucketed signature index (exact fp + capped asymmetric band join "
    "with >=6/12 signature agreement), then the survivor policy per "
    "delta doc — new / replace (beats the best matched index member on "
    "n_chars, doc_id tiebreak) / drop. O(|delta|) per batch; index "
    "sides read pre-clustered.",
    tags=("dedup", "minhash", "lsh", "incremental", "index", "quality",
          "training-data"),
)
def q167_keep_best_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 10 == 0) & (
        F.col("doc_id") < _Q167_BATCH_MAX_ID
    )
    delta = docs.filter(is_new)

    # Own snapshot index (q167's accepted set differs from q98's: the
    # fixed batch excludes only doc_id%10==0 below the batch cap),
    # keyed on the documents data fingerprint and atomically published
    # (_signature_index, r13 — same discipline as q98). The batch cap
    # participates in the accepted-set predicate, so it rides the
    # recipe string: retuning it re-keys the persistent index.
    sigs_idx, bands_idx = _signature_index(
        spark,
        sf_dir,
        "q167_sig_index",
        docs.filter(~is_new),
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        recipe=f"bmax{_Q167_BATCH_MAX_ID}",
    )

    # Per-batch work: delta signatures fresh (checkpointed — reused by
    # both the band derivation and the agreement join), candidates via
    # the asymmetric capped band join, near-dup by signature agreement.
    sigs_d = dd.minhash_signatures(
        dd.shingle_distinct(delta, n=2), n_hashes=_MH_N
    ).localCheckpoint(eager=True)
    bands_d = dd.lsh_bands(sigs_d, n_hashes=_MH_N, band_size=_MH_BAND)
    cand = dd.lsh_candidate_pairs_asymmetric(
        bands_d, bands_idx, max_bucket=_MH_MAX_BUCKET
    )
    sigs_all = sigs_d.unionByName(sigs_idx.select(*sigs_d.columns))
    near = dd.sig_agreement_filter(
        cand, sigs_all, min_agree=_MH_MIN_AGREE, n_hashes=_MH_N
    )
    exact = (
        delta.select(
            F.col("doc_id").alias("doc_a"),
            F.md5(F.lower("text")).alias("fp"),
        )
        .join(sigs_idx.select(F.col("doc_id").alias("doc_b"), "fp"), "fp")
        .select("doc_a", "doc_b")
    )
    matches = near.unionByName(exact).distinct()

    # Quality metadata for the matched index members; the keep-best
    # argmax runs over match rows (delta-sized, never the corpus).
    idx_chars = docs.filter(~is_new).select(
        F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("b_chars")
    )
    ranked = (
        matches.join(idx_chars, "doc_b")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_a").orderBy(
                    F.desc("b_chars"), F.asc("doc_b")
                )
            ),
        )
        .withColumn("nm", F.count("*").over(Window.partitionBy("doc_a")))
    )
    best = ranked.filter(F.col("rn") == 1).select(
        "doc_a", "doc_b", "b_chars", "nm"
    )
    return (
        delta.select("doc_id", "n_chars")
        .join(best, F.col("doc_id") == F.col("doc_a"), "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce(F.col("nm"), F.lit(0)).cast("long").alias("n_matches"),
            F.coalesce(F.col("doc_b"), F.lit(-1))
            .cast("long")
            .alias("best_match_id"),
            F.coalesce(F.col("b_chars"), F.lit(-1))
            .cast("long")
            .alias("best_match_chars"),
            F.when(F.col("doc_b").isNull(), F.lit("new"))
            .when(
                (F.col("n_chars") > F.col("b_chars"))
                | (
                    (F.col("n_chars") == F.col("b_chars"))
                    & (F.col("doc_id") < F.col("doc_b"))
                ),
                F.lit("replace"),
            )
            .otherwise(F.lit("drop"))
            .alias("decision"),
        )
    )


# ---------------------------------------------------------------------------
# q168 — FULL BPE TRAINING LOOP (8 merges), the end-to-end form of
# q109's single step (r8 verdict ask #6): per iteration, adjacent
# symbol-pair counts weighted by word frequency -> argmax merge (count
# desc, pair asc total order) -> greedy left-to-right merge applied to
# the vocabulary; repeat. Scale shape: the corpus collapses to its
# VOCABULARY once (one corpus scan, map-side-combined, then
# localCheckpoint so iterations NEVER rescan the corpus); each of the 8
# iterations is vocab-bound work plus a documented 1-row argmax pull
# (the q73 k-means-loop precedent). The greedy merge is a JVM-side
# array fold (F.aggregate) — equivalent to the oracle's positional
# form: for a != b, adjacent matches can never chain (a match at i and
# i+1 would force b = a), so all matches commit; for a == b, matches
# chain only inside runs of the same symbol, where greedy keeps every
# other match (odd positions within the island) — the oracle unrolls
# all 8 stages with that gaps-and-islands rule and must produce the
# identical merge table.
# ---------------------------------------------------------------------------
_BPE_STEPS = 8


def _q168_sql() -> str:
    stages = []
    for i in range(1, _BPE_STEPS + 1):
        stages.append(f"""
    pos{i} AS (
      SELECT word, freq,
             unnest(list_transform(generate_series(1, len(syms)),
                    j -> {{'j': j, 's': syms[j]}})) AS u
      FROM v{i - 1}
    ),
    pp{i} AS (
      SELECT word, freq, u.j AS j, u.s AS s,
             LEAD(u.s) OVER (PARTITION BY word ORDER BY u.j) AS nxt
      FROM pos{i}
    ),
    cnt{i} AS (
      SELECT s AS a, nxt AS b, CAST(SUM(freq) AS BIGINT) AS c
      FROM pp{i} WHERE nxt IS NOT NULL GROUP BY s, nxt
    ),
    best{i} AS MATERIALIZED (SELECT a, b, c FROM cnt{i} ORDER BY c DESC, a, b LIMIT 1),
    runs{i} AS MATERIALIZED (
      SELECT p.word, p.freq, p.j, p.s,
             CASE WHEN p.s = b.a AND p.nxt = b.b THEN 1 ELSE 0 END AS m
      FROM pp{i} p, best{i} b
    ),
    isl{i} AS MATERIALIZED (
      SELECT word, j,
             j - ROW_NUMBER() OVER (PARTITION BY word ORDER BY j) AS rid
      FROM runs{i} WHERE m = 1
    ),
    keep{i} AS MATERIALIZED (
      SELECT word, j FROM (
        SELECT word, j,
               ROW_NUMBER() OVER (PARTITION BY word, rid ORDER BY j) AS k
        FROM isl{i}
      ) WHERE k % 2 = 1
    ),
    v{i} AS MATERIALIZED (
      SELECT r.word, r.freq,
             list(CASE WHEN kj.j IS NOT NULL THEN r.s || b.b
                       ELSE r.s END ORDER BY r.j) AS syms
      FROM runs{i} r
      CROSS JOIN best{i} b
      LEFT JOIN keep{i} kj ON kj.word = r.word AND kj.j = r.j
      LEFT JOIN keep{i} kd ON kd.word = r.word AND kd.j = r.j - 1
      WHERE kd.j IS NULL
      GROUP BY r.word, r.freq
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, a AS lhs, b AS rhs,"
        f" a || b AS merged, c AS n_occurrences FROM best{i}"
        for i in range(1, _BPE_STEPS + 1)
    )
    return f"""
    WITH wf AS (
      SELECT w AS word, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) GROUP BY w
    ),
    v0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(generate_series(1, length(word)),
                            i -> substr(word, i, 1)) AS syms
      FROM wf WHERE length(word) >= 2
    ),{",".join(stages)}
    {union}
    """


@register(
    "q168_bpe_train_loop",
    _q168_sql(),
    description=f"Full BPE tokenizer training loop ({_BPE_STEPS} merges): "
    "iterated pair-count -> total-order argmax -> greedy left-to-right "
    "vocabulary merge, end-to-end oracle-checked against an unrolled "
    "8-stage gaps-and-islands SQL twin — one corpus scan collapses to "
    "the checkpointed vocabulary, every iteration is vocab-bound with a "
    "documented 1-row argmax pull (q73 loop precedent).",
    tags=("text", "tokenizer", "training-data", "iterative", "agg"),
)
def q168_bpe_train_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    vocab = (
        wf.filter(F.length("word") >= 2)
        .select(
            "word",
            "freq",
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> substr(word, i, 1))"
            ).alias("syms"),
        )
        .localCheckpoint(eager=True)  # iterations never rescan the corpus
    )
    merges: list[tuple] = []
    for step in range(1, _BPE_STEPS + 1):
        pairs = vocab.filter(F.size("syms") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " j -> struct(element_at(syms, j) AS a,"
                    "             element_at(syms, j + 1) AS b))"
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # documented 1-row argmax pull per iteration
        )
        if not top:
            break
        a, b, c = top[0].a, top[0].b, top[0].c
        merges.append((step, a, b, a + b, c))
        # Greedy left-to-right merge as a JVM-side array fold: append x,
        # unless the running last element is `a` and x is `b` — then
        # replace the last element with the merged symbol. After a
        # merge the last element is a||b (strictly longer than a), so a
        # fold can never chain through a just-merged symbol.
        vocab = vocab.withColumn(
            "syms",
            F.aggregate(
                F.col("syms"),
                F.expr("CAST(array() AS array<string>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(a + b)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges,
        "step bigint, lhs string, rhs string, merged string,"
        " n_occurrences bigint",
    )


# ---------------------------------------------------------------------------
# q169 — NDCG@10 for the retrieval family (completes q145 recall + q164
# AP/RR with the graded position-discount metric). The cross-engine
# trap NDCG adds is the LOGARITHM: IEEE libm log() is not bit-specified
# and may differ between the JVM and DuckDB — so the discount weights
# 1/log2(pos+1) are PRE-QUANTIZED IN PYTHON at registration time
# (w_pos = round(1e6/log2(pos+1)), ten integer literals embedded
# identically in both dialects), and DCG/IDCG/NDCG are then pure BIGINT
# arithmetic: dcg = SUM(rel * w_pos), idcg = the weight prefix-sum over
# min(|truth|, 10) ideal positions, ndcg_milli = (1000*dcg) div idcg
# (non-negative operands, lesson-11 safe). Same retrieval composition
# as q164: only top-k lists (tens of rows) reach the eval join.
# ---------------------------------------------------------------------------
import math as _math

_NDCG_K = 10
_NDCG_W = [
    round(1_000_000 / _math.log2(p + 1)) for p in range(1, _NDCG_K + 1)
]
_NDCG_CASE = (
    "CASE pos "
    + " ".join(f"WHEN {p + 1} THEN {w}" for p, w in enumerate(_NDCG_W))
    + " ELSE 0 END"
)
_NDCG_IDEAL_CASE = (
    "CASE WHEN n_truth >= 10 THEN {all} ELSE ({prefix}) END".format(
        all=sum(_NDCG_W),
        prefix=" + ".join(
            f"(CASE WHEN n_truth >= {p + 1} THEN {w} ELSE 0 END)"
            for p, w in enumerate(_NDCG_W)
        ),
    )
)


def _q169_oracle() -> str:
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.registry import QUERIES as _Q

    brute = _Q["q34_embedding_topk"].oracle
    srp = _Q["q36_ann_srp_bucket"].oracle
    ivf = _Q["q66_ivf_ann"].oracle
    return f"""
    WITH brute AS (SELECT vec_id FROM ({brute})),
    truth AS (SELECT COUNT(*) AS n_truth FROM brute),
    srp AS (
      SELECT vec_id, cosine_sim FROM ({srp})
      ORDER BY cosine_sim DESC, vec_id LIMIT 10
    ),
    ivf AS (SELECT vec_id, cosine_sim FROM ({ivf})),
    cand AS (
      SELECT 'srp_bucket' AS method, vec_id, cosine_sim FROM srp
      UNION ALL
      SELECT 'ivf' AS method, vec_id, cosine_sim FROM ivf
    ),
    ranked AS (
      SELECT c.method,
             ROW_NUMBER() OVER (PARTITION BY c.method
                                ORDER BY c.cosine_sim DESC, c.vec_id) AS pos,
             CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
      FROM cand c LEFT JOIN brute b ON b.vec_id = c.vec_id
    )
    SELECT method,
           COUNT(*) AS k_retrieved,
           CAST(SUM(rel * ({_NDCG_CASE})) AS BIGINT) AS dcg_scaled,
           CAST((1000 * SUM(rel * ({_NDCG_CASE})))
                // ANY_VALUE({_NDCG_IDEAL_CASE}) AS BIGINT) AS ndcg_milli
    FROM ranked, truth
    GROUP BY method
    """


@register(
    "q169_retrieval_ndcg",
    _q169_oracle(),
    description="NDCG@10 for the SRP and IVF retrieval paths against "
    "brute-force ground truth: the 1/log2(pos+1) discount weights are "
    "pre-quantized to integer micro-units in Python (identical literals "
    "in both dialects — IEEE libm log is not bit-portable), so "
    "DCG/IDCG/NDCG are exact BIGINT arithmetic; composes the three "
    "registered retrieval oracles with the q164 total order.",
    tags=("similarity", "ann", "eval", "audit"),
)
def q169_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Shared rankings (one materialization per pipeline per session —
    # see _ann_rankings; q145/q164 read the same artifacts).
    rank = _ann_rankings(spark, sf_dir)
    brute = rank["brute"].select("vec_id")
    n_truth = brute.agg(F.count("*").alias("n_truth"))
    srp = (
        rank["srp"]
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "cosine_sim")
        .withColumn("method", F.lit("srp_bucket"))
    )
    ivf = (
        rank["ivf"]
        .select("vec_id", "cosine_sim")
        .withColumn("method", F.lit("ivf"))
    )
    ranked = (
        srp.unionByName(ivf)
        .join(F.broadcast(brute.withColumn("__rel", F.lit(1))), "vec_id", "left")
        .select(
            "method",
            F.row_number()
            .over(
                Window.partitionBy("method").orderBy(
                    F.desc("cosine_sim"), F.asc("vec_id")
                )
            )
            .alias("pos"),
            F.coalesce(F.col("__rel"), F.lit(0)).alias("rel"),
        )
    )
    return (
        ranked.crossJoin(F.broadcast(n_truth))
        .groupBy("method")
        .agg(
            F.count("*").alias("k_retrieved"),
            F.expr(f"CAST(SUM(rel * ({_NDCG_CASE})) AS BIGINT)").alias(
                "dcg_scaled"
            ),
            F.expr(
                f"CAST((1000 * SUM(rel * ({_NDCG_CASE})))"
                f" div FIRST({_NDCG_IDEAL_CASE}) AS BIGINT)"
            ).alias("ndcg_milli"),
        )
    )


# ---------------------------------------------------------------------------
# q170 — BUCKETED-CTAS CO-LOCATED JOIN: the write-side scale technique
# as a registered query (previously only a unit test,
# tests/test_scale_paths.py). Spark side: CTAS customer and orders into
# parquet tables bucketed 8-ways on the customer key, read them back,
# and join WITH AUTO-BROADCAST DISABLED — the plan must hit the
# bucketed scan (Bucketed: true, SortMergeJoin, no Exchange under the
# join inputs), which is asserted IN the query: silently degrading to
# a shuffled join would pass value parity while losing exactly the
# property the query exists to prove. At 100 TB this is the fact-fact
# join shape: pay the bucketed write once, then every downstream join
# on the key is shuffle-free. Values: revenue rollup per market
# segment, quantized; conf scoped per lesson 15 (collect before
# restore, return a local frame).
# ---------------------------------------------------------------------------
@register(
    "q170_bucketed_ctas_join",
    """
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
    description="Bucketed CTAS + co-located join: customer and orders "
    "written as 8-bucket tables on the customer key under a BOTH-inputs "
    "data-fingerprint token with an atomic publish and lesson-27 "
    "CLUSTERED BY re-registration (r14, retiring the md5(sf_dir) "
    "session CTAS), read back and "
    "joined with auto-broadcast disabled — the bucketed scan and "
    "exchange-free sort-merge join are asserted inside the query (a "
    "silent degrade to a shuffled join fails loudly); per-segment "
    "quantized revenue rollup proves the write->read round trip is "
    "value-exact. The pay-once write that makes repeated fact-fact "
    "joins shuffle-free at scale.",
    tags=("sink", "bucketing", "join", "agg", "scale-dial"),
)
def q170_bucketed_ctas_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    # Fingerprint-keyed bucketed pair (r14, retiring the md5(sf_dir)
    # session CTAS): the token fingerprints CUSTOMER's data and folds
    # ORDERS' fingerprint into the logic salt, so regenerating either
    # input in place invalidates the pair. Both bucketed tables are
    # written into ONE build_once directory (bucketBy needs
    # saveAsTable — written through temp catalog names whose external
    # files survive the DROP) and registered over the published files
    # as token-scoped bucketed tables (lesson 27: bucket file names
    # carry the bucket id, so relocation preserves the clustering).
    n_buckets = 8
    salt = f"v2-fp.b{n_buckets}.{_data_fingerprint_token(sf_dir, 'orders')}"

    def write(tmp_dir: str) -> None:
        cust = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        orders = read_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_totalprice"
        )
        for df, sub, key in (
            (cust, "cust", "c_custkey"),
            (orders, "ord", "o_custkey"),
        ):
            tmp_tbl = f"{cache.table_name(tmp_dir)}_{sub}"
            (
                df.write.format("parquet")
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .option("path", os.path.join(tmp_dir, sub))
                .saveAsTable(tmp_tbl)
            )
            # External table: dropping the temp catalog entry keeps
            # the files for the publish.
            spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")

    target = cache.build_once(
        spark, sf_dir, "customer", "q170_pair", salt, write
    )
    tc, to = cache.register_bucketed(
        spark,
        target,
        n_buckets,
        (("cust", "c_custkey"), ("ord", "o_custkey")),
        sorted_by=True,
    )

    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        joined = (
            spark.table(to)
            .join(
                spark.table(tc),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("revenue_cents"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if "Bucketed: true" not in plan or "SortMergeJoin" not in plan:
            raise AssertionError(
                "bucketed co-located join degraded to a shuffled plan:\n"
                + plan
            )
        rows = joined.collect()  # materialize under the scoped conf
    return spark.createDataFrame(
        rows, "c_mktsegment string, n_orders bigint, revenue_cents bigint"
    )


# ---------------------------------------------------------------------------
# q171 — BATCHED MULTI-QUERY EXACT TOP-K (the retrieval-serving shape
# q34 is the single-query verifier for): a BATCH of 8 query vectors is
# broadcast, candidate norms are computed ONCE per candidate BEFORE the
# expansion (q34's per-pair norm is fine for one query; at batch size B
# it would recompute each norm B times), one scan emits the B x N
# cosine rows map-side, and exact per-query top-5 is reduced in TWO
# phases: phase 1 takes top-5 per (query, salt=vec_id%16) — 128-key
# shuffle instead of the 8-key straggler a naive per-query window
# creates — and phase 2 ranks the 8x16x5 survivors. Pigeonhole makes
# the two-phase result EXACTLY the global top-5 (any global winner is
# in its own salt group's top-5), so the oracle is a plain per-query
# ROW_NUMBER. The production form of "evaluate a query batch against
# the corpus" — one corpus scan amortized over the whole batch.
# ---------------------------------------------------------------------------
_Q171_BATCH = 8
_Q171_K = 5
_Q171_SALTS = 16


@register(
    "q171_batch_ann_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < {_Q171_BATCH}
    ),
    e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev
      FROM embeddings WHERE vec_id >= {_Q171_BATCH}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             ROUND(list_dot_product(e.ev, q.qv)
                   / (SQRT(list_dot_product(e.ev, e.ev))
                      * SQRT(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
      FROM e, q
    ),
    ranked AS (
      SELECT query_id, vec_id, label, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, vec_id, label, cosine_sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {_Q171_K}
    """,
    description=f"Batched exact retrieval: {_Q171_BATCH} broadcast query "
    "vectors, candidate norms computed once before the batch expansion, "
    f"one corpus scan, exact per-query top-{_Q171_K} via a two-phase "
    f"salted reduction (top-k per (query, vec_id%{_Q171_SALTS}) then "
    "top-k of survivors — exact by pigeonhole, and the shuffle spreads "
    "over query x salt keys instead of one straggler key per query).",
    tags=("similarity", "topk", "batch", "scale-dial"),
)
def q171_batch_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from nyc_yellow_taxi_trip_data_pipeline_spark.functions.vector import (
        dot_product,
        l2_norm,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    qv = (
        emb.filter(F.col("vec_id") < _Q171_BATCH)
        .select(
            F.col("vec_id").alias("query_id"),
            sim.as_double().alias("qv"),
        )
        .select("query_id", "qv", l2_norm(F.col("qv")).alias("qn"))
    )
    cand = emb.filter(F.col("vec_id") >= _Q171_BATCH).select(
        "vec_id",
        "label",
        sim.as_double().alias("ev"),
    )
    # Norm once per candidate, BEFORE the batch expansion.
    cand = cand.select(
        "vec_id", "label", "ev", l2_norm(F.col("ev")).alias("en")
    )
    scored = cand.crossJoin(F.broadcast(qv)).select(
        "query_id",
        "vec_id",
        "label",
        F.round(
            dot_product(F.col("ev"), F.col("qv"))
            / (F.col("en") * F.col("qn")),
            6,
        ).alias("cosine_sim"),
    )
    # Phase 1: exact local top-k per (query, salt) — 128 shuffle keys.
    w1 = Window.partitionBy(
        "query_id", F.pmod(F.col("vec_id"), F.lit(_Q171_SALTS))
    ).orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
    survivors = (
        scored.withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= _Q171_K)
        .drop("__r")
    )
    # Phase 2: global top-k over the tiny survivor set.
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= _Q171_K)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "vec_id",
            "label",
            "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# q172 — STREAMING session_window (append mode): the 4th corner of the
# sessionization square (q20 lag+cumsum batch, q67 stateful-UDF stream,
# q161 built-in batch, q172 built-in STREAM). The streaming operator's
# exact algebra was PINNED EMPIRICALLY before the oracle was written
# (lesson-7 methodology; candidate sweep vs emitted rows AND
# numRowsDroppedByWatermark, 16 algebras, exactly one family matched):
#   1. LATE FILTER is session-window-level with the TWO-BATCH-LAG
#      watermark: batch i drops a row only when ts + gap <= W(i-2)
#      (the row's whole would-be session is below the watermark —
#      row-level ts-vs-wm candidates mispredict the drop counts);
#   2. kept rows merge into state by interval coalescing
#      (next.start <= prev.end merges — the q161 batch boundary pin);
#   3. EMISSION uses the BATCH-START watermark W(i-1) (not the end-of-
#      batch one): sessions with end <= W(i-1) emit after the merge;
#      the trailing empty microbatch emits with W(3) = final runmax -
#      delay. Boundary strictness (le vs lt) is measure-zero here and
#      at both tested SFs (event times are us-grained).
# The oracle unrolls the 4-batch replay as MATERIALIZED stages of
# gaps-and-islands interval coalescing — the same simulation that
# uniquely matched the observed stream.
# ---------------------------------------------------------------------------
_SSW_GAP_US = 1_800_000_000  # 30 min
_SSW_DELAY_US = 5_400_000_000  # 90 min


def _q172_sql() -> str:
    stages = []
    for i in range(4):
        if i == 0:
            kept = """
    k0 AS MATERIALIZED (
      SELECT user_id, t FROM e WHERE b = 0
    ),"""
            prev_union = "SELECT user_id, t AS s, t + {gap} AS e, 1 AS cnt FROM k0"
        else:
            late = (
                "TRUE" if i == 1
                else f"t + {{gap}} > (SELECT wm FROM wms WHERE b = {i - 2})"
            )
            kept = f"""
    k{i} AS MATERIALIZED (
      SELECT user_id, t FROM e WHERE b = {i} AND ({late})
    ),"""
            prev_union = (
                f"SELECT user_id, s, e, cnt FROM st{i - 1}"
                f" UNION ALL"
                f" SELECT user_id, t AS s, t + {{gap}} AS e, 1 AS cnt FROM k{i}"
            )
        stages.append(kept + f"""
    u{i} AS MATERIALIZED ({prev_union}),
    f{i} AS MATERIALIZED (
      SELECT user_id, s, e, cnt,
             CASE WHEN s <= MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 0 ELSE 1 END AS brk
      FROM u{i}
    ),
    g{i} AS MATERIALIZED (
      SELECT user_id, s, e, cnt,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM f{i}
    ),
    c{i} AS MATERIALIZED (
      SELECT user_id, MIN(s) AS s, MAX(e) AS e,
             CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM g{i} GROUP BY user_id, sid
    ),
    em{i} AS MATERIALIZED (
      SELECT user_id, s, e, cnt FROM c{i}
      WHERE {i} >= 1 AND e <= (SELECT wm FROM wms WHERE b = {i - 1})
    ),
    st{i} AS MATERIALIZED (
      SELECT user_id, s, e, cnt FROM c{i}
      WHERE NOT ({i} >= 1 AND e <= (SELECT wm FROM wms WHERE b = {i - 1}))
    )""")
    body = ",".join(stages)
    return f"""
    WITH e AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS t, event_id % 4 AS b FROM events
    ),
    mx AS (SELECT b, MAX(t) AS mxt FROM e GROUP BY b),
    wms AS MATERIALIZED (
      SELECT b, MAX(mxt) OVER (ORDER BY b) - {{delay}} AS wm FROM mx
    ),{body},
    em4 AS (
      SELECT user_id, s, e, cnt FROM st3
      WHERE e <= (SELECT wm FROM wms WHERE b = 3)
    ),
    allem AS (
      SELECT * FROM em1 UNION ALL SELECT * FROM em2
      UNION ALL SELECT * FROM em3 UNION ALL SELECT * FROM em4
    )
    SELECT user_id,
           CAST(s // 1000 AS BIGINT) AS session_start_ms,
           CAST(e // 1000 AS BIGINT) AS session_end_ms,
           cnt AS n_events
    FROM allem
    """.format(gap=_SSW_GAP_US, delay=_SSW_DELAY_US)


@register(
    "q172_streaming_session_window",
    _q172_sql(),
    description="Built-in session_window in STREAMING append mode over a "
    "4-batch replay: exact oracle for the empirically-pinned algebra — "
    "session-level late filter (ts+gap vs the two-batch-lagged "
    "watermark), interval-coalescing state merge, emission at the "
    "batch-start watermark, final empty-batch flush; the oracle "
    "unrolls the replay as materialized gaps-and-islands stages. "
    "Completes the sessionization square (q20/q67/q161/q172).",
    tags=("streaming", "session", "watermark", "window", "late-data"),
)
def q172_streaming_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        drain_to_memory,
        replay_files,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    batches = [ev.filter(F.pmod("event_id", F.lit(4)) == i) for i in range(4)]
    with replay_files(spark, batches) as stream:
        agg = (
            stream.withWatermark("ts", "90 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.expr("unix_millis(w.start)").alias("session_start_ms"),
                F.expr("unix_millis(w.end)").alias("session_end_ms"),
                "n_events",
            )
        )
        return drain_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# q173 — CHI-SQUARE INDEPENDENCE AUDIT (lang x source contingency): the
# release gate for "is language distribution independent of source?" —
# a skewed cell means a source is quietly dominating a language slice.
# Exact-portability shape: O, row/col totals and N are exact BIGINTs
# from one contingency aggregation; each cell's chi-square term
# (O - E)^2 / E (E = rt*ct/N) is evaluated as a FIXED IEEE double
# sequence on those integers — the naive all-integer form
# (O*N - rt*ct)^2 needs ~N^4 headroom and wraps at corpus scale (the
# q163/q148 overflow class) — and then quantized to micro-units PER
# CELL so the total is an order-free integer SUM (summing raw doubles
# over cells is engine-order-dependent). One shuffle on the cell key;
# cell cardinality (langs x sources), not rows, bounds everything
# downstream.
# ---------------------------------------------------------------------------
_CHI2_TERM = (
    "FLOOR(1000000.0{d} * "
    "((CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)"
    " * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)"
    " / (CAST(rt AS DOUBLE) * ct / n)) + 0.5{d})"
)


@register(
    "q173_chi2_independence",
    f"""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o
      FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY lang),
    ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cells
           GROUP BY source),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
    SELECT c.lang, c.source, CAST(c.o AS BIGINT) AS o,
           CAST(FLOOR(1000.0 * CAST(rt.rt AS DOUBLE) * ct.ct / n.n + 0.5)
                AS BIGINT) AS expected_milli,
           CAST({_CHI2_TERM.format(d="")} AS BIGINT) AS contrib_micro
    FROM cells c
    JOIN rt ON rt.lang = c.lang
    JOIN ct ON ct.source = c.source
    CROSS JOIN n
    """,
    description="Chi-square independence audit over the lang x source "
    "contingency table: exact BIGINT observed/marginal counts, each "
    "cell's (O-E)^2/E term evaluated as a fixed IEEE double sequence "
    "and quantized per cell so the statistic is an order-free integer "
    "sum (raw double sums are engine-order-dependent; the all-integer "
    "form needs ~N^4 headroom); cell cardinality bounds all state.",
    tags=("audit", "agg", "training-data", "experiment"),
)
def q173_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rt = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    ct = cells.groupBy("source").agg(F.sum("o").cast("long").alias("ct"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    return (
        cells.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.col("o").cast("long").alias("o"),
            F.expr(
                "CAST(FLOOR(1000.0D * CAST(rt AS DOUBLE) * ct / n + 0.5D)"
                " AS BIGINT)"
            ).alias("expected_milli"),
            F.expr(
                f"CAST({_CHI2_TERM.format(d='D')} AS BIGINT)"
            ).alias("contrib_micro"),
        )
    )


# ---------------------------------------------------------------------------
# q174 — TEMPERATURE-SCALED DOMAIN SAMPLING WEIGHTS (the multilingual /
# multi-domain upsampling rule: p_d ~ n_d^alpha with alpha = 0.5, the
# exponent family XLM-R/mT5-style mixes use to lift low-resource
# domains): per-source doc and token mass, weight = floor(sqrt(n_docs))
# — IEEE sqrt is CORRECTLY ROUNDED by the standard, one of the few libm
# ops that IS bit-portable, so the weight is engine-exact without a
# lookup — and ppm sampling shares by largest-remainder apportionment
# with total-order tiebreaks (q166's machinery on a different design:
# q166 allocates by N_h*S_h variance mass, q174 by count temperature).
# Shares provably sum to 1e6; one source rollup + a source-count
# window.
# ---------------------------------------------------------------------------
@register(
    "q174_temperature_mix",
    """
    WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_chars,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS wt
      FROM s
    ),
    tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w),
    base AS (
      SELECT w.source, w.n_docs, w.n_chars, w.wt,
             CASE WHEN tot.tw = 0 THEN 0
                  ELSE (1000000 * w.wt) // tot.tw END AS share0,
             CASE WHEN tot.tw = 0 THEN 0
                  ELSE (1000000 * w.wt) % tot.tw END AS rem
      FROM w, tot
    ),
    ranked AS (
      SELECT source, n_docs, n_chars, wt, share0,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
             1000000 - SUM(share0) OVER () AS leftover
      FROM base
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_chars,
           wt AS weight,
           CAST(share0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS share_ppm
    FROM ranked
    """,
    description="Temperature-scaled domain mix (alpha=0.5): per-source "
    "sampling shares proportional to sqrt(n_docs) — IEEE sqrt is "
    "correctly rounded and therefore bit-portable — apportioned to ppm "
    "by largest remainder with total-order tiebreaks (shares provably "
    "sum to 1e6); the standard low-resource upsampling rule as an "
    "integer-reproducible design; one source rollup + a tiny window.",
    tags=("sampling", "training-data", "agg", "audit"),
)
def q174_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    w = s.select(
        "source",
        "n_docs",
        "n_chars",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"
        ).alias("wt"),
    )
    tot = w.agg(F.sum("wt").cast("long").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        "wt",
        F.expr(
            "CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (1000000 * wt) div tw END"
        ).alias("share0"),
        F.expr(
            "CASE WHEN tw = 0 THEN CAST(0 AS BIGINT)"
            " ELSE (1000000 * wt) % tw END"
        ).alias("rem"),
    )
    ranked = base.select(
        "source",
        "n_docs",
        "n_chars",
        "wt",
        "share0",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("source")))
        .alias("rk"),
        (
            F.lit(1_000_000).cast("long")
            - F.sum("share0").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).alias("leftover"),
    )
    return ranked.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_chars",
        F.col("wt").alias("weight"),
        F.expr(
            "CAST(share0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# q175 — DYNAMIC PARTITION PRUNING over a day-partitioned fact write:
# the second write-side scale technique registered as a query (q170 is
# bucketing for shuffle-free joins; q175 is partitioning for scan
# pruning). The fact table is written PARTITIONED BY day under a
# data-fingerprint token with an atomic publish (r14); the dim side
# carries a filterable attribute (grp = day % 7) and is joined after
# filtering grp = 3 — at planning time Spark injects the broadcast
# result as a partition filter (dynamicpruningexpression in the fact
# scan's PartitionFilters), so only the matching day directories are
# read, never the full fact. At 100 TB this is THE date-partitioned
# fact pattern: a dim-side predicate prunes fact I/O by orders of
# magnitude without the query author naming the days. The DPP marker is
# asserted INSIDE the query (q170's discipline — silently degrading to
# a full scan would pass value parity while losing the property under
# test); values are the per-day quantized rollup of the surviving
# partitions.
# ---------------------------------------------------------------------------
@register(
    "q175_dynamic_partition_pruning",
    """
    WITH f AS (
      SELECT CAST(FLOOR(EPOCH(ts)) AS BIGINT) // 86400 AS day,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    )
    SELECT day,
           COUNT(*) AS n_events,
           CAST(SUM(qv) AS BIGINT) AS value_cents
    FROM f
    WHERE day % 7 = 3
    GROUP BY day
    """,
    description="Dynamic partition pruning: events written PARTITIONED "
    "BY day under a data-fingerprint token with an atomic one-rename "
    "publish (fact+dim as ONE directory; r14, retiring the md5(sf_dir) "
    "session CTAS), joined to a dim filtered on a derived attribute "
    "(day%7=3) — "
    "Spark injects the broadcast result as a fact-scan partition "
    "filter (dynamicpruningexpression, asserted in-plan), reading only "
    "matching day directories; per-day quantized rollup proves the "
    "partitioned write->pruned read round trip value-exact. The "
    "date-partitioned-fact pattern that prunes I/O at 100 TB.",
    tags=("sink", "partitioning", "join", "agg", "scale-dial"),
)
def q175_dynamic_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    # Fingerprint-keyed fact/dim pair (r14, retiring the md5(sf_dir)
    # session CTAS): both sides derive from events, so one events token
    # keys both; the two directories are built into ONE build_once
    # directory and published together — a concurrent same-token
    # session can never see the fact without the dim (the q98/q167
    # index discipline; lesson 25). DPP fires on the
    # path-based partition-discovered read exactly as on a catalog
    # table (dynamicpruningexpression lands in the file scan's
    # PartitionFilters), so no catalog registration is needed and a
    # fresh session self-heals from the published files alone.
    def write(tmp_dir: str) -> None:
        ev = read_table(spark, sf_dir, "events").select(
            F.expr(
                "CAST(unix_timestamp(ts) AS BIGINT) div 86400"
            ).alias("day"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        ev.write.partitionBy("day").parquet(os.path.join(tmp_dir, "fact"))
        (
            spark.read.parquet(os.path.join(tmp_dir, "fact"))
            .select("day")
            .distinct()
            .withColumn("grp", F.pmod("day", F.lit(7)))
            .write.parquet(os.path.join(tmp_dir, "dim"))
        )

    target = cache.build_once(
        spark, sf_dir, "events", "q175_dpp", "v2-fp", write
    )
    # Memoized published reads (r15): the fact read re-ran partition
    # discovery and the dim read re-listed per run (~0.1 s each,
    # lesson 29) — the published pair is immutable, so the DataFrames
    # are cached per (session, path, publish stamp).
    fact = cache.read_published(spark, os.path.join(target, "fact"))
    dim = (
        cache.read_published(spark, os.path.join(target, "dim"))
        .filter(F.col("grp") == 3)
        .select("day")
    )
    joined = fact.join(dim, "day").groupBy("day").agg(
        F.count("*").alias("n_events"),
        F.sum("qv").cast("long").alias("value_cents"),
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    if "dynamicpruning" not in plan.lower():
        raise AssertionError(
            "fact scan lost its dynamic partition pruning filter:\n" + plan
        )
    return joined.select(
        F.col("day").cast("long").alias("day"), "n_events", "value_cents"
    )


# ---------------------------------------------------------------------------
# q176 — HARD-NEGATIVE MINING (contrastive-training data prep): for
# each anchor vector, the most-similar DIFFERENT-LABEL vector inside
# its SRP bucket — the "hardest negative" a contrastive loss wants,
# found without any O(n^2) scan: the md5-seeded sign-projection bucket
# (q36's machinery, integer-quantized so bucketing is engine-exact)
# bounds the candidate set, exact cosine runs only within buckets, and
# a per-anchor ROW_NUMBER argmax (cosine desc, vec_id tiebreak) picks
# the winner. Pair volume is sum of squared bucket sizes — the same
# bounded-block economics as q35/q83, with the recall dial being the
# plane count. Anchors whose bucket holds no other label emit nothing
# (they have no in-bucket negative; raising planes shrinks buckets and
# trades recall exactly like every LSH dial here).
# ---------------------------------------------------------------------------
def _q176_sql() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
    ),
    comps AS (
      SELECT vec_id, generate_subscripts(ev, 1) AS j, unnest(ev) AS v FROM e
    ),
    quant AS (
      SELECT vec_id, j, CAST(FLOOR(v * {_SRP_SCALE} + 0.5) AS BIGINT) AS vq
      FROM comps
    ),
    np AS (
      -- corpus-derived plane count (q108's rule): min p>=3 with
      -- 64*2^p >= n, pinning expected bucket size at ~64 so pair
      -- volume stays LINEAR in the corpus (fixed planes measured
      -- 3.5x wall at 10x rows; derived planes ~1x).
      SELECT MIN(p) AS np FROM generate_series(3, 29) t(p)
      WHERE (CAST(1 AS BIGINT) << p) * 64 >= (SELECT COUNT(*) FROM e)
    ),
    planes AS (
      SELECT p, j,
             CASE WHEN substr(md5(p || ':' || j), 1, 1) >= '8'
                  THEN 1 ELSE -1 END AS sign
      FROM generate_series(0, 29) t(p)
      CROSS JOIN (SELECT DISTINCT j FROM comps) u
      WHERE p < (SELECT np FROM np)
    ),
    bits AS (
      SELECT q.vec_id, pl.p,
             CASE WHEN SUM(q.vq * pl.sign) >= 0 THEN 1 ELSE 0 END AS bit
      FROM quant q JOIN planes pl ON q.j = pl.j
      GROUP BY q.vec_id, pl.p
    ),
    buckets AS (
      SELECT vec_id, CAST(SUM(bit * (1 << p)) AS INTEGER) AS bucket
      FROM bits GROUP BY vec_id
    ),
    eb AS (
      SELECT e.vec_id, e.label, e.ev, b.bucket
      FROM e JOIN buckets b ON b.vec_id = e.vec_id
    ),
    pairs AS (
      SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
             n.vec_id AS neg_id, n.label AS neg_label,
             ROUND(list_dot_product(a.ev, n.ev)
                   / (SQRT(list_dot_product(a.ev, a.ev))
                      * SQRT(list_dot_product(n.ev, n.ev))), 6) AS cosine_sim
      FROM eb a
      JOIN eb n ON a.bucket = n.bucket AND a.label <> n.label
    ),
    ranked AS (
      SELECT anchor_id, anchor_label, neg_id, neg_label, cosine_sim,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cosine_sim DESC, neg_id) AS rn
      FROM pairs
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, cosine_sim
    FROM ranked WHERE rn = 1
    """


@register(
    "q176_hard_negative_mining",
    _q176_sql(),
    description="Hard-negative mining for contrastive training: each "
    "anchor's most-similar different-label vector within its SRP "
    "bucket (integer-quantized md5 sign projections, engine-exact; "
    "corpus-derived plane count pins expected bucket size ~64) — "
    "exact cosine only inside buckets, per-anchor argmax with a total "
    "order; pair volume bounded by bucket sizes, recall dialed by the "
    "plane count like every LSH path here.",
    tags=("similarity", "lsh", "training-data", "eval"),
)
def q176_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from nyc_yellow_taxi_trip_data_pipeline_spark.functions.vector import (
        dot_product,
        l2_norm,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # Corpus-derived plane count (q108's rule; one documented count()
    # action): expected bucket ~64 keeps in-bucket pair volume linear.
    n = emb.count()
    n_planes = 3
    while (64 << n_planes) < n:
        n_planes += 1
    buckets = sim.srp_buckets(emb, n_planes=n_planes, scale=_SRP_SCALE)
    eb = (
        emb.join(buckets, "vec_id")
        .select(
            "vec_id",
            "label",
            "bucket",
            sim.as_double().alias("ev"),
        )
        .select(
            "vec_id", "label", "bucket", "ev",
            l2_norm(F.col("ev")).alias("nrm"),
        )
    )
    a = eb.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("bucket"),
        F.col("ev").alias("av"),
        F.col("nrm").alias("an"),
    )
    n = eb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("bucket"),
        F.col("ev").alias("nv"),
        F.col("nrm").alias("nn"),
    )
    pairs = (
        a.join(n, "bucket")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round(
                dot_product(F.col("av"), F.col("nv"))
                / (F.col("an") * F.col("nn")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("neg_id")
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# q177 — SHUFFLE-INTERLEAVE AUDIT (training-order randomization
# quality): training reads data in md5(doc_id) order (the standard
# deterministic global shuffle — no RNG, reshardable, reproducible);
# this audit measures how well that order interleaves sources by the
# run-length distribution of consecutive same-source docs. Long runs
# mean a source floods contiguous training steps (the gradient-noise
# hazard order randomization exists to prevent). Gaps-and-islands over
# ROW_NUMBER in shuffle order -> per-source run count, max and mean
# run length (exact milli via FLOOR quantization). One global sort of
# (md5, source) pairs — 33 bytes/row, the audit never touches text; at
# 100 TB the same statistic shards by md5 prefix (runs can straddle a
# boundary by at most one join of adjacent shard edges).
# ---------------------------------------------------------------------------
@register(
    "q177_shuffle_interleave_audit",
    """
    WITH ordered AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                doc_id) AS pos
      FROM documents
    ),
    flagged AS (
      SELECT source, pos,
             CASE WHEN LAG(source) OVER (ORDER BY pos) IS DISTINCT
                       FROM source THEN 1 ELSE 0 END AS brk
      FROM ordered
    ),
    runs AS (
      SELECT source, pos,
             SUM(brk) OVER (ORDER BY pos ROWS UNBOUNDED PRECEDING) AS rid
      FROM flagged
    ),
    rl AS (
      SELECT source, rid, COUNT(*) AS run_len
      FROM runs GROUP BY source, rid
    )
    SELECT source,
           COUNT(*) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_docs,
           CAST(MAX(run_len) AS BIGINT) AS max_run,
           CAST(FLOOR(CAST(1000 * SUM(run_len) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS mean_run_milli
    FROM rl GROUP BY source
    """,
    description="Training-order randomization audit: docs ordered by the "
    "deterministic md5(doc_id) global shuffle, per-source run-length "
    "stats (runs, max, quantized mean) via gaps-and-islands — long "
    "same-source runs are the gradient-noise hazard shuffling exists "
    "to prevent; the audit sorts 33-byte (md5, source) pairs only and "
    "shards by md5 prefix at scale.",
    tags=("training-data", "audit", "window", "agg"),
)
def q177_shuffle_interleave_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("doc_id").cast("string")).alias("h"), "doc_id"
    )
    ordered = docs.select(
        "source",
        F.row_number()
        .over(Window.orderBy("h", "doc_id"))
        .alias("pos"),
    )
    flagged = ordered.select(
        "source",
        "pos",
        F.when(
            ~F.lag("source").over(Window.orderBy("pos")).eqNullSafe(
                F.col("source")
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    runs = flagged.select(
        "source",
        "pos",
        F.sum("brk")
        .over(Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0))
        .alias("rid"),
    )
    rl = runs.groupBy("source", "rid").agg(F.count("*").alias("run_len"))
    return rl.groupBy("source").agg(
        F.count("*").alias("n_runs"),
        F.sum("run_len").cast("long").alias("n_docs"),
        F.max("run_len").cast("long").alias("max_run"),
        F.expr(
            "CAST(FLOOR(CAST(1000 * SUM(run_len) AS DOUBLE) / COUNT(*)"
            " + 0.5D) AS BIGINT)"
        ).alias("mean_run_milli"),
    )


# ---------------------------------------------------------------------------
# q178 — ARROW-OPTIMIZED PYTHON UDF (Spark 4 `udf(..., useArrow=True)`):
# the third point on the Python-UDF surface after the row-at-a-time
# pickle UDF (reference sparkConsumer.py:71-80, deliberately NOT used
# anywhere in this repo) and the pandas_udf (q28): same per-row Python
# function, but arguments/results cross the JVM boundary as Arrow
# batches instead of pickled rows (~an order of magnitude less
# serialization overhead, the Spark-4 recommended default for scalar
# Python UDFs that aren't vectorizable). Semantics: whitespace token
# count — the UDF-surface twin of q71's native split/size path, exactly
# as q28 is the UDF twin of q02's native CASE. Python's
# str.split(' '), Spark's split+size, and DuckDB's string_split all
# keep empty fields, so the three agree token-for-token.
# ---------------------------------------------------------------------------
@register(
    "q178_arrow_python_udf",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
             AS total_tokens,
           CAST(MAX(len(string_split(text, ' '))) AS BIGINT)
             AS max_tokens
    FROM documents
    GROUP BY lang
    """,
    description="Arrow-optimized scalar Python UDF (Spark 4 "
    "udf(useArrow=True)): per-row Python with Arrow-batch transfer "
    "instead of pickled rows — the recommended Spark-4 form for "
    "non-vectorizable scalar Python; computes whitespace token counts "
    "as the UDF-surface twin of q71's native split/size path (q28's "
    "pattern). Per-lang rollup keeps the shuffle on 3 grouping keys.",
    tags=("udf", "arrow", "text"),
)
def q178_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udf

    # Self-contained closure (invariant 3): executors can't import the
    # repo package. No annotations on purpose — the return type is the
    # explicit 'long' argument (this module's `from __future__ import
    # annotations` would stringify hints, invariant 6).
    def _ntok(s):
        return len(s.split(" "))

    ntok = udf(_ntok, "long", useArrow=True)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", ntok(F.col("text")).alias("ntok"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.max("ntok").cast("long").alias("max_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q179 — OBSERVED IN-FLIGHT METRICS (Observation / CollectMetrics):
# data-quality counters collected DURING the pipeline's own pass, not
# by a second scan. Two observation points bracket a cleaning filter —
# rows/nulls before, rows/quantized value mass after — and one action
# populates both. At 100 TB this is the difference between free
# monitoring and doubling the I/O bill: CollectMetrics rides the
# existing scan as exact observable metrics (unlike accumulators,
# defined to reflect the one query execution). The oracle recomputes
# all four counters relationally — the observed values must equal a
# from-scratch aggregation exactly. Lesson-15 shape: the action runs
# inside the query and a 1-row DataFrame of the metrics is returned.
# ---------------------------------------------------------------------------
@register(
    "q179_observed_metrics",
    """
    SELECT COUNT(*) AS rows_in,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_values,
           CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS rows_kept,
           CAST(SUM(CASE WHEN value >= 100
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS value_cents_kept
    FROM events
    """,
    description="Observation API (CollectMetrics): exact data-quality "
    "counters collected during the pipeline's own pass — two "
    "observation points bracket a cleaning filter, one action "
    "populates both, zero extra scans (at 100 TB: monitoring without "
    "doubling I/O). Oracle recomputes the counters relationally; the "
    "observed values must match a from-scratch aggregation exactly.",
    tags=("audit", "metrics", "scale-dial"),
)
def q179_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    ev = read_table(spark, sf_dir, "events").select("value")
    pre = Observation()
    post = Observation()
    observed = ev.observe(
        pre,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_values"),
    )
    kept = observed.filter(F.col("value") >= 100).observe(
        post,
        F.count(F.lit(1)).alias("rows_kept"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("value_cents_kept"),
    )
    kept.count()  # the pipeline's own action; both observations fill here
    m = {**pre.get, **post.get}
    return spark.createDataFrame(
        [
            (
                m["rows_in"],
                m["null_values"],
                m["rows_kept"],
                m["value_cents_kept"],
            )
        ],
        "rows_in long, null_values long, rows_kept long, "
        "value_cents_kept long",
    )


# ---------------------------------------------------------------------------
# q180 — INTER-ANNOTATOR AGREEMENT (Cohen's kappa) between two
# deterministic quality raters: a length gate (n_chars >= 300) and a
# stopword-presence gate (token 'the' appears). Label-quality audits
# report kappa, not raw agreement, because imbalanced raters agree by
# chance; kappa = (po - pe) / (1 - pe). Both the agreement rate and
# kappa are emitted in the lesson-16 exact-quotient form: all sufficient
# statistics are exact BIGINTs, the final permille is
# FLOOR(1000*num/den + 0.5) on the identical IEEE quotient in both
# engines (never ROUND, never integer div on the signed numerator —
# kappa can be negative). int64 headroom: num ~ 1000*n^2, safe for
# per-source n up to ~9.6e7 docs; beyond that switch the kappa quotient
# to the q148 divide-early double form. Constant raters (pe = 1) yield
# NULL kappa by definition in both engines.
# ---------------------------------------------------------------------------
@register(
    "q180_cohens_kappa",
    """
    WITH r AS (
      SELECT source,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS ra,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       x -> x = 'the')) > 0
                  THEN 1 ELSE 0 END AS rb
      FROM documents
    ),
    c AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM(ra * rb) AS BIGINT) AS n_both_pos,
             CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n_both_neg,
             CAST(SUM(ra) AS BIGINT) AS a_pos,
             CAST(SUM(rb) AS BIGINT) AS b_pos
      FROM r GROUP BY source
    )
    SELECT source, n_docs, n_both_pos, n_both_neg, a_pos, b_pos,
           CAST(FLOOR(CAST(1000 * (n_both_pos + n_both_neg) AS DOUBLE)
                      / n_docs + 0.5) AS BIGINT) AS agree_permille,
           CASE WHEN n_docs * n_docs
                     - (a_pos * b_pos
                        + (n_docs - a_pos) * (n_docs - b_pos)) = 0
                THEN NULL
                ELSE CAST(FLOOR(
                  CAST(1000 * (n_docs * (n_both_pos + n_both_neg)
                               - a_pos * b_pos
                               - (n_docs - a_pos) * (n_docs - b_pos))
                       AS DOUBLE)
                  / (n_docs * n_docs
                     - (a_pos * b_pos
                        + (n_docs - a_pos) * (n_docs - b_pos)))
                  + 0.5) AS BIGINT) END AS kappa_permille
    FROM c
    """,
    description="Cohen's kappa between two deterministic quality raters "
    "(length gate vs stopword-presence gate) per source: chance-"
    "corrected agreement for label-quality audits, exact BIGINT "
    "sufficient statistics, signed permille via the lesson-16 "
    "FLOOR-quotient form (kappa can be negative — integer div is "
    "banned on signed values), NULL when chance agreement is 1. One "
    "token-scan projection + one source rollup.",
    tags=("audit", "training-data", "agg", "text"),
)
def q180_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    r = docs.select(
        "source",
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("ra"),
        F.when(
            F.size(
                F.filter(F.split(F.col("text"), " "), lambda x: x == F.lit("the"))
            )
            > 0,
            1,
        )
        .otherwise(0)
        .alias("rb"),
    )
    c = r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n_both_pos"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb")))
        .cast("long")
        .alias("n_both_neg"),
        F.sum("ra").cast("long").alias("a_pos"),
        F.sum("rb").cast("long").alias("b_pos"),
    )
    return c.select(
        "source", "n_docs", "n_both_pos", "n_both_neg", "a_pos", "b_pos",
        F.expr(
            "CAST(FLOOR(CAST(1000 * (n_both_pos + n_both_neg) AS DOUBLE)"
            " / n_docs + 0.5D) AS BIGINT)"
        ).alias("agree_permille"),
        F.expr(
            "CASE WHEN n_docs * n_docs"
            " - (a_pos * b_pos + (n_docs - a_pos) * (n_docs - b_pos)) = 0"
            " THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(FLOOR("
            "CAST(1000 * (n_docs * (n_both_pos + n_both_neg)"
            " - a_pos * b_pos"
            " - (n_docs - a_pos) * (n_docs - b_pos)) AS DOUBLE)"
            " / (n_docs * n_docs"
            " - (a_pos * b_pos + (n_docs - a_pos) * (n_docs - b_pos)))"
            " + 0.5D) AS BIGINT) END"
        ).alias("kappa_permille"),
    )


# ---------------------------------------------------------------------------
# q181 — EXPECTED-CALIBRATION-ERROR BINNING for a deterministic
# classifier: confidence = rational sigmoid of the doc's 'the'-token
# count (1000*s/(s+2) permille — exact-quotient FLOOR form), label =
# (lang = 'en'), 10 equal-width confidence deciles. Per-bin accuracy vs
# mean confidence is THE standard calibration readout for quality/
# filter classifiers before their scores gate a corpus. All terms stay
# exact integers until the final quotients; |1000*pos - conf_sum| is
# emitted as the exact integer gap term so ECE = sum(gap)/(1000*n) is
# reconstructible without any float summation. Bin id uses integer div
# on a provably non-negative permille (lesson 11). One token-scan
# projection + one 10-group rollup.
# ---------------------------------------------------------------------------
@register(
    "q181_ece_calibration",
    """
    WITH s AS (
      SELECT CAST(len(list_filter(string_split(text, ' '),
                                  x -> x = 'the')) AS BIGINT) AS nthe,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    conf AS (
      SELECT y,
             CAST(FLOOR(CAST(1000 * nthe AS DOUBLE) / (nthe + 2) + 0.5)
                  AS BIGINT) AS conf_pm
      FROM s
    ),
    b AS (
      SELECT LEAST(conf_pm // 100, 9) AS bin, y, conf_pm FROM conf
    )
    SELECT bin,
           COUNT(*) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(conf_pm) AS BIGINT) AS conf_sum_pm,
           CAST(FLOOR(CAST(1000 * SUM(y) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS acc_permille,
           CAST(FLOOR(CAST(SUM(conf_pm) AS DOUBLE) / COUNT(*) + 0.5)
                AS BIGINT) AS avg_conf_permille,
           CAST(ABS(1000 * SUM(y) - SUM(conf_pm)) AS BIGINT) AS gap_term
    FROM b GROUP BY bin
    """,
    description="Expected-calibration-error binning for a deterministic "
    "classifier (rational-sigmoid stopword confidence vs lang='en' "
    "label, 10 confidence deciles): per-bin accuracy vs mean "
    "confidence, with the exact integer |1000*pos - conf_sum| gap term "
    "so ECE reconstructs without float summation — the standard "
    "calibration readout before a classifier's scores gate a corpus. "
    "Integer div only on non-negative permille (lesson 11).",
    tags=("eval", "training-data", "agg", "text"),
)
def q181_ece_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = docs.select(
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda x: x == F.lit("the"))
        )
        .cast("long")
        .alias("nthe"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    conf = s.select(
        "y",
        F.expr(
            "CAST(FLOOR(CAST(1000 * nthe AS DOUBLE) / (nthe + 2) + 0.5D)"
            " AS BIGINT)"
        ).alias("conf_pm"),
    )
    b = conf.select(
        F.least(F.expr("conf_pm div 100"), F.lit(9).cast("long")).alias("bin"),
        "y",
        "conf_pm",
    )
    return b.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("conf_pm").cast("long").alias("conf_sum_pm"),
        F.expr(
            "CAST(FLOOR(CAST(1000 * SUM(y) AS DOUBLE) / COUNT(*) + 0.5D)"
            " AS BIGINT)"
        ).alias("acc_permille"),
        F.expr(
            "CAST(FLOOR(CAST(SUM(conf_pm) AS DOUBLE) / COUNT(*) + 0.5D)"
            " AS BIGINT)"
        ).alias("avg_conf_permille"),
        F.expr(
            "CAST(ABS(1000 * SUM(y) - SUM(conf_pm)) AS BIGINT)"
        ).alias("gap_term"),
    )


# ---------------------------------------------------------------------------
# q182 — EDIT-DISTANCE-VERIFIED NEAR-DUP (record-linkage shape): the
# classic two-stage linkage pipeline — multi-probe BLOCKING (md5 of the
# 8-word lead + md5 of words 9-16; two probes so an edit inside one
# window still collides on the other) bounds the candidate set, then
# EXACT banded Levenshtein verifies only candidates. Spark's 3-arg
# levenshtein(l, r, threshold) runs the O(threshold*n) banded DP and
# early-exits with -1 over budget — the verify cost per pair is linear,
# not quadratic, in doc length. Hot blocks over the 64-doc cap are
# dropped (boilerplate masses belong to exact dedup, the same recall
# trade as q32's hot-bucket cap); pair volume is bounded by
# sum(block_size^2) <= 64 * corpus. Similarity is emitted as the exact
# FLOOR-quotient permille (lesson 16 — never ROUND a rational double).
# Levenshtein agreement Spark vs DuckDB pinned by prototype and by
# tests/test_round9b_invariants.py. At 100 TB: blocking keys shuffle
# 16-byte hashes, text is joined in only for surviving candidates.
# ---------------------------------------------------------------------------
@register(
    "q182_editdist_neardup",
    """
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(string_split(text, ' '), 1, 8),
                                 ' ')) AS fp1,
             md5(array_to_string(list_slice(string_split(text, ' '), 9, 16),
                                 ' ')) AS fp2
      FROM documents
    ),
    keys AS (
      SELECT doc_id, fp1 AS fp FROM fp
      UNION ALL
      SELECT doc_id, fp2 FROM fp
    ),
    ok AS (SELECT fp FROM keys GROUP BY fp HAVING COUNT(*) <= 64),
    kk AS (SELECT k.doc_id, k.fp FROM keys k JOIN ok USING (fp)),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM kk a JOIN kk b ON a.fp = b.fp AND a.doc_id < b.doc_id
    ),
    v AS (
      SELECT c.a_id, c.b_id,
             levenshtein(da.text, db.text) AS dist,
             GREATEST(da.n_chars, db.n_chars) AS mx
      FROM cand c
      JOIN documents da ON da.doc_id = c.a_id
      JOIN documents db ON db.doc_id = c.b_id
    )
    SELECT a_id, b_id, CAST(dist AS BIGINT) AS dist,
           CAST(FLOOR(CAST(1000 * (mx - dist) AS DOUBLE) / mx + 0.5)
                AS BIGINT) AS sim_permille
    FROM v WHERE dist <= 48
    """,
    description="Edit-distance-verified near-dup pairs (record-linkage "
    "two-stage shape): multi-probe blocking on md5 lead/mid 8-word "
    "fingerprints (16-byte shuffle keys, 64-doc hot-block cap), then "
    "exact BANDED Levenshtein (3-arg threshold form, O(d*n) early-exit "
    "DP) only on candidates; similarity as exact FLOOR-quotient "
    "permille. Cross-engine levenshtein agreement pinned by test.",
    tags=("dedup", "text", "blocking", "training-data"),
)
def q182_editdist_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8))).alias(
            "fp1"
        ),
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 9, 8))).alias(
            "fp2"
        ),
    )
    # One corpus pass per consumer: explode the two probes from a single
    # projection instead of unionByName (which doubles every downstream
    # scan's md5 work — measured 6 fingerprint passes vs 3 in-plan).
    keys = fp.select(
        "doc_id", F.explode(F.array("fp1", "fp2")).alias("fp")
    )
    ok = (
        keys.groupBy("fp")
        .agg(F.count("*").alias("bs"))
        .filter(F.col("bs") <= 64)
        .select("fp")
    )
    kk = keys.join(ok, "fp")
    cand = (
        kk.select("fp", F.col("doc_id").alias("a_id"))
        .join(kk.select("fp", F.col("doc_id").alias("b_id")), "fp")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ta = docs.select(
        F.col("doc_id").alias("a_id"),
        F.col("text").alias("a_text"),
        F.col("n_chars").alias("a_len"),
    )
    tb = docs.select(
        F.col("doc_id").alias("b_id"),
        F.col("text").alias("b_text"),
        F.col("n_chars").alias("b_len"),
    )
    return (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.levenshtein("a_text", "b_text", 48).alias("dist"),
            F.greatest("a_len", "b_len").alias("mx"),
        )
        .filter(F.col("dist") >= 0)
        .select(
            "a_id",
            "b_id",
            F.col("dist").cast("long").alias("dist"),
            F.expr(
                "CAST(FLOOR(CAST(1000 * (mx - dist) AS DOUBLE) / mx + 0.5D)"
                " AS BIGINT)"
            ).alias("sim_permille"),
        )
    )


# ---------------------------------------------------------------------------
# q183 — LOG-FREE BM25 RANKING: top-20 documents for a fixed 3-term
# query under BM25 (k1=1.2, b=0.75) with the idf expressed as its RAW
# RATIONAL ARGUMENT (N - df + 0.5)/(df + 0.5) instead of its log —
# monotone in the same direction, so ranking is IDENTICAL to log-idf
# BM25 per term, and every operation stays a rational-literal IEEE op
# that both engines compute bit-identically (libm log is NOT
# bit-portable — the q169 lesson; sqrt/one-divide ARE). Per-term scores
# are added in one FIXED textual order (t1+t2+t3 — float addition is
# not associative, so the expression tree, not a SUM over rows, fixes
# the order), then micro-quantized by the lesson-16 FLOOR form. Plan:
# one token-scan projection, one 1-row corpus-stats agg broadcast back
# (crossJoin(broadcast(1-row)) scalar propagation), deterministic
# top-20 with doc_id tiebreak. At 100 TB the stats agg is the only
# exchange; df/avgdl are corpus constants reused across queries.
# ---------------------------------------------------------------------------
def _q183_sql() -> str:
    terms = ["join", "filter", "window"]
    tfsel = ", ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}'))"
        f" AS tf_{t}"
        for t in terms
    )
    dfagg = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in terms
    )
    def term(t: str) -> str:
        return (
            f"( (CAST(tf_{t} AS DOUBLE) * 2.2)"
            f" / (CAST(tf_{t} AS DOUBLE) + 1.2 * (0.25"
            f" + (0.75 * CAST(n_chars AS DOUBLE))"
            f" / (CAST(len_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
            f" * ((CAST(n_docs - df_{t} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5)) )"
        )
    score = " + ".join(term(t) for t in terms)
    return f"""
    WITH base AS (SELECT doc_id, n_chars, {tfsel} FROM documents),
    sc AS (
      SELECT {dfagg},
             CAST(SUM(n_chars) AS BIGINT) AS len_sum,
             COUNT(*) AS n_docs
      FROM base
    )
    SELECT doc_id,
           CAST(tf_join AS BIGINT) AS tf_join,
           CAST(tf_filter AS BIGINT) AS tf_filter,
           CAST(tf_window AS BIGINT) AS tf_window,
           CAST(FLOOR(1000000.0 * ({score}) + 0.5) AS BIGINT) AS score_u
    FROM base, sc
    ORDER BY score_u DESC, doc_id
    LIMIT 20
    """


@register(
    "q183_bm25_rational_rank",
    _q183_sql(),
    description="BM25 top-20 retrieval scoring with the idf as its raw "
    "rational argument (N-df+0.5)/(df+0.5) — rank-equivalent to log-idf "
    "per term and bit-portable where libm log is not (q169 lesson). "
    "Fixed-order term addition (float + is non-associative), "
    "micro-quantized FLOOR output, corpus stats via one 1-row broadcast "
    "agg, deterministic doc_id tiebreak.",
    tags=("text", "retrieval", "ranking", "training-data"),
)
def q183_bm25_rational_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["join", "filter", "window"]
    docs = read_table(spark, sf_dir, "documents")

    def match(term: str):
        return lambda x: x == F.lit(term)

    base = docs.select(
        "doc_id",
        "n_chars",
        *[
            F.size(F.filter(F.split("text", " "), match(t)))
            .cast("long")
            .alias(f"tf_{t}")
            for t in terms
        ],
    )
    sc = base.agg(
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in terms
        ],
        F.sum("n_chars").cast("long").alias("len_sum"),
        F.count("*").alias("n_docs"),
    )

    def term(t: str) -> str:
        return (
            f"( (CAST(tf_{t} AS DOUBLE) * 2.2D)"
            f" / (CAST(tf_{t} AS DOUBLE) + 1.2D * (0.25D"
            f" + (0.75D * CAST(n_chars AS DOUBLE))"
            f" / (CAST(len_sum AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
            f" * ((CAST(n_docs - df_{t} AS DOUBLE) + 0.5D)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5D)) )"
        )

    score = " + ".join(term(t) for t in terms)
    return (
        base.crossJoin(F.broadcast(sc))
        .select(
            "doc_id",
            "tf_join",
            "tf_filter",
            "tf_window",
            F.expr(
                f"CAST(FLOOR(1000000.0D * ({score}) + 0.5D) AS BIGINT)"
            ).alias("score_u"),
        )
        .orderBy(F.desc("score_u"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q184 — MARKOV TRANSITION MATRIX over per-user event sequences: the
# first-order behavioral model behind session simulation and anomaly
# scoring. One lag window per user (total order ts, event_id — the
# microsecond tiebreak makes the sequence deterministic), one rollup of
# at most |types|^2 groups, row-normalized transition probabilities as
# exact FLOOR-quotient permille (lesson 16). State is bounded by the
# event-type cardinality squared — at 100 TB this is one user_id
# shuffle (reusable across every per-user sequence statistic) and a
# 25-row result.
# ---------------------------------------------------------------------------
@register(
    "q184_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    tr AS (
      SELECT prev_type, event_type, COUNT(*) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT prev_type, event_type, n_trans,
           CAST(FLOOR(CAST(1000 * n_trans AS DOUBLE)
                      / SUM(n_trans) OVER (PARTITION BY prev_type)
                      + 0.5) AS BIGINT) AS row_permille
    FROM tr
    """,
    description="First-order Markov transition matrix over per-user "
    "event sequences: lag window under a (ts, event_id) total order, "
    "|types|^2-bounded rollup, row-normalized FLOOR-quotient permille. "
    "One user_id shuffle; result size independent of corpus size.",
    tags=("window", "agg", "sequence", "events"),
)
def q184_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count("*").alias("n_trans"))
    )
    wt = Window.partitionBy("prev_type")
    return tr.withColumn("row_total", F.sum("n_trans").over(wt)).select(
        "prev_type",
        "event_type",
        "n_trans",
        F.expr(
            "CAST(FLOOR(CAST(1000 * n_trans AS DOUBLE) / row_total + 0.5D)"
            " AS BIGINT)"
        ).alias("row_permille"),
    )


# ---------------------------------------------------------------------------
# q185 — PARETO FRONTIER (skyline) of orders on (price, recency), both
# maximized: the multi-criteria "best tradeoff" query (data-selection
# twin: quality-score vs freshness when curating a corpus). Sort-based
# skyline: per-x max(y), then one running max over strictly-greater x
# (ROWS ... 1 PRECEDING keeps x-ties OUT of their own comparison) —
# a point survives iff its y beats every y at larger x. O(n log n)
# via one sort; dominance strictness (ties survive together, strictly
# higher y at equal x dominates) is pinned by a fixture test. The
# single-partition running-max window runs over the DISTINCT-x
# aggregate (already reduced), not the fact table — at 100 TB the
# per-x pre-agg shuffles, the frontier scan doesn't.
# ---------------------------------------------------------------------------
@register(
    "q185_pareto_frontier",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
             CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) // 86400 AS order_day
      FROM orders
    ),
    px AS (
      SELECT price_cents, MAX(order_day) AS ymax FROM o GROUP BY price_cents
    ),
    f AS (
      SELECT price_cents, ymax,
             MAX(ymax) OVER (ORDER BY price_cents DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS runmax
      FROM px
    )
    SELECT o.o_orderkey, o.price_cents, o.order_day
    FROM o JOIN f ON o.price_cents = f.price_cents AND o.order_day = f.ymax
    WHERE f.runmax IS NULL OR f.ymax > f.runmax
    """,
    description="Sort-based 2D skyline (Pareto frontier) of orders on "
    "(price cents, order day), both maximized: per-x max pre-agg, one "
    "running max over strictly-greater x, join back for the surviving "
    "order keys. Dominance tie semantics pinned by fixture test; the "
    "whole-range window runs on the reduced per-x aggregate only.",
    tags=("window", "skyline", "agg"),
)
def q185_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        F.expr("CAST(unix_timestamp(o_orderdate) AS BIGINT) div 86400").alias(
            "order_day"
        ),
    )
    per_x = o.groupBy("price_cents").agg(F.max("order_day").alias("ymax"))
    wx = Window.orderBy(F.desc("price_cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    fr = (
        per_x.withColumn("runmax", F.max("ymax").over(wx))
        .filter(F.col("runmax").isNull() | (F.col("ymax") > F.col("runmax")))
        .select(
            F.col("price_cents").alias("fx"), F.col("ymax").alias("fy")
        )
    )
    return o.join(
        fr,
        (o.price_cents == F.col("fx")) & (o.order_day == F.col("fy")),
    ).select("o_orderkey", "price_cents", "order_day")


# ---------------------------------------------------------------------------
# q186 — SCD TYPE-2 DIMENSION BUILD from an event log: collapse each
# user's event-type runs into effective-dated versions (valid_from /
# valid_to microseconds, far-future-sentinel current row — nullable
# BIGINT would come back float64 from the oracle bridge, invariant 2 —
# per-user version numbers) — the warehouse-standard history table every batch MERGE
# maintains incrementally. Change detection is a lag-compare under the
# (ts, event_id) total order, islands by running change-count, interval
# ends by lead over versions. Emitted times are exact epoch
# microseconds (BIGINT) — never engine-formatted timestamps. Two
# windows + one rollup, all on the SAME user_id partitioning: a single
# shuffle serves the whole build at any scale.
# ---------------------------------------------------------------------------
@register(
    "q186_scd2_history",
    """
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(event_type) OVER w IS NULL
                       OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS version
      FROM s
    ),
    isl AS (
      SELECT user_id, version, event_type,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS valid_from_us,
             COUNT(*) AS n_events
      FROM v GROUP BY user_id, version, event_type
    )
    SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
           valid_from_us,
           COALESCE(LEAD(valid_from_us) OVER (
             PARTITION BY user_id ORDER BY version),
             253402300799999999) AS valid_to_us,
           n_events,
           CASE WHEN LEAD(valid_from_us) OVER (
                  PARTITION BY user_id ORDER BY version) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM isl
    """,
    description="SCD Type-2 history build from the event log: per-user "
    "event-type runs become effective-dated versions (valid_from_us / "
    "valid_to_us, far-future-sentinel-open current row, version numbers) "
    "via lag-change "
    "detection + running island ids + lead interval ends — all three "
    "windows share one user_id shuffle. Times emitted as exact epoch "
    "microseconds.",
    tags=("window", "warehouse", "scd2", "events"),
)
def q186_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = F.lag("event_type").over(ws)
    marked = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn(
            "chg",
            F.when(
                lagged.isNull() | (lagged != F.col("event_type")), 1
            ).otherwise(0),
        )
        .withColumn(
            "version",
            F.sum("chg").over(
                ws.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    isl = marked.groupBy("user_id", "version", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("valid_from_us"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("valid_from_us").over(wv)
    return isl.select(
        "user_id",
        "version",
        "event_type",
        "valid_from_us",
        # SCD2 open-interval convention: the current version ends at the
        # far-future sentinel (9999-12-31T23:59:59.999999Z as epoch us)
        # instead of NULL — nullable BIGINTs come back float64 from the
        # oracle's pandas bridge and hash-split against Spark's int64
        # (CLAUDE.md invariant 2; dtype_audit catches the class).
        F.coalesce(nxt, F.lit(253402300799999999)).alias("valid_to_us"),
        "n_events",
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


# ---------------------------------------------------------------------------
# q187 — RUNTIME BLOOM-FILTER JOIN: Spark's runtime-filter optimization
# (spark.sql.optimizer.runtime.bloomFilter.*) builds a bloom filter
# from the FILTERED dim side of a shuffle join and injects
# might_contain(...) into the fact scan — rows that cannot join are
# dropped BEFORE the shuffle, the single biggest scan-side lever for
# selective star joins that are too big to broadcast (the 100-TB case
# where the dim side is 100 GB: no broadcast, but a 1 MB bloom travels
# fine). Conf-scoped per lesson 15 (broadcast disabled so the shuffle
# join actually plans, application-side threshold zeroed so local-mode
# sizes qualify; collect() under scoped_conf, restore on exit,
# tiny createDataFrame back). The plan is asserted to carry
# might_contain — losing the runtime filter is a silent 10x scan
# regression at scale. Result is the exact quantized join rollup.
# ---------------------------------------------------------------------------
@register(
    "q187_runtime_bloom_join",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS qty_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
    description="Runtime bloom-filter join: the filtered orders side "
    "builds a bloom filter Spark injects as might_contain() into the "
    "lineitem scan (asserted in-plan) — pre-shuffle fact pruning for "
    "selective joins too big to broadcast. Conf-scoped with try/finally "
    "+ collect-before-restore (lesson 15); exact quantized rollup "
    "oracle.",
    tags=("join", "runtime-filter", "plan-feature", "agg"),
)
def q187_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        f = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
            "o_orderkey"
        )
        joined = (
            li.join(f, li.l_orderkey == f.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_items"),
                F.sum(
                    F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast(
                        "long"
                    )
                )
                .cast("long")
                .alias("qty_cents"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * 100 + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias("price_cents"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if "might_contain" not in plan:
            raise AssertionError(
                "lineitem scan lost its runtime bloom filter:\n" + plan
            )
        rows = joined.collect()
    return spark.createDataFrame(
        rows,
        "l_returnflag string, n_items bigint, qty_cents bigint,"
        " price_cents bigint",
    )


# ---------------------------------------------------------------------------
# q188 — SPEARMAN RANK TREND per event_type: rank correlation between
# the day index and the day-mean event value — the robust (outlier-
# immune) monotone-drift audit next to q146's OLS slope. Computed as
# Pearson over AVERAGE-TIE ranks kept exact by the 2x-scaled integer
# trick: avg_rank*2 = 2*RANK() + tie_count - 1 (an integer even when
# the average rank is x.5), so every sufficient statistic is an exact
# BIGINT — and because ranks run over per-(type, day) AGGREGATES, n is
# bounded by the calendar (~30/group), never by corpus size: at 100 TB
# the only full scan is the day rollup, and Σxy ≤ n*(2n)^2 can't
# approach int64 (the q163/q148 overflow class is structurally absent).
# sqrt is correctly-rounded IEEE (bit-portable, unlike log); signed
# output via the lesson-16 FLOOR(x+0.5) form; NULL on zero variance.
# ---------------------------------------------------------------------------
@register(
    "q188_spearman_trend",
    """
    WITH d AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 AS day,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS vc,
             COUNT(*) AS n
      FROM events GROUP BY event_type, day
    ),
    m AS (
      SELECT event_type, day,
             CAST(vc AS DOUBLE) / n AS day_mean
      FROM d
    ),
    r AS (
      SELECT event_type, day, day_mean,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY day)
               + COUNT(*) OVER (PARTITION BY event_type, day) - 1 AS x2,
             2 * RANK() OVER (PARTITION BY event_type ORDER BY day_mean)
               + COUNT(*) OVER (PARTITION BY event_type, day_mean) - 1 AS y2
      FROM m
    ),
    s AS (
      SELECT event_type,
             COUNT(*) AS n_days,
             CAST(SUM(x2) AS BIGINT) AS sx,
             CAST(SUM(y2) AS BIGINT) AS sy,
             CAST(SUM(x2 * y2) AS BIGINT) AS sxy,
             CAST(SUM(x2 * x2) AS BIGINT) AS sxx,
             CAST(SUM(y2 * y2) AS BIGINT) AS syy
      FROM r GROUP BY event_type
    )
    SELECT event_type, n_days,
           CASE WHEN (n_days * sxx - sx * sx) = 0
                     OR (n_days * syy - sy * sy) = 0
                THEN NULL
                ELSE CAST(FLOOR(
                  1000.0 * (CAST(n_days * sxy - sx * sy AS DOUBLE)
                            / (SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE))
                               * SQRT(CAST(n_days * syy - sy * sy
                                           AS DOUBLE))))
                  + 0.5) AS BIGINT) END AS rho_permille
    FROM s
    """,
    description="Spearman rank correlation between day index and "
    "day-mean value per event_type (robust monotone-drift audit): "
    "average-tie ranks kept exact via 2x-scaled integers (2*RANK + "
    "ties - 1), Pearson on ranks with BIGINT sufficient statistics, "
    "bit-portable sqrt, signed FLOOR permille, NULL on zero variance. "
    "Ranks run over calendar-bounded day aggregates — n never grows "
    "with the corpus.",
    tags=("agg", "window", "robust-stats", "eval"),
)
def q188_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    d = (
        events.select(
            "event_type",
            F.expr("CAST(unix_timestamp(ts) AS BIGINT) div 86400").alias(
                "day"
            ),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.sum("qv").cast("long").alias("vc"),
            F.count("*").alias("n"),
        )
    )
    m = d.select(
        "event_type",
        "day",
        (F.col("vc").cast("double") / F.col("n")).alias("day_mean"),
    )
    r = m.select(
        "event_type",
        (
            2 * F.rank().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            + F.count("*").over(
                Window.partitionBy("event_type", "day")
            )
            - 1
        ).alias("x2"),
        (
            2 * F.rank().over(
                Window.partitionBy("event_type").orderBy("day_mean")
            )
            + F.count("*").over(
                Window.partitionBy("event_type", "day_mean")
            )
            - 1
        ).alias("y2"),
    )
    s = r.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x2").cast("long").alias("sx"),
        F.sum("y2").cast("long").alias("sy"),
        F.sum(F.col("x2") * F.col("y2")).cast("long").alias("sxy"),
        F.sum(F.col("x2") * F.col("x2")).cast("long").alias("sxx"),
        F.sum(F.col("y2") * F.col("y2")).cast("long").alias("syy"),
    )
    return s.select(
        "event_type",
        "n_days",
        F.expr(
            "CASE WHEN (n_days * sxx - sx * sx) = 0"
            " OR (n_days * syy - sy * sy) = 0 THEN CAST(NULL AS BIGINT)"
            " ELSE CAST(FLOOR("
            "1000.0D * (CAST(n_days * sxy - sx * sy AS DOUBLE)"
            " / (SQRT(CAST(n_days * sxx - sx * sx AS DOUBLE))"
            " * SQRT(CAST(n_days * syy - sy * sy AS DOUBLE))))"
            " + 0.5D) AS BIGINT) END"
        ).alias("rho_permille"),
    )


# ---------------------------------------------------------------------------
# q189 — INCREMENTAL PARTIAL-AGGREGATE ROLLUP: the production ETL shape
# for aggregation at 100 TB — daily partial aggregates (day x type:
# count + quantized sum, O(days*types) rows) are MATERIALIZED once per
# ingest day, and every downstream rollup (here: weekly) merges ONLY
# the partials, never re-scanning raw events. Works because count/sum
# partials merge associatively; the quantization happens per ROW before
# the first aggregation, so partial-merge and direct aggregation are
# bit-identical (the oracle computes the weekly rollup DIRECTLY from
# raw events — the equality is the correctness claim, q98's
# materialized-index philosophy applied to aggregation). The partial
# table is keyed on the events table's DATA FINGERPRINT and published
# atomically (the q98/q167 index discipline — in-place regeneration
# can never replay stale partials) and reused on every subsequent run
# — the measured warm cost is the partial-read merge, which is
# independent of corpus row count.
# ---------------------------------------------------------------------------
@register(
    "q189_partial_agg_rollup",
    """
    SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) // 86400 // 7 AS week,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events
    GROUP BY week, event_type
    """,
    description="Incremental partial-aggregate rollup: daily (day x "
    "type) count/quantized-sum partials materialized once under a "
    "data-fingerprint token with an atomic publish (O(days*types) "
    "rows; r14 — a stale replay after in-place regeneration is "
    "structurally impossible), weekly rollup merges ONLY partials — "
    "associative merge makes it bit-identical to the oracle's direct "
    "aggregation over raw events. The never-rescan-raw ETL shape: "
    "warm cost is independent of corpus row count.",
    tags=("agg", "incremental", "warehouse", "etl"),
)
def q189_partial_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fingerprint-keyed partials (r14, retiring the md5(sf_dir) session
    # CTAS): the daily partial table CARRIES CONTENT, so a stale replay
    # after in-place events regeneration would return wrong numbers —
    # exactly the hazard the data-fingerprint token (file count + bytes
    # + newest mtime) plus build_once's atomic publish eliminates (the
    # q98/q167 discipline; lesson 25).
    def write(tmp_dir: str) -> None:
        events = read_table(spark, sf_dir, "events")
        (
            events.select(
                F.expr(
                    "CAST(unix_timestamp(ts) AS BIGINT) div 86400"
                ).alias("day"),
                "event_type",
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .alias("qv"),
            )
            .groupBy("day", "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum("qv").cast("long").alias("value_cents"),
            )
            .write.parquet(tmp_dir)
        )

    target = cache.build_once(
        spark, sf_dir, "events", "q189_daily", "v2-fp", write
    )
    # Memoized published read (r15): re-listing the immutable partials
    # directory cost ~0.08 s per warm run — cached per (session, path,
    # publish stamp).
    partials = cache.read_published(spark, target)
    return (
        partials.groupBy(
            F.expr("day div 7").alias("week"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
        .select("week", "event_type", "n_events", "value_cents")
    )


# ---------------------------------------------------------------------------
# q190 — PROCESSING-TIME TIMER EVICTION (applyInPandasWithState +
# GroupStateTimeout.ProcessingTimeTimeout): the one stateful surface
# q67's NoTimeout sessionizer does not pin — wall-clock timers that
# fire on triggers WITHOUT input data. Under ProcessingTimeTimeout the
# engine keeps scheduling micro-batches after the source drains
# (FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true:
# processing time advances), and a key whose 1 ms timeout expired gets
# a hasTimedOut call with an EMPTY row iterator — here it emits its
# per-key event count and removes state (cache/session eviction, the
# canonical use). Determinism by STAGED ARRIVAL, not by racing the
# clock: phase A moves the event_id%2=0 file into the watched dir and
# waits until the sink holds one eviction row per phase-A user (state
# fully drained by empty-trigger timer fires); only then does phase B
# move the odd file in. Every key therefore evicts EXACTLY once per
# phase it has data in, with that phase's count — n_evict equals the
# per-user count of distinct event_id parities and n_events the plain
# per-user count, both exact in SQL. What is deliberately NOT pinned:
# whether a key with fresh data in the same batch as its expired timer
# gets a data call (it does) — that interleaving depends on engine
# scheduling between file discovery and trigger start, i.e. it is not
# deterministic by construction, so no oracle is built on it.
# NOTE the protobuf boundary: Spark 4's transformWithState[InPandas]
# needs the google-protobuf driver worker (absent in this env); the
# GroupState API carries identical timer semantics on the stock state
# store, so that surface is what production code should target when
# protobuf is available — the eviction algebra proven here transfers.
# ---------------------------------------------------------------------------
@register(
    "q190_processing_time_timer_eviction",
    """
    SELECT user_id,
           CAST(COUNT(DISTINCT event_id % 2) AS BIGINT) AS n_evict,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
    description="Processing-time timer eviction: per-user counts kept in "
    "GroupState keyed on 16 hash BUCKETS (lesson 9 on the stateful "
    "surface — per-group protocol cost dominated the replay) with a "
    "1 ms ProcessingTimeTimeout, evicted (emitted + state.remove) by "
    "timer fires on EMPTY triggers after each staged arrival phase "
    "(event_id parity = phase). Exactly one eviction per user per "
    "phase, with that phase's count — n_evict = distinct parities per "
    "user, n_events = total, both exact in SQL.",
    tags=("streaming", "stateful", "timer", "eviction", "pandas-udf"),
)
def q190_processing_time_timer_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile
    import time
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        replay_query,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id")

    # Phase files are a pure function of the input table AND the staging
    # recipe, so they are a cache.build_once artifact keyed on a data
    # fingerprint + a staging-logic salt (bump the literal when the
    # phase split / columns change). Warm runs skip the write. Both
    # phase files are written in ONE job (partitionBy over the parity,
    # 2-way repartition => exactly one file per phase dir); phases then
    # ARRIVE via stage_phase copies at the right moments.
    def write(tmp_dir: str) -> None:
        (
            ev.withColumn("parity", F.pmod("event_id", F.lit(2)))
            .repartition(2, "parity")
            .write.partitionBy("parity")
            .mode("overwrite")
            .parquet(tmp_dir)
        )

    stage_dir = cache.build_once(
        spark, sf_dir, "events", "q190_stage", "parity-pmod2-eid-uid-v1",
        write,
    )
    watch_dir = tempfile.mkdtemp(prefix="q190_watch_")

    def stage_phase(parity: int) -> None:
        """Copy one pre-written phase file into the watched dir, made
        visible atomically (temp-name + rename within the watch dir —
        the source never sees a partial file; the cached stage file
        stays in place for the next run)."""
        out = os.path.join(stage_dir, f"parity={parity}")
        src = [
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(src) == 1, src
        tmp = os.path.join(watch_dir, f".{parity:02d}.tmp")
        shutil.copyfile(os.path.join(out, src[0]), tmp)
        os.rename(tmp, os.path.join(watch_dir, f"{parity:02d}.parquet"))

    def evict_counter(key, pdfs, state):
        # Self-contained closure (executor workers can't import the repo).
        # State is keyed on a HASH BUCKET, not the raw user_id (lesson 9
        # applied to the stateful surface): the per-group state-protocol
        # round-trip is the dominant micro-batch cost (~4 ms/group
        # measured — 1500 user groups made every batch ~1.2 s), so the
        # bucket holds a per-user count map as two parallel arrays and
        # one timer. All users in a bucket evict together, which leaves
        # the per-phase oracle EXACT: a drained phase evicts each user
        # exactly once with that phase's count, same as per-user timers.
        # At 100 TB this is the production shape too — millions of hot
        # keys fan in to a bounded state-key domain.
        import pandas as pd

        if state.hasTimedOut:
            users, counts = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": list(users), "n": list(counts)}
            )
        else:
            acc: dict = {}
            for df in pdfs:
                if not len(df):
                    continue
                vc = df["user_id"].value_counts()
                for u, c in zip(vc.index, vc.to_numpy()):
                    acc[int(u)] = acc.get(int(u), 0) + int(c)
            if state.exists:
                users, counts = state.get
                for u, c in zip(users, counts):
                    acc[int(u)] = acc.get(int(u), 0) + int(c)
            items = sorted(acc.items())
            state.update(
                ([u for u, _ in items], [c for _, c in items])
            )
            state.setTimeoutDuration(1)

    sink = f"q190_out_{uuid.uuid4().hex[:8]}"
    try:
        stage_phase(0)
        schema = "event_id long, user_id long"
        stream = spark.readStream.schema(schema).parquet(watch_dir)
        evictions = (
            stream.withColumn(
                "bucket", F.pmod("user_id", F.lit(16))
            )
            .groupBy("bucket")
            .applyInPandasWithState(
                evict_counter,
                "user_id long, n long",
                "users array<long>, counts array<long>",
                "update",
                GroupStateTimeout.ProcessingTimeTimeout,
            )
        )
        # replay_query runs ONE state partition: with 16 bucket groups
        # the replay is bound by per-batch fixed cost (state-store
        # commit + python runner handshake per task), not by data —
        # more partitions multiply that floor (measured 8 parts ~6.5 s
        # vs 1 part ~4.3 s warm; 64->16 buckets shaved ~0.2 s/batch of
        # per-group state protocol). Production sizes this by key
        # count, not cores.
        writer = (
            evictions.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
        )
        with replay_query(spark, writer) as q:
            # Drain detection via progress metrics only (py4j-cheap;
            # a spark.table(sink).count() poll would serialize a
            # full job against every micro-batch): a phase is
            # drained once some batch carried input rows AND the
            # newest batch reports zero live state rows — i.e.
            # every key the phase touched has been timer-evicted.
            input_rows_by_batch: dict = {}

            def wait_drained(min_input_batches: int, label: str):
                deadline = time.time() + 120
                while time.time() < deadline:
                    for p in q.recentProgress:
                        if p is None:
                            continue
                        bid = p["batchId"]
                        input_rows_by_batch[bid] = p["numInputRows"]
                    p = q.lastProgress
                    fed = sum(
                        1 for v in input_rows_by_batch.values() if v
                    )
                    if (
                        p is not None
                        and fed >= min_input_batches
                        and p.get("stateOperators")
                        and p["stateOperators"][0]["numRowsTotal"] == 0
                    ):
                        return
                    # 10 ms: the next (empty) micro-batch starts
                    # back-to-back after the drain batch commits, so
                    # a coarse poll usually loses the race and pays
                    # one extra ~0.7 s empty batch before phase B's
                    # file is discovered; a tight poll sometimes
                    # wins it (py4j-cheap either way).
                    time.sleep(0.01)
                raise AssertionError(
                    f"q190 {label}: state never drained — "
                    "processing-time timers did not fire"
                )

            # Phase A must FULLY drain (every key evicted by an
            # empty-trigger timer fire) before phase B arrives —
            # that gap is what makes the per-phase eviction count
            # deterministic instead of racing the batch clock.
            wait_drained(1, "phase A")
            stage_phase(1)
            wait_drained(2, "phase B")
        return (
            spark.table(sink)
            .groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_evict"),
                F.sum("n").cast("long").alias("n_events"),
            )
        )
    finally:
        # stage_dir is a fingerprint-keyed cache — deliberately kept.
        shutil.rmtree(watch_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# q191 — AQE SKEW-JOIN CONVERSION asserted in-plan: the AUTOMATIC
# complement to q121's manual salting. A hot join key (user_id%10<9
# all collapse to key 0 — ~90% of the fact side) lands in one shuffle
# partition of a sort-merge join; with adaptive skew handling on,
# Spark splits that partition by MAP-OUTPUT RANGES at runtime and
# replicates the matching dim partition per split — no salting
# rewrite, no key-space change, bit-identical results. The conversion
# is asserted in the FINAL adaptive plan (q170/q175 discipline:
# silently degrading to an unsplit SMJ would pass value parity while
# losing the property under test). Two scale notes baked in: (a) the
# skewed partition can only split at map-output boundaries, so the
# fact side is repartitioned into a fixed 10 map tasks first — at
# 100 TB map counts are naturally in the thousands and this is free;
# (b) OptimizeSkewedJoin only fires when the SMJ sits in the RESULT
# stage (a downstream aggregate's partial-agg stage suppresses it even
# with forceOptimizeSkewedJoin — measured on this Spark), so the join
# IS the materialized result and the per-group rollup rides OBSERVED
# METRICS (CollectMetrics — a pass-through node the skew rule
# tolerates): 14 scalars over the static grp domain 0..6, zero rows
# pulled to the driver (the collect-based first form measured 4.2x at
# the 10x smoke, all transfer; this form is compute-bound);
# (c) OptimizeSkewedJoin pattern-matches BOTH join
# children as Sort(ShuffleStage) — an agg between them (e.g. a
# distinct feeding the dim side in the same stage) suppresses the
# rule, so the ~150-row dim is collected into a LocalRelation first
# (documented tiny pull). Thresholds are scoped to the session and
# restored in finally.
# ---------------------------------------------------------------------------
@register(
    "q191_aqe_skew_join",
    """
    WITH f AS (
      SELECT CASE WHEN user_id % 10 < 9 THEN 0 ELSE user_id END AS k,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS qv
      FROM events
    ),
    dim AS (
      SELECT k, k % 7 AS grp FROM (SELECT DISTINCT k FROM f)
    )
    SELECT g.grp,
           COUNT(*) AS n_rows,
           CAST(SUM(f.qv) AS BIGINT) AS value_cents
    FROM f JOIN dim g ON g.k = f.k
    GROUP BY g.grp
    """,
    description="AQE skew-join conversion: a 90%-hot join key split at "
    "runtime by map-output ranges (skew=true asserted in the final "
    "adaptive plan — the automatic complement to q121's manual "
    "salting), dim partition replicated per split, results "
    "bit-identical to the plain join+rollup oracle. Per-group rollup "
    "via observed metrics (zero-row driver pull); conf-scoped "
    "thresholds, materialized under the scope (lesson 15).",
    tags=("join", "skew", "aqe", "agg", "scale-dial"),
)
def q191_aqe_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    # Advisory split size derived from the input size so the hot
    # partition splits into ~10 chunks at EVERY scale factor — a fixed
    # tiny advisory would shatter sf0.1 into hundreds of splinter tasks
    # (splits scale with data over a constant), a fixed large one stops
    # splitting at sf0.001. Same dial as production, where advisory
    # tracks target task size, not corpus size.
    ev_path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(ev_path):
        size = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(ev_path)
            for f in fs
            if f.endswith(".parquet")
        )
    else:
        size = os.path.getsize(ev_path)
    advisory = max(1024, size // 100)
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Tiny thresholds so the property is exercised at test SFs; at
        # production scale the defaults (256 MB / 5x median) are the
        # right dial and the same plan shape appears untouched.
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "800",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory),
        "spark.sql.adaptive.coalescePartitions.minPartitionNum": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_conf(spark, confs):
        base = read_table(spark, sf_dir, "events").select(
            F.expr(
                "CASE WHEN user_id % 10 < 9 THEN CAST(0 AS BIGINT)"
                " ELSE user_id END"
            ).alias("k"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("qv"),
        )
        # Fixed map-task count: skewed partitions split at map-output
        # boundaries, so >1 map outputs must feed the hot partition.
        fact = base.repartition(10)
        # Dim as a LocalRelation: ~1 row per hot-key class (151 at
        # sf0.1) — collected so the join's right child is a bare
        # Sort(ShuffleStage) the skew rule can pattern-match (header
        # note c). Built from the un-repartitioned base: one less stage.
        dim_rows = (
            base.select("k")
            .distinct()
            .withColumn("grp", F.pmod("k", F.lit(7)))
            .collect()
        )
        dim = spark.createDataFrame(dim_rows, "k long, grp long")
        joined = fact.join(dim.hint("merge"), "k")
        # Rollup via OBSERVED METRICS (CollectMetrics, q179's machinery):
        # a pass-through node that neither requires a distribution nor
        # leaves the result stage, so the skew rule still fires — and
        # the per-group sums/counts come back as 14 scalars with ZERO
        # rows pulled to the driver (grp = k%7 has a static 0..6
        # domain). The first form of this query collected the joined
        # rows; its 10x smoke ratio was 4.2x, all driver transfer.
        # Materialization = eager localCheckpoint (JVM-side, fires the
        # observation listener) under the scoped confs (lesson 15).
        from pyspark.sql import Observation  # noqa: PLC0415

        obs = Observation(f"q191_{uuid.uuid4().hex[:8]}")
        metrics = []
        for g in range(7):
            metrics.append(
                F.sum(F.when(F.col("grp") == g, F.col("qv"))).alias(f"s{g}")
            )
            metrics.append(
                F.count(F.when(F.col("grp") == g, True)).alias(f"c{g}")
            )
        observed = joined.observe(obs, *metrics)
        observed.localCheckpoint(eager=True).unpersist()
        got = obs.get
        plan = (
            observed._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        )
        if "skew=true" not in plan:
            raise AssertionError(
                "join lost its AQE skew-split conversion:\n" + plan
            )
    rows = [
        (g, int(got[f"c{g}"]), int(got[f"s{g}"]))
        for g in range(7)
        if got[f"c{g}"]
    ]
    return spark.createDataFrame(
        rows, "grp long, n_rows long, value_cents long"
    )


def _layout_probe(
    spark: SparkSession, paths: dict[str, str], col: str, lo, hi
) -> tuple[dict[str, list], dict[str, int]]:
    """Run q192/q194's range probe ``lo <= col < hi`` against each
    published layout in ``paths`` (kind -> dir): the per-returnflag
    quantized revenue rollup, collected with AQE off so the executed
    plan is the one whose scan metrics we read (lesson 15). Asserts both
    range bounds reached the scan's PushedFilters, matched per bound
    (lesson 26). Returns ``(results, scan_rows)``: per kind, the sorted
    rows and the leaf scan's ``numOutputRows``."""
    results: dict[str, list] = {}
    scan_rows: dict[str, int] = {}
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        for kind, path in paths.items():
            # Memoized published read (lesson 32): the layout dirs are
            # atomically-published immutable artifacts, so each bench
            # rep otherwise pays ~0.1 s/dir of re-listing + discovery.
            probe = (
                cache.read_published(spark, path)
                .filter((F.col(col) >= lo) & (F.col(col) < hi))
                .groupBy("l_returnflag")
                .agg(
                    F.count("*").alias("n_rows"),
                    F.sum(
                        F.floor(
                            F.col("l_extendedprice")
                            * (F.lit(1.0) - F.col("l_discount"))
                            * F.lit(100.0)
                            + F.lit(0.5)
                        ).cast("long")
                    )
                    .cast("long")
                    .alias("rev_cents"),
                )
            )
            results[kind] = sorted(map(tuple, probe.collect()))
            plan = probe._jdf.queryExecution().executedPlan()  # noqa: SLF001
            plan_str = plan.toString()
            if not (
                f"GreaterThanOrEqual({col}" in plan_str
                and f"LessThan({col}" in plan_str
            ):
                raise AssertionError(
                    f"{kind} scan lost range-predicate pushdown:\n"
                    + plan_str
                )
            leaves = plan.collectLeaves()
            for i in range(leaves.size()):
                leaf = leaves.apply(i)
                if "Scan" in leaf.nodeName():
                    scan_rows[kind] = int(
                        leaf.metrics().apply("numOutputRows").value()
                    )
    return results, scan_rows


# ---------------------------------------------------------------------------
# q192 — ZONE-MAP (MIN/MAX) SKIPPING FROM A SORTED LAYOUT: the third
# data-layout lever alongside q175 (directory-level partition pruning)
# and q170 (bucketed co-located joins) — and at 100 TB the dominant one
# for selective point/range scans, because row-group statistics prune
# I/O WITHOUT the small-files or fixed-key costs of directories and
# buckets. The same lineitem projection is written twice: CLUSTERED
# (repartitionByRange + sortWithinPartitions on ship_date, so every
# file and row group owns a narrow date interval) and SCATTERED (hash
# on an md5 scatter key decorrelated from date, so every row group
# spans the full domain — the layout a raw ingest produces). One
# selective two-month probe runs against each; the parquet reader
# evaluates the pushed range predicate against per-row-group min/max
# and skips groups wholesale. Both assertions live IN the query: the
# range predicate must appear under PushedFilters on both scans
# (losing pushdown silently voids the experiment), and the clustered
# scan's post-pushdown output rows must undercut the scattered scan's
# by >=3x (measured ~4x at sf0.001 where files are single-row-group,
# widening with scale as intra-file groups multiply; the scattered
# scan reads everything). Values: per-returnflag quantized revenue
# over the probe window from the CLUSTERED layout, cross-checked
# in-query against the SCATTERED layout row-for-row — layout must
# never change results, only I/O. Conf scoping per lesson 15 (AQE off
# for a stable executedPlan metric walk; collect before restore).
# Reference capability: sparkConsumer.py's full-scan filters, restated
# as the layout discipline that makes them cheap at scale.
# ---------------------------------------------------------------------------
@register(
    "q192_zonemap_layout_skipping",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1999-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1999-03-01'
    GROUP BY l_returnflag
    """,
    description="Zone-map skipping from a sorted layout: lineitem "
    "written range-clustered vs md5-scattered, the same pushed "
    "two-month range probe run against both; the clustered scan must "
    "emit >=3x fewer post-pushdown rows (row-group min/max pruning) "
    "and both layouts must agree value-exactly — asserted in-query. "
    "Directory pruning (q175) and bucketing (q170) complete the "
    "layout triad; this is the lever for selective range scans at "
    "100 TB.",
    tags=("sink", "layout", "scan", "scale-dial"),
)
def q192_zonemap_layout_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # The build_once token fingerprints the INPUT DATA (testdata
    # regenerated in place rebuilds the layouts) and the LAYOUT RECIPE
    # (salt: sort keys + block size — bump on change).
    def base() -> DataFrame:
        return read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_shipdate").cast("date").alias("ship_date"),
            "l_returnflag",
            "l_extendedprice",
            "l_discount",
        )

    def write_clustered(tmp_dir: str) -> None:
        # Pay-once clustered write: range partitions give file-level
        # date locality, the within-partition sort gives row-group-level
        # locality, and the small parquet block size manufactures many
        # row groups per file so intra-file skipping is observable even
        # at test scale (a real corpus gets this for free from volume).
        (
            base()
            .repartitionByRange(8, "ship_date", "l_orderkey")
            .sortWithinPartitions("ship_date", "l_orderkey", "l_linenumber")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536)
            .parquet(tmp_dir)
        )

    def write_scattered(tmp_dir: str) -> None:
        # Scatter layout: md5 hash-partition + sort, deterministic file
        # bytes but every row group spans the whole date domain.
        (
            base()
            .withColumn(
                "__scatter",
                F.md5(F.concat_ws("|", "l_orderkey", "l_linenumber")),
            )
            .repartition(8, "__scatter")
            .sortWithinPartitions("__scatter")
            .drop("__scatter")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536)
            .parquet(tmp_dir)
        )

    paths = {
        kind: cache.build_once(
            spark, sf_dir, "lineitem", f"q192_{kind}",
            "rbr8-shipdate-blk64k-v1", write,
        )
        for kind, write in (
            ("clustered", write_clustered),
            ("scattered", write_scattered),
        )
    }

    results, scan_rows = _layout_probe(
        spark,
        paths,
        "ship_date",
        F.lit("1999-01-01").cast("date"),
        F.lit("1999-03-01").cast("date"),
    )
    if results["clustered"] != results["scattered"]:
        raise AssertionError(
            "layout changed query VALUES — clustered "
            f"{results['clustered']} vs scattered {results['scattered']}"
        )
    if scan_rows["clustered"] * 3 > scan_rows["scattered"]:
        raise AssertionError(
            "clustered layout lost its zone-map skipping advantage: "
            f"clustered scan emitted {scan_rows['clustered']} rows vs "
            f"scattered {scan_rows['scattered']} (expected >=3x fewer)"
        )
    return spark.createDataFrame(
        results["clustered"],
        "l_returnflag string, n_rows bigint, rev_cents bigint",
    )


# ---------------------------------------------------------------------------
# q193 — EVENT-TIME TIMER EVICTION (applyInPandasWithState +
# GroupStateTimeout.EventTimeTimeout): completes the timeout-mode triad
# (q67 NoTimeout, q190 ProcessingTimeTimeout). Timers here are driven
# by the WATERMARK, not the wall clock, which makes every fire
# deterministic: a key times out on the first batch whose watermark
# exceeds its setTimeoutTimestamp, and the engine schedules exactly one
# extra empty micro-batch after a data batch IFF the watermark advanced
# (shouldRunAnotherBatch is watermark-gated — unlike q190's
# ProcessingTimeTimeout it is NOT always-true, so processAllAvailable()
# returns normally and no progress polling is needed; measured: phase
# batches arrive as data-batch + one empty eviction batch).
# Determinism by STAGED ARRIVAL (lesson: q190): phase A = events before
# Jan 16, phase B = the rest, each a single staged file. The exact
# algebra, all in floor-to-ms epoch arithmetic identical in both
# engines (watermark advance uses the one-batch-lag rule — during the
# phase-B data batch the watermark is still phase A's):
#   W1 = ms(max ts in A) - 3600000        (after A's data batch)
#   W3 = ms(max ts in B) - 3600000        (after B's data batch)
#   e1: key evicts in A's empty batch iff ms(max_A(key)) + 1001 < W1,
#       emitting its A count;
#   e2: key with B data evicts in B's empty batch iff
#       ms(max_B(key)) + 1001 < W3, emitting B count + A count if A
#       state survived e1 (timers overwritten by the B data call);
#   e3: A-only key that survived e1 evicts in B's empty batch iff
#       ms(max_A(key)) + 1001 < W3 (its A-era timer, fired late);
#   keys within the watermark delay of their phase max never evict and
#   are still in state at stop — all four classes populated at every
#   SF. The +1001 ms offset is deliberately sub-second-grained so a
#   second-granular generator change cannot manufacture boundary ties
#   (event times are microsecond-grained today — ties are measure-zero
#   either way, lesson 7). setTimeoutTimestamp > current-watermark is
#   structurally guaranteed: phase B timestamps all exceed phase A's
#   max, hence exceed W1.
# ---------------------------------------------------------------------------
@register(
    "q193_event_time_timer_eviction",
    """
    WITH a AS (
      SELECT user_id, COUNT(*) AS c, epoch_ms(MAX(ts)) AS m
      FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    ),
    b AS (
      SELECT user_id, COUNT(*) AS c, epoch_ms(MAX(ts)) AS m
      FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
      GROUP BY user_id
    ),
    ga AS (SELECT MAX(m) AS wm FROM a),
    gb AS (SELECT MAX(m) AS wm FROM b),
    u AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             COALESCE(a.c, 0) AS ac, a.m AS am,
             COALESCE(b.c, 0) AS bc, b.m AS bm
      FROM a FULL JOIN b ON a.user_id = b.user_id
    ),
    f AS (
      SELECT user_id, ac, bc,
        CASE WHEN ac > 0 AND am + 1001 < (SELECT wm FROM ga) - 3600000
             THEN 1 ELSE 0 END AS e1,
        CASE WHEN bc > 0 AND bm + 1001 < (SELECT wm FROM gb) - 3600000
             THEN 1 ELSE 0 END AS e2,
        CASE WHEN ac > 0 AND bc = 0
              AND am + 1001 >= (SELECT wm FROM ga) - 3600000
              AND am + 1001 < (SELECT wm FROM gb) - 3600000
             THEN 1 ELSE 0 END AS e3
      FROM u
    )
    SELECT user_id,
           CAST(e1 + e2 + e3 AS BIGINT) AS n_evict,
           CAST(e1 * ac
                + e2 * (bc + CASE WHEN e1 = 0 THEN ac ELSE 0 END)
                + e3 * ac AS BIGINT) AS n_emitted
    FROM f
    WHERE e1 + e2 + e3 > 0
    """,
    description="Event-time timer eviction: per-user counts and deadlines "
    "in GroupState keyed on 16 hash buckets (a timer WHEEL — one timer "
    "per bucket at the min user deadline; lesson 9 on the stateful "
    "surface), timers fired by WATERMARK advance (exactly one empty "
    "micro-batch per staged phase — deterministic, no wall clock). "
    "Oracle reproduces the full per-user timer algebra in floor-to-ms "
    "epoch arithmetic: early eviction under phase A's watermark, "
    "re-accumulation + eviction under phase B's, late fire of surviving "
    "A-era deadlines, and never-evicted keys inside the delay. "
    "Completes the timeout-mode triad (q67 NoTimeout, q190 "
    "ProcessingTime).",
    tags=("streaming", "stateful", "timer", "watermark", "pandas-udf"),
)
def q193_event_time_timer_eviction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from nyc_yellow_taxi_trip_data_pipeline_spark.streaming.pipeline import (
        replay_query,
    )

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    tmid = "2024-01-16 00:00:00"

    # Fingerprint-keyed cached staging, as q190: phase files are a pure
    # function of the input table and the staging recipe, so the
    # build_once token carries a logic salt (phase-split timestamp +
    # columns — bump on change). Warm runs skip the write job.
    def write(tmp_dir: str) -> None:
        (
            ev.withColumn(
                "phase",
                (F.col("ts") >= F.lit(tmid).cast("timestamp")).cast("int"),
            )
            .repartition(2, "phase")
            .write.partitionBy("phase")
            .mode("overwrite")
            .parquet(tmp_dir)
        )

    stage_dir = cache.build_once(
        spark, sf_dir, "events", "q193_stage", f"phase-{tmid}-uid-ts-v1",
        write,
    )
    watch_dir = tempfile.mkdtemp(prefix="q193_watch_")

    def stage_phase(phase: int) -> None:
        out = os.path.join(stage_dir, f"phase={phase}")
        src = [
            f
            for f in os.listdir(out)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(src) == 1, src
        tmp = os.path.join(watch_dir, f".{phase:02d}.tmp")
        shutil.copyfile(os.path.join(out, src[0]), tmp)
        os.rename(tmp, os.path.join(watch_dir, f"{phase:02d}.parquet"))

    def evict_counter(key, pdfs, state):
        # Self-contained closure (executor workers can't import the repo).
        # State is keyed on a HASH BUCKET (lesson 9 on the stateful
        # surface — per-group protocol cost dominated the replay): the
        # bucket holds (users, counts, deadlines) arrays and ONE timer
        # armed at the bucket's MIN deadline — a timer wheel. On fire,
        # exactly the users whose deadline < current watermark evict
        # (the same strict < the engine applies to per-key event-time
        # timers, so the per-user oracle algebra is unchanged), and the
        # timer re-arms at the min surviving deadline. A user's fresh
        # data OVERWRITES its deadline (ms(max ts of the call) + 1001),
        # mirroring per-key setTimeoutTimestamp semantics.
        import pandas as pd

        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            users, counts, deadlines = state.get
            out_u, out_c = [], []
            keep_u, keep_c, keep_d = [], [], []
            for u, c, d in zip(users, counts, deadlines):
                if d < wm:
                    out_u.append(int(u))
                    out_c.append(int(c))
                else:
                    keep_u.append(int(u))
                    keep_c.append(int(c))
                    keep_d.append(int(d))
            if keep_u:
                state.update((keep_u, keep_c, keep_d))
                # Survivors all have deadline >= wm by the filter; the
                # wm+1 clamp only covers the measure-zero == tie (the
                # engine requires a setpoint strictly above the
                # watermark).
                state.setTimeoutTimestamp(max(min(keep_d), wm + 1))
            else:
                state.remove()
            yield pd.DataFrame({"user_id": out_u, "n": out_c})
        else:
            fresh: dict = {}
            for df in pdfs:
                if not len(df):
                    # An empty Arrow chunk's max() is NaT — skip before
                    # folding so the closure survives batch re-slicing.
                    continue
                grp = df.groupby("user_id")["ts"].agg(["count", "max"])
                for u, row in grp.iterrows():
                    c = int(row["count"])
                    # pandas ns -> floor ms, matching the engine's
                    # watermark granularity and the oracle's epoch_ms.
                    m = int(row["max"].value // 1_000_000)
                    if int(u) in fresh:
                        c0, m0 = fresh[int(u)]
                        fresh[int(u)] = (c0 + c, m if m > m0 else m0)
                    else:
                        fresh[int(u)] = (c, m)
            acc: dict = {}
            if state.exists:
                users, counts, deadlines = state.get
                for u, c, d in zip(users, counts, deadlines):
                    acc[int(u)] = (int(c), int(d))
            for u, (c, m) in fresh.items():
                c0 = acc[u][0] if u in acc else 0
                acc[u] = (c0 + c, m + 1001)
            items = sorted(acc.items())
            state.update(
                (
                    [u for u, _ in items],
                    [c for _, (c, _) in items],
                    [d for _, (_, d) in items],
                )
            )
            state.setTimeoutTimestamp(
                max(min(d for _, (_, d) in items), wm + 1)
            )

    sink = f"q193_out_{uuid.uuid4().hex[:8]}"
    try:
        stage_phase(0)
        schema = "user_id long, ts timestamp"
        stream = (
            spark.readStream.schema(schema)
            .parquet(watch_dir)
            .withWatermark("ts", "1 hour")
        )
        evictions = (
            stream.withColumn(
                "bucket", F.pmod("user_id", F.lit(16))
            )
            .groupBy("bucket")
            .applyInPandasWithState(
                evict_counter,
                "user_id long, n long",
                "users array<long>, counts array<long>, "
                "deadlines array<long>",
                "update",
                GroupStateTimeout.EventTimeTimeout,
            )
        )
        # replay_query runs ONE state partition — same fixed-cost floor
        # argument as q190.
        writer = (
            evictions.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
        )
        with replay_query(spark, writer) as q:
            # Watermark-gated batching: each call drains the staged
            # phase's data batch plus the one empty eviction batch
            # the advanced watermark schedules, then returns.
            q.processAllAvailable()
            stage_phase(1)
            q.processAllAvailable()
        return (
            spark.table(sink)
            .groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_evict"),
                F.sum("n").cast("long").alias("n_emitted"),
            )
        )
    finally:
        # stage_dir is a fingerprint-keyed cache — deliberately kept.
        shutil.rmtree(watch_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# q194 — Z-ORDER (MULTI-DIMENSIONAL) CLUSTERING, the liquid-clustering-
# style extension of q192's single-column range layout: interleave the
# bits of two normalized cluster keys (ship_date, l_suppkey) into one
# Z-value, range-partition + sort the write on it, and every file/row
# group owns a small HYPER-RECTANGLE of the 2-D key space instead of a
# slice of one dimension. The payoff is on the TRAILING dimension: a
# selective l_suppkey band probe against the date-sorted linear layout
# reads everything (each date-run row group spans the full suppkey
# domain), while the same probe against the Z-ordered layout skips all
# row groups whose suppkey interval misses the band — asserted in-query
# via the scans' numOutputRows (zorder must emit <= half the linear
# layout's post-pushdown rows), with the range predicate's pushdown
# asserted on BOTH scans first (losing pushdown voids the experiment).
# Values: per-returnflag quantized revenue over the band from the
# Z-ordered layout, cross-checked row-for-row against the linear layout
# in-query — layout must never change results, only I/O. At 100 TB this
# is the layout lever for tables probed on MORE THAN ONE column, where
# q192's single-key sort helps only the leading key and per-column
# partitioning (q175) explodes the directory count. The Z-value is pure
# JVM bit arithmetic (shift/and/or inside whole-stage codegen), paid
# once at write time; probes never compute it. Key normalization is
# integer min-max scaling to 16 bits (DIV on non-negative operands only
# — lesson 11); the min/max agg is a 1-row driver pull (documented
# tiny). Layout artifacts are cached under the warehouse keyed on a
# DATA fingerprint (file count + bytes + newest mtime, as q192), so
# in-place testdata regeneration rebuilds them. Conf scoping per lesson
# 15 (AQE off for a stable executedPlan metric walk; collect before
# restore).
# ---------------------------------------------------------------------------
@register(
    "q194_zorder_multidim_skipping",
    """
    WITH b AS (
      SELECT MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax FROM lineitem
    )
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                               + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents
    FROM lineitem, b
    WHERE l_suppkey >= b.smin + ((b.smax - b.smin) * 2) // 5
      AND l_suppkey <  b.smin + ((b.smax - b.smin) * 2) // 5
                       + GREATEST((b.smax - b.smin) // 16, 1)
    GROUP BY l_returnflag
    """,
    description="Z-order multi-dimensional clustering: lineitem written "
    "once sorted on interleaved (ship_date, l_suppkey) bits and once "
    "date-sorted linear; a selective suppkey band probe (the TRAILING "
    "dimension) must emit <=1/2 the post-pushdown rows on the Z layout "
    "(row-group min/max skipping on a non-leading key — impossible "
    "under q192's single-column sort) and both layouts must agree "
    "value-exactly, all asserted in-query. The multi-column probe "
    "lever of the layout triad+ (q175 directories, q170 buckets, q192 "
    "range-cluster).",
    tags=("sink", "layout", "scan", "zorder", "scale-dial"),
)
def q194_zorder_multidim_skipping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_shipdate").cast("date").alias("ship_date"),
        "l_suppkey",
        "l_returnflag",
        "l_extendedprice",
        "l_discount",
    )
    # Cluster-key domain: a 1-row agg pull, needed for both the write-
    # time normalization and the probe band (the oracle recomputes the
    # same band with scalar subqueries — integer floor-div on
    # non-negative operands is engine-portable, lesson 11).
    dom = base.agg(
        F.min("l_suppkey").alias("smin"),
        F.max("l_suppkey").alias("smax"),
        F.min("ship_date").alias("dmin"),
        F.max("ship_date").alias("dmax"),
    ).collect()[0]
    smin, smax = int(dom["smin"]), int(dom["smax"])
    sspan = max(smax - smin, 1)
    dspan = max((dom["dmax"] - dom["dmin"]).days, 1)

    # Data-fingerprinted build_once token (q192's discipline):
    # regeneration of the input invalidates the cached layouts; the
    # salt versions the layout recipe (interleave order, 16-bit
    # normalization, block size — bump on change).
    def write_zorder(tmp_dir: str) -> None:
        # 16-bit min-max normalization of both keys, then bit
        # interleaving (suppkey takes the odd/high bit of each pair so
        # contiguous Z ranges bound the suppkey interval tightly).
        snorm = F.expr(
            f"CAST(((l_suppkey - {smin}) * 65535) DIV {sspan} AS BIGINT)"
        )
        dnorm = F.expr(
            f"CAST((datediff(ship_date, DATE'{dom['dmin']}') * 65535)"
            f" DIV {dspan} AS BIGINT)"
        )
        z = None
        for i in range(16):
            s_bit = F.shiftleft(
                F.shiftright(snorm, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
            d_bit = F.shiftleft(
                F.shiftright(dnorm, i).bitwiseAND(F.lit(1)), 2 * i
            )
            term = s_bit.bitwiseOR(d_bit)
            z = term if z is None else z.bitwiseOR(term)
        (
            base.withColumn("__z", z)
            .repartitionByRange(8, "__z", "l_orderkey")
            .sortWithinPartitions("__z", "l_orderkey", "l_linenumber")
            .drop("__z")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536)
            .parquet(tmp_dir)
        )

    def write_linear(tmp_dir: str) -> None:
        # Linear comparison layout: date-sorted (q192's clustered form)
        # — optimal for date probes, blind on the trailing suppkey.
        (
            base.repartitionByRange(8, "ship_date", "l_orderkey")
            .sortWithinPartitions("ship_date", "l_orderkey", "l_linenumber")
            .write.mode("overwrite")
            .option("parquet.block.size", 65536)
            .parquet(tmp_dir)
        )

    paths = {
        kind: cache.build_once(
            spark, sf_dir, "lineitem", f"q194_{kind}",
            "z16-supphigh-rbr8-blk64k-v1", write,
        )
        for kind, write in (
            ("zorder", write_zorder),
            ("linear", write_linear),
        )
    }

    s_lo = smin + ((smax - smin) * 2) // 5
    s_hi = s_lo + max((smax - smin) // 16, 1)
    results, scan_rows = _layout_probe(
        spark, paths, "l_suppkey", F.lit(s_lo), F.lit(s_hi)
    )
    # The VALUE cross-check is unconditional: layout must never change
    # results, only I/O.
    if results["zorder"] != results["linear"]:
        raise AssertionError(
            "layout changed query VALUES — zorder "
            f"{results['zorder']} vs linear {results['linear']}"
        )
    # The >=2x skipping ratio needs enough row groups to skip: measured
    # margin is 2.7x at sf0.001 (the smallest gated SF, ~3 row groups
    # per file at the 64 KiB block size) widening with scale, but below
    # that — or under a parquet writer/block-size change that coalesces
    # row groups — a value-correct run could see the advantage narrow
    # for purely granularity reasons. Gate the RATIO assertion on the
    # linear layout actually having multiple row groups per partition
    # file (footer count via pyarrow, driver-side, metadata-only);
    # the value check above never relaxes.
    import os

    import pyarrow.parquet as _pq

    n_groups_linear = sum(
        _pq.ParquetFile(os.path.join(paths["linear"], f)).num_row_groups
        for f in os.listdir(paths["linear"])
        if f.endswith(".parquet")
    )
    if n_groups_linear >= 16 and scan_rows["zorder"] * 2 > scan_rows[
        "linear"
    ]:
        raise AssertionError(
            "Z-order layout lost its trailing-dimension skipping "
            f"advantage: zorder scan emitted {scan_rows['zorder']} rows "
            f"vs linear {scan_rows['linear']} (expected >=2x fewer; "
            f"linear layout has {n_groups_linear} row groups)"
        )
    return spark.createDataFrame(
        results["zorder"],
        "l_returnflag string, n_rows bigint, rev_cents bigint",
    )


# ---------------------------------------------------------------------------
# q195 — MATERIALIZED MERGE ROUNDS (copy-on-write upsert against a real
# on-disk table state): the physical twin of q51's logical MERGE shape.
# q51 computes what one MERGE would RETURN; q115 streams upserts into
# Derby via foreachBatch; this query maintains an actual partitioned
# parquet TARGET across three sequential MERGE rounds and verifies the
# final on-disk state — the Delta/Iceberg MERGE INTO mechanic restated
# on plain parquet (Spark's built-in sources don't accept MERGE INTO;
# the DSv2 catalogs that do don't ship in the stock distribution).
# Mechanics, all asserted in-query:
#   - target = customer dim (even custkeys only, so odd-key events
#     exercise WHEN NOT MATCHED ... INSERT), hash-partitioned on
#     bucket = key % 8 — only even buckets exist at init, so round 0
#     also exercises insert-into-NEW-partition;
#   - rounds 0-1: batch k = events with event_id % 2 = k, deduped to
#     latest-per-key (ts, event_id total order); MATCHED -> value
#     updates + n_merges bumps, NOT MATCHED -> insert. Sequencing is
#     load-bearing: a key's final value comes from its LAST batch, so
#     a wrong round order diverges from the oracle;
#   - round 2: single-key metadata-only merge (point fix-up: bump
#     n_merges, keep value) — the partial-COW proof: exactly ONE
#     partition directory may be rewritten, the other seven must stay
#     byte-stable (mtime+filename snapshot compared in-query);
#   - every round rewrites ONLY the partitions holding source keys
#     (DataFrameWriter option partitionOverwriteMode=dynamic — scoped
#     to the write, no session conf touched), asserted via the same
#     snapshot: rewritten dirs == the update set's bucket set. The
#     merged slice is pinned with an eager localCheckpoint before the
#     write because the plan reads the directory it overwrites (the
#     path-parquet analog of Delta rewriting files it read; lineage
#     loss is acceptable for a single-machine round — a cluster run
#     would checkpoint to reliable storage).
# At 100 TB this is THE upsert cost model: per round, O(|update set|)
# shuffle for the dedup + full-outer join against only the TOUCHED
# partitions, and a rewrite of those partitions — never a full-table
# rewrite (the three rounds here rewrite 8+8+1 partition dirs).
# Driver pulls are bounded: the touched-bucket list (<= 8 rows/round)
# and the fix key (1 row). Final state re-read is localCheckpoint-
# pinned so the /tmp target can be removed before returning.
# ---------------------------------------------------------------------------
@register(
    "q195_merge_rounds_materialized",
    """
    WITH latest AS (
      SELECT user_id, value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY event_id % 2 DESC, ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    nb AS (
      SELECT user_id, COUNT(DISTINCT event_id % 2) AS nm
      FROM events GROUP BY user_id
    ),
    dim AS (
      SELECT c_custkey AS key, c_acctbal FROM customer
      WHERE c_custkey % 2 = 0
    )
    SELECT COALESCE(d.key, nb.user_id) AS key,
           COALESCE(l.value, d.c_acctbal) AS acct_value,
           CAST(COALESCE(nb.nm, 0)
                + CASE WHEN COALESCE(d.key, nb.user_id) =
                            (SELECT MIN(user_id) FROM events)
                       THEN 1 ELSE 0 END AS BIGINT) AS n_merges,
           d.key IS NULL AS was_inserted
    FROM dim d
    FULL JOIN nb ON d.key = nb.user_id
    LEFT JOIN latest l ON COALESCE(d.key, nb.user_id) = l.user_id
    """,
    description="Materialized MERGE rounds: a partitioned parquet target "
    "(customer dim, even keys) upserted in place by two sequential "
    "latest-per-key event batches plus one single-key metadata fix-up, "
    "Delta-style copy-on-write via dynamic partition overwrite — each "
    "round rewrites ONLY the partitions holding source keys (snapshot-"
    "asserted; the fix-up round proves it by leaving 7 of 8 partition "
    "dirs byte-stable). Oracle reproduces the full round algebra: "
    "last-batch-wins values, per-key merge counts, insert flags. The "
    "physical twin of q51's logical MERGE and q115's JDBC upsert.",
    tags=("merge", "upsert", "sink", "layout", "scale-dial"),
)
def q195_merge_rounds_materialized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import uuid

    from pyspark.sql import Window

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.layout import (
        partition_snapshot,
        rewritten_partitions,
    )

    n_buckets = 8
    tbl = f"/tmp/q195_target_{uuid.uuid4().hex[:8]}"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )

    def merge_round(upd: DataFrame, label: str, bump_only: bool) -> None:
        # MERGE INTO target USING upd ON target.key = upd.key
        #   WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT —
        # as a full-outer join over ONLY the touched partitions.
        touched = sorted(
            r["bucket"] for r in upd.select("bucket").distinct().collect()
        )  # bounded pull: <= n_buckets rows
        tgt = spark.read.parquet(tbl).filter(
            F.col("bucket").isin([int(b) for b in touched])
        )
        joined = tgt.alias("t").join(
            upd.alias("u"), F.col("t.key") == F.col("u.key"), "full_outer"
        )
        new_value = (
            F.col("t.acct_value")
            if bump_only
            else F.coalesce("u.value", "t.acct_value")
        )
        merged = joined.select(
            F.coalesce("t.key", "u.key").alias("key"),
            new_value.alias("acct_value"),
            (
                F.coalesce("t.n_merges", F.lit(0))
                + F.when(F.col("u.key").isNotNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_merges"),
            F.coalesce("t.was_inserted", F.lit(True)).alias("was_inserted"),
            F.coalesce("t.bucket", "u.bucket").cast("int").alias("bucket"),
        )
        # In-plan read-side discipline (q170/q175 style): the target
        # scan must PARTITION-PRUNE to the touched buckets — losing the
        # PartitionFilter would silently re-read the whole table every
        # round and void the O(touched) merge cost model. Rendering
        # varies with predicate shape (IN (...) for a multi-bucket
        # round, isnotnull + equality for the single-key fix-up), so
        # match only "a non-empty PartitionFilters clause referencing
        # bucket" (lesson 26), asserted on the plan the checkpoint job
        # is about to run.
        import re as _re

        mplan = merged._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if not _re.search(r"PartitionFilters: \[[^\]]*bucket", mplan):
            raise AssertionError(
                f"q195 {label}: target scan lost bucket partition "
                "pruning:\n" + mplan
            )
        merged = merged.localCheckpoint(
            eager=True
        )  # plan reads the dir it overwrites
        before = partition_snapshot(tbl, "bucket=")
        # coalesce(1): the target is dim-sized, so ONE write task
        # producing one file per touched partition beats 8 tasks each
        # opening files in every dir (committer work scales with file
        # count). At 100 TB the equivalent dial is a repartition on the
        # partition column so each task owns whole partitions.
        (
            merged.coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(tbl)
        )
        after = partition_snapshot(tbl, "bucket=")
        rewritten = rewritten_partitions(before, after)
        want = {f"bucket={int(b)}" for b in touched}
        if rewritten != want:
            raise AssertionError(
                f"q195 {label}: dynamic partition overwrite rewrote "
                f"{sorted(rewritten)}, expected exactly {sorted(want)} "
                "(COW contract: only partitions holding source keys)"
            )

    try:
        # Every stage here is tiny-per-partition (the target is a dim
        # table, the update sets are latest-per-key slices); 32 default
        # shuffle partitions would pay ~4x task overhead for nothing.
        # All work below materializes inside the scope (writes,
        # collects, eager checkpoints — lesson 15), so the restore
        # can't re-plan anything.
        with scoped_conf(
            spark, {"spark.sql.shuffle.partitions": str(n_buckets)}
        ):
            (
                read_table(spark, sf_dir, "customer")
                .filter(F.pmod("c_custkey", F.lit(2)) == 0)
                .select(
                    F.col("c_custkey").alias("key"),
                    F.col("c_acctbal").alias("acct_value"),
                    F.lit(0).cast("long").alias("n_merges"),
                    F.lit(False).alias("was_inserted"),
                    F.pmod("c_custkey", F.lit(n_buckets))
                    .cast("int")
                    .alias("bucket"),
                )
                .coalesce(1)
                .write.mode("overwrite")
                .partitionBy("bucket")
                .parquet(tbl)
            )
            # ONE events pass computes every round's update set
            # (latest-per-key within each batch), pinned because three
            # merge rounds consume slices of it (lesson 24).
            w = Window.partitionBy("b", "user_id").orderBy(
                F.desc("ts"), F.desc("event_id")
            )
            batches = (
                ev.withColumn("b", F.pmod("event_id", F.lit(2)))
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(
                    "b",
                    F.col("user_id").alias("key"),
                    "value",
                    F.pmod("user_id", F.lit(n_buckets))
                    .cast("int")
                    .alias("bucket"),
                )
                .localCheckpoint(eager=True)
            )
            for k in range(2):
                merge_round(
                    batches.filter(F.col("b") == k).drop("b"),
                    f"batch {k}",
                    bump_only=False,
                )
            # Every user has a latest row, so min(key) over the pinned
            # update sets equals min(user_id) over events (1-row pull).
            fix_key = int(batches.agg(F.min("key")).collect()[0][0])
            fixu = spark.createDataFrame(
                [(fix_key,)], "key long"
            ).select(
                "key",
                F.lit(None).cast("double").alias("value"),
                F.pmod("key", F.lit(n_buckets)).cast("int").alias("bucket"),
            )
            merge_round(fixu, "point fix-up", bump_only=True)
            return (
                spark.read.parquet(tbl)
                .select("key", "acct_value", "n_merges", "was_inserted")
                .localCheckpoint(eager=True)  # survives the rmtree below
            )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


# ---------------------------------------------------------------------------
# q196 — SMALL-FILE COMPACTION (the OPTIMIZE/bin-pack maintenance
# operator): the one 100 TB operational lever the layout family
# (q170 bucketing / q175 partition pruning / q192 zone maps / q194
# Z-order / q195 COW merge) didn't cover. Streaming sinks (ST1-ST4)
# and frequent small batch appends fragment a partitioned table into
# many tiny files; scan cost then scales with FILE COUNT (task
# scheduling + footer reads + open cost), not bytes. Mechanics, all
# asserted in-query against a deterministically fragmented events
# table (even days PLUS the row-richest day: 12-way hash-scattered
# small files; other odd days: pre-compacted single files — always
# fragmenting the largest day and clamping the bin-pack target to it
# makes the planner's non-empty selection data-shape-independent,
# ADVICE r13):
#   - PLANNING IS METADATA-ONLY: the compaction planner reads the
#     partition directory listing and parquet FOOTER row counts — never
#     data pages. Partitions are selected only when their file count
#     exceeds the bin-packed target (ceil(rows / max_records_per_file),
#     rows standing in for bytes at fixed row width — a byte-targeted
#     planner is the same arithmetic on footer byte stats). Already-
#     compact partitions (the odd days, and any partition whose files
#     are FEWER than the target) are skipped: OPTIMIZE merges small
#     files, it never splits large ones.
#   - THE REWRITE IS PARTITION-SELECTIVE: the read partition-prunes to
#     the selected days (PartitionFilters asserted in-plan, lesson 26),
#     one hash repartition on the partition column makes each task own
#     whole partitions, and dynamic partition overwrite rewrites ONLY
#     the selected directories — unselected dirs are snapshot-asserted
#     byte-stable (filename+mtime, the q195 discipline). The source is
#     pinned (eager localCheckpoint) because the plan reads the very
#     directories it overwrites.
#   - OUTPUT FILE COUNTS ARE EXACT: maxRecordsPerFile splits each
#     task's per-directory stream every max_rec rows, and each selected
#     day lives in exactly one task, so files_after == ceil(rows /
#     max_rec) — asserted per partition, along with files_after <
#     files_before and footer-level row preservation.
# At 100 TB: the listing + footer scan distributes as a Spark job over
# file statuses (bounded here: <= 30 dirs x 12 files, driver-side), the
# rewrite shuffles ONLY the fragmented partitions' rows (never the
# compact ones), and untouched partitions cost zero I/O — compaction is
# incremental table maintenance, not a full rewrite. The returned
# DataFrame re-aggregates the COMPACTED table per day; the oracle
# computes the same from raw events, so the oracle row is a
# content-preservation proof for the whole fragment->compact cycle.
# ---------------------------------------------------------------------------
@register(
    "q196_compact_optimize",
    f"""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_qsum('value')} AS sum_value
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
    description="Small-file compaction (OPTIMIZE): metadata-only planning "
    "(directory listing + parquet footer row counts) selects only the "
    "fragmented partitions, a partition-pruned + pinned read feeds a "
    "dynamic-partition-overwrite bin-pack rewrite (maxRecordsPerFile) "
    "that leaves already-compact partitions byte-stable, and exact "
    "output file counts, file-count reduction, and row preservation are "
    "asserted in-plan. The oracle re-aggregates the compacted table "
    "against raw events — a content-preservation proof for the full "
    "fragment->compact cycle.",
    tags=("layout", "compaction", "sink", "maintenance"),
)
def q196_compact_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import re as _re
    import shutil
    import uuid

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import qsum
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.layout import (
        partition_file_stats,
        partition_snapshot,
        plan_compaction,
        rewritten_partitions,
    )

    n_frag = 12  # fragmentation width of the simulated streaming sink
    target_files = 3  # bin-pack target per partition (rows-as-bytes proxy)
    tbl = f"/tmp/q196_table_{uuid.uuid4().hex[:8]}"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.to_date("ts").alias("day"),
    )

    try:
        # Deterministic fragmentation in ONE write job: even days arrive
        # hash-scattered across up to 12 routes (the streaming-sink
        # shape), odd days ride a single route and land pre-compacted —
        # a per-day file count of ~n_frag vs exactly 1. (Route-hash
        # collisions can merge some even-day routes into one task; the
        # planner reads MEASURED file counts, so nothing assumes 12.)
        # Data-shape guarantee (ADVICE r13): the row-RICHEST day is
        # ALWAYS routed through all n_frag routes regardless of parity,
        # and max_rec is clamped so that day's bin-packed target stays
        # <= target_files << its file count — so the planner always has
        # at least one selectable partition even if a regenerated
        # corpus makes every even day sparse. Memoized per corpus
        # (_largest_group): bench reps and repeated driver runs don't
        # re-scan events for a value fixed by the data fingerprint.
        _, big_day = _largest_group(spark, sf_dir, "events", ev, "day")
        frag_days = (F.dayofmonth("day") % 2 == 0) | (
            F.col("day") == F.lit(big_day)
        )
        (
            ev.withColumn(
                "__route",
                F.when(frag_days, F.pmod("event_id", F.lit(n_frag)))
                .otherwise(F.lit(0)),
            )
            .repartition(n_frag, "__route")
            .drop("__route")
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(tbl)
        )

        # Planner input is METADATA-ONLY: directory listing + parquet
        # footer row counts (partition_file_stats) — never data pages.
        # Row-planned bin-pack (plan_compaction, the q197 twin plans
        # the same arithmetic on BYTES): the clamp to the row-richest
        # partition (fragmented above) keeps the selection non-empty
        # for any data shape.
        full_stats = partition_file_stats(tbl, "day=")
        stats = {d: (nf, rows) for d, (nf, rows, _) in full_stats.items()}
        total_rows = sum(r for _, r in stats.values())
        todo, max_rec, needed = plan_compaction(
            full_stats, target_files, by_bytes=False
        )
        if not todo:
            raise AssertionError(
                f"q196: planner selected no partitions from {stats}"
            )
        if len(todo) == len(stats):
            raise AssertionError(
                "q196: planner selected EVERY partition — the already-"
                f"compact odd days must be skipped ({stats})"
            )

        days_todo = [
            datetime.date.fromisoformat(d.split("=", 1)[1]) for d in todo
        ]
        src = spark.read.parquet(tbl).filter(F.col("day").isin(days_todo))
        # The rewrite's read must partition-prune to the selected days —
        # a lost PartitionFilter silently re-reads the whole table and
        # voids the O(fragmented) cost model (lesson 26: match the
        # clause loosely, never its renderer format).
        splan = src._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if not _re.search(r"PartitionFilters: \[[^\]]*day", splan):
            raise AssertionError(
                "q196: compaction read lost day partition pruning:\n" + splan
            )
        pinned = src.localCheckpoint(eager=True)  # reads dirs it overwrites
        before = partition_snapshot(tbl, "day=")
        (
            pinned.repartition(len(todo), "day")
            .sortWithinPartitions("day", "event_id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", max_rec)
            .partitionBy("day")
            .parquet(tbl)
        )
        after = partition_snapshot(tbl, "day=")
        rewritten = rewritten_partitions(before, after)
        if rewritten != set(todo):
            raise AssertionError(
                f"q196: rewrite touched {sorted(rewritten)}, planner "
                f"selected {todo} (selective-compaction contract)"
            )
        stats2 = {
            d: (nf, rows)
            for d, (nf, rows, _) in partition_file_stats(tbl, "day=").items()
        }
        for d in todo:
            nf2, rows2 = stats2[d]
            nf1, rows1 = stats[d]
            if rows2 != rows1:
                raise AssertionError(
                    f"q196 {d}: rows {rows1} -> {rows2} (compaction must "
                    "preserve content)"
                )
            if nf2 != needed[d] or nf2 >= nf1:
                raise AssertionError(
                    f"q196 {d}: {nf1} files -> {nf2}, expected exactly "
                    f"{needed[d]} (ceil({rows1}/{max_rec}))"
                )
        if sum(r for _, r in stats2.values()) != total_rows:
            raise AssertionError("q196: total rows drifted across compaction")

        return (
            spark.read.parquet(tbl)
            .groupBy("day")
            .agg(
                F.count("*").alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                qsum(F.col("value")).alias("sum_value"),
            )
            .localCheckpoint(eager=True)  # survives the rmtree below
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


# ---------------------------------------------------------------------------
# q197 — BYTE-TARGETED COMPACTION (OPTIMIZE's production contract):
# q196 plans on footer ROW counts (rows standing in for bytes at fixed
# row width); real OPTIMIZE implementations (Delta/Iceberg bin-pack)
# plan on BYTES, because row width varies across partitions and a
# row-count target mis-sizes wide-row partitions. Same maintenance
# mechanics as q196 — metadata-only planning, partition-selective
# pinned read, dynamic-overwrite rewrite, byte-stable untouched dirs,
# exact output file counts — with the two byte-specific levers:
#   - SELECTION is byte-planned: per-partition compressed bytes come
#     from file stats (partition_file_stats — still metadata-only), the
#     per-file byte target derives from the table's total bytes, and a
#     partition is selected only when its file count exceeds
#     ceil(partition_bytes / target_file_bytes).
#   - SIZING is byte-derived: the write's maxRecordsPerFile is
#     floor(target_file_bytes / measured_bytes_per_row) — the measured
#     global footer bytes-per-row converts the byte target into the
#     record budget the writer can actually enforce. Output byte sizes
#     themselves are NOT asserted (encoding varies with row order —
#     lesson 28: assert counts and aggregates, never bytes); the exact
#     per-partition file count ceil(rows / max_rec) is.
# Staging table: lineitem partitioned by ship YEAR (7 dirs — a second
# table shape vs q196's ~30 event days), even years + the row-richest
# year fragmented 12-way by l_orderkey (the q196 data-shape guarantee),
# other years pre-compacted. The returned DataFrame re-aggregates the
# COMPACTED table per year against a raw-lineitem oracle — the same
# content-preservation proof as q196, on the byte-planned cycle.
# ---------------------------------------------------------------------------
@register(
    "q197_compact_bytes_optimize",
    f"""
    SELECT CAST(YEAR(l_shipdate) AS INTEGER) AS ship_year,
           COUNT(*) AS n_items,
           COUNT(DISTINCT l_suppkey) AS n_supps,
           {sql_qsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CAST(YEAR(l_shipdate) AS INTEGER)
    """,
    description="Byte-targeted compaction (the production OPTIMIZE "
    "contract): planning selects fragmented partitions by FOOTER/stat "
    "BYTES against a per-file byte target, sizing converts that target "
    "into maxRecordsPerFile via measured bytes-per-row, and the "
    "partition-selective rewrite is asserted exactly like q196 "
    "(pruned read, byte-stable untouched dirs, exact output file "
    "counts, row preservation) — byte sizes themselves are never "
    "asserted (encoding varies; lesson 28). Oracle re-aggregates the "
    "compacted lineitem-by-ship-year table against raw lineitem.",
    tags=("layout", "compaction", "sink", "maintenance"),
)
def q197_compact_bytes_optimize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import re as _re
    import shutil
    import uuid

    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.helpers import qsum
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans.layout import (
        partition_file_stats,
        partition_snapshot,
        plan_compaction,
        rewritten_partitions,
    )

    n_frag = 12  # fragmentation width of the simulated append pattern
    target_files = 3  # bin-pack target per partition, in FILES-of-bytes
    tbl = f"/tmp/q197_table_{uuid.uuid4().hex[:8]}"
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        "l_extendedprice",
        F.year("l_shipdate").cast("int").alias("ship_year"),
    )

    try:
        # Deterministic fragmentation (q196's shape + data guarantee):
        # even years and the row-richest year arrive 12-way scattered,
        # other years pre-compacted. Memoized per corpus
        # (_largest_group) like q196.
        _, big_year = _largest_group(
            spark, sf_dir, "lineitem", li, "ship_year"
        )
        frag = (F.col("ship_year") % 2 == 0) | (
            F.col("ship_year") == big_year
        )
        (
            li.withColumn(
                "__route",
                F.when(frag, F.pmod("l_orderkey", F.lit(n_frag))).otherwise(
                    F.lit(0)
                ),
            )
            .repartition(n_frag, "__route")
            .drop("__route")
            .write.mode("overwrite")
            .partitionBy("ship_year")
            .parquet(tbl)
        )

        # BYTE-planned selection from metadata only: compressed bytes
        # per partition from file stats, rows from footers. The shared
        # arithmetic (plan_compaction, by_bytes=True) selects on
        # nf > ceil(bytes/target_file_bytes) AND writer feasibility
        # nf > ceil(rows/max_rec) — the writer enforces the ROW budget
        # (maxRecordsPerFile from the byte target via measured global
        # bytes-per-row), so a partition whose bytes-per-row diverges
        # far enough from the global average that the row-sized rewrite
        # would not reduce its file count is skipped, not rewritten —
        # production OPTIMIZE semantics (never rewrite without
        # improving), and the exact-file-count assertion below can
        # never collide with nf2 >= nf1. The byte target is clamped to
        # the byte-richest partition (the q196 guarantee in bytes).
        stats = partition_file_stats(tbl, "ship_year=")
        total_rows = sum(r for _, r, _ in stats.values())
        todo, max_rec, _ = plan_compaction(
            stats, target_files, by_bytes=True
        )
        if not todo:
            raise AssertionError(
                f"q197: byte planner selected no partitions from {stats}"
            )
        if len(todo) == len(stats):
            raise AssertionError(
                "q197: byte planner selected EVERY partition — "
                f"pre-compacted years must be skipped ({stats})"
            )

        years_todo = [int(d.split("=", 1)[1]) for d in todo]
        src = spark.read.parquet(tbl).filter(
            F.col("ship_year").isin(years_todo)
        )
        splan = src._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        if not _re.search(r"PartitionFilters: \[[^\]]*ship_year", splan):
            raise AssertionError(
                "q197: compaction read lost year partition pruning:\n"
                + splan
            )
        pinned = src.localCheckpoint(eager=True)  # reads dirs it overwrites
        before = partition_snapshot(tbl, "ship_year=")
        (
            pinned.repartition(len(todo), "ship_year")
            .sortWithinPartitions("ship_year", "l_orderkey")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", max_rec)
            .partitionBy("ship_year")
            .parquet(tbl)
        )
        after = partition_snapshot(tbl, "ship_year=")
        rewritten = rewritten_partitions(before, after)
        if rewritten != set(todo):
            raise AssertionError(
                f"q197: rewrite touched {sorted(rewritten)}, planner "
                f"selected {todo} (selective-compaction contract)"
            )
        stats2 = partition_file_stats(tbl, "ship_year=")
        for d in todo:
            nf2, rows2, _ = stats2[d]
            nf1, rows1, _ = stats[d]
            if rows2 != rows1:
                raise AssertionError(
                    f"q197 {d}: rows {rows1} -> {rows2} (compaction must "
                    "preserve content)"
                )
            expect = -(-rows1 // max_rec)
            if nf2 != expect or nf2 >= nf1:
                raise AssertionError(
                    f"q197 {d}: {nf1} files -> {nf2}, expected exactly "
                    f"{expect} (ceil({rows1}/{max_rec}))"
                )
        if sum(r for _, r, _ in stats2.values()) != total_rows:
            raise AssertionError("q197: total rows drifted across compaction")

        return (
            spark.read.parquet(tbl)
            .groupBy(F.col("ship_year").cast("int").alias("ship_year"))
            .agg(
                F.count("*").alias("n_items"),
                F.countDistinct("l_suppkey").alias("n_supps"),
                qsum(F.col("l_extendedprice")).alias("sum_price"),
            )
            .localCheckpoint(eager=True)  # survives the rmtree below
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
