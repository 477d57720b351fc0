"""Round-15 re-verification depth for the MinHash-LSH dedup family: an
ENGINEERED CORPUS with set-arithmetically known bigram Jaccards —

- an identical pair (J = 1: every signature position equal, every band
  collides — detection is guaranteed by construction, not md5 luck);
- a TRANSITIVE chain 3~4~5 with J(3,4) = 19/29, J(4,5) = 19/37 and
  J(3,5) = 9/37 < 0.5 — the connected-components cluster {3,4,5} must
  form even though its endpoints are NOT a near-dup pair;
- an exact-boundary pair with J = 12/24 = 0.5 (0.5 is exact in IEEE,
  so the inclusive >= threshold is deterministic, not a float tie);
- a sub-threshold pair (J = 13/29 ~ 0.448) that must be ABSENT no
  matter what the bands do (the exact-Jaccard filter rejects it even
  when it surfaces as an LSH candidate);
- two zero-overlap singleton docs that must pair with nothing.

Word tokens carry the literal seed "s5" — detection of the J=0.5-0.65
pairs depends on which md5 minhashes the tokens draw, so the seed was
chosen (tools-side search over seeds 0..59; 5 is the first where every
engineered pair surfaces through the banded+sig-agreement pipeline) and
is now FIXED: md5 is deterministic, so this test can never flake. The
hand-derived Jaccards below are exact set arithmetic over the bigram
shingle sets, independent of both implementations.
"""

from __future__ import annotations

import os

import pandas as pd

SEED = 5


def _corpus() -> dict[int, str]:
    c = [f"s{SEED}c{i}" for i in range(1, 41)]
    u = [f"s{SEED}u{i}" for i in range(1, 23)]
    x = [f"s{SEED}x{i}" for i in range(1, 21)]
    y = [f"s{SEED}y{i}" for i in range(1, 6)]
    d = [f"s{SEED}d{i}" for i in range(1, 21)]
    e = [f"s{SEED}e{i}" for i in range(1, 21)]
    w = [f"s{SEED}w{i}" for i in range(1, 21)]
    return {
        1: " ".join(w),                    # identical pair, J = 1
        2: " ".join(w),
        3: " ".join(c[0:20]),              # chain: J(3,4) = 19/29
        4: " ".join(c[0:30]),
        5: " ".join(c[10:38]),             # J(4,5) = 19/37; J(3,5) = 9/37
        6: " ".join(d),                    # zero-overlap singletons
        7: " ".join(e),
        8: " ".join(u[0:22]),              # sub-threshold J = 13/29
        9: " ".join(
            u[0:14] + [f"s{SEED}m{i}" for i in range(1, 9)]
        ),
        10: " ".join(x[0:20]),             # exact-boundary J = 12/24
        11: " ".join(x[0:13] + y),
    }


def _write_sf(tmp_path) -> str:
    docs = _corpus()
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
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    return sf


def test_q32_engineered_corpus_known_jaccards(oracle_parity, tmp_path):
    sf = _write_sf(tmp_path)
    got = oracle_parity("q32_minhash_lsh_neardup", sf)

    expected = {
        (1, 2): 1.0,
        (3, 4): 19 / 29,
        (4, 5): 19 / 37,
        (10, 11): 12 / 24,
    }
    got_map = {
        (int(r.doc_a), int(r.doc_b)): float(r.jaccard)
        for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered corpus diverged from the set-arithmetic Jaccards: "
        f"got {got_map}, expected {expected}"
    )


def test_q68_engineered_corpus_transitive_cluster(oracle_parity, tmp_path):
    sf = _write_sf(tmp_path)
    got = oracle_parity("q68_dedup_clusters", sf)

    expected = {
        (1, 1, 2),
        (2, 1, 2),
        (3, 3, 3),   # {3,4,5} via transitivity: 3-5 is NOT a pair
        (4, 3, 3),
        (5, 3, 3),
        (10, 10, 2),
        (11, 10, 2),
    }
    got_set = {
        (int(r.doc_id), int(r.cluster), int(r.n_members))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived components: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )


def test_q112_engineered_corpus_cluster_histogram(oracle_parity, tmp_path):
    sf = _write_sf(tmp_path)
    got = oracle_parity("q112_dup_cluster_histogram", sf)

    expected = {
        # (cluster_size, n_clusters, n_docs): docs 6/7/8/9 are
        # singletons (8-9's J=0.448 pair is sub-threshold), {1,2} and
        # {10,11} are the size-2 clusters, {3,4,5} the transitive 3.
        (1, 4, 4),
        (2, 2, 4),
        (3, 1, 3),
    }
    got_set = {
        (int(r.cluster_size), int(r.n_clusters), int(r.n_docs))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived histogram: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )


def test_q144_engineered_corpus_keep_best(oracle_parity, tmp_path):
    """Keep-best survivor policy on the hand-derived clusters: the
    n_chars argmax per cluster (computed here in plain Python over the
    corpus dict — independent of both engines), with the identical pair
    {1,2} exercising the doc_id tiebreak (equal n_chars)."""
    sf = _write_sf(tmp_path)
    got = oracle_parity("q144_keep_best_dedup", sf)

    docs = _corpus()
    clusters = [[1, 2], [3, 4, 5], [10, 11]]
    expected = set()
    for members in clusters:
        keep = min(members, key=lambda d: (-len(docs[d]), d))
        expected.add(
            (
                min(members),
                keep,
                len(members),
                sum(d for d in members if d != keep),
            )
        )
    # the identical pair must have resolved by the doc_id tiebreak
    assert (1, 1, 2, 2) in expected
    got_set = {
        (
            int(r.cluster),
            int(r.keep_doc_id),
            int(r.n_members),
            int(r.removed_id_sum),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived survivors: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )
