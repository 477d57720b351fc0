"""Round-15 re-verification depth for the text-analysis family: two
engineered corpora with exactly hand-derivable outputs.

q158 heavy hitters (threshold count*256 > total): a 2560-token corpus
with a clear hitter (40), a just-over hitter (11 > 2560/256), a word at
EXACTLY the boundary (10*256 == 2560, excluded by the strict >), and
315 distinct words overall — more than the Misra-Gries k=255 counters,
so the per-partition sketch actually exercises its decrement path and
the pigeonhole survival guarantee, instead of degenerating into an
exact count. Case folding is pinned by spelling part of the hitter in
uppercase.

q109 BPE merge step: adjacent char-pair counts weighted by word
frequency over the DISTINCT vocabulary — exact arithmetic ("abab" freq
3 contributes ab:6 ba:3) plus a three-way count tie resolved by the
pair-ascending total order.
"""

from __future__ import annotations

import os

import pandas as pd


def _write_docs(tmp_path, texts: list[str]) -> str:
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(texts)), dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "engineered",
            "n_chars": pd.array([len(t) for t in texts], dtype="int64"),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)
    return sf


def test_q158_engineered_corpus_heavy_hitter_boundaries(oracle_parity, tmp_path):
    # 2560 tokens total: hot1 x40 (5 uppercase), hot2 x11, edge x10
    # (exactly 10*256 == 2560 -> excluded), cold x9, fill0..fill309 x8
    # each (2480), lastfill x10. Distinct words: 315 > the 255 counters.
    tokens = (
        ["hot1"] * 35
        + ["HOT1"] * 5
        + ["hot2"] * 11
        + ["edge"] * 10
        + ["cold"] * 9
        + [f"fill{i}" for i in range(310) for _ in range(8)]
        + ["lastfill"] * 10
    )
    assert len(tokens) == 2560
    # spread across 10 docs so the token stream is not one giant string
    docs = [
        " ".join(tokens[i * 256 : (i + 1) * 256]) for i in range(10)
    ]
    sf = _write_docs(tmp_path, docs)

    got = oracle_parity("q158_heavy_hitters", sf)

    expected = {
        # floor(1000*40/2560 + 0.5) = 16; floor(1000*11/2560 + 0.5) = 4
        ("hot1", 40, 16),
        ("hot2", 11, 4),
    }
    got_set = {
        (r.word, int(r.n_occurrences), int(r.share_permille))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived hitter set: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )


def test_q109_engineered_corpus_bpe_pair_arithmetic(oracle_parity, tmp_path):
    # freqs: abab x3, abc x2, xy x2, xz x2, q x1 (length 1 -> no pairs)
    sf = _write_docs(
        tmp_path, ["abab abab abc xy xz q", "abab abc xy xz"]
    )

    got = oracle_parity("q109_bpe_merge_step", sf)

    # ab: 2*3 (abab) + 1*2 (abc) = 8; ba: 1*3; bc/xy/xz: 2 each — the
    # three-way tie orders pair-ascending.
    expected = [("ab", 8), ("ba", 3), ("bc", 2), ("xy", 2), ("xz", 2)]
    got_rows = [
        (r.pair, int(r.n_occurrences)) for r in got.itertuples()
    ]
    assert got_rows == expected, (
        "engineered corpus diverged from the hand-derived pair counts "
        f"or tie order: got {got_rows}, expected {expected}"
    )
