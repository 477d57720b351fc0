"""Round-15 re-verification depth: an engineered corpus for q105's
word-4-gram benchmark decontamination, one class per train doc:

- a single benchmark 4-gram embedded mid-document, spelled UPPERCASE
  (case folding pinned);
- a 5-word benchmark span contributing exactly TWO distinct 4-grams;
- a clean doc sharing no n-grams;
- a doc shorter than the n-gram size (no n-grams at all — the len < N
  edge);
- the benchmark WORDS in reversed order (n-grams are order-sensitive,
  no hit);
- the same benchmark 4-gram appearing TWICE in one doc (COUNT(DISTINCT)
  credits it once).

The benchmark slice is doc_id % 19 = 0, so doc 0 is the only benchmark
document and every expected count is hand arithmetic per source.
"""

from __future__ import annotations

import os

import pandas as pd


def test_q105_engineered_corpus_decontamination_classes(oracle_parity, tmp_path):
    rows = [
        # (doc_id, source, text)
        (0, "bench", "b1 b2 b3 b4 b5 b6"),      # 3 benchmark 4-grams
        (1, "src_a", "t1 t2 B2 B3 B4 B5 t3 t4"),  # 1 hit, uppercase
        (2, "src_a", "u1 b1 b2 b3 b4 b5 u2"),   # 2 distinct hits
        (3, "src_a", "c1 c2 c3 c4 c5"),         # clean
        (4, "src_b", "s1 s2 s3"),               # shorter than N
        (5, "src_b", "b4 b3 b2 b1 x1"),         # reversed: no hit
        (6, "src_b", "b2 b3 b4 b5 z1 b2 b3 b4 b5"),  # same hit twice
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([i for i, _, _ in rows], dtype="int64"),
            "text": [t for _, _, t in rows],
            "lang": "en",
            "source": [s for _, s, _ in rows],
            "n_chars": pd.array(
                [len(t) for _, _, t in rows], dtype="int64"
            ),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)

    got = oracle_parity("q105_ngram_decontamination", sf)

    expected = {
        # (source, n_train_docs, n_contaminated, n_hit_ngrams)
        ("src_a", 3, 2, 3),  # doc1: 1 hit; doc2: 2 hits; doc3 clean
        ("src_b", 3, 1, 1),  # doc6's duplicated hit counts ONCE
    }
    got_set = {
        (
            r.source,
            int(r.n_train_docs),
            int(r.n_contaminated),
            int(r.n_hit_ngrams),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived contamination "
        f"counts: got {sorted(got_set)}, expected {sorted(expected)}"
    )
