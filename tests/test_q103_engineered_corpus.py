"""Round-15 re-verification depth: engineered docs for q103's
repetition quality gates, one per decision class with the boundary
cases sitting EXACTLY on the integer cross-multiplications:

- top-word share exactly 0.3 (3 of 10 -> 30 <= 30 passes: the gate is
  inclusive);
- top-word share 0.4 with perfectly distinct bigrams (fails ONLY the
  top-word gate);
- duplicate-bigram mass exactly 0.2 (2 dups of 10 -> 10 <= 10 passes);
- a repeated two-word phrase pushing dup mass to 5/19 while the top
  word stays at 4/20 (fails ONLY the bigram gate);
- a single-word doc (top share 1, zero bigrams -> the 0 <= 0 edge).
"""

from __future__ import annotations

import os

import pandas as pd

DOCS = [
    # (text, n_words, top_word_n, distinct_bigrams, total_bigrams,
    #  pass_top_word, pass_dup_bigrams)
    ("t a t b t c d e f g", 10, 3, 9, 9, True, True),
    ("m a m b m c m d e f", 10, 4, 9, 9, False, True),
    ("a b a b a c d e f g h", 11, 3, 8, 10, True, True),
    (
        "p q p q p q p q r s t u v w x y z aa bb cc",
        20, 4, 14, 19, True, False,
    ),
    ("solo", 1, 1, 0, 0, False, True),
]


def test_q103_engineered_corpus_gate_boundaries(oracle_parity, tmp_path):
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array(range(len(DOCS)), dtype="int64"),
            "text": [t for t, *_ in DOCS],
            "lang": "en",
            "source": "engineered",
            "n_chars": pd.array(
                [len(t) for t, *_ in DOCS], dtype="int64"
            ),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)

    got = oracle_parity("q103_repetition_filters", sf)

    expected = {
        (i, nw, top, db, tb, pt, pb)
        for i, (_, nw, top, db, tb, pt, pb) in enumerate(DOCS)
    }
    got_set = {
        (
            int(r.doc_id),
            int(r.n_words),
            int(r.top_word_n),
            int(r.distinct_bigrams),
            int(r.total_bigrams),
            bool(r.pass_top_word),
            bool(r.pass_dup_bigrams),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived gate "
        f"decisions: extra={sorted(got_set - expected)}, "
        f"missing={sorted(expected - got_set)}"
    )
