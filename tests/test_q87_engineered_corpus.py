"""Round-15 re-verification depth: an engineered corpus for q87's
sequence packing — 16 docs (so the corpus-derived chunk count floors at
8 and every chunk holds exactly two docs, ids c and c+8 packed in
doc_id order) with token counts sitting ON the greedy recurrence's
boundaries:

- exact fit: 256 + 256 = 512 == budget stays in ONE bin (the overflow
  comparison is strictly greater);
- one over: 256 + 257 = 513 opens a second bin;
- an OVERSIZE doc (600 > budget) occupies bin 0 alone and pushes its
  successor out;
- a single doc at exactly the budget, then +1 overflows;
- the same exact-fit reached from the other side (1 + 511);
- two budget-sized docs -> two bins.

Every expected (doc_id, chunk, bin_idx) is hand arithmetic.
"""

from __future__ import annotations

import os

import pandas as pd

# (doc_id, n_tokens, expected_bin)
CASES = [
    (0, 256, 0), (8, 256, 0),    # exact fit 512 -> one bin
    (1, 256, 0), (9, 257, 1),    # 513 -> overflow
    (2, 600, 0), (10, 10, 1),    # oversize first doc
    (3, 100, 0), (11, 400, 0),   # comfortable fit
    (4, 512, 0), (12, 1, 1),     # budget-exact single, +1 overflows
    (5, 1, 0), (13, 511, 0),     # exact fit from the other side
    (6, 2, 0), (14, 2, 0),       # trivial fit
    (7, 512, 0), (15, 512, 1),   # two budget-sized docs
]


def test_q87_engineered_corpus_packing_boundaries(oracle_parity, tmp_path):
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([d for d, _, _ in CASES], dtype="int64"),
            "text": [" ".join(f"w{i}" for i in range(n)) for _, n, _ in CASES],
            "lang": "en",
            "source": "engineered",
            "n_chars": pd.array(
                [len(" ".join(f"w{i}" for i in range(n))) for _, n, _ in CASES],
                dtype="int64",
            ),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)

    got = oracle_parity("q87_sequence_packing", sf)

    expected = {
        (d, d % 8, b, n) for d, n, b in CASES
    }
    got_set = {
        (int(r.doc_id), int(r.chunk), int(r.bin_idx), int(r.n_tokens))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived packing: "
        f"extra={sorted(got_set - expected)}, "
        f"missing={sorted(expected - got_set)}"
    )
