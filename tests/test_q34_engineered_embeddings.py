"""Round-15 re-verification depth: engineered embeddings for q34's
exact cosine top-k — hand-computable cosines against the query vector
(1,0,0,0), covering:

- scale invariance: (2,0,0,0) ties (1,0,0,0) at cosine 1.0 and the
  vec_id tiebreak orders them;
- a tie created by ROUNDING: (3,4,0,0) gives exactly 3/5 while
  (0.6,0.8,0,0) gives 0.6 only after float32 storage + round-6 — the
  total order must rank on the ROUNDED value with the vec_id tiebreak
  (registry rule 2: round before ranking);
- clean irrational (1/sqrt(2)) and rational (1/2, 1/3) values, zero
  (orthogonal), and -1 (antipodal) — the full cosine range in one
  ranking.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VECS = {
    0: [1, 0, 0, 0],       # the query
    1: [1, 0, 0, 0],       # cos 1.0
    2: [1, 1, 0, 0],       # cos 1/sqrt(2) -> 0.707107
    3: [0, 1, 0, 0],       # cos 0.0
    4: [-1, 0, 0, 0],      # cos -1.0
    5: [2, 0, 0, 0],       # cos 1.0 (scale invariance; ties vec 1)
    6: [3, 4, 0, 0],       # cos 3/5 = 0.6 exactly
    7: [1, 2, 2, 0],       # cos 1/3 -> 0.333333
    8: [0, 0, 1, 0],       # cos 0.0
    9: [1, 1, 1, 1],       # cos 0.5
    10: [0.6, 0.8, 0, 0],  # cos -> 0.600000 after round-6 (ties vec 6)
}


def test_q34_engineered_embeddings_exact_topk(oracle_parity, tmp_path):
    pdf = pd.DataFrame(
        {
            "vec_id": pd.array(list(VECS.keys()), dtype="int64"),
            "embedding": [
                np.asarray(v, dtype=np.float32) for v in VECS.values()
            ],
            "label": pd.array([0] * len(VECS), dtype="int32"),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "embeddings.parquet"), index=False)

    got = oracle_parity("q34_embedding_topk", sf)

    # Rank order: rounded cosine desc, vec_id asc — both 1.0s first,
    # then 0.707107, the two 0.600000s (6 before 10), 0.5, 0.333333,
    # the two zeros, -1.0.
    expected_order = [1, 5, 2, 6, 10, 9, 7, 3, 8, 4]
    assert [int(r.vec_id) for r in got.itertuples()] == expected_order, (
        got[["vec_id", "cosine_sim"]].to_dict("records")
    )
    by_id = {int(r.vec_id): float(r.cosine_sim) for r in got.itertuples()}
    assert by_id[1] == 1.0 and by_id[5] == 1.0
    assert by_id[2] == 0.707107
    assert by_id[6] == 0.6 and by_id[10] == 0.6  # the rounding tie
    assert by_id[9] == 0.5
    assert by_id[7] == 0.333333
    assert by_id[3] == 0.0 and by_id[8] == 0.0
    assert by_id[4] == -1.0
