"""Round-15 re-verification depth: engineered docs for q124's
deterministic hash-threshold sampling, with doc_ids CHOSEN so their
md5('samp:'+id) 4-hex-char fold lands exactly on the per-source rate
boundaries (computed independently here with hashlib — md5 is a public
function, so the expectation is a third, engine-free derivation):

- src1 (rate 500): fold%1000 = 499 KEPT vs 500 DROPPED (strict <);
- src2 (rate 250): 249 kept vs 250 dropped;
- src3 (rate 125): 124 kept vs 125 dropped;
- src0 (rate 1000): everything kept, whatever the fold;
- the kept_checksum is the hashlib-derived fold sum of kept docs only.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd


def _fold(doc_id: int) -> int:
    return int(
        hashlib.md5(f"samp:{doc_id}".encode()).hexdigest()[:4], 16
    )


# (doc_id, source) — ids pre-searched so fold%1000 sits on boundaries:
# 991 -> 499, 68 -> 500, 238 -> 249, 1147 -> 250, 2927 -> 124,
# 1467 -> 125; src0's two ids are arbitrary (rate 1000 keeps all).
ROWS = [
    (991, "src1"),
    (68, "src1"),
    (238, "src2"),
    (1147, "src2"),
    (2927, "src3"),
    (1467, "src3"),
    (7, "src0"),
    (8, "src0"),
]

RATES = {"src0": 1000, "src1": 500, "src2": 250, "src3": 125}


def test_q124_engineered_corpus_threshold_boundaries(oracle_parity, tmp_path):
    # boundary sanity, independent of both engines
    assert _fold(991) % 1000 == 499 and _fold(68) % 1000 == 500
    assert _fold(238) % 1000 == 249 and _fold(1147) % 1000 == 250
    assert _fold(2927) % 1000 == 124 and _fold(1467) % 1000 == 125

    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([d for d, _ in ROWS], dtype="int64"),
            "text": ["alpha beta gamma"] * len(ROWS),
            "lang": "en",
            "source": [s for _, s in ROWS],
            "n_chars": pd.array([16] * len(ROWS), dtype="int64"),
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)

    got = oracle_parity("q124_hash_threshold_sample", sf)

    expected = set()
    for source in RATES:
        members = [d for d, s in ROWS if s == source]
        rate = RATES[source]
        kept = [d for d in members if _fold(d) % 1000 < rate]
        expected.add(
            (
                source,
                rate,
                len(members),
                len(kept),
                sum(_fold(d) for d in kept),
            )
        )
    # the boundary docs resolved as designed: one kept, one dropped
    # per fractional-rate source; src0 kept both
    assert ("src1", 500, 2, 1, _fold(991)) in expected
    assert ("src2", 250, 2, 1, _fold(238)) in expected
    assert ("src3", 125, 2, 1, _fold(2927)) in expected
    got_set = {
        (
            r.source,
            int(r.rate_permille),
            int(r.n_total),
            int(r.n_kept),
            int(r.kept_checksum),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hashlib-derived sample: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )
