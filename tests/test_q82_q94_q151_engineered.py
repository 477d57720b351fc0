"""Engineered-corpus re-verification for the three r16-edited MinHash
consumers (q82 triangle count, q94 incremental dedup, q151 split-leakage
audit).

These queries were rewired onto the shared memo builds this round; the
driver window re-verifies them against the synthetic corpus, and these
tests add INDEPENDENT evidence on corpora whose expected outputs are
known by construction (a planted triangle, a planted exact/near/unique
delta) — so a regression in the shared build surfaces as a wrong VALUE
here, not just as an oracle disagreement.
"""

from __future__ import annotations

import os

import pandas as pd

SEED = "t16"


def _write_docs(sf: str, docs: dict[int, str]) -> None:
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
    pdf.to_parquet(os.path.join(sf, "documents.parquet"), index=False)


def _triangle_corpus() -> dict[int, str]:
    """Docs 1,2,3 identical (one triangle: edges 12,13,23), docs 4,5
    identical (an edge, no triangle), docs 6,7 zero-overlap singletons,
    docs 8,9 sub-threshold (J = 13/29 < 0.5 — must NOT become an edge).
    Expected pair graph: exactly 4 edges, exactly 1 triangle."""
    w = [f"s{SEED}w{i}" for i in range(1, 21)]
    p = [f"s{SEED}p{i}" for i in range(1, 21)]
    d = [f"s{SEED}d{i}" for i in range(1, 21)]
    e = [f"s{SEED}e{i}" for i in range(1, 21)]
    u = [f"s{SEED}u{i}" for i in range(1, 23)]
    m = [f"s{SEED}m{i}" for i in range(1, 9)]
    return {
        1: " ".join(w),
        2: " ".join(w),
        3: " ".join(w),
        4: " ".join(p),
        5: " ".join(p),
        6: " ".join(d),
        7: " ".join(e),
        8: " ".join(u[0:22]),
        9: " ".join(u[0:14] + m),
    }


def test_q82_planted_triangle(oracle_parity, tmp_path):
    sf = str(tmp_path)
    _write_docs(sf, _triangle_corpus())
    got = oracle_parity("q82_triangle_count", sf)
    assert int(got["n_triangles"].iloc[0]) == 1
    assert int(got["n_edges"].iloc[0]) == 4


def test_q151_leak_accounting_on_planted_graph(oracle_parity, tmp_path):
    """The 4 planted edges must be fully accounted for across the
    split-pair groups, leak flags must equal the split inequality, and
    the whole result must match the DuckDB oracle on the same corpus."""
    sf = str(tmp_path)
    _write_docs(sf, _triangle_corpus())
    got = oracle_parity("q151_split_leakage_audit", sf)
    assert int(got["n_pairs"].sum()) == 4
    for _, row in got.iterrows():
        assert int(row["is_leak"]) == int(row["split_a"] != row["split_b"])


def _delta_corpus() -> dict[int, str]:
    """Index docs 1..9; new docs (doc_id % 10 == 0): 10 an exact dup of
    doc 1 (case-folded md5 equal), 20 a near dup of doc 3 (J = 18/20),
    30 unique. Expected accepted set: exactly {30}."""
    a = [f"s{SEED}a{i}" for i in range(1, 21)]
    c = [f"s{SEED}c{i}" for i in range(1, 21)]
    fill = {
        i: " ".join(f"s{SEED}f{i}x{j}" for j in range(1, 21))
        for i in (2, 4, 5, 6, 7, 8, 9)
    }
    return {
        1: " ".join(a),
        3: " ".join(c),
        **fill,
        10: " ".join(a).upper(),
        20: " ".join(c[0:19] + [f"s{SEED}z1"]),
        30: " ".join(f"s{SEED}q{j}" for j in range(1, 21)),
    }


def test_q94_planted_delta(oracle_parity, tmp_path):
    sf = str(tmp_path)
    _write_docs(sf, _delta_corpus())
    got = oracle_parity("q94_incremental_dedup", sf)
    assert sorted(got["doc_id"].astype(int)) == [30], (
        "exact-dup 10 and near-dup 20 must be rejected, unique 30 kept: "
        f"{sorted(got['doc_id'].astype(int))}"
    )
