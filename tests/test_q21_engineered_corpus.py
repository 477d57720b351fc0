"""Round-15 re-verification depth: engineered events for q21's as-of
(backward) join — the boundary semantics generated data rarely
isolates:

- a click at EXACTLY the purchase timestamp counts as at-or-before only
  when its event_id sorts first (both tiebreak directions exercised);
- a purchase with no preceding click carries NULL (and a click strictly
  after it does not rescue it);
- the most recent of several clicks wins, per user, with other users'
  clicks and non-click/purchase events invisible to the window.
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-08 "


def test_q21_engineered_corpus_asof_boundaries(oracle_parity, tmp_path):
    rows = [
        # (event_id, event_type, user_id, ts)
        (1, "click", 1, "09:00:00"),
        (2, "click", 1, "09:30:00"),
        (3, "purchase", 1, "10:00:00"),   # asof = 09:30 (latest wins)
        (4, "click", 1, "10:30:00"),
        (5, "purchase", 1, "11:00:00"),   # asof = 10:30
        (6, "purchase", 2, "09:00:00"),   # no click yet -> NULL
        (7, "click", 2, "09:30:00"),
        (8, "purchase", 2, "09:45:00"),   # asof = 09:30
        (9, "click", 3, "10:00:00"),      # same ts, click id sorts
        (10, "purchase", 3, "10:00:00"),  # FIRST -> asof = 10:00:00
        (11, "purchase", 4, "10:00:00"),  # same ts, purchase id sorts
        (12, "click", 4, "10:00:00"),     # FIRST -> asof = NULL
        (14, "click", 5, "09:00:00"),
        (13, "view", 5, "09:10:00"),      # ignored type in between
        (16, "error", 5, "09:15:00"),     # ignored type
        (15, "purchase", 5, "09:20:00"),  # asof = 09:00
        (17, "click", 6, "09:00:00"),     # click-only user: no output
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([i for i, _, _, _ in rows], dtype="int64"),
            "ts": pd.to_datetime([H + t for _, _, _, t in rows]).astype(
                "datetime64[us]"
            ),
            "user_id": pd.array([u for _, _, u, _ in rows], dtype="int64"),
            "event_type": [e for _, e, _, _ in rows],
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q21_asof_join", sf)

    def ts(t: str):
        return pd.Timestamp(H + t)

    expected = {
        (3, 1, ts("10:00:00"), ts("09:30:00")),
        (5, 1, ts("11:00:00"), ts("10:30:00")),
        (6, 2, ts("09:00:00"), None),
        (8, 2, ts("09:45:00"), ts("09:30:00")),
        (10, 3, ts("10:00:00"), ts("10:00:00")),
        (11, 4, ts("10:00:00"), None),
        (15, 5, ts("09:20:00"), ts("09:00:00")),
    }
    got_set = {
        (
            int(r.purchase_id),
            int(r.user_id),
            pd.Timestamp(r.purchase_ts),
            None if pd.isna(r.asof_click_ts) else pd.Timestamp(r.asof_click_ts),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived as-of "
        f"algebra: extra={got_set - expected}, "
        f"missing={expected - got_set}"
    )
