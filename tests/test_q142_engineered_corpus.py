"""Round-15 re-verification depth: engineered events for q142's
forward-fill imputation — every IGNORE NULLS propagation class owned by
a known user:

- rows BEFORE the first reading stay null (n_filled < n_rows);
- a mid-stream reading replaces the carried value from that row on;
- a user with no readings at all (zero fills, COALESCE'd sum);
- same-timestamp reading/observation in BOTH tiebreak directions (the
  event_id order decides whether the equal-time row sees the fill);
- quantization of the carried value on a NEGATIVE reading
  (FLOOR(-12.5 + 0.5) = -12, the lesson-11-portable form) and on the
  0.5 cent-rounding boundary (0.005 -> 1).
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-10 "


def test_q142_engineered_corpus_forward_fill_classes(oracle_parity, tmp_path):
    rows = [
        # (event_id, event_type, user_id, ts, value)
        # u1: nulls before the first purchase
        (1, "view", 1, "09:00:00", 0.0),
        (2, "view", 1, "09:10:00", 0.0),
        (3, "purchase", 1, "09:20:00", 1.00),
        (4, "view", 1, "09:30:00", 0.0),
        (5, "view", 1, "09:40:00", 0.0),
        # u2: reading updated mid-stream
        (10, "purchase", 2, "09:00:00", 0.50),
        (11, "view", 2, "09:10:00", 0.0),
        (12, "purchase", 2, "09:20:00", 2.00),
        (13, "view", 2, "09:30:00", 0.0),
        # u3: no readings at all
        (20, "view", 3, "09:00:00", 0.0),
        (21, "view", 3, "09:10:00", 0.0),
        (22, "view", 3, "09:20:00", 0.0),
        # u4: same ts, purchase id sorts FIRST -> the view sees the fill
        (40, "purchase", 4, "10:00:00", 1.00),
        (41, "view", 4, "10:00:00", 0.0),
        # u5: same ts, view id sorts FIRST -> the view stays null
        (50, "view", 5, "10:00:00", 0.0),
        (51, "purchase", 5, "10:00:00", 1.00),
        # u6: negative reading, lesson-11 portable quantization
        (60, "purchase", 6, "10:00:00", -0.125),
        (61, "view", 6, "10:10:00", 0.0),
        # u7: cent-rounding boundary 0.005 -> 1
        (70, "purchase", 7, "10:00:00", 0.005),
        (71, "view", 7, "10:10:00", 0.0),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([i for i, _, _, _, _ in rows], dtype="int64"),
            "ts": pd.to_datetime([H + t for _, _, _, t, _ in rows]).astype(
                "datetime64[us]"
            ),
            "user_id": pd.array(
                [u for _, _, u, _, _ in rows], dtype="int64"
            ),
            "event_type": [e for _, e, _, _, _ in rows],
            "value": [v for _, _, _, _, v in rows],
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q142_forward_fill", sf)

    expected = {
        # (user_id, n_rows, n_filled, filled_sum_q)
        (1, 5, 3, 300),
        (2, 4, 4, 500),    # 50 + 50 + 200 + 200
        (3, 3, 0, 0),
        (4, 2, 2, 200),
        (5, 2, 1, 100),
        (6, 2, 2, -24),    # floor(-12.5 + 0.5) = -12, carried twice
        (7, 2, 2, 2),      # 0.005 -> 1 cent, carried twice
    }
    got_set = {
        (int(r.user_id), int(r.n_rows), int(r.n_filled), int(r.filled_sum_q))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived fill audit: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )
