"""Round-15 re-verification depth: engineered events for q122's SCD-2
interval build — the interval-boundary semantics owned by known users:

- a SAME-TIMESTAMP state transition (the event_id tiebreak orders it;
  the closed interval has zero dwell);
- sub-second timestamps whose dwell is the FLOORED-seconds difference
  (09:00:00.600 -> 09:00:01.400 is 0.8 raw seconds but 1 - 0 = 1
  floored second, matching the oracle's FLOOR(EPOCH()) arithmetic);
- a multi-state chain where the same state opens twice (two closed
  'view' intervals for one user);
- a single-event user (immediately current, no closed interval).
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-09 "


def test_q122_engineered_corpus_interval_boundaries(oracle_parity, tmp_path):
    rows = [
        # (event_id, event_type, user_id, ts)
        (1, "view", 1, "09:00:00"),          # closed by e2, dwell 0
        (2, "click", 1, "09:00:00"),         # same ts -> current
        (3, "view", 2, "09:00:00.600000"),   # floored dwell = 1 s
        (4, "click", 2, "09:00:01.400000"),  # current
        (5, "view", 3, "09:00:00"),          # closed, 3600 s
        (6, "click", 3, "10:00:00"),         # closed, 1800 s
        (7, "view", 3, "10:30:00"),          # closed, 1800 s
        (8, "purchase", 3, "11:00:00"),      # current
        (9, "error", 4, "12:00:00"),         # single event -> current
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([i for i, _, _, _ in rows], dtype="int64"),
            "ts": pd.to_datetime(
                [H + t for _, _, _, t in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array([u for _, _, u, _ in rows], dtype="int64"),
            "event_type": [e for _, e, _, _ in rows],
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q122_scd2_intervals", sf)

    expected = {
        # (event_type, n_current_users, n_closed, total_dwell_s)
        ("view", 0, 4, 0 + 1 + 3600 + 1800),
        ("click", 2, 1, 1800),
        ("purchase", 1, 0, 0),
        ("error", 1, 0, 0),
    }
    got_set = {
        (
            r.event_type,
            int(r.n_current_users),
            int(r.n_closed),
            int(r.total_dwell_s),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered corpus diverged from the hand-derived intervals: "
        f"got {sorted(got_set)}, expected {sorted(expected)}"
    )
