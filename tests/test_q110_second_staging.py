"""Round-15 re-verification depth: an engineered staging for q110's
sliding-window oracle — window(ts, '2 hours', '1 hour') assignment
pinned on the shapes generated data rarely isolates:

- an event exactly ON an hour boundary (12:00:00.000000) belongs to
  the [11:00,13:00) and [12:00,14:00) windows — the half-open-interval
  boundary class;
- an event at HH:59:59.999999 stays in its own hour's pair (no
  rounding up into the next slide);
- quantization classes: a value whose cent rounding rides the 0.5
  boundary (0.005 -> 1 cent) and a NEGATIVE value (-0.125 -> -12
  cents; FLOOR(x+0.5) is the lesson-11-portable form on negatives);
- overlap arithmetic: every event counted in exactly two windows, so
  adjacent windows share rows and the per-window sums differ by the
  non-shared rows only.
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-06 "


def test_q110_engineered_staging_sliding_window_classes(oracle_parity, tmp_path):
    rows = [
        # (ts, value)
        ("12:00:00", 1.23),          # exact hour boundary
        ("12:30:00", 0.005),         # cent-rounding boundary -> 0.01
        ("13:15:00", -0.125),        # negative quantization -> -0.12
        ("14:59:59.999999", 2.0),    # last microsecond of its hour
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array(range(len(rows)), dtype="int64"),
            "ts": pd.to_datetime(
                [H + t for t, _ in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array([1] * len(rows), dtype="int64"),
            "event_type": "click",
            "value": [v for _, v in rows],
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q110_streaming_sliding_rate", sf)

    expected = {
        # (window_start hour, n_events, sum_value)
        (11, 2, 1.24),   # 12:00 + 12:30
        (12, 3, 1.12),   # 12:00 + 12:30 + 13:15
        (13, 2, 1.88),   # 13:15 + 14:59:59.999999
        (14, 1, 2.00),   # 14:59:59.999999 only
    }
    got_set = {
        (
            pd.Timestamp(r.window_start).hour,
            int(r.n_events),
            float(r.sum_value),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered staging diverged from the hand-derived sliding-"
        f"window algebra: got {sorted(got_set)}, expected "
        f"{sorted(expected)}"
    )
