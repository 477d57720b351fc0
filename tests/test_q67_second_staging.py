"""Round-15 re-verification depth: an engineered staging for q67's
custom stateful sessionizer (applyInPandasWithState) — the
streams-equals-batch oracle pinned on the shapes that distinguish this
implementation from plausible-but-different ones:

- a gap of EXACTLY 1800 s stays one session (the > is strict);
- a gap of 1801 s opens a new one;
- the floor-to-whole-seconds contract: 10:00:00.100 -> 10:30:00.900 is
  a RAW gap of 1800.8 s but a floored gap of exactly 1800 s — one
  session here; an implementation diffing raw (sub-second) timestamps
  would answer two (both the closure's int64//1e9 and the oracle's
  FLOOR(EPOCH()) take the floored view);
- rows stored in REVERSE event-time order inside the batch file: the
  closure must sort by (ts, event_id) before gap detection, or the
  negative diff collapses two sessions into one;
- identical timestamps tie-broken by event_id;
- a multi-session chain mixing within-gap and across-gap steps.
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-07 "


def test_q67_engineered_staging_sessionizer_classes(oracle_parity, tmp_path):
    rows = [
        # (user_id, ts) — file order preserved (coalesced single file)
        # u1: gap exactly 1800 s -> ONE session
        (1, "10:00:00"),
        (1, "10:30:00"),
        # u2: gap 1801 s -> TWO sessions
        (2, "10:00:00"),
        (2, "10:30:01"),
        # u3: raw gap 1800.8 s, floored gap 1800 s -> ONE session
        (3, "10:00:00.100000"),
        (3, "10:30:00.900000"),
        # u5: REVERSE file order, 3600 s apart -> TWO sessions (only if
        # the closure sorts before diffing)
        (5, "11:00:00"),
        (5, "10:00:00"),
        # u4: identical timestamps -> ONE session, event_id tiebreak
        (4, "12:00:00"),
        (4, "12:00:00"),
        # u6: chain 600 s (same) / 3000 s (new) / 2100 s (new)
        (6, "09:00:00"),
        (6, "09:10:00"),
        (6, "10:00:00"),
        (6, "10:35:00"),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array(range(len(rows)), dtype="int64"),
            "ts": pd.to_datetime(
                [H + t for _, t in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array([u for u, _ in rows], dtype="int64"),
            "event_type": "click",
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q67_streaming_sessionize", sf)

    expected = {
        1: (1, 2),
        2: (2, 2),
        3: (1, 2),
        4: (1, 2),
        5: (2, 2),
        6: (3, 4),
    }
    got_map = {
        int(r.user_id): (int(r.n_sessions), int(r.n_events))
        for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered staging diverged from the hand-derived session-gap "
        f"algebra: got {got_map}, expected {expected}"
    )
