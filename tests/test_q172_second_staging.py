"""Round-15 re-verification depth: an engineered staging for q172's
streaming session_window oracle — the session-merge algebra on a table
where every class exists by construction:

- a three-event session that MERGES ACROSS BATCHES and is emitted in
  the same batch the merge lands (u1);
- a session whose would-be extension arrives too late and is DROPPED
  by the session-level late filter t+gap <= W_{b-2} (u2);
- a late-but-kept row that EXTENDS live (un-emitted) session state
  across batches (u3);
- a singleton emitted at the first possible stage (u4);
- the append-mode subtlety: after a session is emitted and evicted, a
  late-kept row (t+gap > W) can still OVERLAP its interval and must
  form a NEW session — one user, two overlapping output rows (u5);
- watermark carriers (u99) whose own sessions cover emit-at-batch-2,
  emit-at-batch-3, final-flush, and held-past-final-watermark.

No comparison is an exact tie (carriers at :11/:13/:17/:19 offsets,
nearest margin 2 s — deliberate, not measure-zero). Algebra (batch =
event_id % 4, gap 30 min, delay 90 min, W_b = runmax - delay, late
filter for batch b uses W_{b-2}, emission at batch b uses W_{b-1},
final flush uses W_3):
  runmax: 06:00:11  08:00:13  10:00:17  12:00:19
  W:      04:30:11  06:30:13  08:30:17  10:30:19
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-02 "


def test_q172_engineered_staging_session_classes(oracle_parity, tmp_path):
    # (event_id, user_id, ts): event_id % 4 = arrival batch.
    rows = [
        # batch 0
        (0, 1, "01:00:00"),    # u1 chain start
        (4, 1, "01:20:00"),    # u1 chain (within gap)
        (8, 2, "05:30:00"),    # u2 session [05:30, 06:00]
        (12, 3, "05:50:00"),   # u3 live state [05:50, 06:20]
        (16, 4, "03:00:00"),   # u4 singleton, emitted at batch 1
        (20, 99, "06:00:11"),  # carrier; session emitted at batch 2
        # batch 1
        (1, 1, "01:45:00"),    # merges u1 -> [01:00, 02:15], emitted
        #                        the same batch (e <= W0)
        (5, 5, "05:50:00"),    # u5 session [05:50, 06:20], emitted b2
        (9, 99, "08:00:13"),   # carrier; emitted at batch 3
        # batch 2 (late filter vs W0 = 04:30:11)
        (2, 2, "02:30:00"),    # t+gap 03:00 <= W0 -> DROPPED
        (6, 3, "06:10:00"),    # t+gap 06:40 > W0 -> KEPT, extends u3's
        #                        live state -> [05:50, 06:40] cnt 2
        (10, 99, "10:00:17"),  # carrier; emitted in the final flush
        # batch 3 (late filter vs W1 = 06:30:13)
        (3, 5, "06:05:00"),    # t+gap 06:35 > W1 -> KEPT; u5's earlier
        #                        session [05:50,06:20] was ALREADY
        #                        emitted+evicted, so this forms a NEW
        #                        overlapping session [06:05, 06:35]
        (7, 99, "12:00:19"),   # carrier; held past the final watermark
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([i for i, _, _ in rows], dtype="int64"),
            "ts": pd.to_datetime(
                [H + t for _, _, t in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array([u for _, u, _ in rows], dtype="int64"),
            "event_type": "click",
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q172_streaming_session_window", sf)

    def ms(t: str) -> int:
        return int(pd.Timestamp(H + t).value // 1_000_000)

    expected = {
        (1, ms("01:00:00"), ms("02:15:00"), 3),
        (2, ms("05:30:00"), ms("06:00:00"), 1),
        (3, ms("05:50:00"), ms("06:40:00"), 2),
        (4, ms("03:00:00"), ms("03:30:00"), 1),
        (5, ms("05:50:00"), ms("06:20:00"), 1),
        (5, ms("06:05:00"), ms("06:35:00"), 1),  # overlapping second row
        (99, ms("06:00:11"), ms("06:30:11"), 1),
        (99, ms("08:00:13"), ms("08:30:13"), 1),
        (99, ms("10:00:17"), ms("10:30:17"), 1),
        # 12:00:19 carrier held in state (end > final watermark)
    }
    got_set = {
        (
            int(r.user_id),
            int(r.session_start_ms),
            int(r.session_end_ms),
            int(r.n_events),
        )
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered staging diverged from the hand-derived session "
        f"algebra: extra={sorted(got_set - expected)}, "
        f"missing={sorted(expected - got_set)}"
    )
