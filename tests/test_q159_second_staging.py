"""Round-15 re-verification depth: the MAX-policy twin of
test_q154_second_staging.py — an engineered staging for q159's
multipleWatermarkPolicy=max union oracle where every class exists by
construction:

- the FAST branch drives every global watermark (fast runmax - 30min
  beats slow runmax - 120min at all four batches);
- the MAX-SACRIFICED classes: a slow-branch row AND a fast-branch row
  that the MIN policy's lagging watermark would have kept are dropped
  (wend <= W_max while > W_min at the same batch);
- a late-kept row lands in a FRESH window after that window's nominal
  eviction batch (never-populated state => still exactly one append
  row), while multi-row windows only accumulate rows in batches at or
  before their eviction batch — no window is ever split across two
  append rows;
- all comparisons carry >= 30 s margins (carriers at :03/:05/:07/:09
  offsets), so no boundary tie is relied on (lesson 7).

Watermark algebra (batch = event_id % 4, branch = (event_id div 4) % 2,
delays 30 min fast / 120 min slow, W_b = MAX over branches of
runmax - delay, late filter for batch b uses W_{b-2}):
  runmax fast:  04:00:03  06:00:05  08:00:07  10:00:09
  runmax slow:  02:55     05:00     07:00     09:00
  W (max):      03:30:03  05:30:05  07:30:07  09:30:09
Window eviction batch: w00-w02 end b0, w03-w04 end b1, w05-w06 end b2,
w07-w08 end b3, w09+ held in state.
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-01 "


def test_q159_engineered_staging_max_policy_classes(oracle_parity, tmp_path):
    # (event_id, ts): id % 4 = arrival batch, (id div 4) % 2 = branch
    # (even id div 4 = fast / 30 min, odd = slow / 120 min).
    rows = [
        # batch 0
        (0, "01:05:00"),   # fast, w01
        (8, "04:00:03"),   # fast carrier, w04 (joined by a b1 row)
        (4, "01:15:00"),   # slow, w01
        (12, "02:55:00"),  # slow carrier, w02
        # batch 1
        (1, "04:10:00"),   # fast, w04 pre-eviction accumulation -> n=2
        (9, "06:00:05"),   # fast carrier, w06
        (5, "05:00:00"),   # slow carrier, w05
        # batch 2 (filtered vs W0 = 03:30:03; MIN's W0 would be 00:55)
        (2, "00:25:00"),   # fast, wend 01:00 <= W0 -> DROPPED
        (6, "02:10:00"),   # slow, wend 03:00 <= W0 but > MIN's 00:55
        #                    -> the MAX-SACRIFICED slow class
        (10, "03:40:00"),  # fast, wend 04:00 > W0 -> KEPT into a FRESH
        #                    window past its eviction batch (one row)
        (18, "08:00:07"),  # fast carrier, w08
        (14, "07:00:00"),  # slow carrier, w07
        # batch 3 (filtered vs W1 = 05:30:05; MIN's W1 would be 03:00)
        (3, "04:50:00"),   # fast, wend 05:00 <= W1 but > MIN's 03:00
        #                    -> the MAX-SACRIFICED fast class
        (7, "04:20:00"),   # slow, wend 05:00 <= W1 -> DROPPED
        (11, "08:40:00"),  # fast, w08 joins its carrier -> n=2
        (15, "07:40:00"),  # slow, w07 joins its carrier -> n=2
        (19, "10:00:09"),  # fast carrier, w10 held (wend > final W)
        (23, "09:00:00"),  # slow carrier, w09 held; final W = 09:30:09
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([i for i, _ in rows], dtype="int64"),
            "ts": pd.to_datetime(
                [H + t for _, t in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array(range(len(rows)), dtype="int64"),
            "event_type": "click",
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q159_streaming_union_watermark_max", sf)

    def wms(hour: int) -> int:
        return int(
            pd.Timestamp(f"{H}{hour:02d}:00:00").value // 1_000_000
        )

    expected = {
        wms(1): 2,
        wms(2): 1,
        wms(3): 1,
        wms(4): 2,
        wms(5): 1,
        wms(6): 1,
        wms(7): 2,
        wms(8): 2,
    }
    got_map = {
        int(r.window_start_ms): int(r.n_events) for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered staging diverged from the hand-derived MAX-policy "
        f"algebra: got {got_map}, expected {expected}"
    )
