"""Round-15 re-verification depth: an engineered staging for q154's
multi-watermark (global-MINIMUM policy) union oracle — the lesson-13
algebra on a table where every class is populated by construction:

- the slow branch HOLDS BACK the global watermark (every W_b is the
  slow branch's runmax - 120min, never the fast branch's);
- a fast-branch late row that the fast branch's OWN watermark would
  have dropped survives because the global MIN is the slow branch's
  (the MIN-saved class: wend 04:00 vs fast-only 04:30 / global 02:00);
- rows dropped by the two-batch-lagged filter exist in both branches
  and both filtered batches;
- windows span emitted (wend <= final watermark), held-in-state, and
  multi-batch-accumulating (rows arriving in batches 0 AND 3) shapes;
- every comparison carries a >= 2 s margin (watermark carriers sit at
  :05/:58/:07/:09 offsets) so no measure-zero boundary tie is relied
  on (lesson 7), and no kept row ever arrives at an already-evicted
  window (which would split one window across two append rows).

Watermark algebra (batch = event_id % 4, branch = (event_id div 4) % 2,
delays 30 min / 120 min, W_b = min over branches of runmax - delay,
late filter for batch b uses W_{b-2}):
  runmax fast:  05:00  08:00  09:00  10:00
  runmax slow:  04:00:05  05:59:58  07:00:07  09:30:09
  W:            02:00:05  03:59:58  05:00:07  07:30:09
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-01 "  # all timestamps on one day


def test_q154_engineered_staging_min_policy_classes(oracle_parity, tmp_path):
    # (event_id, ts): id % 4 = arrival batch, (id div 4) % 2 = branch.
    rows = [
        # batch 0
        (0, "01:10:00"),   # fast, w01 -> emitted
        (8, "05:00:00"),   # fast runmax carrier, w05 (accumulates later)
        (4, "01:20:00"),   # slow, w01 -> emitted
        (12, "04:00:05"),  # slow runmax carrier, w04 -> emitted
        # batch 1
        (1, "02:10:00"),   # fast, w02 -> emitted
        (9, "08:00:00"),   # fast carrier, w08 -> held in state
        (5, "05:59:58"),   # slow carrier, w05 (accumulates later)
        # batch 2 (filtered vs W0 = 02:00:05)
        (2, "00:30:00"),   # fast, wend 01:00 <= W0 -> DROPPED
        (10, "03:10:00"),  # fast, wend 04:00: > W0 but <= fast-only
        #                    04:30 -> the MIN-SAVED class, w03 emitted
        (6, "00:40:00"),   # slow, wend 01:00 <= W0 -> DROPPED
        (18, "09:00:00"),  # fast carrier, w09 held
        (14, "07:00:07"),  # slow carrier, w07 held (wend 08:00 > final)
        # batch 3 (filtered vs W1 = 03:59:58)
        (3, "02:30:00"),   # fast, wend 03:00 -> DROPPED
        (11, "05:10:00"),  # fast, w05 -> joins batch-0 row, n=2
        (7, "02:40:00"),   # slow, wend 03:00 -> DROPPED
        (15, "05:20:00"),  # slow, w05 -> joins batch-1 row, n=2
        (19, "10:00:00"),  # fast carrier, w10 held
        (23, "09:30:09"),  # slow carrier, w09 held; final W = 07:30:09
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

    got = oracle_parity("q154_streaming_union_watermarks", sf)

    def wms(hour: int) -> int:
        return int(
            pd.Timestamp(f"{H}{hour:02d}:00:00").value // 1_000_000
        )

    expected = {
        (wms(1), 0): 1,
        (wms(1), 1): 1,
        (wms(2), 0): 1,
        (wms(3), 0): 1,  # the MIN-saved late row
        (wms(4), 1): 1,
        (wms(5), 0): 2,  # batches 0 + 3 accumulated into ONE append row
        (wms(5), 1): 2,  # batches 1 + 3
    }
    got_map = {
        (int(r.window_start_ms), int(r.branch)): int(r.n_events)
        for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered staging diverged from the hand-derived MIN-policy "
        f"algebra: got {got_map}, expected {expected}"
    )
