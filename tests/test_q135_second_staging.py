"""Round-15 re-verification depth: an engineered staging for q135's
dropDuplicatesWithinWatermark oracle — the bounded-state dedup state
machine with every per-key class owned by a known key (delay D=90min,
batch = event_id % 4, W_b = runmax - D, late filter and eviction both
use the LAGGED watermark W_{b-2}):

- dedup hit: key in batches 0+1, state alive -> one emission (u1);
- EXPIRY RE-EMIT: state seeded at 06:50 expires (06:50+D < W0) before
  a batch-2 re-occurrence -> two emissions (u2);
- alive dedup at batch 2: state seeded late enough to survive W0
  eviction -> the batch-2 duplicate is suppressed (u3);
- late drop: a batch-2-only key below W0 never emits at all and is
  absent from the per-type key count (u4);
- expiry re-emit across the longer gap: batch 0 state dead by batch 3,
  the batch-3 occurrence re-emits (u5);
- batch-1-seeded state alive at batch 2 (u6) and batch-2-seeded state
  alive at batch 3 (u7) -> both dedup their later duplicate;
- per-batch runmax carriers (u90-u93) at :03/:05/:07/:09 offsets; all
  expiry/filter comparisons carry >= 5 min margins, no ties.

Hand-derived per type: 5 emitting keys, 6 emissions, 1 re-emitted —
for BOTH event types independently (the group-by dimension).
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-04 "


def test_q135_engineered_staging_dedup_state_machine(oracle_parity, tmp_path):
    # (batch, user_id, event_type, ts)
    rows = [
        # batch 0
        (0, 1, "view", "09:00:00"),    # u1 seed (alive through b1)
        (0, 2, "view", "06:50:00"),    # u2 seed; expires before b2
        (0, 3, "view", "09:30:00"),    # u3 seed; alive at b2
        (0, 5, "click", "06:55:00"),   # u5 seed; dead by b3
        (0, 90, "view", "10:00:03"),   # carrier: W0 = 08:30:03
        # batch 1
        (1, 1, "view", "09:10:00"),    # u1 duplicate -> suppressed
        (1, 6, "click", "10:00:00"),   # u6 first seen at b1
        (1, 91, "view", "12:00:05"),   # carrier: W1 = 10:30:05
        # batch 2 (late filter vs W0 = 08:30:03)
        (2, 2, "view", "09:00:00"),    # u2 re-occurrence -> RE-EMIT
        (2, 3, "view", "09:40:00"),    # u3 duplicate -> suppressed
        (2, 4, "view", "08:00:00"),    # u4 below W0 -> DROPPED, 0 emits
        (2, 6, "click", "10:05:00"),   # u6 duplicate -> suppressed
        (2, 7, "click", "11:00:00"),   # u7 first seen at b2
        (2, 92, "click", "14:00:07"),  # carrier: W2 = 12:30:07
        # batch 3 (late filter vs W1 = 10:30:05)
        (3, 5, "click", "11:00:00"),   # u5 re-occurrence -> RE-EMIT
        (3, 7, "click", "11:10:00"),   # u7 duplicate (state alive vs
        #                                W1) -> suppressed
        (3, 93, "click", "16:00:09"),  # carrier: W3 = 14:30:09
    ]
    # event_id % 4 must equal the target batch: id = 4*i + batch.
    event_ids = [4 * i + b for i, (b, _, _, _) in enumerate(rows)]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array(event_ids, dtype="int64"),
            "ts": pd.to_datetime([H + t for _, _, _, t in rows]).astype(
                "datetime64[us]"
            ),
            "user_id": pd.array([u for _, u, _, _ in rows], dtype="int64"),
            "event_type": [e for _, _, e, _ in rows],
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q135_streaming_dedup_within_watermark", sf)

    expected = {
        # (event_type, n_keys, n_emissions, n_reemitted): u4 never
        # emits, so 'view' counts 5 keys (u1,u2,u3,u90,u91), not 6.
        ("view", 5, 6, 1),
        ("click", 5, 6, 1),
    }
    got_set = {
        (r.event_type, int(r.n_keys), int(r.n_emissions), int(r.n_reemitted))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered staging diverged from the hand-derived dedup state "
        f"machine: got {sorted(got_set)}, expected {sorted(expected)}"
    )
