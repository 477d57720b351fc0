"""Round-15 re-verification depth: an engineered staging for q133's
stream-stream LEFT OUTER interval join — the null-extension-on-expiry
semantic with every class owned by a known error row:

- a matched error with TWO preceding views (fan-in count);
- a matched error at the inclusive 600 s lower bound;
- a matched error ABOVE the final watermark (inner matches emit as
  soon as both sides arrive — no expiry wait);
- an unmatched error BELOW the final watermark (emits count 0 exactly
  once the watermark passes it);
- an unmatched error ABOVE the final watermark (held in state, never
  emitted);
- the VIEW side binds the min-of-sides watermark this time (q134's
  engineered staging binds the error side — together they pin both
  arms of the least()); a view-only user proves the left join never
  emits a view alone.

fwm = min(13:00:08, 12:00:06) - 2h = 10:00:06; every tms comparison
against it carries a >= 24 min margin — no boundary ties (lesson 7).
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-05 "


def test_q133_engineered_staging_outer_join_classes(oracle_parity, tmp_path):
    rows = [
        # (event_id, event_type, user_id, ts)
        (100, "error", 1, "08:30:00"),  # matched x2, below fwm
        (200, "view", 1, "08:25:00"),
        (201, "view", 1, "08:21:00"),
        (101, "error", 2, "09:00:00"),  # unmatched, below fwm -> emits 0
        (102, "error", 3, "11:30:00"),  # unmatched, above fwm -> HELD
        (103, "error", 4, "09:30:00"),  # matched at the inclusive
        (202, "view", 4, "09:20:30"),   # 600 s lower bound (09:20:00+30s)
        (104, "error", 5, "10:30:00"),  # matched ABOVE fwm -> still
        (203, "view", 5, "10:25:00"),   # emits (inner path, no expiry)
        (105, "error", 9, "13:00:08"),  # error-side max; unmatched+held
        (204, "view", 9, "12:00:06"),   # view-side max BINDS the fwm
        (205, "view", 6, "09:40:00"),   # view-only user: never emits
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

    got = oracle_parity("q133_stream_outer_join", sf)

    expected = {
        (100, 1, 2),  # two preceding views
        (101, 2, 0),  # expired unmatched -> null-extension row
        (103, 4, 1),  # inclusive 600 s bound
        (104, 5, 1),  # matched above the watermark
        # 102 and 105: unmatched above fwm -> held, absent
    }
    got_set = {
        (int(r.event_id), int(r.user_id), int(r.n_preceding_views))
        for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered staging diverged from the hand-derived outer-join "
        f"algebra: got {sorted(got_set)}, expected {sorted(expected)}"
    )
