"""Round-15 re-verification depth: an engineered staging for q134's
chained-stateful oracle (stream-stream interval join feeding a windowed
count) — every join-bound and watermark class owned by a known row:

- a view EXACTLY 600 s before its error (the inclusive lower bound
  vs >= es - 600 keeps it) vs one at 601 s (dropped by the
  second-precision clause even though the coarser 11-minute interval
  clause alone would keep it — proving BOTH conjuncts apply);
- a view exactly AT the error time (the strict upper bound vs < es
  drops it);
- multiple qualifying views per error (n_pairs > 1 in one window);
- a same-window view from a DIFFERENT user (equality key, no pair);
- an error with no preceding view (inner join emits nothing);
- the min-of-sides watermark: the VIEW side's max is higher, so the
  ERROR side binds the final watermark (13:30 - 2h = 11:30) and the
  windows ending after it are held in state, never emitted.

All timestamps are second-aligned and no window end equals the final
watermark (30-minute margins) — no boundary tie is relied on.
"""

from __future__ import annotations

import os

import pandas as pd

H = "2024-03-03 "


def test_q134_engineered_staging_join_and_watermark_classes(oracle_parity, tmp_path):
    rows = [
        # (event_type, user_id, ts)
        # w09 pair: error 09:20 with a view 5 min before
        ("error", 5, "09:20:00"),
        ("view", 5, "09:15:00"),
        # w10 error at 10:00 with the full bound matrix
        ("error", 1, "10:00:00"),
        ("view", 1, "09:50:00"),   # exactly 600 s before -> PAIR
        ("view", 1, "09:49:59"),   # 601 s -> NO pair (seconds clause
        #                            binds; 11-min clause alone passes)
        ("view", 1, "10:00:00"),   # vs < es is strict -> NO pair
        ("view", 1, "09:55:00"),   # second qualifying view -> PAIR
        ("view", 9, "09:55:00"),   # right time, wrong user -> NO pair
        # held windows: ends after the final watermark 11:30
        ("error", 2, "11:30:00"),
        ("view", 2, "11:25:00"),   # pair, but w11 (wend 12:00) held
        ("error", 3, "13:30:00"),  # error-side max -> fwm 11:30
        ("view", 3, "13:25:00"),   # pair, w13 held
        # unmatched error: inner join emits nothing
        ("error", 4, "10:40:00"),
        # view-side max ABOVE the error side's: proves min-of-sides
        ("view", 9, "13:40:00"),
        # non-error/view rows are filtered out entirely
        ("click", 1, "09:55:00"),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array(range(len(rows)), dtype="int64"),
            "ts": pd.to_datetime([H + t for _, _, t in rows]).astype(
                "datetime64[us]"
            ),
            "user_id": pd.array([u for _, u, _ in rows], dtype="int64"),
            "event_type": [e for e, _, _ in rows],
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q134_chained_stateful", sf)

    def ms(t: str) -> int:
        return int(pd.Timestamp(H + t).value // 1_000_000)

    expected = {(ms("09:00:00"), 1), (ms("10:00:00"), 2)}
    got_set = {
        (int(r.window_start_ms), int(r.n_pairs)) for r in got.itertuples()
    }
    assert got_set == expected, (
        "engineered staging diverged from the hand-derived join/"
        f"watermark algebra: got {sorted(got_set)}, "
        f"expected {sorted(expected)}"
    )
