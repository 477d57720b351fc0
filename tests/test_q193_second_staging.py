"""Round-15 re-verification depth (r14 verdict item 7): a SECOND
staged-arrival shape for the q193 event-time timer oracle.

The driver re-verifies q193 against the generated testdata, whose user/
timestamp distribution populates the four eviction classes by accident
of scale. This test instead ENGINEERS an events table where every class
is populated by exactly one known user — including the boundary-adjacent
shapes the generated data may or may not hit (a deadline 501 ms past the
final watermark, the phase-max owners themselves, an early-evicted key
re-keyed by phase-B data, and two users sharing one timer-wheel bucket)
— then drives the REAL plan function against the REAL oracle SQL via the
parity comparator, plus a hand-derived expectation so a staging bug
fails legibly rather than as a silent both-sides-wrong match.

Timer algebra under test (q193's docstring, lesson 21's complement):
watermark per phase W = epoch_ms(max ts in phase) - 3_600_000 with the
one-batch lag (evictions run in the empty batch AFTER each phase's data
batch); per-user deadline = epoch_ms(max ts of the data call) + 1001;
strict < on deadline vs watermark; fresh data overwrites the deadline.
"""

from __future__ import annotations

import os

import pandas as pd

SPLIT = "2024-01-16 00:00:00"  # q193's hard-coded phase boundary


def test_q193_engineered_staging_all_eviction_classes(oracle_parity, tmp_path):
    # Phase A max = Jan 15 12:00 (u17) => W1 = Jan 15 11:00.
    # Phase B max = Jan 16 02:00 (u7)  => W3 = Jan 16 01:00.
    rows = [
        # u1: A-only, early => e1 evicts with count 3
        (1, "2024-01-10 08:00:00"),
        (1, "2024-01-10 09:00:00"),
        (1, "2024-01-10 10:00:00"),
        # u2: A-only, inside W1's delay but before W3 => e3 late fire, 2
        (2, "2024-01-15 11:30:00"),
        (2, "2024-01-15 11:29:00"),
        # u17: A-only, OWNS the phase-A max; shares timer-wheel bucket
        # (pmod 16) with u1 => e3, count 1
        (17, "2024-01-15 12:00:00"),
        # u4: A early (e1 emits 2), fresh B data re-keys the user,
        # B deadline inside W3 => e2 emits the B count alone (A state
        # was removed at e1) — n_evict 2, n_emitted 5
        (4, "2024-01-10 06:00:00"),
        (4, "2024-01-10 07:00:00"),
        (4, "2024-01-16 00:03:00"),
        (4, "2024-01-16 00:04:00"),
        (4, "2024-01-16 00:05:00"),
        # u5: A survives e1 (11:45 > W1), B data MERGES counts and
        # overwrites the deadline => single e2 eviction with A+B = 3
        (5, "2024-01-15 11:45:00"),
        (5, "2024-01-16 00:20:00"),
        (5, "2024-01-16 00:21:00"),
        # u6: B-only inside W3 => e2 evicts with 2
        (6, "2024-01-16 00:10:00"),
        (6, "2024-01-16 00:11:00"),
        # u7: B-only, OWNS the phase-B max => deadline past W3, never
        # evicts (still in state at stop)
        (7, "2024-01-16 02:00:00"),
        # u8: A early (e1 emits 1), B deadline PAST W3 => no e2; the
        # B-era state survives to stop — n_evict 1, n_emitted 1
        (8, "2024-01-10 05:00:00"),
        (8, "2024-01-16 01:30:00"),
        # u20: B-only, deadline exactly 501 ms past W3
        # (00:59:59.500 + 1001 ms = 01:00:00.501 > 01:00:00.000) =>
        # boundary-adjacent survivor, never evicts
        (20, "2024-01-16 00:59:59.500"),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime(
                [t for _, t in rows], format="mixed"
            ).astype("datetime64[us]"),
            "user_id": pd.array(
                [u for u, _ in rows], dtype="int64"
            ),
            "event_type": "click",
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q193_event_time_timer_eviction", sf)

    expected = {
        1: (1, 3),
        2: (1, 2),
        17: (1, 1),
        4: (2, 5),
        5: (1, 3),
        6: (1, 2),
        8: (1, 1),
    }
    got_map = {
        int(r.user_id): (int(r.n_evict), int(r.n_emitted))
        for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered staging diverged from the hand-derived timer "
        f"algebra: got {got_map}, expected {expected}"
    )
