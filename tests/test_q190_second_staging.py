"""Round-15 re-verification depth: a SECOND staged-arrival shape for
q190's processing-time timer oracle (the sibling of
test_q193_second_staging.py — same rationale: the driver re-verifies
q190 against generated testdata whose parity/user distribution populates
the eviction classes by accident of scale; here each class is owned by a
known user, including two users sharing one timer-wheel bucket).

Algebra under test (q190's docstring, lesson 21): a user evicts exactly
once per staged phase it has data in (phase = event_id parity, drained
via empty-trigger processing-time timer fires before the next phase is
staged), emitting that phase's count — so n_evict = distinct parities
per user and n_events = total count, both exact in SQL.
"""

from __future__ import annotations

import os

import pandas as pd


def test_q190_engineered_staging_all_parity_classes(oracle_parity, tmp_path):
    # (user_id, event_id) — parity of event_id decides the phase.
    rows = [
        # u1: even-only x3 => one eviction carrying 3
        (1, 2),
        (1, 4),
        (1, 6),
        # u2: odd-only x2 => one eviction carrying 2
        (2, 1),
        (2, 3),
        # u3: both phases (2 even + 3 odd) => two evictions, 5 total
        (3, 8),
        (3, 10),
        (3, 5),
        (3, 7),
        (3, 9),
        # u17: both phases, one event each; shares timer-wheel bucket
        # (pmod 16) with u1 => bucket-level eviction must still emit
        # per-user per-phase counts
        (17, 12),
        (17, 11),
        # u20: a single even event => one eviction carrying 1
        (20, 14),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": pd.array([e for _, e in rows], dtype="int64"),
            "ts": pd.to_datetime("2024-01-10 08:00:00").as_unit("us"),
            "user_id": pd.array([u for u, _ in rows], dtype="int64"),
            "event_type": "click",
            "value": 0.5,
            "props": "{}",
        }
    )
    sf = str(tmp_path)
    pdf.to_parquet(os.path.join(sf, "events.parquet"), index=False)

    got = oracle_parity("q190_processing_time_timer_eviction", sf)

    expected = {
        1: (1, 3),
        2: (1, 2),
        3: (2, 5),
        17: (2, 2),
        20: (1, 1),
    }
    got_map = {
        int(r.user_id): (int(r.n_evict), int(r.n_events))
        for r in got.itertuples()
    }
    assert got_map == expected, (
        "engineered staging diverged from the per-phase eviction "
        f"algebra: got {got_map}, expected {expected}"
    )
