"""The session memo: every value the engine builds once and reuses.

Entries key on ``(session, family, name, token)``:

- ``session`` is ``(applicationId, sessionUUID)``. Every memoized value
  is a DataFrame, broadcast or result bound to the session that built
  it, so a stopped or superseded session's entries can never be
  returned again.
- ``family`` names the kind of value (``table``, ``published``,
  ``model``, ``largest_group`` and the shared-build families of
  ``plans.datapipe``) and is the unit the counters report.
- ``name`` is the raw identity of the value: a path, a model uid, or
  ``(sf_dir, shuffle partitions, recipe)``. It carries every axis that
  can legitimately be read again in one session (another corpus,
  another layout, another dial), and never the data version.
- ``token`` is the caller's proof that the thing ``name`` names is the
  one the entry was built from: a data fingerprint, a ``_SUCCESS``
  stamp, or a constant. ``token=None`` means there is no proof:
  build, do not memoize.

One eviction rule, applied on every miss: drop every other session's
entries and counters, and the entries of the same ``(family, name)``
under another token. A regenerated corpus therefore releases its old
build (popping the reference is what lets Spark's ContextCleaner free a
localCheckpoint), while other corpora and layouts stay.

A miss builds outside the lock and publishes with ``setdefault``,
returning whichever value won: two threads racing one key cost a
duplicated build, never a torn entry or a KeyError.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import SparkSession

_LOCK = threading.Lock()
# (session, family, name, token) -> value
_ENTRIES: dict = {}
# (session, family) -> [hits, misses, exclusive build seconds]
_COUNTS: dict = {}
# Per thread: the nested build seconds of each build in flight.
_NESTED = threading.local()


def get_or_build(spark: SparkSession, family: str, name, token, build):
    """``build()``'s value, memoized under (session, ``family``, ``name``,
    ``token``); ``token=None`` builds and does not memoize."""
    if token is None:
        return build()
    session = (
        spark.sparkContext.applicationId,
        spark._jsparkSession.sessionUUID(),
    )
    key = (session, family, name, token)
    hit = _ENTRIES.get(key)
    if hit is not None:
        with _LOCK:
            _counts(session, family)[0] += 1
        return hit
    with _LOCK:
        for k in [
            k for k in _ENTRIES if k[0] != session or k[1:3] == (family, name)
        ]:
            del _ENTRIES[k]
        for k in [k for k in _COUNTS if k[0] != session]:
            del _COUNTS[k]
    value, seconds = _timed(build)
    with _LOCK:
        counts = _counts(session, family)
        counts[1] += 1
        counts[2] += seconds
        return _ENTRIES.setdefault(key, value)


def _counts(session: tuple, family: str) -> list:
    return _COUNTS.setdefault((session, family), [0, 0, 0.0])


def _timed(build):
    """``build()`` and its EXCLUSIVE wall seconds: a build nested inside
    it (pairs -> signatures -> shingles) books its own seconds under its
    own family, so the family totals sum without double counting."""
    if not hasattr(_NESTED, "stack"):
        _NESTED.stack = []
    stack = _NESTED.stack
    stack.append(0.0)
    t0 = time.perf_counter()
    try:
        value = build()
    finally:
        elapsed = time.perf_counter() - t0
        nested = stack.pop()
        if stack:
            stack[-1] += elapsed
    return value, max(0.0, elapsed - nested)


def stats(app_id: str) -> dict:
    """``{family: {"hits", "misses", "build_s"}}`` counted by ``app_id``'s
    sessions (a miss in any other session drops them)."""
    out: dict = {}
    with _LOCK:
        for (session, family), counts in sorted(_COUNTS.items()):
            if session[0] == app_id:
                old = out.get(family, (0, 0, 0.0))
                out[family] = tuple(a + b for a, b in zip(old, counts))
    return {
        family: {"hits": h, "misses": m, "build_s": round(s, 3)}
        for family, (h, m, s) in out.items()
    }


def clear() -> None:
    """Drop every entry and counter: each value builds again on its next
    request."""
    with _LOCK:
        _ENTRIES.clear()
        _COUNTS.clear()
