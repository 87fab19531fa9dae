"""Scoped cache lifecycle for operator-internal persists.

Some operators persist an intermediate that feeds several branches of the
SAME returned plan (e.g. the verify k-gram sets feeding both join sides).
The operator cannot unpersist it — the caller has not materialized the result
yet — so it registers the frame here and the *caller* releases after its
action completes (`bench.py` between queries, the driver-contract wrappers in
`__spark_entry__.py`, long-lived sessions whenever convenient).

Unreleased entries are harmless in a short job (executor storage is reclaimed
at shutdown) but accumulate across a many-query session; `release_caches()`
bounds that to the live query's working set.

Every caller releases everything tracked, so tracking is one list guarded by
a lock (ADVICE r3): threads that track and release concurrently cannot race
the list mutation.  Callers serialize release against their own in-flight
builds.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []  # persisted frames, in registration order


def track(df: DataFrame) -> DataFrame:
    """Persist `df` and register it for the next `release_caches()`."""
    df.persist()
    with _LOCK:
        _TRACKED.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    with _LOCK:
        frames = _TRACKED[:]
        _TRACKED.clear()
    n = 0
    for df in reversed(frames):
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n
