"""Shared one-slot-per-(operator, thread) DataFrame cache for pipeline
operators.

A pipeline query persists one or two slim intermediate frames (token
explosions, LSH signature/norm projections) so a single lineage doesn't
recompute them 2-4x. Callers shouldn't have to manage lifetimes, so this
module keeps ONE live frame per (slot, calling thread): a fresh call
swaps in the new frame and unpersists the previous one (non-blocking —
an old returned DataFrame simply recomputes if re-executed later).

Keys include the calling thread id so concurrent pipeline calls (e.g.
from the FAIR-pool CV thread pattern, cv.py) never unpersist each
other's live frame mid-job. Because thread pools are created and torn
down per call site, idents of dead threads would otherwise pin their
persisted frames until SparkContext shutdown; every swap therefore
sweeps entries whose thread no longer exists (threading.enumerate()),
keeping the live set bounded by slots x live threads.

Storage level: persist() defaults to MEMORY_AND_DISK (deserialized).
The frames cached here are deliberately slim projections (ids + tokens /
ids + signature + norm), several times smaller than the raw corpus
rows; at 100 TB-corpus scale a caller that still can't afford them in
aggregate executor memory should pass
``pyspark.StorageLevel.DISK_ONLY`` — re-reading a compact shuffle-file
copy still beats re-tokenizing the corpus 4x.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_CACHE_LOCK = threading.Lock()
_LIVE_CACHES: dict[tuple[str, int], DataFrame] = {}


def _swap_cache(slot: str, df: DataFrame, storage_level=None) -> DataFrame:
    key = (slot, threading.get_ident())
    with _CACHE_LOCK:
        live = {t.ident for t in threading.enumerate()}
        for k in [k for k in _LIVE_CACHES if k[1] not in live]:
            _LIVE_CACHES.pop(k).unpersist()
        prev = _LIVE_CACHES.get(key)
        if prev is not None:
            prev.unpersist()
        _LIVE_CACHES[key] = df.persist(storage_level) if storage_level is not None else df.persist()
    return df


def _adopt_cache(slot: str, df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted frame under a slot (same lifecycle
    as _swap_cache, without re-persisting): the previous occupant is
    released, dead-thread entries are swept, and the next call to
    either helper on this slot releases this frame. For callers that
    must materialize the new frame BEFORE dropping the old one
    (iterative snapshots — unpersist-then-persist would recompute)."""
    key = (slot, threading.get_ident())
    with _CACHE_LOCK:
        live = {t.ident for t in threading.enumerate()}
        for k in [k for k in _LIVE_CACHES if k[1] not in live]:
            _LIVE_CACHES.pop(k).unpersist()
        prev = _LIVE_CACHES.get(key)
        if prev is not None and prev is not df:
            prev.unpersist()
        _LIVE_CACHES[key] = df
    return df


def _release_cache(slot: str) -> None:
    """Unpersist and forget this thread's frame in ``slot``, if any.
    For callers whose next frame in the slot has the SAME logical plan
    as the live one: Spark's cache matches frames by plan, so persisting
    the new frame while the old one lives reuses the old entry, and the
    later release of the old frame would uncache the new one too."""
    with _CACHE_LOCK:
        prev = _LIVE_CACHES.pop((slot, threading.get_ident()), None)
    if prev is not None:
        prev.unpersist()
