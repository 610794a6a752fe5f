"""Caches an operator keeps alive past its return, until its next call.

Some operators return a lazy frame that reads a frame they persisted (the
staged block table of ``candidate_pairs``, the converged aggregate of
``connected_components``, the verify-tier inputs of
``minhash_near_duplicates``).  The caller materializes the result, so the
operator cannot unpersist those frames before it returns; each operator
instead holds its most recent call's frames here, and its next call
releases them.  A session that calls an operator many times so retains one
call's worth of cache.  Callers that want the cache-read fast path
materialize a result before the next call: a later call may evict first,
and the result then recomputes (correct, just slower).

Spark caches by plan: persisting a frame whose plan equals a cached one is
a no-op, and unpersisting either drops the one shared entry.  A repeated
call over the same input builds the same plan, so the previous frames are
released BEFORE the new ones are persisted.
"""

from __future__ import annotations

import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_HELD: dict[str, list[DataFrame]] = {}


def hold_until_next_call(owner: str, *frames: DataFrame) -> None:
    """Release the frames ``owner``'s previous call held, then persist
    ``frames`` (in order, so a later frame's cached plan reads an earlier
    one's cache) and hold them until ``owner``'s next call.  A frame the
    operator already persisted keeps its cache unless a release dropped it."""
    with _LOCK:
        for old in _HELD.pop(owner, ()):
            old.unpersist()
        for df in frames:
            if df.storageLevel == StorageLevel.NONE:
                df.persist()
        _HELD[owner] = list(frames)
