"""Thread-scoped registry for the streaming dedup's per-batch caches.

A foreachBatch body reads one batch's signature projection from several
separate actions (the components fixpoint loop, the survivors write, the
store-key write), and exchange reuse only works inside one plan, so the
projection is persisted.  persist() alone is a leak across a long-lived
stream: the MEMORY_AND_DISK blocks would outlive the batch that created
them.  The batch body therefore registers each such cache here and runs
inside ``scoped_caches()``, which unpersists everything registered in the
block on exit.  The body must MATERIALIZE its outputs (write / collect)
before the block ends; unpersist is always safe (a still-referenced plan
recomputes), but releasing early forfeits the single computation.

The batch operators need no cache: their self-joins repartition once and
Spark reuses that exchange for both sides (see lsh_candidate_pairs).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame

# (df, owner_thread_id).  All registry mutation happens under _LOCK: two
# concurrent registrants (two streaming queries' foreachBatch threads)
# must never interleave a read-modify-write of the list — a lost entry is
# a persisted-block leak for the session, and a scope releasing a
# concurrent thread's still-unmaterialized cache reintroduces the
# recompute the cache exists to prevent.
_LIVE_CACHES: list[tuple[DataFrame, int]] = []
_LOCK = threading.Lock()


def register_cache(df: DataFrame) -> DataFrame:
    """Track a just-persisted DataFrame for release by the enclosing
    ``scoped_caches()``; returns it."""
    with _LOCK:
        _LIVE_CACHES.append((df, threading.get_ident()))
    return df


@contextmanager
def scoped_caches() -> Iterator[None]:
    """Release every cache THIS THREAD registered inside the block on exit
    — including on error paths.  Only caches registered after entry, by the
    entering thread, are touched, so scopes nest, never release an outer
    scope's still-needed cache, and never unpersist a CONCURRENT thread's
    cache registered mid-scope (two streaming foreachBatch threads each run
    their own scope; neither may force the other's recompute).

    Entry membership is tracked by IDENTITY, not list position: a
    concurrent scope exiting mid-block removes entries registered BEFORE
    this one, which would shift a positional mark.  The snapshot holds
    REFERENCES (not bare id() ints) so a pre-entry object released and
    garbage-collected mid-scope cannot donate its recycled address to an
    inner entry."""
    me = threading.get_ident()
    with _LOCK:
        before = [df for df, _ in _LIVE_CACHES]
    try:
        yield
    finally:
        with _LOCK:
            keep, drop = [], []
            for df, tid in _LIVE_CACHES:
                if tid == me and not any(df is b for b in before):
                    drop.append(df)
                else:
                    keep.append((df, tid))
            _LIVE_CACHES[:] = keep
        for df in drop:
            df.unpersist(blocking=False)
