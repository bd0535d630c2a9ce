"""Query caching: an LRU of persisted score frames (the Lucene core
LRUQueryCache role — it caches per-segment DocIdSets; here the cached
unit is the scored match frame, which Spark can hold distributed and
columnar via persist()).

A CachingSearcher wraps a Searcher: the first execution of a query
persists its score frame; repeated executions (same AST, same
similarity) reuse the cached distributed dataset — top-k, totalHits,
facets and grouping all re-derive from it without re-scanning
postings.  Eviction is LRU with a bounded entry count; evicted frames
are unpersisted (blocking=False) so executor storage is reclaimed.

Scale note: cache entries live in executor storage memory
(MEMORY_AND_DISK), not on the driver; cache() is per-session, exactly
like Lucene's per-IndexSearcher cache.

SnapshotCache, the driver-side twin every open index owns, holds the
snapshot's term stats, expansions, plans and collection stats in the
same LRU class.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark import StorageLevel

# entries per kind in an index's SnapshotCache: one search_mix reader
# peaks at ~200 terms and ~140 plans, so it never evicts; a long-lived
# reader under unbounded distinct queries levels off here
SNAPSHOT_CAPACITY = 512


class LRU:
    """A bounded least-recently-used map that threads may share, with
    hit, miss and eviction counters.  Missing values are computed
    outside the lock and published only after the compute returns: no
    reader sees a half-built entry, and a failed compute caches nothing.
    ``on_evict(value)`` runs for each value evicted or cleared."""

    def __init__(self, capacity: int, on_evict=None):
        self.capacity = capacity
        self.on_evict = on_evict
        self.hits = self.misses = self.evictions = 0
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._data)

    def get(self, key, compute):
        return self.get_many((key,), lambda _: {key: compute()})[key]

    def get_many(self, keys, compute) -> dict:
        """{key: value} for every key; ``compute(missing)`` returns the
        values of the keys not cached.  The answer comes from this call's
        own lookups, so it is whole even when keys outnumber capacity."""
        with self._lock:
            out = {k: self._data[k] for k in keys if k in self._data}
            for k in out:
                self._data.move_to_end(k)
            missing = [k for k in keys if k not in out]
            self.hits += len(out)
            self.misses += len(missing)
        if not missing:
            return out
        out.update(compute(missing))
        with self._lock:
            self._data.update((k, out[k]) for k in missing)
            evicted = [self._data.popitem(last=False)[1]
                       for _ in range(len(self._data) - self.capacity)]
            self.evictions += len(evicted)
        self._drop(evicted)
        return out

    def clear(self) -> None:
        with self._lock:
            dropped = list(self._data.values())
            self._data.clear()
        self._drop(dropped)

    def _drop(self, values) -> None:
        if self.on_evict is not None:
            for v in values:
                self.on_evict(v)


class SnapshotCache:
    """Query state derived from one open index snapshot and shared by
    every Searcher over it (the TermContext / per-reader cache role):
    term stats, multi-term expansions, prepared plans and collection
    stats, one LRU of SNAPSHOT_CAPACITY entries per kind.  The index
    creates it at open, so a reopened snapshot starts empty; code that
    swaps a table of an open index after searching it calls clear()."""

    KINDS = ("terms", "expand", "plan", "collection")

    def __init__(self):
        self.lru = {kind: LRU(SNAPSHOT_CAPACITY) for kind in self.KINDS}

    def get(self, kind: str, key, compute):
        return self.lru[kind].get(key, compute)

    def get_many(self, kind: str, keys, compute) -> dict:
        return self.lru[kind].get_many(keys, compute)

    def clear(self) -> None:
        for lru in self.lru.values():
            lru.clear()


def _query_key(q) -> str:
    # AST dataclasses are frozen/hashable with value equality; repr is
    # deterministic and includes boosts/slops/occurs
    return repr(q)


class CachingSearcher:
    """Decorator over Searcher adding an LRU score-frame cache."""

    def __init__(self, searcher, max_entries: int = 32,
                 storage_level: StorageLevel = StorageLevel.MEMORY_AND_DISK):
        self.searcher = searcher
        self.storage_level = storage_level
        self._cache = LRU(max_entries,
                          on_evict=lambda f: f.unpersist(blocking=False))

    max_entries = property(lambda self: self._cache.capacity)
    hits = property(lambda self: self._cache.hits)
    misses = property(lambda self: self._cache.misses)

    # -- cached core ------------------------------------------------------
    def score_frame(self, query) -> DataFrame:
        if isinstance(query, str):
            from .parser import parse_query

            query = parse_query(query)
        return self._cache.get(
            (self.searcher.sim.name, _query_key(query)),
            lambda: self.searcher.score_frame(query).persist(self.storage_level))

    def search(self, query, k: int = 10) -> DataFrame:
        # collects through executor.collect_topk — ONE collector order
        # shared with Searcher.search/search_after (ADVICE r4)
        from .executor import collect_topk

        return collect_topk(self.score_frame(query), k)

    def search_with_total(self, query, k: int = 10, hydrate: bool = False):
        from .executor import collect_topk

        frame = self.score_frame(query)
        total = frame.count()
        meta = (self.searcher._live_meta().drop("segment_id")
                if hydrate and hasattr(self.searcher.index, "doc_meta")
                else None)
        return total, collect_topk(frame, k, hydrate_meta=meta)

    def search_after(self, query, after, k: int = 10) -> DataFrame:
        # pagination is the cache's best case: every page after the
        # first filters the SAME persisted frame instead of rescanning.
        from .executor import collect_topk

        return collect_topk(self.score_frame(query), k, after=after)

    def clear(self):
        self._cache.clear()

    # everything else (explain, search_sorted, index, sim, ...) passes
    # through to the wrapped searcher
    def __getattr__(self, name):
        return getattr(self.searcher, name)
