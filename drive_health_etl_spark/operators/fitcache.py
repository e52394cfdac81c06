"""The one per-(session, dataset) cache for fitted and reused subtrees.

What may be cached: a value that is a pure function of one dataset read in
one Spark session — minhash subtrees, weighted edge lists, PQ codebooks,
BPE merges, encoded media fixtures, and the dataset scalars that size them.
Callers go through ``dataset_cached``; nothing else in the package builds a
cache key.

The key rule: every entry is keyed ``(applicationId, sf_dir, name, *params)``.
``name`` names the artifact and ``params`` are every other input its value
depends on (a centroid count, a codec's subsampling), so two artifacts of
one dataset never share a key, and a key from a stopped session can never be
hit by a live one.

The bound: the cache keeps the entries of at most ``MAX_SCOPES`` live
datasets — a scope is the key's ``(applicationId, sf_dir)`` prefix. One
dataset legitimately owns many entries at once and they never evict each
other mid-query; what a long-lived driver sheds is whole datasets it has
moved past. Touching a fifth scope drops every entry of the least recently
used one and unpersists its DataFrames (best-effort: a stopped session's
handles are dead and its storage died with the JVM).

A ``build`` function that returns a DataFrame persists or checkpoints it
itself, because values also include scalars, lists and tuples.

Thread safety: ``tools/vanilla_rehearsal.py`` runs queries from a thread
pool, so every mutating path holds one re-entrant lock. ``get_or_build``
builds OUTSIDE the lock — fit subtrees can take seconds to materialize and
must not serialize the pool — and resolves a build race by keeping the first
value stored and unpersisting the loser.
"""

from __future__ import annotations

import threading

# Live (applicationId, sf_dir) scopes kept. 4 covers the standard harness
# sweep (sf0.001 / sf0.01 / sf0.1 / sf1 in one session) without eviction.
MAX_SCOPES = 4


def _try_unpersist(v) -> None:
    # Composite entries (e.g. a (DataFrame, count) pair) release each
    # element — eviction must free every persisted block the entry pinned.
    if isinstance(v, (tuple, list)):
        for item in v:
            _try_unpersist(item)
        return
    unpersist = getattr(v, "unpersist", None)
    if callable(unpersist):
        try:
            unpersist()
        except Exception:
            pass  # owning session already stopped; blocks are gone


def _scope(key: tuple) -> tuple:
    return tuple(key[:2])


class FitCache(dict):
    """dict with scope-LRU eviction; a key's scope is its first two
    elements, ``(applicationId, sf_dir)``."""

    def __init__(self, max_scopes: int = MAX_SCOPES):
        super().__init__()
        self._max_scopes = max_scopes
        self._scope_order: list[tuple] = []  # LRU: most recently used last
        self._lock = threading.RLock()

    def _drop_scope_if_empty(self, s: tuple) -> None:
        # Caller holds the lock. A scope whose last key was removed must
        # not linger and occupy an LRU slot.
        if s in self._scope_order and not any(_scope(k) == s for k in self):
            self._scope_order.remove(s)

    def _evict_over_bound(self) -> list:
        # Caller holds the lock; returns the dropped values to unpersist
        # once it is released (unpersist can RPC the JVM).
        evicted = []
        while len(self._scope_order) > self._max_scopes:
            old = self._scope_order.pop(0)
            for k in [k for k in self if _scope(k) == old]:
                evicted.append(super().pop(k))
        return evicted

    def __delitem__(self, key) -> None:
        with self._lock:
            super().__delitem__(key)
            self._drop_scope_if_empty(_scope(key))

    def pop(self, key, *default):
        with self._lock:
            try:
                v = super().pop(key)
            except KeyError:
                if default:
                    return default[0]
                raise
            self._drop_scope_if_empty(_scope(key))
            return v

    def touch(self, key: tuple) -> None:
        """Mark key's scope as most-recently-used; evict over-bound scopes."""
        with self._lock:
            s = _scope(key)
            if s in self._scope_order:
                self._scope_order.remove(s)
            self._scope_order.append(s)
            evicted = self._evict_over_bound()
        for v in evicted:
            _try_unpersist(v)

    def get_or_build(self, key: tuple, build):
        """Return the cached value for key, building (and retaining) it on
        miss. Touches the scope either way. The build runs outside the lock;
        if two threads race the same miss, the first stored value wins and
        the loser's is unpersisted."""
        self.touch(key)
        with self._lock:
            v = self.get(key)
        if v is not None:
            return v
        v = build()
        evicted: list = []
        with self._lock:
            existing = self.get(key)
            if existing is not None:
                loser, v = v, existing
            else:
                loser = None
                super().__setitem__(key, v)
                # touch() ran BEFORE the build, so concurrent touches can
                # have evicted this scope meanwhile: re-register it (and
                # re-apply the bound) under the same lock as the store, so
                # dict contents and _scope_order never diverge.
                s = _scope(key)
                if s not in self._scope_order:
                    self._scope_order.append(s)
                    evicted = self._evict_over_bound()
        for ev in evicted:
            _try_unpersist(ev)
        if loser is not None:
            _try_unpersist(loser)
        return v

    def purge(self, predicate) -> int:
        """Remove and unpersist every entry whose KEY satisfies
        ``predicate``, keeping the scope order exact. Returns the number of
        entries removed."""
        with self._lock:
            doomed = [k for k in self if predicate(k)]
            removed = []
            for k in doomed:
                removed.append(super().pop(k))
                self._drop_scope_if_empty(_scope(k))
        for v in removed:
            _try_unpersist(v)
        return len(removed)

    def clear(self) -> None:
        """Drop every entry WITHOUT unpersisting: the session-recycle path,
        where the handles belong to a JVM that is going away."""
        with self._lock:
            super().clear()
            self._scope_order.clear()


_CACHE = FitCache()


def dataset_cached(spark, sf_dir: str, name: str, build, *params):
    """The value ``build()`` returns for artifact ``name`` of dataset
    ``sf_dir`` in this session, built once and kept while the dataset is
    among the ``MAX_SCOPES`` most recently used. ``params`` must carry every
    input of the value that ``sf_dir`` and ``name`` do not."""
    key = (spark.sparkContext.applicationId, sf_dir, name, *params)
    return _CACHE.get_or_build(key, build)


def purge(predicate) -> int:
    """Remove and unpersist every entry whose key satisfies ``predicate``,
    e.g. ``lambda k: k[2] == "sigs"`` or ``lambda k: k[1] == sf_dir``."""
    return _CACHE.purge(predicate)


def clear() -> None:
    """Drop every entry without unpersisting (session recycle)."""
    _CACHE.clear()
