"""Driver-side resource lifetimes: one mechanism each.

Two lifetimes exist, and each has exactly one owner:

- **Call-scoped** scratch dirs (stream checkpoints, upsert state,
  sink round-trips) live in a stdlib
  ``tempfile.TemporaryDirectory`` block around the call. Nothing reads
  them after the function returns: drains are over once
  ``awaitTermination()`` returns, and every round-trip materializes
  its result before leaving the block.
- **Session-scoped** memos (a tuned MLlib fit, a persisted IVF index
  or edge table, a landed streaming directory, a Bloom/CMS build, a
  schema-drift verdict) live in a module-level ``BoundedCache`` keyed
  by (applicationId, sf_dir, ...): true LRU (reads refresh recency),
  built on a miss by ``get_or_build``, and released through an
  eviction hook when the entry owns an external resource
  (``unpersist_quietly``, ``remove_dir``). Every cache registers
  itself here, and ``clear_all`` — run once at interpreter exit —
  releases every entry, so no dir a cache owns outlives the process.
"""

from __future__ import annotations

import atexit
import logging
import shutil
import weakref
from collections import OrderedDict
from collections.abc import Callable
from typing import Generic, TypeVar

_LOG = logging.getLogger(__name__)

K = TypeVar("K")
V = TypeVar("V")

_CACHES: weakref.WeakSet[BoundedCache] = weakref.WeakSet()


def _members(value) -> tuple:
    return value if isinstance(value, tuple) else (value,)


def unpersist_quietly(_key, value) -> None:
    """Eviction hook for entries holding persisted frames (the value,
    or any member of a tuple value, that has ``unpersist``). An entry
    can outlive its SparkSession (keys carry the applicationId
    precisely because sessions cycle), and unpersisting against a
    stopped session raises — eviction releases best-effort, never
    fails.

    Plan-identity caveat (the PlanPin postmortem pattern): Spark's
    CacheManager keys by canonical plan and is shared across sessions
    of one SparkContext, so evicting an OLD session's entry whose plan
    matches a LIVE session's freshly-cached twin (same sf_dir, new
    applicationId) would evict the live entry too. The consequence is
    a recompute, never wrongness, and the repo's one-session-per-
    process discipline (session.get_session) makes the overlap
    unreachable in practice — noted here because the failure would
    look like an inexplicable cache miss, not an error."""
    for member in _members(value):
        if hasattr(member, "unpersist"):
            try:
                member.unpersist()
            except Exception:
                pass


def remove_dir(_key, value) -> None:
    """Eviction hook for entries owning an on-disk directory (the
    value, or any ``str`` member of a tuple value, is its path)."""
    for member in _members(value):
        if isinstance(member, str):
            shutil.rmtree(member, ignore_errors=True)


def clear_all() -> None:
    """Clear every live ``BoundedCache``, firing each eviction hook."""
    for cache in list(_CACHES):
        cache.clear()


atexit.register(clear_all)


class BoundedCache(Generic[K, V]):
    """Insertion-bounded LRU mapping. Not thread-safe by design — all
    users run on the Spark driver thread."""

    def __init__(
        self, max_entries: int, *, on_evict: Callable[[K, V], None] | None = None
    ) -> None:
        if max_entries < 1:
            raise ValueError("max_entries must be >= 1")
        self.max_entries = max_entries
        self._on_evict = on_evict
        self._data: OrderedDict[K, V] = OrderedDict()
        _CACHES.add(self)

    def get(self, key: K) -> V | None:
        hit = self._data.get(key)
        if hit is not None:
            self._data.move_to_end(key)
        return hit

    def get_or_build(self, key: K, build: Callable[[], V]) -> V:
        """The cached value for ``key``; on a miss, ``build()`` it and
        cache the result."""
        hit = self.get(key)
        if hit is None:
            hit = build()
            self.put(key, hit)
        return hit

    def put(self, key: K, value: V) -> None:
        # Re-putting an EXISTING key replaces the value WITHOUT firing
        # on_evict on the old one — deliberately. For persisted-
        # DataFrame values, unpersisting the old value here would evict
        # the Spark cache entry the (plan-identical) new value shares
        # (CacheManager keys by canonical plan — see PlanPin). Every
        # current caller goes through get_or_build, so a re-put means
        # a same-plan rebuild and the replaced frame leaks nothing the
        # shared entry doesn't still own; a caller that re-puts
        # genuinely DIFFERENT resources under one key must release the
        # old value itself.
        if value is None:
            # get() signals a miss with None, so a stored None would be
            # invisible: recomputed every call and never LRU-refreshed.
            # Fail loudly instead of caching a value that can't be hit.
            raise ValueError("BoundedCache cannot store None (miss sentinel)")
        if key in self._data:
            self._data.move_to_end(key)
        self._data[key] = value
        while len(self._data) > self.max_entries:
            old_key, old_val = self._data.popitem(last=False)
            if self._on_evict is not None:
                self._on_evict(old_key, old_val)

    def clear(self) -> None:
        while self._data:
            key, val = self._data.popitem(last=False)
            if self._on_evict is not None:
                self._on_evict(key, val)

    def __len__(self) -> int:
        return len(self._data)

    def __contains__(self, key: K) -> bool:
        return key in self._data


class PlanPin:
    """Single-slot DataFrame persist pin keyed by PLAN IDENTITY.

    Spark's CacheManager caches by CANONICAL PLAN, not by DataFrame
    object: two frames with the same plan share ONE cache entry, so
    "persist the new frame, then unpersist the previous one" EVICTS the
    entry the new frame just claimed (measured as a 5× per-call
    regression in the minhash shingle cache — BASELINE.md round-9
    amendment). This pin gets the ordering right once, for every
    callsite that wants "at most one persisted copy of X per session":

    - ``pin(frame)``: if the currently pinned frame is plan-identical
      (``sameSemantics``) AND from the same session, return the pinned
      frame (shared entry, kept warm). Otherwise release the stale pin,
      persist ``frame``, pin and return it.
    - ``release(frame)``: unpersist ``frame`` and drop it from the pin
      if it is the pinned copy — for eager-cleanup paths (diagnostics)
      that must not leave a pinned-but-evicted frame behind. Releasing
      a frame that is NOT the pinned object while a plan-identical
      frame IS pinned is a no-op: the two share one CacheManager entry,
      and unpersisting the twin would evict it out from under the pin
      (the exact silent-recompute failure this class exists to
      prevent).

    Single-threaded-driver discipline, like BoundedCache. A caller
    still holding an unmaterialized result across a pin swap just
    recomputes — correctness is unaffected by eviction.
    """

    def __init__(self) -> None:
        self._pinned: list = []

    @staticmethod
    def _session_stopped(frame) -> bool:
        """True iff the frame's session is stopped (SparkContext.stop()
        nulls ``_jsc``) or so torn down the probe itself fails."""
        try:
            return frame.sparkSession._sc._jsc is None
        except Exception:
            return True

    def pin(self, frame):
        while self._pinned:
            prev = self._pinned[-1]
            if not self._session_stopped(prev):
                try:
                    if prev.sparkSession is frame.sparkSession and prev.sameSemantics(
                        frame
                    ):
                        return prev
                except Exception:
                    # A comparison error on a LIVE session is not the
                    # stopped-session path — if systematic it degrades
                    # every call to unpersist-and-repersist (the
                    # measured 5× minhash regression), so make it
                    # observable instead of silent.
                    _LOG.warning(
                        "PlanPin.pin: sameSemantics failed on a live "
                        "session; treating pin as stale",
                        exc_info=True,
                    )
            self._pinned.pop()
            try:
                prev.unpersist()
            except Exception:
                pass  # the previous pin's session may already be stopped
        frame = frame.persist()
        self._pinned.append(frame)
        return frame

    def release(self, frame) -> None:
        if self._pinned and self._pinned[-1] is frame:
            self._pinned.pop()
            frame.unpersist()
            return
        if self._pinned:
            pinned = self._pinned[-1]
            try:
                if pinned.sparkSession is frame.sparkSession and pinned.sameSemantics(
                    frame
                ):
                    # Plan-identical twin of the pinned frame: they
                    # share one CacheManager entry owned by the pin —
                    # unpersisting here would evict it. No-op.
                    return
            except Exception:
                pass  # stopped/torn-down session: fall through
        frame.unpersist()

    def __len__(self) -> int:
        return len(self._pinned)
