"""Session-scoped memo of materialized (localCheckpoint'd) frames and
small driver-side values, keyed by content-addressed tuples — the
operator-level counterpart of the reference's ``Pool``
(``src/pool.rs:25-94``): a recomputation of the same logical input +
parameters returns the already-materialized value instead of re-running
the pipeline.

Used by the dedup family, where three registry queries
(``dedup_clusters``, ``llm_data_pipeline``, ``minhash_near_dups``)
independently derive the identical near-dup pair set: within one
session the first call pays the compute, the rest are storage reads.

Keys include ``DataFrame.semanticHash()`` of the input frame (stable
for equivalent logical plans within a session), so a memo hit requires
the same source relation and the same operator parameters. Inputs are
assumed immutable for the session (parquet tables are); a mutated
source with an identical plan would return the frozen snapshot.

Eviction drops the reference only (ContextCleaner frees the checkpoint
storage once no frame references it). Force-unpersisting an evicted
localCheckpoint would break any still-live downstream plan built on it
— lineage is truncated, so lost blocks cannot be recomputed.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame

# Every session-scoped memo registers itself here so the bench harness
# and plan/scale tooling can restore cold-session semantics with ONE
# call instead of importing each family's memo (the r10 lesson: a memo
# that tooling forgets to clear silently turns a cold-cost measurement
# into a warm one).
ALL_MEMOS: "list[Memo]" = []


def clear_all_memos() -> None:
    for memo in ALL_MEMOS:
        memo.clear()


def frame_key(df: DataFrame) -> tuple:
    """Content-addressed key component for an input frame."""
    return (df.semanticHash(), tuple(df.columns))


class Memo:
    """Thread-safe LRU of session values: materialized frames (eager
    localCheckpoint) or small driver-side values (row counts, size
    estimates, bounded merge tables, the wire server's built ``Df``
    nodes and the encoded replies it sends, each already held whole on
    the driver to send it); no distributed frame is collected here.
    ``build`` runs OUTSIDE the lock (it executes Spark jobs); concurrent
    first callers on the same key coordinate through a per-key
    in-flight marker, so the expensive multi-job build runs exactly
    once — the waiters block on the marker and read the winner's entry
    instead of racing a duplicate build whose result would be
    discarded. If the build raises, the marker is released and one
    waiter builds in its place (retry semantics, no poisoned key)."""

    def __init__(self, capacity: int = 64) -> None:
        self.capacity = capacity
        self._entries: "OrderedDict[tuple, object]" = OrderedDict()
        self._inflight: dict[tuple, threading.Event] = {}
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0
        ALL_MEMOS.append(self)

    def __len__(self) -> int:
        with self._lock:
            return len(self._entries)

    def get_or_build(self, key: tuple, build: Callable[[], object]) -> object:
        """A frame ``build`` returns must be ALREADY materialized — the
        memo stores it as-is."""
        while True:
            with self._lock:
                if key in self._entries:
                    self.hits += 1
                    self._entries.move_to_end(key)
                    return self._entries[key]
                done = self._inflight.get(key)
                if done is None:
                    done = threading.Event()
                    self._inflight[key] = done
                    break
            done.wait()  # first builder finished or failed; re-check
        try:
            out = build()
            with self._lock:
                self.misses += 1
                self._entries[key] = out
                while len(self._entries) > self.capacity:
                    # drop ref; ContextCleaner frees
                    self._entries.popitem(last=False)
        finally:
            with self._lock:
                self._inflight.pop(key, None)
            done.set()
        return out

    def clear(self) -> None:
        """Drop all references (tests / session reset). Storage is
        reclaimed by the ContextCleaner once frames are unreferenced."""
        with self._lock:
            self._entries.clear()
            self.hits = 0
            self.misses = 0
