"""One-slot caches for persisted intermediates that outlive their call.

Some operators persist a relation that their returned lazy plan, or a
later call, reads again: the mining internals, the shared near-dup graph,
the x13/x14 panel prep, the sides of a self-join.  Such a relation cannot
be unpersisted before the function returns, so without a bound a
long-lived session keeps one more cached relation per call.  This module
is the only one that knows the rule bounding them; every such site holds
its relations in a named :class:`Slot`.

The rule:

* **One generation per slot.**  A slot holds the relations of its latest
  call only, and the next call evicts them.  A caller still holding an
  evicted relation merely recomputes it from its lineage; values never
  change.
* **Evict first, then persist.**  Spark's CacheManager dedupes
  canonically-equal plans, so when the new relation's plan equals the old
  one the old cache entry IS the new one: unpersisting it after the new
  persist silently uncaches the new relation too (measured on the q-gram
  edit-distance join: 1.7 s -> 9.4 s, both self-join sides replanning the
  gram pipeline).
* **Persist, not localCheckpoint.**  An eager ``localCheckpoint`` frees
  itself on GC, but it materializes the relation as a row-format RDD and
  blinds AQE for the self-join reading it (same join: 1.7 s -> 4.2 s).
* **Eviction never fails a call.**  Unpersist errors (a stopped session,
  an entry already dropped) are swallowed.
* **A cleared entry is a miss.**  ``spark.catalog.clearCache()`` drops
  entries without telling the slot.  :meth:`Slot.lookup` asks the live
  CacheManager (``DataFrame.storageLevel``), so a dropped relation is
  rebuilt instead of served unpersisted -- which would re-run its whole
  lineage per consumer, e.g. x07's band self-join re-running the
  signature pipeline per side (15 s vs 3 s at sf0.1).
* **Keys carry the application id.**  A keyed slot keys on
  ``spark.sparkContext.applicationId``, never ``id(spark)``: ids are
  reused after a session is garbage-collected, and a stale hit would hand
  out a relation bound to a stopped session.

A relation persisted and unpersisted inside one function, or handed to
the caller to own, needs no slot.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


class Slot:
    """The relations persisted by one site's latest call and, for a keyed
    slot, the key its one relation was built for.  ``hits``/``misses``
    count :meth:`lookup` outcomes."""

    def __init__(self) -> None:
        self._held: list[DataFrame] = []
        self._key: tuple | None = None
        self.hits = 0
        self.misses = 0

    @property
    def held(self) -> tuple[DataFrame, ...]:
        return tuple(self._held)

    def evict(self) -> None:
        """Unpersist every held relation, newest first, and forget the key."""
        held, self._held, self._key = self._held, [], None
        for df in reversed(held):
            try:
                df.unpersist()
            except Exception:
                pass

    def hold(
        self, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
    ) -> DataFrame:
        """Persist ``df`` at ``level`` into the current generation."""
        df = df.persist(level)
        self._held.append(df)
        return df

    def lookup(self, spark, *parts) -> DataFrame | None:
        """The relation held for ``(applicationId, *parts)`` while Spark
        still caches it (a hit).  Otherwise a miss: evict, make the key
        current for the :meth:`hold` that follows, and return None."""
        key = (spark.sparkContext.applicationId, *parts)
        if key == self._key and self._held:
            level = self._held[0].storageLevel
            if level.useMemory or level.useDisk:
                self.hits += 1
                return self._held[0]
        self.misses += 1
        self.evict()
        self._key = key
        return None


_SLOTS: dict[str, Slot] = {}


def slot(name: str) -> Slot:
    """The process-wide slot called ``name``, created on first use."""
    return _SLOTS.setdefault(name, Slot())
