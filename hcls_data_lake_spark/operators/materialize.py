"""Build-once/probe-many caches for the engine's deterministic artifacts
(IVF/PQ codebooks, encoded ANN indexes, the near-dup pair graph):
rebuilding one per query would charge every probe the full build."""

from __future__ import annotations

import logging
from collections import OrderedDict

from pyspark.sql import DataFrame


def _unpersist(value) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            logging.getLogger(__name__).debug(
                "unpersist failed: owning session stopped", exc_info=True
            )


class BuildOnceCache(OrderedDict):
    """FIFO-bounded get-or-build store. A key whose first element (the
    table identity) is None is built and returned but never stored.

    With ``spark``, the value is a DataFrame bound to that session:
    keyed by its applicationId (unique per SparkContext, unlike a
    reusable ``id(session)``) and persisted and counted once, so probes
    read, never rebuild. Without it (driver-side codebooks) the value
    is stored as it is and stays valid across sessions."""

    def __init__(self, max_entries: int):
        super().__init__()
        self.max_entries = max_entries

    def get_or_build(self, key: tuple, build, spark=None):
        ident = key[0]
        if spark is not None:
            app_id = spark.sparkContext.applicationId
            # other applicationIds belong to stopped SparkContexts: their
            # blocks are gone, but the references pin JVM objects and
            # hold slots until FIFO reaches them — drop, don't unpersist
            for stale in [k for k in self if k[0] != app_id]:
                del self[stale]
            key = (app_id,) + key
        if ident is None:
            return build()
        hit = self.get(key)
        if hit is not None:
            return hit
        built = build()
        if spark is not None:
            # persist, not localCheckpoint: eviction must free the
            # executor blocks DETERMINISTICALLY via unpersist, while a
            # checkpointed RDD's blocks die only when driver GC happens
            # to collect the reference — a storage leak per eviction
            built = built.persist()
            built.count()
        while len(self) >= self.max_entries:
            _unpersist(self.popitem(last=False)[1])
        self[key] = built
        return built

    def clear(self) -> None:
        while self:
            _unpersist(self.popitem(last=False)[1])
