"""How long a pin lives: ``keep`` persists a DataFrame with its lineage
in a bounded FIFO, the lifetime for callers that open no scope, and
``scope`` releases every pin a query took when it ends. localCheckpoint
pins stay at their call sites, each choosing eager (a barrier, for
loops) or lazy; without a scope, Spark's ContextCleaner frees them."""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

# (semanticHash, DataFrame), oldest first. Depth 4, not 1: one query may
# keep several stages at once (minhash_lsh: shingles AND bands), and a
# shallower FIFO evicts a table the same query still reads (measured on
# simhash_recall). Without a scope, a caller must execute each result
# before keeping _DEPTH more tables.
_KEPT: list = []
_DEPTH = 4
_LOCK = threading.Lock()


def keep(df: DataFrame) -> DataFrame:
    """Persist ``df``, register it in the FIFO (unpersisting the oldest
    beyond ``_DEPTH``) and return the DataFrame to read from. Idempotent
    per (semanticHash, session): a repeat of the same query reuses the
    existing entry instead of evicting it (measured: multi-pin queries
    lost their warm state between back-to-back runs)."""
    df = df.persist()
    h = df.semanticHash()
    with _LOCK:
        for hh, cached in _KEPT:
            # never unpersist the duplicate: blocks are keyed by PLAN, so
            # that drops the shared ones. A NEW session's identical plan
            # must not get the old session's DataFrame (NPE).
            if hh == h and cached.sparkSession is df.sparkSession:
                return cached
        _KEPT.append((h, df))
        while len(_KEPT) > _DEPTH:
            try:
                _KEPT.pop(0)[1].unpersist(blocking=False)
            except Exception:
                pass  # session gone / already unpersisted
    return df


@contextmanager
def scope(spark: SparkSession) -> Iterator[None]:
    """Release every pin taken inside the block when it exits, also on
    an exception; pins older than the block are left alone. ``keep``
    entries leave the FIFO through ``DataFrame.unpersist`` (no stale
    cache-manager entry), found by identity because eviction shifts
    positions; every other RDD that became persistent in the block,
    i.e. each localCheckpoint, is unpersisted.

    Contract: collect or write results inside the block (a released
    localCheckpoint has no lineage to recompute from), and run one
    scope per session at a time."""
    jsc = spark.sparkContext._jsc
    rdds_before = set(jsc.getPersistentRDDs().keySet())
    with _LOCK:
        kept_before = list(_KEPT)  # held, so the ids below stay unique
    try:
        yield
    finally:
        old = {id(e) for e in kept_before}
        with _LOCK:
            taken = [e[1] for e in _KEPT if id(e) not in old]
            _KEPT[:] = [e for e in _KEPT if id(e) in old]
        for df in taken:
            df.unpersist(blocking=False)
        live = jsc.getPersistentRDDs()
        for rdd_id in set(live.keySet()) - rdds_before:
            live.get(rdd_id).unpersist(False)
