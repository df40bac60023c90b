"""The cross-call owner of persisted frames: a session- and plan-keyed
persist registry for operators that cache an upstream frame, and a
per-application memo of built values.

The one release rule of the package: a frame that lives as long as one call
is held in a :class:`kgspark.session.LineageScope`; a frame that a returned
lazy plan still reads after the call is registered here.  Nothing else in
``kgspark`` persists, checkpoints or unpersists.

``keyed_persist(df, name)`` persists ``df`` (MEMORY_AND_DISK) under the key
``(applicationId, name, df.semanticHash())`` and returns the registered frame.
A later call with a semantically-equal plan returns the SAME persisted frame
instead of re-persisting a duplicate — and, unlike the earlier one-slot
registry, a call with a DIFFERENT plan (e.g. interleaved
``ngram_jaccard_pairs`` / ``lsh_candidate_pairs`` over different corpora)
gets its own slot rather than silently evicting a frame that previously
returned DataFrames still reference lazily (correct results, but the cached
kernel pass the registry exists to avoid would re-run).

Bounded: an LRU of ``_CAP`` entries per process; evicted frames are
unpersisted best-effort (a frame from an already-stopped SparkSession is
simply dropped).  If an external ``spark.catalog.clearCache()`` wiped the
cache entry (bench reps do exactly that), the frame is re-persisted on the
next request instead of silently recomputing per downstream branch.
Thread-safe via a module lock.

``memo(spark, name, make)`` keeps one built value per name for the current
application (the entry's web build: every ``web_*`` query reads one
extraction).  :func:`clear` empties the memo and the LRU and unpersists what
the LRU registered.

CONTRACT: inputs must be immutable for the key's lifetime.  The key is a
PLAN hash — two semantically-equal plans over a path whose files were
rewritten in between would alias to one (stale) cached frame.  Every
current caller reads immutable inputs (seeded datagen, sf-dir parquet);
an operator over warehouse tables that are rewritten in place must NOT
route through this registry (hold the frame in a ``LineageScope``).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

_CAP = 8
# re-entrant: a memo's build may itself call keyed_persist
_LOCK = threading.RLock()
_REG: "OrderedDict[tuple, DataFrame]" = OrderedDict()
_MEMO: dict[tuple[str, str], Any] = {}


def _is_cached(df: DataFrame) -> bool:
    try:
        lvl = df.storageLevel
        return bool(lvl.useMemory or lvl.useDisk)
    except Exception:
        return False


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # the frame's session is gone — nothing to release


def keyed_persist(df: DataFrame, name: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    try:
        app_id = df.sparkSession.sparkContext.applicationId
    except Exception:
        return df  # dead session — uncached frame
    try:
        key = (app_id, name, df.semanticHash())
    except Exception:
        # hash failure — still persist (the whole point of the registry is
        # avoiding the measured duplicate kernel pass), registered under a
        # per-frame key so the LRU cap still bounds and unpersists it
        key = (app_id, name, "nohash", id(df))

    with _LOCK:
        cached = _REG.get(key)
        if cached is not None:
            if not _is_cached(cached):
                # cache cleared externally (spark.catalog.clearCache());
                # re-register so downstream diamond branches share one pass
                cached.persist(StorageLevel.MEMORY_AND_DISK)
            _REG.move_to_end(key)
            return cached
        try:
            df.persist(StorageLevel.MEMORY_AND_DISK)
        except Exception:
            return df  # session died mid-call — degrade to uncached
        _REG[key] = df
        while len(_REG) > _CAP:
            _unpersist(_REG.popitem(last=False)[1])
        return df


def memo(spark: SparkSession, name: str, make: Callable[[], Any]) -> Any:
    """``make()``'s value, built once per application and ``name``; entries
    of an earlier (stopped) application are dropped on the next build."""
    app_id = spark.sparkContext.applicationId
    with _LOCK:
        if (app_id, name) not in _MEMO:
            for key in [k for k in _MEMO if k[0] != app_id]:
                del _MEMO[key]
            _MEMO[(app_id, name)] = make()
        return _MEMO[(app_id, name)]


def clear() -> None:
    """Empty the memo and the LRU, unpersisting every registered frame."""
    with _LOCK:
        victims = list(_REG.values())
        _REG.clear()
        _MEMO.clear()
    for df in victims:
        _unpersist(df)
