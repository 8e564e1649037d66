"""Session-scoped build memo: the one store for standing state that a
session builds once and many queries reuse (shingle sketches, pair and
component tables, ANN query blocks, trained centroids, search results,
the persisted star, the ETL's resident masters and star key index).

An entry is keyed by ``(group, applicationId, *key)``, so a new Spark
session rebuilds it. ``group`` names the family a reset drops together
(``"ann"``, ``"dedup"``, ``"search"``, ``"star"``, ...). The reference
keeps its master data the same way: one resident, lock-guarded table
reused across the whole stream (hybrid_join.py:119-139).
"""

from __future__ import annotations

import threading
from typing import Any, Callable

from pyspark import Broadcast
from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[tuple, Any] = {}
_LOCKS: dict[tuple, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()
_MISSING = object()


def cached(spark: SparkSession, group: str, key: tuple, build: Callable[[], Any]) -> Any:
    """``build()``'s result for ``key`` in this session, built at most
    once. The lock is per key: concurrent misses on one key wait for the
    one build, while misses on different keys build concurrently. Any
    value is cached, ``None`` included."""
    k = (group, spark.sparkContext.applicationId, *key)
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(k, threading.Lock())
    with lock:
        value = _ENTRIES.get(k, _MISSING)
        if value is _MISSING:
            value = _ENTRIES[k] = build()
        return value


def clear(group: str | None = None) -> None:
    """Drop ``group``'s entries (every entry when ``group`` is None) and
    release what they hold: each Broadcast is destroyed and each cached
    DataFrame unpersisted, for the value itself and for each element of a
    tuple or dict value. A frame its owner already unpersisted reports
    ``is_cached`` False and costs nothing here."""
    _release(lambda k: group is None or k[0] == group)


def drop(spark: SparkSession, group: str, prefix: tuple) -> None:
    """Drop this session's ``group`` entries whose key starts with
    ``prefix``, releasing what they hold as ``clear`` does. An entry whose
    build is still running is not in the store yet and is kept."""
    head = (group, spark.sparkContext.applicationId, *prefix)
    _release(lambda k: k[: len(head)] == head)


def _release(match: Callable[[tuple], bool]) -> None:
    with _LOCKS_GUARD:
        keys = [k for k in list(_ENTRIES) if match(k)]
        for k in keys:
            _LOCKS.pop(k, None)
    for k in keys:
        value = _ENTRIES.pop(k, None)
        if isinstance(value, dict):
            held = [value, *value.values()]
        elif isinstance(value, tuple):
            held = [value, *value]
        else:
            held = [value]
        for v in held:
            try:
                if isinstance(v, Broadcast):
                    v.destroy()
                elif isinstance(v, DataFrame) and v.is_cached:
                    v.unpersist()
            except Exception:  # noqa: BLE001 — a dead context must not block the reset
                pass
