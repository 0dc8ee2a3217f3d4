"""The session memo: one cache for every per-application value the
engine reuses across queries (inferred parquet schemas, trained
quantizers, localCheckpointed shared relations, staged stream sources,
index-store roots and freshness verdicts).

A value is stored in a slot (name, key) as one (version, value) pair:

- Entries belong to the current Spark application. The first call
  under a new applicationId drops every entry, so a restarted session
  never sees a checkpoint bound to a dead context.
- A call with a different `version` for the same slot rebuilds the
  value and replaces the slot: a refreshed store watermark, a changed
  quantizer fingerprint or a rewritten corpus supersedes the old entry
  instead of pinning it next to the new one.
- `valid(value)`, when given, is checked on every hit; an entry that
  fails it is rebuilt (a staged directory that was removed or never
  finished writing).
- MAX_ENTRIES bounds the total entry count, least recently used first.

Evicting an entry only drops the Python reference. The blocks of an
evicted localCheckpoint are freed by Spark's ContextCleaner once the
JVM collects the RDD, not at eviction.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Any, Callable

from pyspark.sql import SparkSession

MAX_ENTRIES = 256

_LOCK = threading.Lock()
_ENTRIES: OrderedDict[tuple[str, Any], tuple[Any, Any]] = OrderedDict()
_app: str | None = None


def session_memo(
    spark: SparkSession,
    name: str,
    key: Any,
    build: Callable[[], Any],
    *,
    version: Any = None,
    valid: Callable[[Any], bool] | None = None,
) -> Any:
    """The value in slot (name, key) if it was built under this
    application with this version (and passes `valid`); otherwise
    build() it, store it and return it. build() runs outside the lock,
    so it may call session_memo itself; two threads missing the same
    slot may both build, and the last one stored wins."""
    global _app
    app = spark.sparkContext.applicationId
    slot = (name, key)
    with _LOCK:
        if app != _app:
            _ENTRIES.clear()
            _app = app
        hit = _ENTRIES.get(slot)
        if hit is not None and hit[0] == version and (valid is None or valid(hit[1])):
            _ENTRIES.move_to_end(slot)
            return hit[1]
    value = build()
    with _LOCK:
        if app == _app:  # a newer application started mid-build: keep nothing
            _ENTRIES[slot] = (version, value)
            _ENTRIES.move_to_end(slot)
            while len(_ENTRIES) > MAX_ENTRIES:
                _ENTRIES.popitem(last=False)
    return value


def clear(name: str | None = None) -> None:
    """Drop every entry, or every entry of one name."""
    with _LOCK:
        for slot in [s for s in _ENTRIES if name is None or s[0] == name]:
            del _ENTRIES[slot]


def entries(name: str) -> dict[Any, tuple[Any, Any]]:
    """{key: (version, value)} of one name's entries, a snapshot."""
    with _LOCK:
        return {s[1]: e for s, e in _ENTRIES.items() if s[0] == name}
