"""One memo for the pure Column builders of a pipeline.

A Column is a JVM object, so building one costs py4j round trips (two
or three per ``F.*`` call). The reference builds its processor chain
once and runs every event through it
(``libbeat/processors/processor.go:129-142``); here the same
expressions would otherwise be rebuilt for every run and every
micro-batch, 743 py4j calls per ``Pipeline.transform`` of the
headline chain. :func:`memo` keeps what a builder returned, keyed on
the builder's config and the input schema it read, and serves it while
the py4j gateway it was built under is the live one: a restarted JVM
starts an empty memo.

What a builder may memoize:

- Columns that name their inputs (``F.col``), never ``df["x"]``: that
  form is bound to one plan's attribute ids, a by-name expression binds
  to whatever plan it is used in.
- Nothing read from the data (``DnsEnrich`` resolves each input's own
  distinct names, so it builds its dim every call).
- Everything the Columns depend on goes into the key: config values
  (``repr`` of a config of plain values is exact) and ``df.schema``
  where the builder reads ``df.columns`` or a column's type.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Hashable, TypeVar

from pyspark import SparkContext

T = TypeVar("T")

#: entries kept; the least recently used goes first
MAX_ENTRIES = 512

_lock = threading.Lock()
_entries: OrderedDict = OrderedDict()
_gateway = None


def memo(key: Hashable, build: Callable[[], T]) -> T:
    """``build()``, once per ``key`` and live py4j gateway."""
    global _gateway
    gateway = SparkContext._gateway
    with _lock:
        if gateway is not _gateway:
            # a new JVM: what the old one built is unusable
            _entries.clear()
            _gateway = gateway
        if key in _entries:
            _entries.move_to_end(key)
            return _entries[key]
    value = build()
    with _lock:
        if gateway is _gateway:
            _entries[key] = value
            if len(_entries) > MAX_ENTRIES:
                _entries.popitem(last=False)
    return value
