"""Session-scoped memo for driver-built artifacts.

Table handles, trained models (IVF centroids, PQ codebooks, BPE merges,
unigram pieces, WordPiece vocabularies, language-ID weights), prepared
Bloom filters, the retrieval core and constructed langid expressions are
pure functions of their inputs and costly to rebuild per query. Each is
built once per SparkSession and fixture content through :func:`memo`,
which holds the whole caching contract:

- **Key** ``(applicationId, spec)``. ``spec`` is an explicit hashable
  tuple: the artifact name first, then everything the build depends on —
  the fixture dir and a :func:`dir_fingerprint` of every fixture file the
  build reads (:func:`fixture_spec` assembles that form). Never a
  ``str(Column)``: columns bound to different DataFrames print alike.
  A regenerated fixture gets a new fingerprint, so it rebuilds instead
  of serving a stale artifact.
- **Purge.** A miss first drops every entry of other applications. One
  SparkContext is live per process, so those entries pin stopped-session
  JVM plans and dead py4j references.
- **Cap.** At most :data:`CAP` entries per artifact name within one
  application, least recently used evicted first — a long session that
  alternates fixtures or retrains models stays bounded.
- **Stats.** :func:`stats` gives per-name hit and miss counts;
  :func:`entries` the live values of one name.

Driver-side only; executors never see this module. A lock guards the
table, not the build, so two threads missing the same key at once may
both build; the later value wins.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Any, Callable, NamedTuple

from pyspark.sql import SparkSession

CAP = 32

_ENTRIES: OrderedDict[tuple, Any] = OrderedDict()  # LRU order, oldest first
_COUNTS: dict[str, list[int]] = {}  # name -> [hits, misses]
_LOCK = threading.Lock()


class Stats(NamedTuple):
    hits: int
    misses: int


def memo(spark: SparkSession, spec: tuple, build: Callable[[], Any]) -> Any:
    """``build()`` once per ``(applicationId, spec)``; later calls return
    the stored value. See the module docstring for the contract."""
    key = (spark.sparkContext.applicationId, spec)
    name = spec[0]
    with _LOCK:
        counts = _COUNTS.setdefault(name, [0, 0])
        if key in _ENTRIES:
            _ENTRIES.move_to_end(key)
            counts[0] += 1
            return _ENTRIES[key]
        counts[1] += 1
    # outside the lock: builds nest (a trained model loads its tables)
    value = build()
    with _LOCK:
        for k in [k for k in _ENTRIES if k[0] != key[0]]:
            del _ENTRIES[k]
        _ENTRIES[key] = value
        for k in [k for k in _ENTRIES if k[1][0] == name][:-CAP]:
            del _ENTRIES[k]
    return value


def stats(name: str) -> Stats:
    return Stats(*_COUNTS.get(name, (0, 0)))


def entries(name: str) -> list:
    with _LOCK:
        return [v for (_app, spec), v in _ENTRIES.items() if spec[0] == name]


def dir_fingerprint(path: str) -> tuple:
    """Content fingerprint of a parquet file-or-directory: sorted
    (relpath, size, mtime_ns) of every regular file under it. Driver-side
    metadata stat only — never reads data; cost is O(#files), bounded by
    the fixture layout, not the corpus."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            st = os.stat(fp)
            out.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def fixture_spec(name: str, sf_dir: str, *tables: str) -> tuple:
    """``spec`` for an artifact built from the named fixture tables:
    ``(name, sf_dir, (table, fingerprint), ...)``."""
    return (name, sf_dir) + tuple(
        (t, dir_fingerprint(os.path.join(sf_dir, f"{t}.parquet"))) for t in tables
    )
