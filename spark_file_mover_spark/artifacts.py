"""One store for the artifacts that queries reuse across calls.

An artifact is anything derived once from immutable inputs and reused
by later calls: a persisted or checkpointed relation, a built plan, a
set of expression fragments, or a temp directory written as setup.
Each lives under a ``name`` together with the key it was built for:

* corpus-derived entries (``sf_dir`` given) key on
  :func:`sources.io.artifact_cache_key` — the SparkContext plus the
  corpus fingerprint, so a context restart or an in-place rewrite of
  the input files misses;
* expression fragments (``sf_dir=None``) key on the applicationId
  alone — unresolved Columns bind to no plan, only to a JVM.

One entry lives per name: a miss calls ``release`` on the entry it
supersedes before building. Release errors are logged, never raised
(the superseded relation may belong to a stopped session). While
:data:`checkpoints.LAZY_ACTIVE` is set the store is bypassed — no
read, no write, no eviction — so an entry built against plan-only
tooling's empty-leaf barriers never serves a production call, and the
tooling never evicts a production entry. One re-entrant lock guards
lookup and build together, so concurrent callers build a name once;
builds nest (the IVF-PQ index build reads the k-means model).
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

from spark_file_mover_spark import checkpoints

_log = logging.getLogger(__name__)
_lock = threading.RLock()
# name -> (key, value, release)
_entries: dict[str, tuple[tuple, Any, Callable[[Any], None] | None]] = {}


def _key(spark: SparkSession, sf_dir: str | None) -> tuple:
    if sf_dir is None:
        return (spark.sparkContext.applicationId,)
    from spark_file_mover_spark.sources.io import artifact_cache_key

    return artifact_cache_key(spark, sf_dir)


def _release(name: str, entry: tuple) -> None:
    _, value, release = entry
    if release is None:
        return
    try:
        release(value)
    except Exception:
        _log.warning("releasing artifact %r failed", name, exc_info=True)


def _get(spark, name, build, sf_dir, release, live):
    if checkpoints.LAZY_ACTIVE:
        return build()
    key = _key(spark, sf_dir)
    with _lock:
        entry = _entries.get(name)
        if entry is not None and entry[0] == key and live(entry[1]):
            return entry[1]
        if entry is not None:
            del _entries[name]
            _release(name, entry)
        value = build()
        _entries[name] = (key, value, release)
        return value


def get_or_build(
    spark: SparkSession,
    name: str,
    build: Callable[[], Any],
    *,
    sf_dir: str | None = None,
    release: Callable[[Any], None] | None = None,
) -> Any:
    """The live value of ``name`` if it was built for the current key,
    else ``build()`` — stored under ``name`` after releasing the entry
    it supersedes. ``release=None`` leaves a superseded value to the
    garbage collector (checkpointed relations free their blocks through
    the ContextCleaner once dereferenced; unpersisting one would break
    its truncated lineage)."""
    return _get(spark, name, build, sf_dir, release, lambda _v: True)


def get_or_build_dir(
    spark: SparkSession, name: str, build: Callable[[], str], *, sf_dir: str
) -> str:
    """:func:`get_or_build` for temp-dir fixtures: ``build`` writes a
    fresh directory and returns its path. A hit also requires the
    directory to still exist (an OS tmp reaper may remove it under a
    long session); release removes it, and so does interpreter exit —
    also for a directory built while the store is bypassed."""
    path = _get(spark, name, build, sf_dir, _rmtree, os.path.isdir)
    if checkpoints.LAZY_ACTIVE:
        atexit.register(_rmtree, path)
    return path


def unpersist(value: Any) -> None:
    """``release`` for persisted relations: unpersist the value, or
    each DataFrame in a tuple value (other tuple items are skipped)."""
    for v in value if isinstance(value, tuple) else (value,):
        if hasattr(v, "unpersist"):
            v.unpersist()


def _rmtree(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)


def peek(name: str) -> Any:
    """The live value stored under ``name`` (whatever key it was built
    for), or None."""
    with _lock:
        entry = _entries.get(name)
    return None if entry is None else entry[1]


def names() -> list[str]:
    """Names of the live entries."""
    with _lock:
        return sorted(_entries)


def evict(name: str) -> None:
    """Release and drop the entry stored under ``name``, if any."""
    with _lock:
        entry = _entries.pop(name, None)
    if entry is not None:
        _release(name, entry)


@atexit.register
def _remove_dirs() -> None:
    for name, (_, _, release) in list(_entries.items()):
        if release is _rmtree:
            evict(name)
