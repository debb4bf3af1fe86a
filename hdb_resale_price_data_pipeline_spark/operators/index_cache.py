"""One session artifact cache for every built index, model or statistic.

Queries build an artifact once — a persisted DataFrame, a driver-side
codebook, a broadcast bitset, a trained model, a footer row count — and
reuse it across calls in one session. This module owns the whole
caching policy; a caller makes one call (:func:`artifact`,
:func:`frame_artifact`, or the :func:`cached` decorator).

- **Key**: ``(tag, session_cache_key(spark), params, fingerprints)``,
  one :func:`fingerprint` per source. ``sources`` are the files or
  directories the build actually reads, so a dataset rewritten in
  place within one session rebuilds instead of serving results
  computed from the old files. Spark's own CacheManager matches cached
  data by plan, not by file contents, and would substitute the old
  persisted data into the rebuild; so a source seen with a new
  fingerprint first has Spark's cached data over it refreshed
  (``spark.catalog.refreshByPath``).
- **Bound**: one :class:`IndexCache` LRU of ``DEFAULT_MAX_ENTRIES`` per
  tag. Artifacts that must not crowd each other out (the statistics of
  each profiled table) get one tag each.
- **Release**: eviction or replacement unpersists every DataFrame and
  Broadcast inside the value, so executor storage stays bounded;
  :func:`clear` empties the registered tags and destroys their
  broadcasts. Every tag registers itself on first use, so ``clear()``
  is complete by construction.
- **Locking**: one lock guards the registry and each get/put. Builds
  run outside it, so independent builds overlap and a build may look
  up other artifacts. Two threads that miss on the same key both
  build; the later put replaces (and releases) the earlier value.

Artifacts that live on disk instead (stream landing directories,
stream state and checkpoint roots) get the same source key as a
directory name from :func:`stage_dir`.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
import threading
import weakref
from collections import OrderedDict
from typing import Any, Callable, Hashable, Iterable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

DEFAULT_MAX_ENTRIES = 4


class IndexCache:
    def __init__(self, max_entries: int = DEFAULT_MAX_ENTRIES) -> None:
        self.max_entries = max_entries
        self._data: OrderedDict[Hashable, Any] = OrderedDict()

    def get(self, key: Hashable) -> Any:
        value = self._data.get(key)
        if value is not None:
            self._data.move_to_end(key)  # LRU touch
        return value

    def put(self, key: Hashable, value: Any) -> Any:
        if key in self._data:
            self._release(self._data.pop(key))
        self._data[key] = value
        while len(self._data) > self.max_entries:
            _, evicted = self._data.popitem(last=False)
            self._release(evicted)
        return value

    def clear(self) -> None:
        while self._data:
            _, evicted = self._data.popitem(last=False)
            self._release(evicted, destroy=True)

    def __len__(self) -> int:
        return len(self._data)

    @staticmethod
    def _release(value: Any, destroy: bool = False) -> None:
        from pyspark import Broadcast

        parts = value if isinstance(value, (tuple, list)) else (value,)
        for part in parts:
            if isinstance(part, DataFrame):
                try:
                    part.unpersist()
                except Exception:
                    pass  # session already stopped — nothing to release
            elif isinstance(part, Broadcast):
                # Broadcast variables (e.g. the Bloom bitset) pin
                # executor+driver memory. LRU eviction must UNPERSIST,
                # not destroy: a still-unexecuted (or retained) plan that
                # captured the evicted broadcast re-fetches lazily from
                # the driver after unpersist but fails hard after
                # destroy. destroy() is reserved for clear() — explicit
                # session teardown, where no pending plan may outlive it.
                # The driver-side payload an unpersisted broadcast keeps
                # is NOT leaked for the session lifetime: eviction drops
                # this cache's strong reference, and Spark's
                # ContextCleaner destroys garbage-collected broadcasts
                # automatically (weak-ref tracking) once no plan holds
                # them either.
                try:
                    part.destroy() if destroy else part.unpersist()
                except Exception:
                    pass


_LOCK = threading.Lock()
_REGISTRY: dict[str, IndexCache] = {}
_SEEN: dict[str, tuple] = {}  # source -> its last fingerprint
_SESSION_UUIDS: "weakref.WeakKeyDictionary[object, str]" = weakref.WeakKeyDictionary()


def session_cache_key(spark) -> str:
    """Stable per-session key: applicationId (unique per started
    SparkContext) — unlike ``id()``, never reused after GC. Under Spark
    Connect the server-side app id comes from the conf; if even that is
    absent, a uuid pinned to the session via a weak-keyed dict (an
    ``id()`` fallback would alias a new session at a recycled address
    to a dead one's cache entries)."""
    try:
        return str(spark.sparkContext.applicationId)
    except Exception:
        app_id = spark.conf.get("spark.app.id", None)
        if app_id:
            return str(app_id)
        import uuid

        if spark not in _SESSION_UUIDS:
            _SESSION_UUIDS[spark] = f"session-{uuid.uuid4().hex}"
        return _SESSION_UUIDS[spark]


def _local_path(source: str) -> str:
    return unquote(urlparse(source).path) if source.startswith("file:") else source


def fingerprint(source: str) -> tuple:
    """``(path, size, st_mtime_ns)`` of every file under ``source`` (a
    file, or a directory walked recursively with symlinks followed;
    ``file:`` URIs are stripped to local paths). One ``os.stat`` per
    file, so a concurrent rewrite cannot mint a key matching neither
    version. A store without ``os.stat`` (any OSError) falls back to
    the bare path: non-local sources are immutable per session by
    contract."""
    path = _local_path(source)
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return ((path, st.st_size, st.st_mtime_ns),)
        entries = []
        for root, dirs, files in os.walk(path, followlinks=True):
            dirs.sort()
            for name in sorted(files):
                f = os.path.join(root, name)
                st = os.stat(f)
                entries.append((f, st.st_size, st.st_mtime_ns))
        return tuple(entries)
    except OSError:
        return (path,)


def stage_dir(
    kind: str,
    sources: Iterable[str],
    params: Hashable,
    build: Callable[[str], None] | None = None,
) -> str:
    """The directory ``hdb_{kind}_{digest}`` under the system temp
    directory, the digest hashing ``kind``, ``params`` and the
    :func:`fingerprint` of each source, so a rewritten source or a
    changed parameter never reuses a stale directory.

    With ``build``, a missing directory is built by ``build(tmp)`` into
    a sibling temp directory and published with one ``os.rename``: a
    build that fails or is killed never leaves a half-built directory
    at the returned path. Two processes or threads that race both
    build; the loser of the rename deletes its copy."""
    key = repr((kind, params, [fingerprint(os.path.abspath(s)) for s in sources]))
    name = f"hdb_{kind}_{hashlib.md5(key.encode()).hexdigest()[:16]}"
    path = os.path.join(tempfile.gettempdir(), name)
    if build is None or os.path.isdir(path):
        return path
    tmp = tempfile.mkdtemp(prefix=f"{name}.", dir=tempfile.gettempdir())
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise  # not a lost race
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # gone once published
    return path


def table_paths(sf_dir: str, tables: Iterable[str]) -> list[str]:
    """The files ``sources.read_table`` reads for ``tables``."""
    return [f"{sf_dir}/{name}.parquet" for name in tables]


def cache(tag: str) -> IndexCache:
    """The registered LRU holding ``tag``'s artifacts."""
    with _LOCK:
        return _REGISTRY.setdefault(tag, IndexCache())


def artifact(
    spark, tag: str, sources: Iterable[str], params: Hashable, build: Callable[[], Any]
) -> Any:
    """Get-or-build the artifact ``build()`` returns. ``spark`` is None
    for session-independent artifacts (file metadata). A build that
    returns None is not cached."""
    prints = {source: fingerprint(source) for source in sources}
    key = (
        tag,
        None if spark is None else session_cache_key(spark),
        params,
        tuple(prints.values()),
    )
    store = cache(tag)
    with _LOCK:
        if spark is not None:
            for source, fp in prints.items():
                if _SEEN.setdefault(source, fp) != fp:
                    spark.catalog.refreshByPath(source)
                    _SEEN[source] = fp
        value = store.get(key)
    if value is None:
        value = build()
        if value is not None:
            with _LOCK:
                store.put(key, value)
    return value


def frame_artifact(df: DataFrame, tag: str, params: Hashable, build: Callable[[], Any]) -> Any:
    """:func:`artifact` keyed on the files ``df`` reads. A frame with
    no input files (in-memory) is never cached: nothing in the key
    would tell two of them apart."""
    try:
        files = sorted(df.inputFiles())
    except Exception:
        files = []
    if not files:
        return build()
    return artifact(df.sparkSession, tag, files, params, build)


def cached(tag: str, tables: tuple[str, ...] = (), params: Hashable = ()):
    """:func:`artifact` as a decorator for builders taking
    ``(spark, sf_dir[, table])``: the sources are ``tables`` (plus
    ``table``) under ``sf_dir``, and a ``table`` argument also extends
    the tag, so each table gets its own LRU."""

    def decorate(build):
        @functools.wraps(build)
        def get_or_build(spark, sf_dir: str, *table: str):
            return artifact(
                spark,
                ".".join((tag, *table)),
                table_paths(sf_dir, tables + table),
                params,
                lambda: build(spark, sf_dir, *table),
            )

        return get_or_build

    return decorate


def registry() -> dict[str, IndexCache]:
    """A snapshot of the registered tags and their LRUs."""
    with _LOCK:
        return dict(_REGISTRY)


def clear(prefix: str = "") -> None:
    """Release every artifact whose tag starts with ``prefix`` (all of
    them by default), destroying cached broadcasts."""
    with _LOCK:
        for tag, store in _REGISTRY.items():
            if tag.startswith(prefix):
                store.clear()
