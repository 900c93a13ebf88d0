"""octospark — a PySpark-native web main-content extraction engine.

A from-scratch re-imagining of the reference two-stage
segment-then-recognize pipeline (jahtz/octopy, read-only at
/root/reference/) for Common-Crawl-style page tables:

- stage 1 ``segment``: page html -> ordered candidate blocks with shallow
  text features (the web analog of baseline segmentation,
  reference: src/octopy/segment.py:159-180),
- stage 2 ``classify``: blocks -> labeled content spans with a never-drop
  fallback (reference: src/octopy/plugins/kraken_polygonizer.py:109-122),
- ``merge``: spans -> extracted text, byte-identical per url to the
  pure-Python reference extractor in :mod:`octospark.extractor`
  (reference: src/octopy/segment.py:117-157).

Everything here is public-knowledge Spark: DataFrame API, Arrow-batched
pandas UDFs, window functions. No per-row Python in the hot path.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

__version__ = "0.1.0"

MAX_HTML_BYTES = 20_000_000
"""Input size guard: a page whose html exceeds this is never parsed (analog
of the reference's MAX_IMAGE_PIXELS guard, src/octopy/__init__.py:25).
:func:`octospark.pipeline.extract_pages` checks it inside the UDF and
yields an empty-text ``size_guard`` row; the staged
:func:`octospark.pipeline.segment` filters such pages out before its UDF
and ``merge`` keeps them as empty-text rows."""


QUERIES: dict = {}
"""The operator registry: every query key's ``fn(spark, sf_dir) ->
DataFrame``, filled by :func:`register` when an operator module is
imported."""

ORACLE: dict = {}
"""Query key -> DuckDB-runnable ANSI SQL (a key without one is checked
rows-only)."""


def register(name: str, sql: str | None = None) -> Callable:
    """Decorator: register a query callable under ``name`` and
    (optionally) its DuckDB oracle. A name is registered once; a second
    registration raises instead of replacing the first."""

    def deco(fn: Callable) -> Callable:
        if name in QUERIES:
            raise ValueError(f"query key {name!r} is already registered")
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn

    return deco


def _stamp_zip_invalidation() -> None:
    """Give ``zipimporter.invalidate_caches`` CPython 3.13's cost on older
    interpreters: re-read an archive only when it changed.

    Before 3.13 each call re-reads the archive's whole central directory,
    and pyspark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task. A warmed worker holds 16 zip importers
    (pyspark.zip, the Spark core jar, py4j), so unwrapped each task spends
    about 0.2 s of CPU before its UDF runs. The wrapper re-reads when the
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from the one
    taken before the last re-read, or when the stat fails; the stamp is
    kept on the importer, so its first wrapped call still re-reads. Every
    worker that unpickles an octospark function imports this package, so
    after the task that imports it and the next one, its tasks start
    without the re-read. Installing twice wraps once."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stamped", False):
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except (OSError, ValueError):
            stamp = None
        if stamp is None or stamp != getattr(self, "_octospark_stamp", None):
            reread(self)
            self._octospark_stamp = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stamp_zip_invalidation()
