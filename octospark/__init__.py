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

from collections.abc import Callable

__version__ = "0.1.0"

MAX_HTML_BYTES = 20_000_000
"""Input size guard: pages whose html exceeds this are filtered out before
the UDF stage (analog of the reference's MAX_IMAGE_PIXELS guard,
src/octopy/__init__.py:25) but still counted in lineage."""


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
