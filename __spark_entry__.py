"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction at sf0.001;
``queries()``/``oracle_sql()`` expose the operator surface from
SURVEY.md §2.2 plus the training-data-pipeline extras (dedup,
similarity, text analysis), each checked against a DuckDB oracle
where SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthesize pages from sf0.001 documents, run the fused
    two-stage extraction, return extracted(url, warc_ts, text, spans,
    lang, n_blocks, error)."""
    from octospark.pipeline import extract_pages
    from octospark.sources import build_pages

    pages = build_pages(spark, "/root/testdata/sf0.001")
    return extract_pages(pages, salted=True, num_partitions=8)


def _registry():
    """Import the seven operator modules, which fill the one registry;
    the import order is the key order of the surface."""
    import octospark
    import octospark.relational
    import octospark.sketchops
    import octospark.textops
    import octospark.mediaops
    import octospark.pdfops
    import octospark.warcops
    import octospark.webops  # noqa: F401

    return octospark


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2.2 + extras)."""
    return dict(_registry().QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query key (omitted => rows-only)."""
    return dict(_registry().ORACLE)
