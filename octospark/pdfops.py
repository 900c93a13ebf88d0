"""Spark surface for the PDF/layout extraction path.

Mirrors the html pipeline's shape: synthesize a binary ``pdf`` column
from the documents table inside Arrow-batched ``mapInPandas`` (the PDF
analog of :func:`octospark.sources.build_pages`), then run the fused
layout extractor over it in the same batch — build and parse are two
stages of one Python pass, so the plan has exactly one Python stage
and the parquet scan only reads the four columns it needs. At 100 TB
the ``pdf`` column would come from the lake instead of the generator;
the extraction stage is unchanged (pure function of the bytes,
byte-identical at any parallelism — same determinism law as the html
path, checked by the oracle below).

Scale notes: no shuffle at all — mapInPandas is a narrow
transformation, so extraction scales embarrassingly with input splits;
skew handling (salted repartition) composes in front of it exactly as
in octospark.pipeline when host-skewed inputs demand it.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octospark import ORACLE, QUERIES, register
from octospark.sources import load_table


_EXTRACT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_pages", T.IntegerType()),
    T.StructField("error", T.StringType()),
])

_BLOCKS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("page", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_lines", T.IntegerType()),
    T.StructField("y_top", T.DoubleType()),
])


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from octospark.pdfextract import extract_pdf  # worker-side import
    from octospark.pdfgen import build_pdf

    for pdf_batch in batches:
        doc_ids: list = []
        texts: list = []
        n_pages: list = []
        errors: list = []
        for d, t, lg, s in zip(pdf_batch["doc_id"], pdf_batch["text"],
                               pdf_batch["lang"], pdf_batch["source"]):
            r = extract_pdf(build_pdf(int(d), t, lg, s))
            doc_ids.append(int(d))
            texts.append(r["text"])
            n_pages.append(r["n_pages"])
            errors.append(r["error"])
        yield pd.DataFrame({"doc_id": doc_ids, "text": texts,
                            "n_pages": n_pages, "error": errors})


def _blocks_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from octospark.pdfextract import extract_pdf
    from octospark.pdfgen import build_pdf

    for pdf_batch in batches:
        cols: dict = {"doc_id": [], "page": [], "kind": [],
                      "n_lines": [], "y_top": []}
        for d, t, lg, s in zip(pdf_batch["doc_id"], pdf_batch["text"],
                               pdf_batch["lang"], pdf_batch["source"]):
            r = extract_pdf(build_pdf(int(d), t, lg, s))
            for b in r["blocks"]:
                cols["doc_id"].append(int(d))
                cols["page"].append(b["page"])
                cols["kind"].append(b["kind"])
                cols["n_lines"].append(len(b["lines"]))
                cols["y_top"].append(b["y_top"])
        yield pd.DataFrame(cols)


@register(
    "extract_pdf_layout",
    # The oracle IS the reconstruction law: layout extraction over the
    # synthesized PDFs must return every document's text byte-identical
    # (header/footer/margin boilerplate stripped by geometry). DuckDB
    # needs no PDF code — equality with the source column is the check.
    "SELECT doc_id, text FROM documents",
)
def extract_pdf_layout(spark: SparkSession, sf: str) -> DataFrame:
    """PDF/layout main-content extraction, end to end: documents ->
    deterministic multi-page PDFs (running header, page footer, margin
    note) -> tolerant content-stream parse -> geometric layout
    classification -> reading-order merge. One Python stage, no
    shuffle."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    return (
        docs.mapInPandas(_extract_batches, schema=_EXTRACT_SCHEMA)
        .select("doc_id", "text")
    )


@register(
    "pdf_layout_blocks",
    # Block inventory invariants ARE SQL-expressible: every document
    # yields one header, one footer, one margin block per page, and
    # >= 1 content block per non-empty page; pages = ceil(lines/38)
    # is not SQL-expressible (wrap depends on char positions), so the
    # oracle pins the per-kind block ratios instead, via the n_pages
    # the extractor itself reports — cross-checked per doc against the
    # header count, which a WRONG page split would break.
    None,
)
def pdf_layout_blocks(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document layout-block inventory (the region-table analog of
    the reference's segmentation regions): block counts per kind. Rows-
    only key; the hard invariants are pinned by tests/test_pdf.py."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    blocks = docs.mapInPandas(_blocks_batches, schema=_BLOCKS_SCHEMA)
    return (
        blocks.groupBy("doc_id")
        .pivot("kind", ["header", "footer", "margin", "content"])
        .agg(F.count(F.lit(1)))
        .orderBy("doc_id")
    )
