"""The Spark extraction pipeline — three DataFrame transformations.

Two equivalent paths over the same semantics (both import the SAME
pure functions from :mod:`octospark.extractor`, so extracted text is
byte-identical per url between them and to the pure-Python oracle):

1. **Fused fast path** :func:`extract_pages` — one ``mapInPandas`` doing
   segment+classify+merge per page. Zero shuffles after the (optional)
   salted repartition; this is the production 100 TB path. Python cost is
   one Arrow round-trip per page batch.

2. **Staged declarative path** :func:`segment` -> :func:`classify` ->
   :func:`merge` — stage 1 is the only Python stage (DOM walk must be)
   and emits each block's structural label (the tag rules of
   :func:`octospark.extractor._structural`), as the reference's
   segmentation emits each unit's class; stage 2 classification
   resolves the rest in PURE Spark column expressions + window lag/lead
   (JVM, whole-stage codegen): the word-count cascade, or the learned
   scorer when a fitted model is given; stage 3 merge is
   window/array_sort/array_join built-ins. A page is keyed by
   ``(url, warc_ts)``, so the re-crawls of one url stay apart. Used for
   analysis queries (label stats, span tables) and to keep the
   classifier declarative.

Scale notes (SURVEY.md §4):
- Catalyst does NOT push predicates through ``mapInPandas``. The staged
  :func:`segment` places the size guard and null filter before its UDF,
  by hand; the fused :func:`extract_pages` runs the guard inside the UDF,
  so its plan scans the pages table once and a guarded page still
  yields its ``size_guard`` row.
- ``html`` is pruned from every projection after the UDF stage.
- Skew: one giant host must not pin a single task — see
  :func:`salted_repartition` (north_rule requirement).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octospark import MAX_HTML_BYTES
from octospark.extractor import (
    CONTENT_LABELS,
    _LINK_DENSITY_MAX,
    _PREV_LINK_DENSITY_HIGH,
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("structural", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        T.StructField("n_link_chars", T.IntegerType(), True),
        T.StructField("link_density", T.DoubleType(), True),
        T.StructField("text_density", T.DoubleType(), True),
        T.StructField("char_hist", T.ArrayType(T.IntegerType()), True),
    ]
)


# --------------------------------------------------------------------------
# fused fast path
# --------------------------------------------------------------------------

def _make_extract_batches(max_bytes: int):
    def _extract_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from octospark.extractor import extract_row  # lazy import in worker

        # inline size guard: oversized/null html is never parsed but
        # still yields a row (never-drop; reference analog
        # MAX_IMAGE_PIXELS, src/octopy/__init__.py:25)
        guard_row = ("", [], 0, "size_guard")
        for pdf in batches:
            # columnar assembly: fill the four output columns directly
            # instead of a row-tuple list re-traversed per column
            texts: list = []
            spans: list = []
            n_blocks: list = []
            errors: list = []
            for h in pdf["html"]:
                text, sp, nb, err = (
                    guard_row if h is None or len(h) > max_bytes
                    else extract_row(h)
                )
                texts.append(text)
                spans.append(sp)
                n_blocks.append(nb)
                errors.append(err)
            yield pd.DataFrame(
                {
                    "url": pdf["url"].values,
                    "warc_ts": pdf["warc_ts"].values,
                    "text": texts,
                    "spans": spans,
                    "lang": pdf["lang"].values,
                    "n_blocks": n_blocks,
                    "error": errors,
                }
            )

    return _extract_batches


def extract_pages(
    pages: DataFrame,
    max_bytes: int = MAX_HTML_BYTES,
    salted: bool = False,
    num_partitions: int | None = None,
    skewed_hosts: list | None = None,
) -> DataFrame:
    """pages -> extracted(url, warc_ts, text, spans, lang, n_blocks, error).

    One output row per input row, always (never-drop). Pure per-row UDF
    ⇒ result is invariant under any partitioning. The size guard runs
    inside the UDF, so the plan has ONE scan of the pages table: an
    oversized or null html crosses Arrow once but is never parsed, and
    yields an empty-text row with ``error='size_guard'``. Works on a
    batch or a streaming ``pages`` frame."""
    src = pages.select("url", "warc_ts", "html", "lang")  # prune golden text
    if salted:
        src = salted_repartition(
            src, num_partitions=num_partitions, skewed_hosts=skewed_hosts
        )
    return src.mapInPandas(_make_extract_batches(max_bytes), EXTRACTED_SCHEMA)


# --------------------------------------------------------------------------
# staged path — stage 1: segment (the only Python stage)
# --------------------------------------------------------------------------

def _segment_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from octospark.extractor import _structural, segment_blocks  # in worker

    for pdf in batches:
        # columnar assembly: per-column lists, not row tuples — pandas
        # builds each column in one shot instead of transposing rows,
        # and the numeric columns land as real numpy arrays (VERDICT r2
        # #6; the per-page DOM walk itself is the irreducible part)
        # the page key (url, warc_ts) is taken from pdf by each block's row
        page: list = []
        cols: dict = {f.name: [] for f in BLOCKS_SCHEMA.fields[2:]}
        ap = {k: v.append for k, v in cols.items()}
        for row, html in enumerate(pdf["html"]):
            for b in segment_blocks(html):
                page.append(row)
                ap["block_id"](b.block_id)
                ap["structural"](
                    _structural(b.node, b.n_words, b.link_density)
                )
                ap["depth"](b.depth)
                ap["text"](b.text)
                ap["n_chars"](b.n_chars)
                ap["n_words"](b.n_words)
                ap["n_link_chars"](b.n_link_chars)
                ap["link_density"](b.link_density)
                ap["text_density"](b.text_density)
                ap["char_hist"](b.char_hist)
        page_idx = np.asarray(page, dtype=np.intp)
        yield pd.DataFrame({
            "url": pdf["url"].values[page_idx],
            "warc_ts": pdf["warc_ts"].values[page_idx],
            **cols,
        })


def segment(pages: DataFrame) -> DataFrame:
    """Stage 1: pages -> blocks (:data:`BLOCKS_SCHEMA`; DOM order =
    block_id order per ``(url, warc_ts)`` page). Each block carries its
    features and ``structural``, the label its open tags force (null
    when none does), which :func:`classify` takes as is.

    The size guard (reference analog: MAX_IMAGE_PIXELS, reference
    src/octopy/__init__.py:25) filters null and
    oversized html BEFORE the UDF, so it never ships to Python; such a
    page has no blocks, and :func:`merge` still keeps it
    as an empty-text row (never-drop law, FIXTURES.md §D)."""
    ok = pages.filter(
        F.col("html").isNotNull() & (F.length("html") <= MAX_HTML_BYTES)
    )
    return ok.select("url", "warc_ts", "html").mapInPandas(
        _segment_batches, BLOCKS_SCHEMA
    )


# --------------------------------------------------------------------------
# staged path — stage 2: classify, as pure Spark expressions
# --------------------------------------------------------------------------

# The rule constants are octospark.extractor's own; the floats compare
# bit-identically because both sides compute IEEE-754 float64 from the
# same integers.

CONTEXT_COLS = ("prev_words", "next_words", "prev_link_density")


def with_context(blocks: DataFrame) -> DataFrame:
    """blocks -> blocks + :data:`CONTEXT_COLS`: the previous block's
    word count, the next block's word count and the previous block's
    link density within the page (0 at the page edges), from
    ``lag``/``lead`` over block_id within each ``(url, warc_ts)`` page —
    the Spark analog of Boilerpipe's prev/next context. The one window
    shared by the rule cascade (:func:`classify`) and the learned
    scorer."""
    w = Window.partitionBy("url", "warc_ts").orderBy("block_id")
    return blocks.withColumns({
        "prev_words": F.coalesce(F.lag("n_words", 1).over(w), F.lit(0)),
        "next_words": F.coalesce(F.lead("n_words", 1).over(w), F.lit(0)),
        "prev_link_density": F.coalesce(
            F.lag("link_density", 1).over(w), F.lit(0.0)
        ),
    })


def classify(blocks: DataFrame, model: dict | None = None) -> DataFrame:
    """Stage 2: blocks -> blocks + ``label``, entirely JVM-side.

    A block's ``structural`` label from stage 1 (nearest forced
    ancestor, heading, caption, then table with the layout-table
    carve-out: :func:`octospark.extractor._structural`) comes first. A
    block without one is labeled by the word-count rule cascade (the
    expression translation of the rest of
    :func:`octospark.extractor._label`, neighbor features from
    :func:`with_context`) when ``model`` is None, and otherwise by the
    fitted scorer ``model`` — the dict
    :func:`octospark.scorer.fit_scorer` returns or
    :func:`octospark.scorer.load_model` reads back — as ``content`` or
    ``noise`` (:func:`octospark.scorer.score_blocks`). Structural labels
    are therefore the same with or without a model. This is the
    plugin-choice analog (reference src/octopy/segment.py:52-57), chosen
    by whether a fitted model exists."""
    if model is None:
        framed = with_context(blocks)
        n_words, next_words = F.col("n_words"), F.col("next_words")
        rest = F.when(
            F.col("link_density") > F.lit(_LINK_DENSITY_MAX),
            F.lit("boilerplate-nav"),
        ).otherwise(
            F.when(
                F.col("prev_link_density") > F.lit(_PREV_LINK_DENSITY_HIGH),
                F.when(
                    (n_words > 40) | (next_words > 17), F.lit("content")
                ).otherwise(F.lit("noise")),
            ).otherwise(
                F.when(
                    (n_words > 16)
                    | (next_words > 15)
                    | (F.col("prev_words") > 4),
                    F.lit("content"),
                ).otherwise(F.lit("noise"))
            )
        )
        added = CONTEXT_COLS
    else:
        from octospark.scorer import score_blocks

        framed = score_blocks(blocks, model)
        rest = F.col("scored_label")
        added = ("score", "scored_label")

    label = F.coalesce(
        F.col("structural"),
        rest,
        # never-drop fallback: any null that slips through
        F.lit("unknown"),
    )
    return framed.withColumn("label", label).drop(*added)


# --------------------------------------------------------------------------
# staged path — merge: spans + text via built-ins only
# --------------------------------------------------------------------------

def merge(labeled_blocks: DataFrame, pages: DataFrame) -> DataFrame:
    """Stage 3: labeled blocks + pages -> extracted(url, warc_ts, text,
    spans, lang), one row per page.

    Offsets computed with a running-sum window (ROWS UNBOUNDED PRECEDING),
    assembly with array_sort + array_join — no Python. A page is its
    ``(url, warc_ts)`` pair, so each re-crawl of a url keeps its own
    text, and the merged rows join back to ``pages`` null-safely on both
    columns, so a page with a null ``warc_ts`` keeps its text too. A
    page with zero content blocks keeps its row with empty text and no
    spans (never-drop law). Two rows that share url and ``warc_ts`` are
    one page to this path (FIXTURES.md §D)."""
    content = labeled_blocks.filter(
        F.col("label").isin(*sorted(CONTENT_LABELS))
    ).select("url", "warc_ts", "block_id", "text", "label",
             F.length("text").alias("len"))

    w = (
        Window.partitionBy("url", "warc_ts")
        .orderBy("block_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_end = content.withColumn(
        "end", F.sum(F.col("len") + F.lit(1)).over(w) - F.lit(1)
    ).withColumn("start", F.greatest(F.lit(0), F.col("end") - F.col("len")))

    merged = (
        with_end.groupBy("url", "warc_ts")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("block_id", "start", "end", "label", "text")
                )
            ).alias("ordered")
        )
        .select(
            "url",
            "warc_ts",
            # block texts are never empty, so joining with "\n" is the
            # extractor's separator rule
            F.array_join(
                F.transform("ordered", lambda x: x["text"]), "\n"
            ).alias("text"),
            F.transform(
                "ordered",
                lambda x: F.struct(
                    x["block_id"].alias("block_id"),
                    x["start"].alias("start"),
                    x["end"].alias("end"),
                    x["label"].alias("label"),
                ),
            ).alias("spans"),
        )
    )
    p, m = pages.select("url", "warc_ts", "lang").alias("p"), merged.alias("m")
    return p.join(
        m,
        (F.col("p.url") == F.col("m.url"))
        & F.col("p.warc_ts").eqNullSafe(F.col("m.warc_ts")),
        "left",
    ).select(
        "p.url",
        "p.warc_ts",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce(
            "spans", F.array().cast(T.ArrayType(SPAN_TYPE))
        ).alias("spans"),
        "lang",
    )


# --------------------------------------------------------------------------
# latest-crawl-wins dedup (duplicate url at two warc_ts — FIXTURES.md §C
# case 10; the as-of/DISTINCT ON pattern, oracle-checked as
# join_asof_latest in octospark.relational)
# --------------------------------------------------------------------------

def dedup_latest(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (ties broken by larger html so the
    choice is total and deterministic)."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc_nulls_last(),
        F.length("html").desc_nulls_last(),
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# --------------------------------------------------------------------------
# skew mitigation (north_rule: explicit salt-based handling of giant hosts)
# --------------------------------------------------------------------------

def host_of(url_col: Column) -> Column:
    """Extract the host from a url (pure expression)."""
    return F.regexp_extract(url_col, r"^[a-z]+://([^/]+)/?", 1)


def find_skewed_hosts(
    pages: DataFrame, threshold_fraction: float = 0.05, min_pages: int = 10_000
) -> list:
    """First-pass host histogram to find giant hosts (> max(
    threshold_fraction * total, min_pages) pages). At 100 TB this is a
    cheap column-pruned scan of ``url`` only. One aggregate, a
    ``rollup(host)``, yields both the per-host counts and the total;
    only the total and the hosts over ``min_pages`` (each cutoff is at
    least that, so the list is bounded) are collected, and the cutoff
    is applied on the driver."""
    rows = (
        pages.select(host_of(F.col("url")).alias("host"))
        .rollup("host")
        .agg(F.count("*").alias("n"), F.grouping_id().alias("total"))
        .filter((F.col("n") > min_pages) | (F.col("total") == 1))
        .collect()
    )
    total = sum(r["n"] for r in rows if r["total"])
    cutoff = max(int(total * threshold_fraction), min_pages)
    return [r["host"] for r in rows if not r["total"] and r["n"] > cutoff]


def salted_repartition(
    df: DataFrame,
    num_partitions: int | None = None,
    skewed_hosts: list | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Repartition by url-hash with salt for skewed hosts.

    Base key is ``xxhash64(url)`` (uniform across DISTINCT urls). When
    ``skewed_hosts`` is given, their rows get a ROW-LEVEL salt — not a
    function of url alone — so even a single hot url repeated millions
    of times (a re-crawl dump, the worst real crawl skew) spreads over
    ``salt_buckets`` partitions; a url-keyed salt would send every
    replica of one url back to one partition. The salt uses
    monotonically_increasing_id, deterministic given the input
    partitioning; placement never affects results because extraction
    is a pure per-row UDF (the byte-identity checksum is asserted
    across local[2/8/32]). Safe for extraction because the unit of
    work is one page (spans never split across salts) — SURVEY.md §7.3."""
    key = F.xxhash64(F.col("url"))
    if skewed_hosts:
        salt = F.when(
            host_of(F.col("url")).isin(*skewed_hosts),
            F.pmod(
                F.xxhash64(F.col("url"), F.monotonically_increasing_id()),
                F.lit(salt_buckets),
            ),
        ).otherwise(F.lit(0))
        df = df.withColumn("_salt", salt)
        out = (
            df.repartition(num_partitions, F.col("_salt"), key)
            if num_partitions
            else df.repartition(F.col("_salt"), key)
        )
        return out.drop("_salt")
    return df.repartition(num_partitions, key) if num_partitions else df.repartition(key)
