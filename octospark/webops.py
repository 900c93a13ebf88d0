"""Web-graph and corpus-curation operators, round 4 additions:
anchor-text aggregation, structured table-field extraction, per-host
document quotas, and CCNet-style per-language LM-score bucketing.

Same contract discipline as :mod:`octospark.textops`: hot paths are
JVM built-ins (regexp pulls, windows, exact-int aggregates); every key
carries a DuckDB oracle that reconstructs the expected output from the
deterministic page-template rules (octospark/htmlgen.py — pure
functions of doc_id), so the driver's value-hash comparison is exact.

Reference analog map (for the parity audit): the reference's
segment-merge-classify loop treats repeated page chrome as a learned
prior (reference src/octopy/segment.py regions / train.py class stats);
these keys are the corpus-side tables that prior is computed from.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from octospark import ORACLE, QUERIES, register
from octospark.sources import build_pages, load_table
from octospark.session import materialize
from octospark.textops import (
    _WORD_FREQ_CTES_SQL,
    _words,
    word_frequency_scored,
)


# --------------------------------------------------------------------------
# link_anchor_text — per-target anchor-text census
# --------------------------------------------------------------------------

# The synthesized templates (htmlgen.py) put every <a> tag in one of
# four fixed blocks, each a pure function of doc_id % 6 — so the exact
# (href, anchor) multiset per page is reconstructable in SQL. '|' is
# safe as a pair separator: no template anchor or href contains it.
_ANCHOR_PAIRS_SQL = """
    (CASE WHEN doc_id % 6 IN (0, 1, 2, 4, 5) THEN
        ['/|Home', '/news|News', '/about|About us', '/contact|Contact',
         '/login|Log in', '/signup|Sign up']
      ELSE [] END
     || ['/topics|topics', '/privacy|Privacy', '/terms|Terms',
         '/sitemap|Sitemap']
     || CASE WHEN doc_id % 6 = 1 THEN
          ['/deal1|Shop now', '/deal2|Click here', '/deal3|Learn more']
        ELSE [] END
     || CASE WHEN doc_id % 6 IN (1, 4) THEN
          ['/r1|Related story one', '/r2|Related story two',
           '/r3|Related story three', '/r4|Related story four',
           '/r5|Related story five']
        ELSE [] END)
    """

_ANCHOR_SQL = f"""
    WITH pairs AS (
      SELECT doc_id, unnest({_ANCHOR_PAIRS_SQL}) AS p
      FROM documents)
    SELECT string_split(p, '|')[1] AS href,
           string_split(p, '|')[2] AS anchor,
           count(*) AS n_links,
           count(DISTINCT doc_id) AS n_pages
    FROM pairs
    GROUP BY href, anchor
    """


@register("link_anchor_text", _ANCHOR_SQL)
def link_anchor_text(spark, sf):
    """Anchor-text aggregation per link target — the table web corpora
    derive link-context metadata from (anchor text is the classic
    relevance signal for a target page, and aggregated anchor phrases
    feed query/title augmentation for training data). Per (href,
    anchor-text) pair: total link count and distinct linking pages.

    Scale shape: the <a>-tag pull is a single JVM ``regexp_extract_all``
    over the decoded html (group 0 — whole tags), then two per-tag
    ``regexp_extract`` projections split href from anchor — all
    codegen, zero Python. One groupBy shuffle on (href, anchor);
    count/countDistinct(url) partial-aggregate map-side, and at corpus
    scale the hot keys (sitewide footer links, linked from every page)
    are exactly the partial-aggregable ones. Attribute-order-robust
    anchor parsing for adversarial pages lives in the DOM walker
    (pipeline.segment); this is the flat census the walker's features
    calibrate against. Reference analog: R27 class-frequency stats
    (/root/reference/src/octopy/train.py:99-121) over the link graph."""
    pages = build_pages(spark, sf).select("url", "html")
    tags = pages.select(
        "url",
        F.explode(
            F.regexp_extract_all(
                F.decode(F.col("html"), "UTF-8"),
                F.lit('<a href="[^"]*">[^<]*</a>'),
                0,
            )
        ).alias("tag"),
    )
    pairs = tags.select(
        "url",
        F.regexp_extract("tag", '<a href="([^"]*)"', 1).alias("href"),
        F.regexp_extract("tag", ">([^<]*)<", 1).alias("anchor"),
    )
    return pairs.groupBy("href", "anchor").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("url").alias("n_pages"),
    )


# --------------------------------------------------------------------------
# extract_table_fields — structured field extraction (wrapper mining)
# --------------------------------------------------------------------------

_TABLE_FIELDS_SQL = """
    SELECT 'https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           doc_id * 7 % 1000 AS views,
           doc_id * 3 % 100 AS shares
    FROM documents
    WHERE doc_id % 6 = 4
    """


@register("extract_table_fields", _TABLE_FIELDS_SQL)
def extract_table_fields(spark, sf):
    """Structured-field extraction from HTML tables (wrapper mining /
    semi-structured harvesting): pull the integer Views/Shares cells
    out of the stats ``<table>`` that template t=4 pages embed. This is
    the micro-pattern behind infobox/spec-table harvesting at corpus
    scale — locate a labeled cell, capture the typed value next to it.

    Scale shape: one JVM regexp filter (pages without the table are
    dropped before any capture work) + two ``regexp_extract`` captures
    cast to long — single narrow scan stage, no shuffle at all.
    Pushdown: only (url, html) are read. Oracle: the table cells are
    pure functions of doc_id (htmlgen.py:67-71,110), so the expected
    integers are reconstructed exactly in SQL.
    Reference analog: R7 per-unit field resolve
    (/root/reference/src/octopy/segment.py per-region properties)."""
    pages = build_pages(spark, sf).select("url", "html")
    html = F.decode(F.col("html"), "UTF-8")
    views_pat = r"<tr><td>Views</td><td>(\d+)</td></tr>"
    shares_pat = r"<tr><td>Shares</td><td>(\d+)</td></tr>"
    return (
        pages.select(
            "url",
            F.regexp_extract(html, views_pat, 1).alias("v"),
            F.regexp_extract(html, shares_pat, 1).alias("s"),
        )
        .filter((F.col("v") != "") & (F.col("s") != ""))
        .select(
            "url",
            F.col("v").cast("long").alias("views"),
            F.col("s").cast("long").alias("shares"),
        )
    )


# --------------------------------------------------------------------------
# corpus_domain_quota — per-host document cap
# --------------------------------------------------------------------------

_QUOTA_K = 8

_QUOTA_SQL = f"""
    SELECT doc_id, source, n_chars, host_rank,
           host_rank <= {_QUOTA_K} AS keep
    FROM (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS host_rank
      FROM documents)
    """


@register("corpus_domain_quota", _QUOTA_SQL)
def corpus_domain_quota(spark, sf):
    """Per-host document quota (the C4/FineWeb-style domain cap): rank
    every document within its host by length (desc, doc_id tiebreak)
    and keep only the top k per host, so no single domain dominates the
    training mix. Emits one row per INPUT doc with its host_rank and
    keep flag — same never-drop reporting contract as the assembly
    funnel, so downstream stages can audit what the cap removed.

    Scale shape: one shuffle on host + per-host sort (row_number
    window). Hosts are ~10^5-10^7x smaller than the corpus so a host
    partition fits an executor; for a DEGENERATE giant host (one domain
    = % of the corpus) the scale path replaces the full window with a
    two-phase threshold: per-partition partial top-k aggregate
    (min-heap in an agg buffer, O(k) state), merge to the k-th-score
    threshold per host, broadcast back, keep = score above threshold —
    no per-host global sort. The window form is used here because it
    is bit-exact against the SQL oracle (ints only, total tiebreak).
    Reference analog: R20's deterministic split discipline applied as
    a per-class cap (/root/reference/src/octopy/train.py:186-204)."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    win = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return docs.withColumn(
        "host_rank", F.row_number().over(win)
    ).withColumn("keep", F.col("host_rank") <= _QUOTA_K)


# --------------------------------------------------------------------------
# text_lm_bucket — CCNet-style per-language head/middle/tail buckets
# --------------------------------------------------------------------------

# Tertile probabilities as exact double literals: repr(1/3) and
# repr(2/3) round-trip to the identical IEEE doubles in both engines,
# and quantile_cont / Spark percentile share the p*(N-1) lerp
# definition (agg_quartile_assign precedent), so the cutoffs match
# bitwise and the > comparisons agree everywhere.
_P1 = "0.3333333333333333"
_P2 = "0.6666666666666666"

_LM_BUCKET_SQL = f"""
    WITH {_WORD_FREQ_CTES_SQL},
    scored AS (
      SELECT doc_id, lang,
             CAST(SUM(cnt) AS DOUBLE) / count(*) AS mean_commonness
      FROM words JOIN counts USING (w)
      GROUP BY doc_id, lang),
    cuts AS (
      SELECT lang,
             quantile_cont(mean_commonness, {_P1}) AS c1,
             quantile_cont(mean_commonness, {_P2}) AS c2
      FROM scored GROUP BY lang)
    SELECT doc_id, lang, mean_commonness,
           CASE WHEN mean_commonness > c2 THEN 'head'
                WHEN mean_commonness > c1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored JOIN cuts USING (lang)
    """


@register("text_lm_bucket", _LM_BUCKET_SQL)
def text_lm_bucket(spark, sf):
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020): score
    every document by its mean token corpus-frequency (the exact-
    arithmetic stand-in for LM perplexity — same substitution as
    text_word_rarity, which documents why true log-prob is rows-only
    territory), then split EACH LANGUAGE into head/middle/tail tertiles
    of that score. CCNet keeps head+middle and drops tail; the bucket
    column is emitted per doc so the assembly funnel can apply any
    policy.

    Scale shape: the rarity sub-plan is text_word_rarity's (vocabulary
    groupBy + frequency join — Zipf-head broadcast split documented
    there); the new work is one tiny per-lang exact-percentile
    aggregate (rows = n_langs) broadcast-joined back, then a pure
    codegen CASE. At true corpus scale swap F.percentile for
    percentile_approx per lang — plan shape unchanged, sketch
    mergeable; exact percentile is used here for bit-reproducibility
    against the oracle (agg_quartile_assign precedent).
    Reference analog: R27 per-class stats driving the keep policy
    (/root/reference/src/octopy/train.py:99-121)."""
    scored = word_frequency_scored(spark, sf, extra_cols=("lang",)).select(
        "doc_id", "lang", "mean_commonness"
    )
    cuts = scored.groupBy("lang").agg(
        F.percentile("mean_commonness", F.lit(1 / 3)).alias("c1"),
        F.percentile("mean_commonness", F.lit(2 / 3)).alias("c2"),
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        "doc_id",
        "lang",
        "mean_commonness",
        F.when(F.col("mean_commonness") > F.col("c2"), "head")
        .when(F.col("mean_commonness") > F.col("c1"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# --------------------------------------------------------------------------
# extract_headings_outline — per-page heading hierarchy
# --------------------------------------------------------------------------

# Template heading inventory is a pure function of doc_id % 6
# (htmlgen.py:96-117): <h1> site header on every page, <h2> document
# title on every page, <h4>Comments</h4> only on template t=3 pages —
# always in that document order, so (pos, level, text) reconstructs
# exactly per doc.
_HEADINGS_SQL = """
    SELECT 'https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           CAST(0 AS BIGINT) AS pos, CAST(1 AS BIGINT) AS level,
           'Example Site ' || source AS heading
    FROM documents
    UNION ALL
    SELECT 'https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR),
           CAST(1 AS BIGINT), CAST(2 AS BIGINT),
           'Document ' || CAST(doc_id AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR),
           CAST(2 AS BIGINT), CAST(4 AS BIGINT), 'Comments'
    FROM documents WHERE doc_id % 6 = 3
    """


@register("extract_headings_outline", _HEADINGS_SQL)
def extract_headings_outline(spark, sf):
    """Per-page heading outline — (url, pos, level, heading) rows in
    document order, the structural table-of-contents signal used for
    section-aware chunking (split training documents on h2/h3
    boundaries) and for title/outline metadata next to the extracted
    body. Heading elements are single-level raw-text nodes in the
    synthesized corpus, so a regexp pull is correct here (same
    title-vs-body argument as extract_page_title); real-world nested
    heading markup goes through the DOM walker instead.

    Scale shape: one JVM ``regexp_extract_all`` (whole tags, group 0)
    + posexplode preserving document order + two per-tag captures —
    all codegen inside the scan stage, zero shuffles, zero Python
    beyond page synthesis. Pushdown: only (url, html) are read.
    Reference analog: R12 reading-order assignment over region types
    (/root/reference/src/octopy/segment.py regions)."""
    pages = build_pages(spark, sf).select("url", "html")
    tags = pages.select(
        "url",
        F.posexplode(
            F.regexp_extract_all(
                F.decode(F.col("html"), "UTF-8"),
                F.lit("<h[1-6]>[^<]*</h[1-6]>"),
                0,
            )
        ).alias("pos", "tag"),
    )
    return tags.select(
        "url",
        F.col("pos").cast("long").alias("pos"),
        F.regexp_extract("tag", "<h([1-6])>", 1).cast("long").alias("level"),
        F.regexp_extract("tag", ">([^<]*)<", 1).alias("heading"),
    )


# --------------------------------------------------------------------------
# corpus_pack_sequences — concat-and-chunk context-window packing
# --------------------------------------------------------------------------

_PACK_BUDGET = 256  # tokens per context window
_PACK_SHARDS = 16  # independent packing streams

_PACK_SQL = f"""
    WITH c AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(SUM(len(string_split(text, ' '))) OVER (
               PARTITION BY doc_id % {_PACK_SHARDS} ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      FROM documents)
    SELECT doc_id, shard, n_tok,
           (cum_tok - n_tok) // {_PACK_BUDGET} AS start_pack,
           (cum_tok - n_tok) % {_PACK_BUDGET} AS start_off,
           (cum_tok - 1) // {_PACK_BUDGET} AS end_pack
    FROM c
    """


@register("corpus_pack_sequences", _PACK_SQL)
def corpus_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    step that concatenates documents in a fixed order and slices the
    token stream into fixed-size context windows (GPT/T5 packing; docs
    may straddle a window boundary). Emits per doc: its packing shard,
    token count, first window id + offset within it, and last window
    id — enough for a writer to materialize any window from the doc
    shard alone.

    Scale shape: packing needs a running token total, and a GLOBAL
    cumulative sum is a single-partition window — the classic scale
    trap. So the stream is split into {_PACK_SHARDS} independent
    packing shards keyed by doc_id (each shard = its own window
    partition, ordered by doc_id): one shuffle on the shard key, all
    shards pack in parallel, and window ids are per-shard so no
    cross-shard coordination exists at any scale (shard count scales
    with the cluster; 16 here matches local[]-test parallelism). All
    integer arithmetic (token counts, ``div``/``%``) — bit-exact
    against the oracle at any parallelism.
    Reference analog: R16's bucketed per-doc sink layout
    (/root/reference/src/octopy/cli.py output batching)."""
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tok", F.sum("n_tok").over(w))
    return cum.select(
        "doc_id",
        "shard",
        "n_tok",
        F.expr(f"(cum_tok - n_tok) div {_PACK_BUDGET}").alias("start_pack"),
        ((F.col("cum_tok") - F.col("n_tok")) % _PACK_BUDGET).alias(
            "start_off"
        ),
        F.expr(f"(cum_tok - 1) div {_PACK_BUDGET}").alias("end_pack"),
    )


# --------------------------------------------------------------------------
# crawl_url_pattern_census — URL-template census for crawl scheduling
# --------------------------------------------------------------------------

# Raw URL variants synthesized identically in both engines (pure
# function of doc_id/lang/source — same staging discipline as
# dedup_url_canonicalize's raw CTE): four path styles including a
# query-string one, so the pattern census has real shape diversity.
_URL_PATH_SQL = """(CASE doc_id % 4
      WHEN 0 THEN '/doc/' || CAST(doc_id AS VARCHAR)
      WHEN 1 THEN '/article/2026/' || CAST(doc_id % 12 + 1 AS VARCHAR)
                    || '/' || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN '/p/' || CAST(doc_id AS VARCHAR)
                    || '?page=' || CAST(doc_id % 5 AS VARCHAR)
      ELSE '/tag/' || lang || '/item-' || CAST(doc_id AS VARCHAR)
    END)"""

_URL_PATTERN_SQL = f"""
    WITH u AS (
      SELECT source,
             'https://' || source || '.example.org' || {_URL_PATH_SQL}
               AS url,
             regexp_replace({_URL_PATH_SQL}, '[0-9]+', 'N', 'g')
               AS pattern
      FROM documents)
    SELECT source, pattern, count(*) AS n_urls,
           min(url) AS sample_url
    FROM u GROUP BY source, pattern
    """


@register("crawl_url_pattern_census", _URL_PATTERN_SQL)
def crawl_url_pattern_census(spark, sf):
    """URL-template census: normalize every crawl URL's path by
    collapsing digit runs to 'N' and count URLs per (host, template) —
    the standard crawl-scheduling / duplicate-surface signal (a host
    whose '/p/N?page=N' template has 10^7 members is a pagination trap;
    a template with one member is unique content). Emits per (source,
    pattern): member count and the lexicographically-first exemplar.

    Scale shape: path synthesis + ``regexp_replace`` are map-side
    codegen; one groupBy shuffle on (source, pattern) where count and
    min(url) both partial-aggregate map-side — hot templates (the
    interesting ones) are exactly the partial-aggregable keys, so no
    skew concern at any corpus size.
    Reference analog: R27 per-class frequency stats
    (/root/reference/src/octopy/train.py:99-121) over url shapes."""
    d = load_table(spark, sf, "documents")
    sel = F.col("doc_id") % 4
    did = F.col("doc_id").cast("string")
    path = (
        F.when(sel == 0, F.concat(F.lit("/doc/"), did))
        .when(
            sel == 1,
            F.concat(
                F.lit("/article/2026/"),
                (F.col("doc_id") % 12 + 1).cast("string"),
                F.lit("/"),
                did,
            ),
        )
        .when(
            sel == 2,
            F.concat(
                F.lit("/p/"),
                did,
                F.lit("?page="),
                (F.col("doc_id") % 5).cast("string"),
            ),
        )
        .otherwise(
            F.concat(F.lit("/tag/"), F.col("lang"), F.lit("/item-"), did)
        )
    )
    u = d.select(
        "source",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org"), path
        ).alias("url"),
        F.regexp_replace(path, "[0-9]+", "N").alias("pattern"),
    )
    return u.groupBy("source", "pattern").agg(
        F.count("*").alias("n_urls"), F.min("url").alias("sample_url")
    )


# --------------------------------------------------------------------------
# corpus_quality_tiers — the composed tier-assignment table
# --------------------------------------------------------------------------

_TIERS_SQL = f"""
    WITH {_WORD_FREQ_CTES_SQL},
    scored AS (
      SELECT doc_id, lang,
             CAST(SUM(cnt) AS DOUBLE) / count(*) AS mean_commonness
      FROM words JOIN counts USING (w)
      GROUP BY doc_id, lang),
    cuts AS (
      SELECT lang,
             quantile_cont(mean_commonness, {_P1}) AS c1,
             quantile_cont(mean_commonness, {_P2}) AS c2
      FROM scored GROUP BY lang),
    lmb AS (
      SELECT doc_id,
             CASE WHEN mean_commonness > c2 THEN 'head'
                  WHEN mean_commonness > c1 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM scored JOIN cuts USING (lang)),
    gq AS (
      SELECT doc_id, {{gopher_pass}} AS quality_pass
      FROM {{gopher_feats}}),
    ded AS (
      SELECT COALESCE(sha256(text), '') AS h, min(doc_id) AS keep_id
      FROM documents GROUP BY COALESCE(sha256(text), ''))
    SELECT d.doc_id, d.lang,
           (d.doc_id = ded.keep_id) AS dedup_keep,
           COALESCE(gq.quality_pass, FALSE) AS quality_ok,
           lmb.bucket,
           CASE WHEN d.doc_id <> ded.keep_id THEN 'duplicate'
                WHEN NOT COALESCE(gq.quality_pass, FALSE) THEN 'rejected'
                ELSE lmb.bucket END AS tier
    FROM documents d
    JOIN ded ON COALESCE(sha256(d.text), '') = ded.h
    LEFT JOIN gq USING (doc_id)
    LEFT JOIN lmb USING (doc_id)
    """


def _tiers_oracle() -> str:
    from octospark.textops import _GOPHER_FEATS_SQL, _GOPHER_PASS_SQL

    return _TIERS_SQL.format(
        gopher_pass=_GOPHER_PASS_SQL, gopher_feats=_GOPHER_FEATS_SQL
    )


def corpus_quality_tiers(spark, sf):
    """THE tier-assignment table — the composed extraction-tier verdict
    per document: exact-dedup canonicality, Gopher quality gate, and
    CCNet LM bucket folded into one tier label (duplicate < rejected <
    tail < middle < head). This is the corpus-curation output a
    pretraining mix is actually sampled from (FineWeb/RefinedWeb ship
    exactly this shape: per-doc stage verdicts + a final tier), and it
    pins the COMPOSITION of the three stage operators cross-engine,
    not just each stage alone (same discipline as
    corpus_assembly_funnel). One row per INPUT doc — never-drop:
    null-text docs get quality_ok=FALSE via the funnel's null-safe
    join precedent, not silently vanish.

    Scale notes live on the composed stages (dedup_exact,
    text_gopher_quality, text_lm_bucket); composition adds only
    doc_id-keyed joins of flag tables, bytes per row."""
    from octospark.textops import text_gopher_quality

    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.coalesce(F.sha2("text", 256), F.lit("")).alias("h"),
    )
    ded = docs.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    gq = text_gopher_quality(spark, sf).select("doc_id", "quality_pass")
    lmb = text_lm_bucket(spark, sf).select("doc_id", "bucket")
    return (
        docs.join(ded, "h")
        .join(gq, "doc_id", "left")
        .join(lmb, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            (F.col("doc_id") == F.col("keep_id")).alias("dedup_keep"),
            F.coalesce("quality_pass", F.lit(False)).alias("quality_ok"),
            "bucket",
            F.when(F.col("doc_id") != F.col("keep_id"), "duplicate")
            .when(~F.coalesce("quality_pass", F.lit(False)), "rejected")
            .otherwise(F.col("bucket"))
            .alias("tier"),
        )
    )


register("corpus_quality_tiers", _tiers_oracle())(corpus_quality_tiers)


# --------------------------------------------------------------------------
# text_normalize + dedup_exact_normalized — normalization-aware dedup
# --------------------------------------------------------------------------

# Noisy raw variants synthesized identically in both engines (pure
# function of doc_id — the url_canonicalize staging discipline): case
# flips, injected punctuation, doubled/leading/trailing whitespace.
# The corpus text is lowercase ASCII, so normalize(noisy) must round-
# trip to the original text exactly.
_NOISY_SQL = """(CASE doc_id % 3
      WHEN 0 THEN upper(text) || ' !!!'
      WHEN 1 THEN '  ' || replace(text, ' ', '  ') || '  '
      ELSE replace(text, ' ', ' , ')
    END)"""

_NORM_SQL_DUCK = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', '', "
    "'g'), ' +', ' ', 'g'))"
)

_NORMALIZE_SQL = f"""
    SELECT doc_id,
           {_NORM_SQL_DUCK.format(col=_NOISY_SQL)} AS norm_text,
           sha256({_NORM_SQL_DUCK.format(col=_NOISY_SQL)}) AS norm_sha
    FROM documents
    """


def _normalized(col):
    """CCNet-style shallow normalization (Wenzek et al. 2020 §3.1:
    lowercase, strip punctuation/accents, collapse whitespace) as pure
    JVM expressions — the canonical form content hashes are taken over
    so trivial re-crawl noise (case, punctuation, spacing) cannot split
    a duplicate group."""
    n = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(n, " +", " "))


def _noisy_text():
    sel = F.col("doc_id") % 3
    return (
        F.when(sel == 0, F.concat(F.upper("text"), F.lit(" !!!")))
        .when(
            sel == 1,
            F.concat(
                F.lit("  "),
                F.replace(F.col("text"), F.lit(" "), F.lit("  ")),
                F.lit("  "),
            ),
        )
        .otherwise(F.replace(F.col("text"), F.lit(" "), F.lit(" , ")))
    )


@register("text_normalize", _NORMALIZE_SQL)
def text_normalize(spark, sf):
    """Text normalization for dedup keying — the canonicalization step
    every exact/near-dup pipeline runs before hashing. Raw variants
    with case flips, injected punctuation, and whitespace noise are
    staged as a pure function of doc_id, then normalized back; the
    round-trip law (normalize(noisy) == original lowercase text) is
    pinned in tests and the oracle replicates both the noise and the
    normalization regexps, so the cross-engine pin covers the actual
    string transforms, not a fixture identity.

    Scale shape: three chained codegen string expressions inside the
    scan stage — zero shuffles, zero Python; the sha over the
    normalized form is the dedup key downstream stages group on."""
    d = load_table(spark, sf, "documents")
    norm = _normalized(_noisy_text())
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.sha2(norm, 256).alias("norm_sha"),
    )


_DEDUP_NORM_SQL = f"""
    WITH n AS (
      SELECT doc_id,
             sha256({_NORM_SQL_DUCK.format(col=_NOISY_SQL)}) AS norm_sha,
             sha256({_NOISY_SQL}) AS raw_sha
      FROM documents)
    SELECT norm_sha, min(doc_id) AS keep_id, count(*) AS n_dups,
           count(DISTINCT raw_sha) AS n_raw_variants
    FROM n GROUP BY norm_sha
    """


@register("dedup_exact_normalized", _DEDUP_NORM_SQL)
def dedup_exact_normalized(spark, sf):
    """Exact dedup over NORMALIZED content — the gap this closes vs
    dedup_exact: two crawls of the same page differing only in case /
    punctuation / whitespace hash apart raw but together normalized.
    Per normalized-hash group: canonical keep (min doc_id), member
    count, and how many RAW hash variants the group spans (>1 = docs
    raw hashing would have failed to merge; the noise styles are keyed
    by doc_id % 3, so identical texts land in different styles and the
    census proves the merge is real).

    Scale shape: identical to dedup_exact — one shuffle on a 32-byte
    key; min/count partial-aggregate map-side, count(DISTINCT raw_sha)
    is the standard two-phase expand over a group bounded by the dup
    multiplicity, not the corpus."""
    d = load_table(spark, sf, "documents")
    noisy = _noisy_text()
    return (
        d.select(
            "doc_id",
            F.sha2(_normalized(noisy), 256).alias("norm_sha"),
            F.sha2(noisy, 256).alias("raw_sha"),
        )
        .groupBy("norm_sha")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_dups"),
            F.countDistinct("raw_sha").alias("n_raw_variants"),
        )
    )


# --------------------------------------------------------------------------
# corpus_mix_weights — per-doc mixture importance weights
# --------------------------------------------------------------------------

_MIX_WEIGHTS_SQL = """
    WITH lc AS (
      SELECT lang, count(*) AS lang_docs FROM documents GROUP BY lang),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT lang) AS BIGINT) AS k FROM documents)
    SELECT d.doc_id, d.lang, lc.lang_docs,
           CAST(tot.n AS DOUBLE) / (tot.k * lc.lang_docs) AS weight
    FROM documents d JOIN lc USING (lang) CROSS JOIN tot
    """


@register("corpus_mix_weights", _MIX_WEIGHTS_SQL)
def corpus_mix_weights(spark, sf):
    """Per-document sampling weights for a target data mixture — the
    continuous third option next to resampling (corpus_lang_rebalance)
    and integer epoch repeats (corpus_upsample_epochs): every doc gets
    weight = target_share / actual_share so a weighted sampler draws a
    uniform-over-languages mix (the DoReMi-style fixed-weight shape,
    Xie et al. 2023, with uniform targets). One row per INPUT doc —
    the never-drop audit contract; weight > 1 upsamples low-resource
    languages, < 1 downsamples the head.

    Scale shape: one tiny per-lang count aggregate (rows = n_langs)
    plus a single-row total, both broadcast back onto the doc table —
    zero shuffles of the corpus itself; the weight division is one
    IEEE double op, identical in both engines (long/long division
    after CAST, single rounding)."""
    d = load_table(spark, sf, "documents").select("doc_id", "lang")
    lc = d.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    tot = d.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("lang").cast("long").alias("k"),
    )
    return (
        d.join(F.broadcast(lc), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            "lang_docs",
            (
                F.col("n").cast("double")
                / (F.col("k") * F.col("lang_docs"))
            ).alias("weight"),
        )
    )


# --------------------------------------------------------------------------
# crawl_politeness_schedule — per-host fetch slots (crawl-side politeness)
# --------------------------------------------------------------------------

_POLITENESS_DELAY_MS = 1000

_POLITENESS_SQL = f"""
    SELECT 'https://' || source || '.example.org/doc/'
             || CAST(doc_id AS VARCHAR) AS url,
           source AS host,
           row_number() OVER (
             PARTITION BY source
             ORDER BY n_chars DESC, doc_id ASC) AS fetch_slot,
           (row_number() OVER (
             PARTITION BY source
             ORDER BY n_chars DESC, doc_id ASC) - 1)
             * {_POLITENESS_DELAY_MS} AS eta_ms
    FROM documents
    """


@register("crawl_politeness_schedule", _POLITENESS_SQL)
def crawl_politeness_schedule(spark, sf):
    """Per-host politeness schedule for a crawl frontier: every url gets
    a fetch slot within its host (priority = longest page first, doc_id
    tiebreak) and an ETA of slot * crawl-delay — the standard one-
    connection-per-host pacing rule (the scheduling half of robots.txt
    compliance; the Disallow half is `crawl_robots_filter`). Downstream
    a fetcher partition can replay its hosts' slots in order without
    any cross-host coordination.

    Scale shape: one shuffle on host + per-host row_number window —
    the same shape as corpus_domain_quota, and the same degenerate-host
    escape hatch documented there applies (a giant host's schedule is
    a per-partition partial top-k + threshold recount, never a global
    sort). ETA is pure integer arithmetic on the rank — no second pass.
    Reference analog: R12 reading-order resolve
    (/root/reference/src/octopy/segment.py ordered regions) applied to
    the fetch queue instead of the page."""
    d = load_table(spark, sf, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    )
    slot = F.row_number().over(w)
    return d.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("source").alias("host"),
        slot.alias("fetch_slot"),
        ((slot - F.lit(1)) * F.lit(_POLITENESS_DELAY_MS)).alias("eta_ms"),
    )


# --------------------------------------------------------------------------
# dedup_bloom_snapshot — cross-snapshot Bloom-filter dedup gate
# --------------------------------------------------------------------------

# Blocked Bloom filter: k=3 hash segments of 4093 (prime) bits each.
# Multiply-shift constants are < 2^32 and the fingerprint is < 1e9, so
# fp * C < 3.3e18 stays inside BIGINT in both engines (no overflow,
# no hugeint promotion surprises).
_BLOOM_SEG = 4093
_BLOOM_CS = (2654435761, 2246822519, 3266489917)


def _bloom_bit_sqls(fp_expr: str) -> list:
    return [
        f"{j * _BLOOM_SEG} + ({fp_expr} * {c}) % {_BLOOM_SEG}"
        for j, c in enumerate(_BLOOM_CS)
    ]


def _bloom_sql() -> str:
    fp_sql = ORACLE["text_fingerprint"]
    bits = _bloom_bit_sqls("fp")
    abits = "\n      UNION\n      ".join(
        f"SELECT DISTINCT {b} AS bit FROM a" for b in bits
    )
    bbits = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, fp, {b} AS bit FROM b" for b in bits
    )
    return f"""
    WITH fp AS (
      SELECT doc_id, CAST(fp AS BIGINT) AS fp FROM ({fp_sql})),
    a AS (SELECT fp FROM fp WHERE doc_id % 3 <> 1),
    b AS (SELECT doc_id, fp FROM fp WHERE doc_id % 3 = 1),
    abits AS (
      {abits}),
    afps AS (SELECT DISTINCT fp FROM a),
    bbits AS (
      {bbits}),
    probe AS (
      SELECT bb.doc_id, bb.fp, count(ab.bit) AS hits
      FROM bbits bb LEFT JOIN abits ab USING (bit)
      GROUP BY bb.doc_id, bb.fp)
    SELECT p.doc_id, p.fp, p.hits = 3 AS maybe_seen,
           af.fp IS NOT NULL AS exact_seen
    FROM probe p LEFT JOIN afps af USING (fp)
    """


def _bloom_bit_cols(fp):
    return [
        (F.lit(j * _BLOOM_SEG) + (fp * F.lit(c)) % F.lit(_BLOOM_SEG))
        for j, c in enumerate(_BLOOM_CS)
    ]


@register("dedup_bloom_snapshot", _bloom_sql())
def dedup_bloom_snapshot(spark, sf):
    """Cross-snapshot Bloom-filter dedup gate: the old crawl snapshot
    (docs with doc_id % 3 != 1) is compressed into a 3-segment blocked
    Bloom filter over content fingerprints; each incoming batch row
    (doc_id % 3 == 1) probes the filter and is flagged `maybe_seen`
    (all 3 bits set — drop candidates) or definitely-new. This is the
    incremental-crawl shape: at 10^12 docs you cannot anti-join every
    new WARC dump against the full history, but a kilobyte-scale
    filter of the history broadcasts to every executor and gates the
    batch map-side with zero shuffle of either side.

    The `exact_seen` column is the EVAL leg (same discipline as
    sim_ann_recall_eval): true membership from a fp-level join, so the
    output exhibits the filter's false-positive rate directly and the
    no-false-negative law (exact_seen => maybe_seen) is pinned in
    tests. At scale the eval leg is a sampled audit or dropped; the
    Bloom leg is the product.

    Scale shape: fingerprints reuse text_fingerprint (exact integer
    hash, oracle-shared); the filter build aggregates to <= 12,279
    DISTINCT bit rows (bounded by the filter size, NOT the corpus) and
    broadcasts; the probe is explode(3 bits) -> broadcast left join ->
    regroup on doc_id (partial-agg, and the fp stage already hashed by
    doc_id so the regroup reuses that partitioning). Bit arithmetic is
    overflow-safe multiply-mod shared bitwise with the oracle, so
    false positives are reproduced IDENTICALLY cross-engine.
    Reference analog: R23/R24 resume anti-join
    (/root/reference/src/octopy/cli/merge.py skip-done) replaced by a
    constant-size filter when the done-set no longer fits a join."""
    from octospark.textops import text_fingerprint

    # materialize the fingerprint table ONCE (three consumers below:
    # filter build, exact-eval set, probe batch) — production persists
    # this table; without it each branch re-scans and re-aggregates
    # the corpus (plan showed 3x the fp sub-plan)
    fpdf = materialize(text_fingerprint(spark, sf).select(
        "doc_id", F.col("fp").cast("long").alias("fp")
    ))
    a = fpdf.filter(F.col("doc_id") % 3 != 1)
    b = fpdf.filter(F.col("doc_id") % 3 == 1)
    a_bits = (
        a.select(F.explode(F.array(*_bloom_bit_cols(F.col("fp")))).alias("bit"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    a_fps = a.select("fp").distinct().withColumn("ex", F.lit(1))
    probe = b.select(
        "doc_id", "fp",
        F.explode(F.array(*_bloom_bit_cols(F.col("fp")))).alias("bit"),
    )
    hits = (
        probe.join(F.broadcast(a_bits), "bit", "left")
        .groupBy("doc_id", "fp")
        .agg((F.count("hit") == 3).alias("maybe_seen"))
    )
    return hits.join(a_fps, "fp", "left").select(
        "doc_id", "fp", "maybe_seen",
        F.col("ex").isNotNull().alias("exact_seen"),
    )


# --------------------------------------------------------------------------
# text_readability_stats — surface readability / lexical-complexity stats
# --------------------------------------------------------------------------

_READABILITY_SQL = """
    SELECT doc_id,
           n_words, n_word_chars, n_syllables, n_long_words,
           CAST(n_word_chars AS DOUBLE) / n_words AS mean_word_len,
           CAST(n_syllables AS DOUBLE) / n_words AS syllables_per_word,
           CAST(n_long_words AS DOUBLE) / n_words AS long_word_ratio
    FROM (
      SELECT doc_id,
             CAST(len(string_split(COALESCE(text, ''), ' ')) AS BIGINT)
               AS n_words,
             CAST(length(replace(COALESCE(text, ''), ' ', '')) AS BIGINT)
               AS n_word_chars,
             CAST(len(regexp_extract_all(COALESCE(text, ''), '[aeiou]+'))
               AS BIGINT) AS n_syllables,
             CAST(len(regexp_extract_all(COALESCE(text, ''), '[^ ]{7,}'))
               AS BIGINT) AS n_long_words
      FROM documents)
    """


@register("text_readability_stats", _READABILITY_SQL)
def text_readability_stats(spark, sf):
    """Surface readability / lexical-complexity statistics per document
    — the Flesch-family signal set (words, vowel-group syllable proxy,
    long-word share, mean word length) that quality-filter cascades
    weight next to the Gopher gates; extreme syllables-per-word or
    long-word ratios separate generated/spam pages from prose.

    Scale shape: four codegen counting expressions inside the scan
    stage (split/replace/regexp_extract_all sizes) and three single
    IEEE divisions — zero shuffles, zero Python, ReadSchema = (doc_id,
    text). Divisions are exactly one rounding each on a CAST long, so
    the oracle agrees bitwise (the cross-engine recipe from the
    trainer keys). n_words >= 1 always (split of '' yields one empty
    token in both engines), so no zero-division guard is needed —
    that law is pinned in tests. NULL text is COALESCE'd to '' on both
    sides (Spark size(split(NULL)) is -1, DuckDB len is NULL — the one
    cross-engine trap here)."""
    d = load_table(spark, sf, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    n_words = F.size(F.split(t, " ")).cast("long").alias("n_words")
    n_word_chars = (
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("long")
        .alias("n_word_chars")
    )
    n_syll = (
        F.size(F.regexp_extract_all(t, F.lit("[aeiou]+"), 0))
        .cast("long").alias("n_syllables")
    )
    n_long = (
        F.size(F.regexp_extract_all(t, F.lit("[^ ]{7,}"), 0))
        .cast("long").alias("n_long_words")
    )
    base = d.select("doc_id", n_words, n_word_chars, n_syll, n_long)
    return base.select(
        "doc_id", "n_words", "n_word_chars", "n_syllables", "n_long_words",
        (F.col("n_word_chars").cast("double") / F.col("n_words"))
        .alias("mean_word_len"),
        (F.col("n_syllables").cast("double") / F.col("n_words"))
        .alias("syllables_per_word"),
        (F.col("n_long_words").cast("double") / F.col("n_words"))
        .alias("long_word_ratio"),
    )


# --------------------------------------------------------------------------
# text_tokenizer_fertility — per-language tokens-per-word budget stats
# --------------------------------------------------------------------------

_FERTILITY_SQL = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS total_words,
           CAST(sum(n_re) AS BIGINT) AS total_tokens,
           CAST(sum(n_ch) AS BIGINT) AS total_chars,
           CAST(CAST(sum(n_re) AS BIGINT) AS DOUBLE)
             / CAST(sum(n_ws) AS BIGINT) AS fertility,
           CAST(CAST(sum(n_ch) AS BIGINT) AS DOUBLE)
             / nullif(CAST(sum(n_re) AS BIGINT), 0) AS chars_per_token
    FROM (
      SELECT lang,
             len(string_split(COALESCE(text, ''), ' ')) AS n_ws,
             len(regexp_extract_all(COALESCE(text, ''), '[a-z]+|[0-9]+'))
               AS n_re,
             length(COALESCE(text, '')) AS n_ch
      FROM documents)
    GROUP BY lang
    """


@register("text_tokenizer_fertility", _FERTILITY_SQL)
def text_tokenizer_fertility(spark, sf):
    """Per-language tokenizer fertility (tokens per whitespace word)
    and compression (chars per token) — the numbers a token-budget
    plan is priced with: fertility over ~2 means a language pays twice
    the sequence length for the same text, which feeds directly into
    the mixture weights (corpus_mix_weights) and packing efficiency
    (corpus_pack_sequences). Uses the same BPE-ish regex tokenizer as
    text_token_count so the two keys stay consistent.

    Scale shape: counting expressions in the scan stage, then ONE
    aggregate whose output is n_langs rows — exact integer sums
    partial-aggregate map-side, the two IEEE divisions happen once per
    language on the final rows. DuckDB's hugeint sums are CAST to
    BIGINT before the divide so both engines round identically."""
    d = load_table(spark, sf, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    base = d.select(
        "lang",
        F.size(F.split(t, " ")).cast("long").alias("n_ws"),
        F.size(F.regexp_extract_all(t, F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long").alias("n_re"),
        F.length(t).cast("long").alias("n_ch"),
    )
    agg = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws").alias("total_words"),
        F.sum("n_re").alias("total_tokens"),
        F.sum("n_ch").alias("total_chars"),
    )
    return agg.select(
        "lang", "n_docs", "total_words", "total_tokens", "total_chars",
        (F.col("total_tokens").cast("double") / F.col("total_words"))
        .alias("fertility"),
        # nullif on the divisor: a lang slice with zero regex tokens
        # (raw CJK, punctuation-only docs) must yield NULL in BOTH
        # engines — Spark 4's default ANSI mode otherwise THROWS on
        # x/0 while DuckDB returns NULL (total_words needs no guard:
        # split('') yields one token, so it is >= n_docs >= 1)
        (
            F.col("total_chars").cast("double")
            / F.nullif(F.col("total_tokens"), F.lit(0))
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# extract_regression_check — the north-rule byte-identity pin as a KEY
# --------------------------------------------------------------------------

_REGRESSION_SQL = """
    SELECT doc_id % 6 AS template,
           count(*) AS n_docs,
           count(*) AS n_byte_identical
    FROM documents GROUP BY doc_id % 6
    """


@register("extract_regression_check", _REGRESSION_SQL)
def extract_regression_check(spark, sf):
    """The regression-fixture gate itself, as an oracle-checked key:
    run the full two-stage extraction (segment -> classify -> merge,
    fused) over the synthesized pages, join back to the golden text,
    and report per-template doc counts vs BYTE-IDENTICAL match counts.
    The oracle asserts n_byte_identical == n_docs for every template —
    so ANY drift in the extractor, the DOM walker, or the page
    synthesis fails this key in the driver's correctness sweep, not
    just in pytest. This is the per-row invariant from the build
    contract (byte-identical extracted text per url) promoted to the
    same artifact the other 140+ keys live in.

    Scale shape: the extraction leg is the salted fused pipeline
    (pipeline.extract_pages — one Python stage, giant-host salting);
    the golden side re-derives from the same synthesis. In production
    the golden fixture set is a small pinned corpus (the reference's
    regression fixtures), so the join side broadcasts; here both legs
    share the url key. Reference analog: the pytest fixture gate the
    reference runs per release (reference tests/, SURVEY.md §5) run as
    a distributed job instead."""
    from octospark.pipeline import extract_pages

    # materialize the synthesized pages ONCE (the same cut as the CC
    # rounds in textops): both the golden leg and
    # the extraction leg read the checkpointed partitions, instead of
    # re-running the mapInPandas synthesis per leg
    pages = materialize(build_pages(spark, sf))
    golden = pages.select("url", F.col("text").alias("golden"))
    ext = extract_pages(pages, salted=True, num_partitions=8).select(
        "url", "text"
    )
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    return (
        ext.join(golden, "url")
        .groupBy((doc_id % 6).alias("template"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("text") == F.col("golden")).cast("long")
            ).alias("n_byte_identical"),
        )
    )


# --------------------------------------------------------------------------
# table_snapshot_retention — lake vacuum planning (keep latest K versions)
# --------------------------------------------------------------------------

_RETAIN_K = 2

_RETENTION_SQL = f"""
    WITH v AS (
      SELECT 'https://' || source || '.example.org/doc/'
               || CAST(doc_id AS VARCHAR) AS url,
             unnest(range(0, doc_id % 4 + 1)) AS version,
             n_chars
      FROM documents),
    m AS (
      SELECT url, version, n_chars + version AS bytes,
             max(version) OVER (PARTITION BY url) AS maxv
      FROM v)
    SELECT url,
           CAST(count(*) AS BIGINT) AS n_versions,
           CAST(sum(bytes) AS BIGINT) AS bytes_total,
           CAST(sum(CASE WHEN version > maxv - {_RETAIN_K} THEN bytes
                    ELSE 0 END) AS BIGINT) AS bytes_kept,
           CAST(sum(CASE WHEN version <= maxv - {_RETAIN_K} THEN bytes
                    ELSE 0 END) AS BIGINT) AS bytes_reclaimable
    FROM m GROUP BY url
    """


@register("table_snapshot_retention", _RETENTION_SQL)
def table_snapshot_retention(spark, sf):
    """Snapshot-retention / vacuum planning over a versioned lake
    table: every url carries 1-4 historical versions (re-crawls; the
    write side of table_merge_upsert accumulating), the policy keeps
    the latest K=2, and the output prices the cleanup — per url, total
    bytes vs bytes kept vs bytes reclaimable. This is the expire-
    snapshots planning query every Iceberg/Delta deployment runs
    before committing a vacuum (decide, THEN delete — the delete
    itself is the manifest rewrite, octospark/lineage.py's domain).

    Scale shape: one shuffle on url, then max(version) window and the
    final aggregate reuse that partitioning (no second exchange); the
    conditional sums partial-aggregate map-side. Works on ARBITRARY
    version ids (only max is consulted — no dense-numbering
    assumption), so late-arriving old versions price correctly."""
    d = load_table(spark, sf, "documents")
    v = d.select(
        F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.org/doc/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 4).cast("int"))
        ).alias("version"),
        "n_chars",
    ).select(
        "url", "version", (F.col("n_chars") + F.col("version")).alias("bytes")
    )
    maxv = F.max("version").over(Window.partitionBy("url"))
    m = v.withColumn("maxv", maxv)
    kept = F.col("version") > F.col("maxv") - _RETAIN_K
    return m.groupBy("url").agg(
        F.count("*").alias("n_versions"),
        F.sum("bytes").alias("bytes_total"),
        F.sum(F.when(kept, F.col("bytes")).otherwise(0)).alias("bytes_kept"),
        F.sum(F.when(~kept, F.col("bytes")).otherwise(0)).alias(
            "bytes_reclaimable"
        ),
    )


# --------------------------------------------------------------------------
# corpus_dsir_weights — hashed-bucket importance weights (DSIR-style)
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_FP_SHIFT = 1048576  # 2^20 fixed-point scale
_DSIR_TARGET_LANG = "en"

_DSIR_SQL = f"""
    WITH words AS (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS word
      FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT doc_id, lang,
             (length(word) * 31 + ascii(word)) % {_DSIR_BUCKETS} AS bucket
      FROM words),
    stats AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS raw_cnt,
             CAST(count(*) FILTER (lang = '{_DSIR_TARGET_LANG}')
               AS BIGINT) AS tgt_cnt
      FROM b GROUP BY bucket)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(CAST(floor(
             CAST(s.tgt_cnt * {_DSIR_FP_SHIFT} AS DOUBLE) / s.raw_cnt
           ) AS BIGINT)) AS BIGINT) AS raw_score,
           CAST(CAST(sum(CAST(floor(
             CAST(s.tgt_cnt * {_DSIR_FP_SHIFT} AS DOUBLE) / s.raw_cnt
           ) AS BIGINT)) AS BIGINT) AS DOUBLE)
             / (count(*) * {_DSIR_FP_SHIFT}) AS importance
    FROM b JOIN stats s USING (bucket)
    GROUP BY b.doc_id
    """


@register("corpus_dsir_weights", _DSIR_SQL)
def corpus_dsir_weights(spark, sf):
    """DSIR-style importance weights for data selection (Xie et al.
    2023, Data Selection via Importance Resampling): hash every word
    into one of 64 buckets, estimate the target distribution from the
    in-domain slice (lang='en' here; a quality corpus in production)
    and the raw distribution from everything, then score each doc by
    the mean target/raw bucket ratio of its words. High-importance
    docs look like the target domain; a weighted sampler over
    `importance` is the DSIR selection step.

    Cross-engine exactness: per-bucket ratios are fixed-point —
    floor(tgt * 2^20 / raw) on exact BIGINT counts (single IEEE
    division on identical operands, then floor) — and the per-doc
    aggregation sums those INTEGERS, so partitioning order cannot
    perturb the result; one final division yields the double. The
    word-bucket hash is the text_fingerprint word hash mod 64, shared
    with the oracle.

    Scale shape: bucket stats are a 64-row aggregate (broadcast back
    onto the exploded words), and the per-doc sum is one groupBy on
    doc_id — the explode never persists; at 10^12 docs this is one
    shuffle of (doc_id, small ints) plus a kilobyte dim table."""
    d = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    words = d.select(
        "doc_id", "lang",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    )
    b = words.select(
        "doc_id", "lang",
        (
            (F.length("word") * 31 + F.ascii("word")) % _DSIR_BUCKETS
        ).alias("bucket"),
    )
    stats = b.groupBy("bucket").agg(
        F.count("*").alias("raw_cnt"),
        F.sum(
            (F.col("lang") == _DSIR_TARGET_LANG).cast("long")
        ).alias("tgt_cnt"),
    )
    ratio_fp = F.floor(
        (F.col("tgt_cnt") * _DSIR_FP_SHIFT).cast("double") / F.col("raw_cnt")
    )
    joined = b.join(F.broadcast(stats), "bucket")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(ratio_fp).alias("raw_score"),
        (
            F.sum(ratio_fp).cast("double")
            / (F.count("*") * _DSIR_FP_SHIFT)
        ).alias("importance"),
    )


# --------------------------------------------------------------------------
# corpus_mix_temperature — temperature-scaled language sampling weights
# --------------------------------------------------------------------------

_TEMP_SQL = """
    WITH lc AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs
      FROM documents GROUP BY lang),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sc AS (
      SELECT lang, lang_docs,
             sqrt(CAST(lang_docs AS DOUBLE) / tot.n) AS scaled
      FROM lc CROSS JOIN tot),
    z AS (SELECT sum(scaled ORDER BY lang) AS zsum FROM sc)
    SELECT sc.lang, sc.lang_docs, sc.scaled,
           sc.scaled / z.zsum AS sample_prob
    FROM sc CROSS JOIN z
    """


@register("corpus_mix_temperature", _TEMP_SQL)
def corpus_mix_temperature(spark, sf):
    """Temperature-scaled language sampling probabilities (the
    mT5/XLM-R mixture rule p_l ∝ share^alpha): low-resource languages
    are upsampled relative to their raw share. alpha is pinned at 0.5
    — i.e. sqrt — deliberately: sqrt is the ONE power function IEEE
    requires correctly rounded, so the scaled shares are bitwise
    engine-identical, where a general pow() would drift between libms
    (the same reason the trainer uses a rational sigmoid). The
    normalizer folds the per-language scaled shares IN LANG ORDER
    (ordered-sum, not an unordered float aggregate), so sample_prob is
    deterministic at any parallelism.

    Scale shape: one n_langs-row aggregate + single-row total, both
    broadcast — zero corpus shuffles, the corpus_mix_weights shape
    with the temperature knob."""
    d = load_table(spark, sf, "documents").select("lang")
    lc = d.groupBy("lang").agg(F.count("*").alias("lang_docs"))
    tot = d.agg(F.count("*").alias("n"))
    sc = lc.crossJoin(F.broadcast(tot)).select(
        "lang", "lang_docs",
        F.sqrt(F.col("lang_docs").cast("double") / F.col("n"))
        .alias("scaled"),
    )
    z = sc.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "scaled"))),
            F.lit(0.0),
            lambda acc, x: acc + x["scaled"],
        ).alias("zsum")
    )
    return sc.crossJoin(F.broadcast(z)).select(
        "lang", "lang_docs", "scaled",
        (F.col("scaled") / F.col("zsum")).alias("sample_prob"),
    )


# --------------------------------------------------------------------------
# text_zipf_histogram — rank-frequency histogram in power-of-2 buckets
# --------------------------------------------------------------------------

_ZIPF_SQL = """
    WITH wf AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM (
        SELECT unnest(string_split(text, ' ')) AS word
        FROM documents WHERE text IS NOT NULL)
      GROUP BY word)
    SELECT CAST(length(printf('%b', freq)) - 1 AS INTEGER) AS log2_freq,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(freq) AS BIGINT) AS total_occurrences
    FROM wf GROUP BY 1
    """


@register("text_zipf_histogram", _ZIPF_SQL)
def text_zipf_histogram(spark, sf):
    """Zipf rank-frequency histogram: word-frequency distribution in
    power-of-2 buckets (bucket b holds words with 2^b <= freq <
    2^(b+1)) — the one-page corpus-health diagnostic (a healthy crawl
    shows the straight-line Zipf decay; boilerplate contamination
    bulges the head, templated spam bulges a middle band). floor(log2)
    is computed EXACTLY as binary-digit count minus one — pure integer
    both engines (Spark conv(freq,10,2), DuckDB printf('%b')) — no
    floating log whose libm rounding could flip a power-of-2 boundary.

    Scale shape: one word-keyed count (Zipf head partial-aggregates
    map-side) and a ~60-row bucket rollup; the histogram is
    constant-size output at any corpus size."""
    d = load_table(spark, sf, "documents").filter(F.col("text").isNotNull())
    wf = (
        d.select(F.explode(_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    log2f = (
        F.length(F.conv(F.col("freq").cast("string"), 10, 2)) - 1
    ).cast("int")
    return wf.groupBy(log2f.alias("log2_freq")).agg(
        F.count("*").alias("n_words"),
        F.sum("freq").alias("total_occurrences"),
    )


# --------------------------------------------------------------------------
# extract_spans_consistency_check — the span-offsets half of the north rule
# --------------------------------------------------------------------------

_SPANS_CHECK_SQL = """
    SELECT doc_id % 6 AS template,
           count(*) AS n_docs,
           count(*) AS n_consistent
    FROM documents GROUP BY doc_id % 6
    """


@register("extract_spans_consistency_check", _SPANS_CHECK_SQL)
def extract_spans_consistency_check(spark, sf):
    """The span-offset contract as an oracle-checked key (the sibling
    of extract_regression_check: that key pins the TEXT, this one pins
    the OFFSETS the north rule also requires): per template, docs
    whose span list exactly tiles its extracted text — first span
    starts at 0, consecutive spans are separated by exactly the
    one-char block separator, every span is non-empty, and the last
    span ends at len(text). The oracle asserts n_consistent == n_docs,
    so any offset-bookkeeping drift (the reference's R7 per-unit
    resolve / R13 clamp logic) fails the driver's correctness sweep.

    Scale shape: the extraction is the fused salted pipeline; the
    consistency predicate is pure JVM array algebra over the spans
    column (zip_with over adjacent spans + boundary checks) — no
    Python beyond the extraction itself, no extra shuffle beyond the
    final per-template rollup."""
    from octospark.pipeline import extract_pages

    pages = build_pages(spark, sf)
    ext = extract_pages(pages, salted=True, num_partitions=8).select(
        "url", "text", "spans"
    )
    n = F.size("spans")
    first_ok = F.element_at("spans", 1)["start"] == 0
    last_ok = F.element_at("spans", -1)["end"] == F.length("text")
    nonempty = F.forall(
        "spans", lambda s: s["end"] > s["start"]
    )
    adjacent = F.when(
        n > 1,
        F.forall(
            F.zip_with(
                F.slice("spans", 1, n - 1),
                F.slice("spans", 2, n - 1),
                lambda a, b: b["start"] == a["end"] + 1,
            ),
            lambda ok: ok,
        ),
    ).otherwise(F.lit(True))
    consistent = F.when(
        n >= 1, first_ok & last_ok & nonempty & adjacent
    ).otherwise(F.length("text") == 0)
    doc_id = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long")
    return (
        ext.select((doc_id % 6).alias("template"), consistent.alias("c"))
        .groupBy("template")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("c").cast("long")).alias("n_consistent"),
        )
    )


# --------------------------------------------------------------------------
# web_redirect_resolve — pointer-doubling redirect-chain resolution
# --------------------------------------------------------------------------

# Deterministic redirect rule, a pure function of doc_id: pages whose
# id is a multiple of 11 (and page 0) are canonical; every other page
# 301-redirects DOWNWARD by 1-3 ids (step = id % 3 + 1, floored at 0).
# Chains are monotone decreasing, so they always terminate, but their
# LENGTH is data-dependent (a chain can step over several multiples of
# 11) — exactly the unknown-depth shape real crawl redirect graphs have.
_REDIRECT_RESOLVE_SQL = """
    WITH RECURSIVE walk AS (
      SELECT doc_id, doc_id AS cur, CAST(0 AS BIGINT) AS hops
      FROM documents
      UNION ALL
      SELECT doc_id,
             CASE WHEN cur - (cur % 3 + 1) < 0 THEN 0
                  ELSE cur - (cur % 3 + 1) END,
             hops + 1
      FROM walk
      WHERE cur % 11 <> 0 AND cur <> 0)
    SELECT doc_id, cur AS canonical_id, hops
    FROM walk
    WHERE cur % 11 = 0 OR cur = 0
    """


@register("web_redirect_resolve", _REDIRECT_RESOLVE_SQL)
def web_redirect_resolve(spark, sf):
    """Resolve every page's redirect CHAIN to its canonical target with
    pointer doubling: each round joins the pointer table to itself
    (ptr' = ptr[ptr], hops' = hops + hops[ptr]), so a chain of length L
    resolves in ceil(log2 L) rounds instead of L sequential self-joins
    — the classic distributed list-ranking primitive, and the right
    shape for crawl-graph canonicalization at 10^12 pages where chain
    depth is unknown and driver-side iteration per hop is unaffordable.

    Rounds run to a CONVERGENCE PROBE (count of unresolved rows — a
    single scalar per round, never a row collect), each round's state
    materialized so the plan never grows with the doubling
    depth (same lineage discipline as graph_pagerank / dedup_cluster_cc).
    All arithmetic is integer; the DuckDB oracle replays the same walk
    with a recursive CTE, so the value-hash compare is exact.

    Reference analog: MergeDefaultDict._resolve follows class-alias
    chains to their canonical label one hop at a time on the driver
    (reference src/octopy/cli/train.py:199-240); this is the same
    chain-following resolved in O(log L) distributed rounds."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    terminal = (F.col("doc_id") % 11 == 0) | (F.col("doc_id") == 0)
    step = F.greatest(
        F.col("doc_id") - (F.col("doc_id") % 3 + 1), F.lit(0)
    )
    state = materialize(docs.select(
        F.col("doc_id").alias("node"),
        F.when(terminal, F.col("doc_id")).otherwise(step).alias("ptr"),
        F.when(terminal, F.lit(0)).otherwise(F.lit(1))
        .cast("long")
        .alias("hops"),
        terminal.alias("done"),
    ))
    # Doubling: after k rounds ptr has followed min(2^k, chain) hops.
    # Every ptr target is a doc_id present in the table (ids are
    # contiguous from 0 and steps are clamped at 0), so the self-join
    # loses no rows.
    while state.filter(~F.col("done")).count() > 0:
        nxt = state.select(
            F.col("node").alias("t_node"),
            F.col("ptr").alias("t_ptr"),
            F.col("hops").alias("t_hops"),
            F.col("done").alias("t_done"),
        )
        state = materialize(
            state.join(nxt, state["ptr"] == nxt["t_node"])
            .select(
                "node",
                F.when(F.col("done"), F.col("ptr"))
                .otherwise(F.col("t_ptr"))
                .alias("ptr"),
                F.when(F.col("done"), F.col("hops"))
                .otherwise(F.col("hops") + F.col("t_hops"))
                .alias("hops"),
                (F.col("done") | F.col("t_done")).alias("done"),
            )
        )
    return state.select(
        F.col("node").alias("doc_id"),
        F.col("ptr").alias("canonical_id"),
        "hops",
    )


# --------------------------------------------------------------------------
# corpus_epoch_shuffle — deterministic per-epoch training-order shuffle
# --------------------------------------------------------------------------

_EPOCH_SHUFFLE_EPOCHS = 3
_EPOCH_SHUFFLE_SHARDS = 16

# Knuth multiplicative hash over (doc_id, epoch), exact in BIGINT on
# both engines (doc_id * 2654435761 < 2^63 for any realistic id).
_EPOCH_SHUFFLE_SQL = f"""
    WITH e AS (
      SELECT doc_id,
             unnest(generate_series(0, {_EPOCH_SHUFFLE_EPOCHS - 1}))
               AS epoch
      FROM documents),
    h AS (
      SELECT doc_id, epoch,
             (doc_id * 2654435761 + epoch * 40503) % 4294967296 AS hk
      FROM e)
    SELECT epoch, hk % {_EPOCH_SHUFFLE_SHARDS} AS shard, doc_id,
           row_number() OVER (
             PARTITION BY epoch, hk % {_EPOCH_SHUFFLE_SHARDS}
             ORDER BY hk, doc_id) AS pos_in_shard
    FROM h
    """


@register("corpus_epoch_shuffle", _EPOCH_SHUFFLE_SQL)
def corpus_epoch_shuffle(spark, sf):
    """Deterministic epoch-wise training-order shuffle: every epoch
    re-permutes the corpus by a keyed integer hash, documents land in
    hash shards, and position within a shard is the hash order — the
    standard materialized-shuffle layout for dataloader-free training
    at 100 TB (readers stream shard files in pos_in_shard order; no
    global sort, no epoch-time RNG state to coordinate).

    The permutation is a pure integer function of (doc_id, epoch) —
    reproducible across reruns, engines, and partitionings — and the
    window partitions by (epoch, shard), so the only exchange is the
    hash partition the shards themselves define; shard sizes are
    hash-balanced (no skew key can form: the key IS the hash).

    Reference analog: the reference shuffles its training set with a
    fixed seed per epoch (reference src/octopy/cli/train.py dataset
    partition); this is that seed made an explicit column."""
    docs = load_table(spark, sf, "documents").select("doc_id")
    epochs = F.explode(
        F.array(
            *[F.lit(i) for i in range(_EPOCH_SHUFFLE_EPOCHS)]
        )
    ).alias("epoch")
    hk = (
        F.col("doc_id") * F.lit(2654435761)
        + F.col("epoch") * F.lit(40503)
    ) % F.lit(4294967296)
    w = Window.partitionBy("epoch", "shard").orderBy("hk", "doc_id")
    return (
        docs.select("doc_id", epochs)
        .withColumn("hk", hk)
        .withColumn(
            "shard", (F.col("hk") % _EPOCH_SHUFFLE_SHARDS).cast("long")
        )
        .select(
            "epoch",
            "shard",
            "doc_id",
            F.row_number().over(w).cast("long").alias("pos_in_shard"),
        )
    )


# --------------------------------------------------------------------------
# corpus_token_budget_plan — epochs-per-language plan for a token budget
# --------------------------------------------------------------------------

_BUDGET_TOKENS = 10_000_000


_BUDGET_SQL = f"""
    WITH lt AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS lang_docs,
             CAST(sum(len(list_filter(string_split(text, ' '),
                                      x -> x <> ''))) AS BIGINT)
               AS lang_tokens
      FROM documents WHERE text IS NOT NULL
      GROUP BY lang),
    tot AS (SELECT CAST(sum(lang_tokens) AS BIGINT) AS n FROM lt),
    sc AS (
      SELECT lang, lang_docs, lang_tokens,
             sqrt(CAST(lang_tokens AS DOUBLE) / tot.n) AS scaled
      FROM lt CROSS JOIN tot),
    z AS (SELECT sum(scaled ORDER BY lang) AS zsum FROM sc)
    SELECT sc.lang, sc.lang_docs, sc.lang_tokens,
           CAST(floor({_BUDGET_TOKENS} * sc.scaled / z.zsum) AS BIGINT)
             AS target_tokens,
           CAST(floor({_BUDGET_TOKENS} * sc.scaled / z.zsum) AS BIGINT)
             * 1000000 // sc.lang_tokens AS epochs_micro
    FROM sc CROSS JOIN z
    """


@register("corpus_token_budget_plan", _BUDGET_SQL)
def corpus_token_budget_plan(spark, sf):
    """Token-budget mixing plan: given a total training-token budget
    and temperature-balanced language weights (alpha = 0.5 over TOKEN
    shares, the corpus_mix_temperature rule priced in tokens instead
    of documents), emit each language's token target and the number of
    epochs of its corpus that target implies — epochs > 1e6 micro
    means the language must be upsampled (repeated), < 1e6 means it is
    subsampled.  This is the planning step between corpus_mix_weights
    (what share?) and corpus_upsample_epochs (materialize the
    repeats): how many passes over each language fit the budget.

    Determinism discipline: sqrt is the one IEEE-correctly-rounded
    power function (the corpus_mix_temperature argument), the
    normalizer folds per-language scaled shares IN LANG ORDER, the
    target is floor() of the same double expression both engines
    evaluate, and the epochs ratio is exact integer micro-units from
    there on.

    Scale shape: ONE corpus shuffle (the per-language token-count
    partial agg — per-doc token counts are computed map-side from the
    split array, never exploded corpus-wide), and the n_langs-row
    result is materialized so the three downstream consumers
    (total, normalizer, final projection) reuse it instead of
    re-deriving the corpus scan per branch — without the checkpoint
    the unreused lineage re-reads `documents` 4x; everything after
    runs on n_langs rows with broadcast totals.  Reference analog:
    octopy
    prices training by lines-per-epoch over the label vocabulary
    (train.py partition sizing); this prices it in tokens per
    language."""
    d = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    lt = materialize(d.groupBy("lang").agg(
        F.count("*").alias("lang_docs"),
        F.sum(toks).alias("lang_tokens"),
    ))
    tot = lt.agg(F.sum("lang_tokens").alias("n"))
    sc = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "lang_docs",
        "lang_tokens",
        F.sqrt(F.col("lang_tokens").cast("double") / F.col("n"))
        .alias("scaled"),
    )
    z = sc.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("lang", "scaled"))),
            F.lit(0.0),
            lambda acc, x: acc + x["scaled"],
        ).alias("zsum")
    )
    target = F.floor(
        F.lit(float(_BUDGET_TOKENS)) * F.col("scaled") / F.col("zsum")
    ).cast("long")
    return sc.crossJoin(F.broadcast(z)).select(
        "lang",
        "lang_docs",
        "lang_tokens",
        target.alias("target_tokens"),
        F.expr(
            f"CAST(floor({_BUDGET_TOKENS} * scaled / zsum) AS BIGINT)"
            " * 1000000 div lang_tokens"
        ).alias("epochs_micro"),
    )


# --------------------------------------------------------------------------
# crawl_recrawl_schedule — change-rate estimation -> next-fetch interval
# --------------------------------------------------------------------------

@register(
    "crawl_recrawl_schedule",
    """
    WITH f AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS page,
             ts, event_id, value,
             lag(value) OVER (
               PARTITION BY CAST(json_extract_string(props, '$.k')
                                 AS BIGINT)
               ORDER BY ts, event_id) AS prev_val
      FROM events WHERE event_type = 'view'),
    s AS (
      SELECT page,
             CAST(count(*) AS BIGINT) AS n_fetches,
             CAST(sum(CASE WHEN prev_val IS NOT NULL
                            AND value <> prev_val
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
      FROM f GROUP BY 1)
    SELECT page, n_fetches, n_changes,
           n_changes * 1000000 // (n_fetches - 1) AS change_rate_micro,
           24 + 144 * (n_fetches - 1 - n_changes) // (n_fetches - 1)
             AS interval_hours
    FROM s WHERE n_fetches >= 2
    """,
)
def crawl_recrawl_schedule(spark, sf):
    """Adaptive recrawl scheduling: treat 'view' events as fetch
    observations of a page (the json props key), detect content change
    as fingerprint (value) differing from the previous fetch of the
    same page, and derive a next-fetch interval that scales linearly
    from 24 h (changes every fetch) to 168 h (never changed) — the
    Cho-Garcia-Molina freshness policy in its simplest integer form.
    Change rate is exact micro-units over (n_fetches - 1) observation
    gaps; pages seen once have no gap and are excluded.

    Scale shape: one hashpartitioning(page) exchange carries both the
    lag window and the per-page rollup (same key, Catalyst reuses the
    partitioning); output is one row per page.  At 100 TB the fetch
    log is append-only and this is the incremental-crawl consumer of
    crawl_snapshot_diff's store.  Reference analog: R25's validation
    cadence (octopy train.py --partition re-checks) — 'how often to
    re-verify' derived from observed change frequency."""
    e = load_table(spark, sf, "events").filter(
        F.col("event_type") == "view"
    )
    f = e.select(
        F.get_json_object("props", "$.k").cast("bigint").alias("page"),
        "ts",
        "event_id",
        "value",
    )
    w = Window.partitionBy("page").orderBy("ts", "event_id")
    f = f.withColumn("prev_val", F.lag("value").over(w))
    changed = F.when(
        F.col("prev_val").isNotNull()
        & (F.col("value") != F.col("prev_val")),
        1,
    ).otherwise(0)
    s = f.groupBy("page").agg(
        F.count("*").alias("n_fetches"),
        F.sum(changed).cast("long").alias("n_changes"),
    )
    return s.filter(F.col("n_fetches") >= 2).select(
        "page",
        "n_fetches",
        "n_changes",
        F.expr(
            "n_changes * 1000000 div (n_fetches - 1)"
        ).alias("change_rate_micro"),
        F.expr(
            "24 + 144 * (n_fetches - 1 - n_changes) div (n_fetches - 1)"
        ).alias("interval_hours"),
    )


# --------------------------------------------------------------------------
# corpus_curriculum_order — length-curriculum phases with token steps
# --------------------------------------------------------------------------

_CURR_PHASES = 4


@register(
    "corpus_curriculum_order",
    f"""
    WITH p AS (
      SELECT lang, doc_id, n_chars,
             ntile({_CURR_PHASES}) OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id) AS phase
      FROM documents),
    a AS (
      SELECT lang, phase,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars // 4) AS BIGINT) AS phase_tokens
      FROM p GROUP BY 1, 2)
    SELECT lang, phase, n_docs, phase_tokens,
           CAST(coalesce(sum(phase_tokens) OVER (
                  PARTITION BY lang ORDER BY phase
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0) AS BIGINT) AS token_start,
           CAST(sum(phase_tokens) OVER (
                  PARTITION BY lang ORDER BY phase
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS token_end
    FROM a
    """,
)
def corpus_curriculum_order(spark, sf):
    """Length-curriculum schedule: within each language, split the
    corpus into 4 difficulty phases (short docs first —
    the standard warmup curriculum), and emit each phase's token mass
    plus its cumulative [token_start, token_end) step window so a
    trainer can map optimizer steps to phases.  Tokens are the engine's
    n_chars//4 integer proxy; phase boundaries tie-break on doc_id.

    Scale shape: the ntile window partitions by lang — no
    SinglePartition window — and the cumulative boundaries run over
    the tiny (langs x phases) rollup.  At 100 TB exact per-lang ntile
    is a per-lang sort; the production swap is approx percentile
    boundaries (agg_quantile_sketch's shape) feeding a width_bucket
    assign, same downstream contract.  Reference analog: R20's
    train/val split discipline (content-stable, deterministic) applied
    to training ORDER instead of membership."""
    d = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    p = d.select(
        "lang",
        "n_chars",
        F.ntile(_CURR_PHASES).over(w).alias("phase"),
    )
    a = p.groupBy("lang", "phase").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("n_chars div 4")).cast("long").alias("phase_tokens"),
    )
    wc = Window.partitionBy("lang").orderBy("phase")
    return a.select(
        "lang",
        "phase",
        "n_docs",
        "phase_tokens",
        F.coalesce(
            F.sum("phase_tokens").over(
                wc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("token_start"),
        F.sum("phase_tokens")
        .over(wc.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("token_end"),
    )


# --------------------------------------------------------------------------
# crawl_sitemap_coverage — sitemap-vs-crawl gap census per host
# --------------------------------------------------------------------------

_SITEMAP_SQL = """
    WITH f AS (
      SELECT source || '.example.org' AS host,
             doc_id % 2 = 0 AS in_sitemap,
             doc_id % 3 <> 0 AS crawled
      FROM documents)
    SELECT host,
           CAST(sum(CASE WHEN in_sitemap THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sitemap,
           CAST(sum(CASE WHEN crawled THEN 1 ELSE 0 END)
             AS BIGINT) AS n_crawled,
           CAST(sum(CASE WHEN in_sitemap AND crawled THEN 1 ELSE 0 END)
             AS BIGINT) AS n_both,
           CAST(sum(CASE WHEN in_sitemap AND NOT crawled
             THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
           CAST(sum(CASE WHEN crawled AND NOT in_sitemap
             THEN 1 ELSE 0 END) AS BIGINT) AS n_extra,
           CAST(sum(CASE WHEN in_sitemap AND crawled THEN 1 ELSE 0 END)
             * 1000000 // greatest(
               sum(CASE WHEN in_sitemap THEN 1 ELSE 0 END), 1)
             AS BIGINT) AS coverage_ppm
    FROM f GROUP BY host
    """


@register("crawl_sitemap_coverage", _SITEMAP_SQL)
def crawl_sitemap_coverage(spark, sf):
    """Sitemap-vs-crawl coverage census per host: how much of what a
    host DECLARES (its sitemap urls) did the crawler actually FETCH
    (n_both / n_sitemap, exact ppm via integer floor-division), how
    much is missing (declared, never fetched — recrawl-queue fodder),
    and how much is extra (fetched but undeclared — discovered via
    links; a crawl-trap signal when it dwarfs the sitemap). The two
    url sets are synthesized deterministically from the shared doc
    base (doc_id % 2 declares, doc_id % 3 fetches) so the oracle
    reconstructs them exactly.

    Scale shape: membership flags are computed per row in the SAME
    scan (a real deployment joins a sitemap table to the crawl log on
    url_hash first — that join is url-keyed and AQE-skew-safe; the
    census below it is this exact shape), then ONE host-keyed
    partial-agg groupBy: all six aggregates are conditional counts
    that combine map-side, so the shuffle carries one row per host.
    Host skew does not hurt a partial-agg count.

    pipeline role: feeds crawl_recrawl_schedule (what to fetch next)
    and crawl_frontier (what was never seen); the per-host gap curve
    is the crawl-completeness SLA readout.

    Reference analog: octopy's inspect summaries compare expected vs
    produced page counts per run (reference src/octopy/cli/inspect.py)
    — the same declared-vs-delivered census."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    f = docs.select(
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        (F.col("doc_id") % 2 == 0).alias("in_sitemap"),
        (F.col("doc_id") % 3 != 0).alias("crawled"),
    )
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    g = f.groupBy("host").agg(
        one(F.col("in_sitemap")).alias("n_sitemap"),
        one(F.col("crawled")).alias("n_crawled"),
        one(F.col("in_sitemap") & F.col("crawled")).alias("n_both"),
        one(F.col("in_sitemap") & ~F.col("crawled")).alias("n_missing"),
        one(F.col("crawled") & ~F.col("in_sitemap")).alias("n_extra"),
    )
    return g.select(
        "host", "n_sitemap", "n_crawled", "n_both", "n_missing",
        "n_extra",
        F.expr(
            "CAST(n_both * 1000000L DIV greatest(n_sitemap, 1L) AS LONG)"
        ).alias("coverage_ppm"),
    )


# --------------------------------------------------------------------------
# corpus_pack_nosplit_audit — next-fit no-split packing + fill audit
# --------------------------------------------------------------------------

_NOSPLIT_BIG = 1 << 20  # state encoding: pack * BIG + fill (fill < BIG)

_NOSPLIT_SQL = f"""
    WITH c AS (
      SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    w AS (
      SELECT shard, doc_id, n_tok,
             list(n_tok) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS hist
      FROM c),
    a AS (
      SELECT shard, doc_id, n_tok,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT), hist),
               (acc, x) -> CASE
                 WHEN acc % {_NOSPLIT_BIG} + x > {_PACK_BUDGET}
                 THEN (acc // {_NOSPLIT_BIG} + 1) * {_NOSPLIT_BIG} + x
                 ELSE acc + x END
             ) AS state
      FROM w)
    SELECT shard, state // {_NOSPLIT_BIG} AS pack,
           count(*) AS n_docs,
           sum(n_tok) AS tok,
           1000000 * sum(n_tok) // {_PACK_BUDGET} AS fill_ppm,
           {_PACK_BUDGET} - sum(n_tok) AS waste_tok
    FROM a GROUP BY 1, 2
    """


@register("corpus_pack_nosplit_audit", _NOSPLIT_SQL)
def corpus_pack_nosplit_audit(spark, sf):
    """Next-fit NO-SPLIT sequence packing with its fill audit — the
    packing variant production pipelines actually prefer when
    documents must stay contiguous (no attention-mask surgery across
    pack boundaries): a document that would overflow the current
    context window opens a new one, so windows are under-filled and
    the audit (fill ratio, wasted tokens per pack) IS the price tag
    this key reports — the number teams weigh against
    corpus_pack_sequences' zero-waste concat-and-split regime.

    The packing recurrence is inherently sequential (each doc's pack
    depends on the running fill), so it rides the CUSUM fold
    discipline with the state ENCODED in one BIGINT
    (pack * 2^20 + fill; fill < 2^20 by construction): one CASE per
    step, pure integer arithmetic, bit-identical in both engines —
    no struct-state lambda portability risk. A doc longer than the
    budget still opens its own window (fill may exceed the budget for
    that pack alone; waste_tok goes negative, flagging the oversize
    — the never-drop analog for packing).

    Scale shape: per-shard prefix folds over the SAME shard window
    as corpus_pack_sequences (shards bound the O(H^2) fold — the
    shard count is the knob that trades fold depth for parallelism,
    documented there), then ONE partial-agg (shard, pack) rollup.

    Reference analog: R16's batch assembly pads rather than splits a
    line across batches (reference src/octopy/train.py batching) —
    the same keep-the-unit-whole packing trade."""
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("long")
    big, budget = _NOSPLIT_BIG, _PACK_BUDGET
    state = F.aggregate(
        F.collect_list("n_tok").over(w),
        zero,
        lambda acc, x: F.when(
            acc % big + x > budget, (acc / big).cast("long") * big + big + x
        ).otherwise(acc + x),
    )
    a = d.withColumn("state", state)
    return a.groupBy(
        "shard", (F.col("state") / big).cast("long").alias("pack")
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tok"),
        F.expr(f"1000000 * sum(n_tok) div {budget}").alias(
            "fill_ppm"
        ),
        (F.lit(budget) - F.sum("n_tok")).alias("waste_tok"),
    )


# --------------------------------------------------------------------------
# crawl_cdx_index — SURT-keyed capture index (the CDX lookup table)
# --------------------------------------------------------------------------

@register(
    "crawl_cdx_index",
    """
    WITH cap AS (
      SELECT 'https://' || source || '.example.org/doc/' || doc_id
               AS url,
             source || '.example.org' AS host,
             TIMESTAMP '2026-01-01 00:00:00'
               + to_minutes(doc_id % 525600) AS ts,
             doc_id, n_chars
      FROM documents)
    SELECT array_to_string(
             list_reverse(string_split(host, '.')), ',')
             || ')/doc/' || doc_id AS urlkey,
           strftime(ts, '%Y%m%d%H%M%S') AS ts14,
           url,
           n_chars AS length,
           row_number() OVER (
             PARTITION BY host
             ORDER BY doc_id) AS idx_in_host
    FROM cap
    """,
)
def crawl_cdx_index(spark, sf):
    """SURT-keyed capture index — the CDX(J) lookup table every web
    archive (and Common Crawl's cc-index) publishes next to its WARCs:
    one row per capture with the SORT-friendly reversed-host url key
    ("org,example,news)/doc/7"), the 14-digit capture timestamp, the
    original url, and the record length.  Range-scanning this index by
    urlkey prefix is how replay/lookup finds all captures of a host
    or path without touching a single WARC byte.

    The SURT transform is the generic algorithm (split host on dots,
    reverse, comma-join — Internet Archive convention, public), not a
    hardcode of the synthetic host shape; timestamps derive from the
    same deterministic capture-time formula the pages synthesis uses
    (epoch + doc_id % 525600 minutes, htmlgen.build_warc_ts), so the
    index is reconstructable engine-exactly WITHOUT running the
    Python synthesis stage — every column is string/integer ops.

    Scale shape: pure per-row projection (no shuffle at all) plus ONE
    host-partitioned window for the within-host capture sequence —
    at 10^12 captures the real job writes the index range-partitioned
    by urlkey (the CDX shard convention) and the window rides that
    same clustering; nothing here is more than one shuffle.

    Reference analog: octopy's inspect surface lists each container's
    members with offsets for random access (reference
    src/octopy/cli/inspect.py) — the archive-index role, applied to
    web captures."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", "source", "n_chars"
    )
    cap = d.select(
        "doc_id",
        "n_chars",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/doc/"),
            F.col("doc_id"),
        ).alias("url"),
        F.concat(F.col("source"), F.lit(".example.org")).alias("host"),
        F.expr(
            "timestamp'2026-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, doc_id % 525600, 0)"
        ).alias("ts"),
    )
    w = Window.partitionBy("host").orderBy("doc_id")
    return cap.select(
        F.concat(
            F.array_join(
                F.reverse(F.split(F.col("host"), "\\.")), ","
            ),
            F.lit(")/doc/"),
            F.col("doc_id"),
        ).alias("urlkey"),
        F.date_format("ts", "yyyyMMddHHmmss").alias("ts14"),
        "url",
        F.col("n_chars").alias("length"),
        F.row_number().over(w).cast("long").alias("idx_in_host"),
    )
