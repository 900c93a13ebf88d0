"""DataSketches aggregation surface (theta / HLL) — the 10^12-row
answer to distinct-counting and set-cardinality questions.

At corpus scale, ``COUNT(DISTINCT url)`` per segment is a full shuffle
of every value; a sketch is a fixed-size (kilobytes) mergeable state
that partial-aggregates map-side and ships only the state through the
exchange — the same two-level (partial -> final) shape as a sum, with
accuracy controlled by the sketch size parameter, independent of row
count. Theta sketches additionally support union / intersection /
difference BETWEEN sketches, answering "how many urls do crawl A and
crawl B share" without ever joining the two crawls.

Exactness note exploited by the oracle: a theta sketch stores raw
hashed entries until it holds k (default 4096) and only then starts
sampling — so every estimate over a set with < 4096 distinct items is
EXACT, which makes the driver's value-hash comparison valid at test
scale while the very same plan degrades gracefully (±1.6 % at k=4096)
at 10^12 rows. HLL has no exact regime at these sizes (dense mode
approximates immediately), so the HLL key is rows-only with accuracy
and merge laws pinned in tests/test_sketchops.py.

Pipeline role: R18/R27 metrics (per-class counts, reference
src/octopy/train.py:99-121) at a scale where exact distinct counting
is the bottleneck; cross-snapshot overlap for incremental crawls.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from octospark import ORACLE, QUERIES, register
from octospark.sources import load_table


@register(
    "agg_sketch_theta_setops",
    # Exact set algebra over the same shard sets: union via
    # inclusion-exclusion, difference via n - intersection.
    "WITH s AS (SELECT DISTINCT lang, doc_id % 250 AS shard FROM documents), "
    "en AS (SELECT shard FROM s WHERE lang = 'en') "
    "SELECT lang, "
    "COUNT(*) AS n_shards, "
    "(SELECT COUNT(*) FROM en) + COUNT(*) "
    "  - COUNT(CASE WHEN shard IN (SELECT shard FROM en) THEN 1 END) AS n_union_en, "
    "COUNT(CASE WHEN shard IN (SELECT shard FROM en) THEN 1 END) AS n_inter_en, "
    "COUNT(*) - COUNT(CASE WHEN shard IN (SELECT shard FROM en) THEN 1 END) AS n_diff_en "
    "FROM s GROUP BY lang",
)
def agg_sketch_theta_setops(spark, sf):
    """Per-language theta sketch of the document shard set, then
    sketch-level set algebra against the 'en' sketch: cardinality of
    union, intersection, and difference WITHOUT joining the row sets.

    Plan shape: one partial+final sketch aggregation (shuffle carries
    kilobyte sketch states, not values), then a broadcast of ONE
    sketch row — at 10^12 rows this is the only affordable way to ask
    'how much does segment X overlap the English segment'."""
    docs = load_table(spark, sf, "documents").select(
        "lang", (F.col("doc_id") % 250).alias("shard")
    )
    sk = docs.groupBy("lang").agg(F.theta_sketch_agg("shard").alias("sk"))
    en = sk.where(F.col("lang") == "en").select(F.col("sk").alias("sk_en"))
    return sk.crossJoin(F.broadcast(en)).select(
        "lang",
        F.theta_sketch_estimate("sk").alias("n_shards"),
        F.theta_sketch_estimate(F.theta_union("sk", "sk_en")).alias(
            "n_union_en"
        ),
        F.theta_sketch_estimate(F.theta_intersection("sk", "sk_en")).alias(
            "n_inter_en"
        ),
        F.theta_sketch_estimate(F.theta_difference("sk", "sk_en")).alias(
            "n_diff_en"
        ),
    )


@register("agg_sketch_hll_two_level")
def agg_sketch_hll_two_level(spark, sf):
    """Two-level HLL rollup: per-source sketches of doc_id, then a
    sketch-union aggregation to the corpus-wide distinct estimate —
    the map-side-combine shape that makes distinct counting linear-scan
    at 10^12 rows (per-source states are also reusable: any source
    subset rolls up without touching the rows again).

    Rows-only key (HLL approximates even at small n — no exact oracle
    by design, same stance as agg_approx_count_distinct); the ±3σ
    accuracy bound and the one-level == two-level merge law are pinned
    in tests/test_sketchops.py."""
    docs = load_table(spark, sf, "documents").select("source", "doc_id")
    per_source = docs.groupBy("source").agg(
        F.hll_sketch_agg("doc_id", F.lit(14)).alias("hll")
    )
    return per_source.groupBy().agg(
        F.count("source").alias("n_sources"),
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("n_docs_est"),
    )


_CMS_D = 4          # hash rows
_CMS_W = 512        # buckets per row
_CMS_P = 2147483647  # Mersenne prime 2^31-1
# (a, b) pairs per row — small constants keep every product < 2^62 so
# int64 arithmetic is exact (never wraps) in BOTH engines
_CMS_AB = [(31, 7), (131, 3), (1777, 11), (65537, 19)]


def _cms_bucket_sql(j: int, key: str) -> str:
    a, b = _CMS_AB[j]
    return f"((({key} * {a} + {b}) % {_CMS_P}) % {_CMS_W})"


_CMS_SQL = f"""
    WITH keyed AS (
      SELECT user_id % 97 AS k FROM events),
    sketch AS (
      SELECT j, bucket, count(*) AS counter
      FROM (SELECT k, j,
                   CASE j {' '.join(f'WHEN {j} THEN ' + _cms_bucket_sql(j, 'k') for j in range(_CMS_D))} END AS bucket
            FROM keyed, (SELECT unnest(range({_CMS_D})) AS j))
      GROUP BY j, bucket),
    truth AS (SELECT k, count(*) AS true_n FROM keyed GROUP BY k),
    probe AS (
      SELECT t.k, t.true_n, min(s.counter) AS est_n
      FROM truth t
      JOIN (SELECT unnest(range({_CMS_D})) AS j) js ON TRUE
      JOIN sketch s
        ON s.j = js.j
       AND s.bucket = CASE js.j {' '.join(f'WHEN {j} THEN ' + _cms_bucket_sql(j, 't.k') for j in range(_CMS_D))} END
      GROUP BY t.k, t.true_n)
    SELECT k, true_n, est_n FROM probe
"""


@register("agg_sketch_countmin", _CMS_SQL)
def agg_sketch_countmin(spark, sf):
    """Count-min sketch build + probe — the frequency-estimation sketch
    completing the theta (set ops) / HLL (distinct) / CMS (per-key
    counts) triple a corpus census needs when the key space (urls,
    shingles) is too wide to count exactly: d x w integer counters
    replace a billion-row count table; estimates are upper bounds
    (min over d rows), exact when a key's buckets are collision-free.

    Both the build (explode each row into d (row, bucket) increments →
    partial-agg count) and the probe (broadcast the kilobyte sketch,
    min over d lookups) are one-shuffle shapes; the sketch itself is
    d*w = 2048 counters regardless of input size. Deterministic
    multiply-shift bucket hash (constants sized so int64 products
    never overflow) makes the DuckDB replay EXACT — including any
    collisions, which both engines reproduce identically.

    Reference analog: R27's class statistics at a key cardinality
    where exact groupBy counts stop being storable."""
    ev = load_table(spark, sf, "events").select(
        (F.col("user_id") % 97).alias("k")
    )

    def bucket(j: int, key):
        a, b = _CMS_AB[j]
        return ((key * a + b) % _CMS_P) % _CMS_W

    increments = ev.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), bucket(j, F.col("k")).alias("bucket")
                )
                for j in range(_CMS_D)
            ])
        ).alias("jb")
    ).select("jb.j", "jb.bucket")
    sketch = increments.groupBy("j", "bucket").agg(
        F.count("*").alias("counter")
    )
    truth = ev.groupBy("k").agg(F.count("*").alias("true_n"))
    probes = truth.select(
        "k", "true_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"), bucket(j, F.col("k")).alias("bucket")
                )
                for j in range(_CMS_D)
            ])
        ).alias("jb"),
    ).select("k", "true_n", "jb.j", "jb.bucket")
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("k", "true_n")
        .agg(F.min("counter").alias("est_n"))
    )
