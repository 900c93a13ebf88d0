"""Spark pipeline tests: byte-identity (the north-rule gate), staged vs
fused equivalence, partitioning invariance, never-drop law, size guard,
skew plumbing. FIXTURES.md §D."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from octospark.pipeline import (
    classify,
    extract_pages,
    find_skewed_hosts,
    host_of,
    merge,
    salted_repartition,
    segment,
)
from tests.fixtures.adversarial import CASES


def _mismatches(pages, extracted):
    j = pages.select("url", F.col("text").alias("golden")).join(
        extracted.select("url", "text"), "url"
    )
    return j.filter(~F.col("golden").eqNullSafe(F.col("text"))).count()


def test_fused_byte_identity(spark, pages):
    ext = extract_pages(pages)
    assert ext.count() == pages.count()
    assert _mismatches(pages, ext) == 0


def test_staged_equals_fused_and_golden(spark, pages):
    staged = merge(classify(segment(pages)), pages)
    assert _mismatches(pages, staged) == 0


@pytest.mark.parametrize("n", [1, 4, 32])
def test_partitioning_invariance(spark, pages, n):
    ext = extract_pages(pages.repartition(n)).select("url", "text")
    assert _mismatches(pages, ext) == 0


def test_never_drop_every_url_once(spark, pages):
    ext = extract_pages(pages)
    assert ext.groupBy("url").count().filter("count != 1").count() == 0
    assert ext.count() == pages.count()


def test_workers_run_the_compiled_walk(spark):
    """The shared session's Python workers extract through the compiled
    walk, not a silent fallback."""
    import pandas as pd

    def walk_name(frames):
        from octospark import extractor

        for _ in frames:
            yield pd.DataFrame({"walk": [extractor.WALK]})

    rows = spark.range(2, numPartitions=2).mapInPandas(
        walk_name, "walk string").collect()
    assert [r.walk for r in rows] == ["compiled", "compiled"]


def test_adversarial_pages_through_spark(spark):
    import json
    import pathlib

    golden = json.loads(
        (pathlib.Path(__file__).parent / "fixtures/golden.json").read_text()
    )
    rows = [(name, html) for name, html in CASES]
    df = spark.createDataFrame(rows, "url string, html binary").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    out = {
        r["url"]: r["text"]
        for r in extract_pages(df).select("url", "text").collect()
    }
    assert len(out) == len(CASES)
    for name, _ in CASES:
        assert out[name] == golden[name]["text"], name


def test_size_guard_filters_but_never_drops(spark, pages):
    # tiny cap so a real fraction of pages trips the guard
    ext = extract_pages(pages, max_bytes=1100)
    assert ext.count() == pages.count()
    guarded = ext.filter(F.col("error") == "size_guard")
    assert guarded.count() > 0
    assert guarded.filter(F.length("text") > 0).count() == 0


def test_null_html_goes_to_guard_branch(spark):
    df = spark.createDataFrame(
        [("u1", None), ("u2", b"<p>twenty words of content padding the block "
                              b"so it is long enough to clear the threshold "
                              b"rule set</p>")],
        "url string, html binary",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"), "html",
        F.lit(None).cast("string").alias("text"), F.lit("en").alias("lang"),
    )
    ext = extract_pages(df)
    rows = {r["url"]: r for r in ext.collect()}
    assert rows["u1"]["error"] == "size_guard" and rows["u1"]["text"] == ""
    assert rows["u2"]["text"] != ""


def test_span_laws_on_dataframe(spark, pages):
    ext = extract_pages(pages).select("url", "text", "spans")
    checked = ext.select(
        "url",
        F.forall(
            "spans",
            lambda s: (s["start"] >= 0)
            & (s["start"] <= s["end"])
            & (s["end"] <= F.length("text")),
        ).alias("bounds_ok"),
        # reconstruct text from span slices (substring is 1-indexed)
        F.aggregate(
            "spans",
            F.lit(""),
            lambda acc, s: F.concat(
                acc,
                F.when(F.length(acc) > 0, F.lit("\n")).otherwise(F.lit("")),
                F.expr("text").substr(
                    s["start"].cast("int") + 1, (s["end"] - s["start"]).cast("int")
                ),
            ),
        ).alias("rebuilt"),
    )
    assert checked.filter(~F.col("bounds_ok")).count() == 0
    bad = ext.join(checked, "url").filter(F.col("rebuilt") != F.col("text"))
    assert bad.count() == 0


def test_skewed_host_branch_spreads_giant_host(spark, pages):
    """E2E skew drill (VERDICT r3 #6): a giant host holding ~30% of all
    pages as replicas of ONE url (a re-crawl dump, the worst real crawl
    skew). Uniform url-hash repartitioning funnels every replica into a
    single partition (straggler = the whole job at 100 TB); the
    detect-then-salt branch must (a) find the host, (b) spread its rows
    so max/median partition size < 2, and (c) leave extraction output
    untouched (same rows, same checksum — placement is load balance,
    not semantics)."""
    import statistics

    base = pages.select("url", "warc_ts", "html", "text", "lang")
    n_base = base.count()
    giant_n = int(n_base * 0.43)  # ~30% of the combined table
    one = base.limit(1)
    giant = one.crossJoin(
        spark.range(giant_n).select(F.col("id").alias("_r"))
    ).select(
        F.lit("https://giant.example.org/hot").alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    allp = base.unionByName(giant)

    hosts = find_skewed_hosts(allp, threshold_fraction=0.05, min_pages=10)
    assert hosts == ["giant.example.org"]

    def part_sizes(df):
        return sorted(
            df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)]).collect()
        )

    # branch OFF: url-hash keying puts all giant rows in ONE partition
    off = part_sizes(salted_repartition(allp, num_partitions=16))
    assert max(off) >= giant_n
    assert max(off) / statistics.median(off) > 2

    # branch ON: spread bounded
    on = part_sizes(
        salted_repartition(
            allp, num_partitions=16, skewed_hosts=hosts, salt_buckets=32
        )
    )
    assert sum(on) == n_base + giant_n
    assert max(on) / statistics.median(on) < 2

    # extraction results identical with the branch on (placement only)
    def sig(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("url", "text")).alias("ck"),
        ).collect()[0]
        return (r["n"], r["ck"])

    plain = sig(extract_pages(allp))
    salted = sig(
        extract_pages(
            allp, salted=True, num_partitions=16, skewed_hosts=hosts
        )
    )
    assert plain == salted


def test_skew_census_is_one_aggregate(spark, pages, count_jobs):
    """The census takes the total and the giant hosts from one host
    histogram: its shuffle stage and its collect are its only jobs."""
    hosts, jobs = count_jobs(find_skewed_hosts, pages,
                             threshold_fraction=0.04, min_pages=10)
    assert jobs <= 2
    counts = {
        r["host"]: r["count"]
        for r in pages.select(host_of(F.col("url")).alias("host"))
        .groupBy("host").count().collect()
    }
    cutoff = max(int(pages.count() * 0.04), 10)
    assert sorted(hosts) == sorted(h for h, n in counts.items() if n > cutoff)
    assert hosts
    assert find_skewed_hosts(pages) == []
    assert find_skewed_hosts(pages.limit(0), min_pages=0) == []


def test_salted_repartition_preserves_rows(spark, pages):
    hosts = find_skewed_hosts(pages, threshold_fraction=0.04, min_pages=10)
    assert hosts, "synthetic corpus has 20 hosts of ~25 pages each"
    out = salted_repartition(
        pages, num_partitions=16, skewed_hosts=hosts, salt_buckets=4
    )
    assert out.count() == pages.count()
    assert out.rdd.getNumPartitions() == 16
    # salted extraction still byte-identical
    ext = extract_pages(pages, salted=True, num_partitions=16)
    assert _mismatches(pages, ext) == 0


def test_blocks_schema_and_order(spark, pages):
    from octospark.pipeline import BLOCKS_SCHEMA

    blocks = segment(pages.limit(20))
    assert blocks.schema.fieldNames() == BLOCKS_SCHEMA.fieldNames()
    w_ok = blocks.groupBy("url", "warc_ts").agg(
        F.count("*").alias("n"),
        F.max("block_id").alias("max_id"),
        F.countDistinct("block_id").alias("d"),
    )
    # block_id is 0..n-1 per (url, warc_ts) page (DOM order, dense)
    assert w_ok.filter(
        (F.col("max_id") != F.col("n") - 1) | (F.col("d") != F.col("n"))
    ).count() == 0


def test_staged_equals_fused_per_crawl(spark, pages):
    """The staged path keys a page by (url, warc_ts): two crawls of one
    url with the same html each get the fused text (neither doubled nor
    relabelled by the other's blocks in the lag/lead window), a re-crawl
    with other html gets its own, and a page with a null warc_ts keeps
    its text through the null-safe join back to ``pages``."""
    base = pages.select("url", "warc_ts", "html", "lang").orderBy("url")
    (u1, ts, h1, lang), (u2, _, h2, _) = base.limit(2).collect()
    later = ts.replace(year=ts.year + 1)
    rows = [
        (u1, ts, h1, lang),
        (u1, later, h1, lang),  # re-crawl, same html
        (u1, ts.replace(year=ts.year + 2), h2, lang),  # re-crawl, new html
        (u2, None, h2, lang),  # no crawl time
    ]
    crawls = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string"
    )

    def by_page(df):
        return sorted(
            (r.url, r.warc_ts, r.text, [tuple(s) for s in r.spans])
            for r in df.select("url", "warc_ts", "text", "spans").collect()
        )

    fused = by_page(extract_pages(crawls))
    staged = by_page(merge(classify(segment(crawls)), crawls))
    assert staged == fused
    assert len(fused) == 4 and all(text for _, _, text, _ in fused)


def test_analyze_job_heuristic_smoke(sf_dir, tmp_path):
    """jobs/analyze.py end to end in its own process: the label counts it
    prints sum to the rows of the ``blocks`` table it wrote; with
    ``--merge`` the table carries the merged label and the stats row of
    the target still lists the alias it absorbed."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = tmp_path / "an"
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "analyze.py"),
         "--sf-dir", sf_dir, "--out", str(out), "--master", "local[2]",
         "--merge", "boilerplate-header=boilerplate-nav"],
        cwd=repo, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    meta = json.loads(proc.stdout[proc.stdout.index("{"):])
    n_rows = duckdb.sql(
        f"SELECT count(*) FROM '{out}/blocks/*.parquet'"
    ).fetchone()[0]
    assert meta["strategy"] == "heuristic" and n_rows > 0
    assert sum(meta["label_counts"].values()) == n_rows
    assert duckdb.sql(
        f"SELECT count(*) FROM '{out}/blocks/*.parquet' "
        "WHERE label = 'boilerplate-header'"
    ).fetchone()[0] == 0
    [sources] = duckdb.sql(
        f"SELECT source_labels FROM '{out}/label_stats/*.parquet' "
        "WHERE canonical = 'boilerplate-nav'"
    ).fetchone()
    assert "boilerplate-header" in sources
