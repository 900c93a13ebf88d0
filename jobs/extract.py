"""spark-submit entry point: the production extraction job.

    spark-submit --py-files octospark.zip jobs/extract.py \
        --input /path/to/pages_parquet --out /path/to/extracted \
        [--sf-dir /root/testdata/sf0.001]  (synthesize pages instead)
        [--warc-dir /path/to/warc_files]   (ingest .warc.gz instead)
        [--n-buckets 64] [--max-bytes N] [--run-id ID]
        [--salted [--salt-partitions P]]
        [--validate-every-k-buckets K [--golden-fixtures PATH]]
        [--export-format parquet|jsonl [--export-dest PATH]]
        [--mode full|text-only|spans-only]

Reads a pages table (or synthesizes one from a testdata sf dir), runs
the fused extraction with per-bucket lineage, commits each chunk of
buckets through the Parquet chunk-directory + manifest protocol of
octospark.lineage, prints the inspect JSON. Rerunning is always a resume:
commits are idempotent and only missing buckets are processed
(reference analog: --resume, /root/reference/src/octopy/cli/train.py:
140-162). --mode projects the committed output on read-back (the
lines-only / regions-only analog, reference src/octopy/segment.py:
94-115,128-130) — lineage always commits the full rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="octospark extraction job")
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--sf-dir", help="testdata dir to synthesize pages from")
    ap.add_argument(
        "--warc-dir",
        help="directory of .warc.gz crawl files to ingest directly "
        "(one task per non-splittable file; non-200 responses dropped)",
    )
    ap.add_argument("--out", required=True, help="output dir (data + manifest)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-bytes", type=int, default=None)
    ap.add_argument(
        "--salted", action="store_true",
        help="first-pass giant-host census, then a url-hash repartition "
        "before the UDF that salts those hosts' rows row-level so one "
        "hot host/url cannot straggle a partition",
    )
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument(
        "--mode", choices=("full", "text-only", "spans-only"),
        default="full",
        help="projection of the read-back preview (R14/R15 analog)",
    )
    ap.add_argument(
        "--export-format", choices=("parquet", "jsonl"), default=None,
        help="also export the committed snapshot (R28 analog)",
    )
    ap.add_argument("--export-dest", default=None)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--validate-every-k-buckets", type=int, default=None,
        help="R25 cadence: re-check the frozen golden fixtures between "
        "every k committed buckets; abort on drift",
    )
    ap.add_argument(
        "--golden-fixtures", default=None,
        help="path to the frozen golden.json (defaults to the repo's "
        "tests/fixtures/golden.json when cadence is enabled)",
    )
    args = ap.parse_args()
    if not args.input and not args.sf_dir and not args.warc_dir:
        ap.error("one of --input / --sf-dir / --warc-dir is required")

    from octospark.lineage import (
        export_extracted, inspect, read_extracted, run_extract,
    )
    from octospark.session import get_spark
    from octospark.sources import build_pages

    spark = get_spark(app_name="octospark-extract", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    if args.input:
        pages = spark.read.parquet(args.input)
    elif args.warc_dir:
        from pyspark.sql import functions as F

        from octospark.warcops import read_warc_pages

        pages = (
            read_warc_pages(spark, args.warc_dir)
            .where(F.col("http_status") == 200)
            .select(
                "url", "warc_ts", "html",
                F.lit(None).cast("string").alias("text"),
                F.lit(None).cast("string").alias("lang"),
            )
        )
    else:
        pages = build_pages(spark, args.sf_dir)
    validate_fn = None
    if args.validate_every_k_buckets:
        from octospark.validation import make_golden_validator
        from tests.fixtures.adversarial import CASES

        golden = args.golden_fixtures or os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tests/fixtures/golden.json",
        )
        validate_fn = make_golden_validator(CASES, golden)
    run_extract(
        spark, pages, args.out, n_buckets=args.n_buckets,
        run_id=args.run_id, max_bytes=args.max_bytes,
        salted=args.salted, salt_partitions=args.salt_partitions,
        validate_every_k_buckets=args.validate_every_k_buckets,
        validate_fn=validate_fn,
    )
    meta = inspect(args.out)
    if args.export_format:
        dest = args.export_dest or (args.out.rstrip("/") + "_export")
        meta["exported_rows"] = export_extracted(
            spark, args.out, dest, args.export_format
        )
        meta["export"] = {"format": args.export_format, "dest": dest}
    if args.mode != "full":
        cols = (
            ["url", "text"] if args.mode == "text-only"
            else ["url", "spans"]
        )
        meta["preview_mode"] = args.mode
        meta["preview_rows"] = read_extracted(spark, args.out).select(
            *cols
        ).count()
    print(json.dumps(meta, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
