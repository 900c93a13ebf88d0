"""spark-submit entry point: block-level corpus analysis (staged path).

    python jobs/analyze.py --sf-dir /root/testdata/sf0.001 --out /tmp/an
        [--strategy heuristic|scored] [--merge alias=target ...]
        [--input pages_parquet]

Runs the staged pipeline (segment -> classify -> label stats) and writes
two parquet tables under --out: ``blocks`` (one row per block of each
``(url, warc_ts)`` page: ``block_id``, the stage-1 ``structural`` label
or null, ``depth``, the text features, ``char_hist`` and the final
``label``) and ``label_stats`` (per-class counts with alias rollup, the R27 analog
— reference class summary, /root/reference/src/octopy/train.py:99-121).
``--merge`` applies class-merge rules (R10 analog, chain-resolved
driver-side — reference train.py:199-240) to the written ``blocks``
labels, and the stats roll each alias up into its target;
``--strategy scored`` fits the logistic scorer on the heuristic labels
first (self-training; 60 exact distributed gradient steps,
octospark/trainer.py) and classifies with it,
``classify(blocks, model)`` (R4 analog, reference segment.py:52-57).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="octospark block analysis")
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--sf-dir", help="testdata dir to synthesize pages from")
    ap.add_argument("--out", required=True)
    ap.add_argument("--strategy",
                    choices=("heuristic", "scored"),
                    default="heuristic")
    ap.add_argument("--merge", nargs="*", default=[],
                    help="label merge rules alias=target (target '-' drops)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not args.input and not args.sf_dir:
        ap.error("one of --input / --sf-dir is required")

    from octospark.labelmap import apply_merges, label_stats
    from octospark.pipeline import classify, segment
    from octospark.session import get_spark
    from octospark.sources import build_pages

    merges = {}
    for rule in args.merge:
        alias, _, target = rule.partition("=")
        merges[alias] = None if target == "-" else target

    spark = get_spark(app_name="octospark-analyze", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    pages = (
        spark.read.parquet(args.input) if args.input
        else build_pages(spark, args.sf_dir)
    )
    # the one Python stage: every write, the stats collect and the
    # scorer's training read these blocks, so segment each page once
    blocks = segment(pages).persist()
    model = None
    if args.strategy == "scored":
        from octospark.scorer import fit_scorer

        model = fit_scorer(classify(blocks), steps=60)
    labeled = classify(blocks, model)
    apply_merges(labeled, merges).write.mode("overwrite").parquet(
        os.path.join(args.out, "blocks")
    )
    # the rollup lists the source labels, so it reads them unmerged
    stats = label_stats(labeled, merges)
    stats.write.mode("overwrite").parquet(
        os.path.join(args.out, "label_stats")
    )
    rows = {
        r["canonical"]: int(r["n_blocks"]) for r in stats.collect()
    }
    print(json.dumps(
        {"strategy": args.strategy, "merges": merges, "label_counts": rows},
        indent=1, sort_keys=True,
    ))
    blocks.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
