"""Inspect an extraction output: manifest + lineage metadata dump as
JSON (analog of `octopy inspect`,
/root/reference/src/octopy/cli/inspect.py:38-69).

    python jobs/inspect_run.py OUT_DIR [-a] [-s] [-m]

Key-selection flags mirror the reference (cli/inspect.py:63-68): the
default output is the summary metadata, including each committed chunk
directory with its bucket count and Parquet data-file count (the run's
write amplification) and each committed stream micro-batch with its row
count and chunk directory; ``-m/--metrics`` adds the run
history (the training-metrics analog), ``-s/--spec`` adds the per-bucket
lineage rows (the model-spec analog), ``-a/--all`` adds both.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description="octospark inspect")
    ap.add_argument("out_dir")
    ap.add_argument("-a", "--all", dest="output_all", action="store_true",
                    help="include every metadata section")
    ap.add_argument("-s", "--spec", dest="output_spec", action="store_true",
                    help="include per-bucket lineage rows")
    ap.add_argument("-m", "--metrics", dest="output_metrics",
                    action="store_true",
                    help="include the per-run commit history")
    args = ap.parse_args()

    from octospark.lineage import inspect, read_manifest

    meta = inspect(args.out_dir)
    if not args.output_metrics and not args.output_all:
        meta.pop("runs", None)
    if args.output_spec or args.output_all:
        meta["buckets"] = read_manifest(args.out_dir)["buckets"]
    print(json.dumps(meta, indent=1))


if __name__ == "__main__":
    main()
