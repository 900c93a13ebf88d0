"""Interleaved A/B benchmark: same-window old-vs-new timing (VERDICT r2 #2).

This VM's throughput drifts up to 2x minute-to-minute, so cross-window
timings are not comparable. Protocol (BENCH discipline, bench.py:218-232):
each PASS times every side back-to-back (adjacent in time = same machine
state), every timing is taken in a FRESH subprocess (fresh Spark session,
fresh plans, fresh Python workers), the side order alternates from pass
to pass, and the per-pass RATIO is reported, because a ratio inside one
pass cancels machine state. ``queries`` and ``extract`` also report the
MIN across passes per side (contention noise is one-sided).
``perfbench`` runs ``perfbench/run.py --trace 0`` once per side and
pass, and reports each end-to-end metric of BENCHMARK.json per side, the
per-pair ratio and the pairs each newer side won. A change that lives in
the Python worker process can only be A/B-tested this way, one process
per run.

Sides are git commits, each extracted with ``git archive`` into
``<dir>/octospark_ab_<sha>`` (``--dir``, default the system temp
directory); ``HEAD`` is its commit like any other, and only ``WORKING``
is this checkout as it stands, uncommitted changes included. A side
reuses this checkout's generated perfbench inputs (``.perfbench/inputs``)
when its ``perfbench/gen.py`` ``code_version`` matches theirs, so only a
side whose generator differs regenerates.

Usage:
  python scripts/ab_bench.py queries  <name,name,...> <label=commit> ... \
      [--passes 3] [--sf /root/testdata/sf0.1]
  python scripts/ab_bench.py extract  <label=commit> ... [--passes 5]
  python scripts/ab_bench.py perfbench <workload> <label=commit> ... \
      [--passes 3] [--seed 1] [--seconds 15]

The first side is the baseline. Writes BENCH/ab_results.json (merged by
experiment key); bench.py's write_bench_md surfaces it in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_QUERY_RUNNER = r"""
import json, sys, time
from octospark.session import get_spark
import __spark_entry__ as e
sf, names = sys.argv[1], sys.argv[2].split(",")
spark = get_spark(app_name="ab", master="local[32]", shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
qs = e.queries()
out = {}
for name in names:
    fn = qs[name]
    fn(spark, sf).write.format("noop").mode("overwrite").save()  # warm
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn(spark, sf).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    out[name] = round(best, 3)
print("AB_RESULT " + json.dumps(out))
spark.stop()
"""

_EXTRACT_RUNNER = r"""
import json, sys, time
import duckdb
from octospark.htmlgen import build_page
from octospark.extractor import extract
sf = sys.argv[1]
rows = duckdb.sql(
    "SELECT doc_id, text, lang, source FROM '" + sf + "/documents.parquet'"
).fetchall()
pages = [build_page(*r)["html"] for r in rows]
for p in pages:  # warm
    extract(p)
best = float("inf")
for _ in range(3):
    t0 = time.perf_counter()
    for p in pages:
        extract(p)
    best = min(best, time.perf_counter() - t0)
print("AB_RESULT " + json.dumps({"extract_single": round(best, 4)}))
"""


def checkout_for(commit: str, root: str) -> str:
    """``commit``'s tree extracted under ``root`` (kept for reuse)."""
    sha = subprocess.run(
        ["git", "rev-parse", "--short", commit],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout.strip()
    path = os.path.join(root, f"octospark_ab_{sha}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        os.makedirs(tmp)
        archive = subprocess.run(
            ["git", "archive", sha], cwd=REPO, check=True,
            capture_output=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        os.replace(tmp, path)
    return path


def _code_version(checkout: str) -> str:
    spec = importlib.util.spec_from_file_location(
        "_ab_gen", os.path.join(checkout, "perfbench", "gen.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    return gen.code_version(checkout)


def share_perfbench_inputs(checkout: str) -> None:
    """Link this checkout's generated perfbench inputs into ``checkout``
    when both generators have the same ``code_version``."""
    src = os.path.join(REPO, ".perfbench", "inputs")
    if checkout == REPO or not os.path.isdir(src):
        return
    suffix = "-" + _code_version(checkout)
    dst = os.path.join(checkout, ".perfbench", "inputs")
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        link = os.path.join(dst, name)
        if name.endswith(suffix) and not os.path.lexists(link):
            os.symlink(os.path.join(src, name), link)


def run_side(repo_path: str, runner: str, args: list) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = repo_path
    p = subprocess.run(
        [sys.executable, "-", *args],
        input=runner, capture_output=True, text=True,
        cwd=repo_path, env=env,
    )
    for ln in p.stdout.splitlines():
        if ln.startswith("AB_RESULT "):
            return json.loads(ln[len("AB_RESULT "):])
    raise RuntimeError(
        f"runner in {repo_path} produced no result:\n{p.stdout[-2000:]}\n"
        f"{p.stderr[-2000:]}"
    )


def merge_results(key: str, payload: dict) -> str:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "ab_results.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[key] = payload
    with open(path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    return path


def summarize(sides: list, passes: list, metric_names: list) -> dict:
    """Per metric: min across passes per side + per-pass new/old speedup
    (sides[0] = old baseline, last side = newest)."""
    out = {}
    base = sides[0][0]
    for m in metric_names:
        entry = {"per_side_min_sec": {}, "per_pass_sec": {}}
        for label, _ in sides:
            vals = [p[label][m] for p in passes if label in p]
            entry["per_side_min_sec"][label] = min(vals)
            entry["per_pass_sec"][label] = vals
        for label, _ in sides[1:]:
            ratios = [
                round(p[base][m] / p[label][m], 3)
                for p in passes
                if base in p and label in p and p[label][m] > 0
            ]
            entry[f"speedup_{label}_vs_{base}"] = {
                "min_ratio_of_mins": round(
                    entry["per_side_min_sec"][base]
                    / entry["per_side_min_sec"][label], 3,
                ),
                "per_pass": ratios,
                "median_per_pass": round(statistics.median(ratios), 3),
            }
        out[m] = entry
    return out


def run_perfbench(path: str, workload: str, seed: int,
                  seconds: float) -> dict:
    """One fresh ``perfbench/run.py --trace 0`` process in ``path``; its
    final JSON line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        capture_output=True, text=True, cwd=path,
    )
    lines = p.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        raise RuntimeError(
            f"perfbench in {path} produced no result:\n{p.stdout[-2000:]}\n"
            f"{p.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def summarize_perfbench(sides: list, passes: list) -> dict:
    """Per end-to-end metric: each side's values and median, and for each
    side after the first its per-pass ratio to the first, the pairs it
    won, its median change and the first side's interquartile range."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    base = sides[0][0]
    out = {}
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        vals = {label: [p[label]["metrics"][name]["value"] for p in passes]
                for label, _ in sides}
        entry = {"better": m["better"],
                 "values": {k: [round(v, 3) for v in vs]
                            for k, vs in vals.items()},
                 "median": {k: round(statistics.median(vs), 3)
                            for k, vs in vals.items()}}
        if len(passes) > 1:
            q1, _, q3 = statistics.quantiles(vals[base], n=4)
            entry[f"iqr_{base}"] = round(q3 - q1, 3)
        for label, _ in sides[1:]:
            ratios = [n / b for n, b in zip(vals[label], vals[base])]
            entry[f"{label}_vs_{base}"] = {
                "per_pass_ratio": [round(r, 3) for r in ratios],
                "won": f"{sum((r > 1) == higher and r != 1 for r in ratios)}"
                       f"/{len(ratios)}",
                "median_change": round(
                    statistics.median(vals[label])
                    / statistics.median(vals[base]) - 1, 4),
            }
        out[name] = entry
    return out


def main() -> None:
    mode = sys.argv[1]
    args = sys.argv[2:]
    passes_n = 3
    sf = "/root/testdata/sf0.1"
    root = tempfile.gettempdir()
    seed, seconds = 1, 15.0
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--passes":
            passes_n = int(args[i + 1]); i += 2
        elif args[i] == "--sf":
            sf = args[i + 1]; i += 2
        elif args[i] == "--dir":
            root = args[i + 1]; i += 2
        elif args[i] == "--seed":
            seed = int(args[i + 1]); i += 2
        elif args[i] == "--seconds":
            seconds = float(args[i + 1]); i += 2
        else:
            rest.append(args[i]); i += 1

    if mode == "queries":
        names, side_specs = rest[0], rest[1:]
        runner, run_args = _QUERY_RUNNER, [sf, names]
        metrics = names.split(",")
        key = f"queries:{names}"
    elif mode == "extract":
        side_specs = rest
        runner, run_args = _EXTRACT_RUNNER, [sf]
        metrics = ["extract_single"]
        # key carries the side labels so a new extract experiment never
        # clobbers an earlier one in ab_results.json
        key = "extract:" + "+".join(s.split("=", 1)[0] for s in side_specs)
    elif mode == "perfbench":
        workload, side_specs = rest[0], rest[1:]
        key = (f"perfbench:{workload}:s{seed}:"
               + "+".join(s.split("=", 1)[0] for s in side_specs))
    else:
        raise SystemExit(f"unknown mode {mode!r}")

    sides, commits = [], {}
    for spec in side_specs:
        label, commit = spec.split("=", 1)
        path = (REPO if commit == "WORKING"
                else checkout_for(commit, root))
        if mode == "perfbench":
            share_perfbench_inputs(path)
        sides.append((label, path))
        commits[label] = commit
        print(f"side {label}: {commit} -> {path}")

    passes = []
    for k in range(passes_n):
        this = {}
        for label, path in sides if k % 2 == 0 else sides[::-1]:
            t0 = time.time()
            if mode == "perfbench":
                this[label] = run_perfbench(path, workload, seed, seconds)
                shown = {"correct": this[label]["correct"],
                         "failed": this[label]["failed"],
                         **{m: round(v["value"], 3) for m, v
                            in this[label]["metrics"].items()}}
            else:
                this[label] = shown = run_side(path, runner, run_args)
            print(f"pass {k} {label}: {shown} "
                  f"[{time.time() - t0:.0f}s total]", flush=True)
        passes.append(this)

    if mode == "perfbench":
        summary = {
            "protocol": (
                f"{passes_n} interleaved passes of perfbench/run.py "
                f"--workload {workload} --seed {seed} --seconds {seconds} "
                "--trace 0, one fresh process per run, side order "
                "alternating per pass"
            ),
            "all_correct": all(p[lbl]["correct"] and p[lbl]["failed"] == 0
                               for p in passes for lbl, _ in sides),
            "metrics": summarize_perfbench(sides, passes),
        }
    else:
        summary = {
            "protocol": (
                f"{passes_n} interleaved passes, fresh subprocess per "
                "timing, min-of-runs inside each subprocess, "
                "min-across-passes per side; per-pass ratios cancel "
                "machine drift"
            ),
            "sf": sf,
            "metrics": summarize(sides, passes, metrics),
        }
    summary["sides"] = commits
    path = merge_results(key, summary)
    print(json.dumps({k: v for k, v in summary.items() if k != "sides"},
                     indent=1))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
