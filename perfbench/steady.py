"""Steadiness report: repeated sets of benchmark runs, spread vs bound.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--sets 2]
                                [--trace 0] [--seconds N]

Runs ``perfbench/run.py`` once per (set, workload, seed), one run at a
time, and prints per workload and metric: the sample count, the median,
the quartiles (``statistics.quantiles(n=4)``), the spread
``(q3 - q1) / median`` against the metric's bound from BENCHMARK.json,
and, with two or more sets, how far each later set's median moved in
the metric's worse direction, as a share of the first set's median.
Raw results go to ``.perfbench/steady/<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seed_list(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "elapsed_s": time.perf_counter() - t0, "result": res,
            "notes": [ln for ln in lines if ln.startswith("#")]}


def report(runs: list, bench: dict, trace: int) -> str:
    spec = {m["name"]: m for m in bench["per_layer" if trace else "end_to_end"]}
    rows = [f"{'workload':<20} {'metric':<28} {'n':>3} {'median':>11} "
            f"{'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6} {'sets':>12}"]
    bad = 0
    for w in dict.fromkeys(r["workload"] for r in runs):
        mine = [r for r in runs if r["workload"] == w]
        failed = [r for r in mine if not (r["result"] and r["result"]["correct"])]
        elapsed = statistics.median(r["elapsed_s"] for r in mine)
        rows.append(f"{w}: {len(mine)} runs, {len(failed)} failed or incorrect, "
                    f"median run {elapsed:.1f} s")
        bad += len(failed)
        for name, m in spec.items():
            vals = [r["result"]["metrics"][name]["value"] for r in mine
                    if r["result"] and name in r["result"]["metrics"]]
            if len(vals) < 2:
                continue
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / abs(med) if med else float("inf")
            bound = m.get("bound")
            by_set: dict = {}
            for r in mine:
                if r["result"] and name in r["result"]["metrics"]:
                    by_set.setdefault(r["set"], []).append(
                        r["result"]["metrics"][name]["value"])
            meds = [statistics.median(v) for _, v in sorted(by_set.items())]
            sign = 1 if m["better"] == "lower" else -1
            worse = [sign * (x - meds[0]) / abs(meds[0]) for x in meds[1:]
                     if meds[0]]
            flag = ""
            if bound is not None and name != "setup_s" and spread > bound / 3:
                flag = " WIDE"
            if bound is not None and any(x > bound for x in worse):
                flag += " SHIFT"
            rows.append(
                f"{'':<20} {name:<28} {len(vals):>3} {med:>11.5g} {q1:>11.5g} "
                f"{q3:>11.5g} {spread:>7.1%} "
                f"{'-' if bound is None else format(bound, '.0%'):>6} "
                f"{' '.join(format(x, '+.1%') for x in worse) or '-':>12}{flag}")
    rows.append("spread = (q3 - q1) / median; sets = later set medians moved in "
                "the worse direction; WIDE = spread above a third of the bound; "
                "SHIFT = a set median moved by more than the bound")
    return "\n".join(rows) + (f"\n{bad} runs failed" if bad else "")


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    runs = []
    for s in range(args.sets):
        for w in args.workloads.split(","):
            for seed in seed_list(args.seeds):
                r = one_run(w, seed, args.seconds, args.trace)
                r["set"] = s
                runs.append(r)
                print(f"set {s} {w} seed {seed}: rc {r['rc']} "
                      f"{r['elapsed_s']:.1f} s", flush=True)
    out = os.path.join(REPO, ".perfbench", "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{int(time.time())}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    print(report(runs, bench, args.trace))
    return 0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
