"""octospark extraction benchmark: one command, seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload at ``local[4]`` from this single driver process,
through octospark's public entry points, checks every output against
the pure-Python oracle and prints each metric by name with its unit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 1``
the run is the separate traced run (see ``tracing.py``) and the
metrics are the per-layer ones. Exits 1 when an output is wrong, and 2,
printing no result, when this checkout's octospark cannot be imported.

See README.md in this directory for the workloads and metric glossary.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(REPO, ".perfbench")  # inputs + scratch; gitignored
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

WORKLOADS = ("pages_small_skewed", "pages_large_uniform", "commit_resume",
             "staged_blocks")
CORES = 4
N_BUCKETS, CRASH_AFTER = 64, 32
MIN_PASSES = 2


class BenchError(RuntimeError):
    """An output failed the oracle check or the environment is unusable."""


# --- process tree: memory and CPU ---------------------------------------------

def _proc_tree(root: int) -> list:
    """(stat fields after the command name, statm fields) for ``root``
    and all its descendants (driver, JVM, Python workers), from /proc."""
    children: dict = {}
    info: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                statm = f.read().split()
        except OSError:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        info[int(name)] = (fields, statm)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out.append(info[pid])
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the process tree under ``root``."""
    pages = sum(int(statm[1]) for _, statm in _proc_tree(root))
    return pages * os.sysconf("SC_PAGE_SIZE") / 1e6


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, own and reaped children) used so far
    by the process tree under ``root``."""
    ticks = sum(sum(int(x) for x in fields[11:15])
                for fields, _ in _proc_tree(root))
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Background thread that keeps the peak of :func:`tree_rss_mb`."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.peak = 0.0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# --- Spark session ----------------------------------------------------------------

def scratch_dir(*parts: str) -> str:
    d = os.path.join(CACHE, "scratch", str(os.getpid()), *parts)
    os.makedirs(d, exist_ok=True)
    return d


def start_spark(cores: int, extra: dict | None = None):
    """``octospark.session.get_spark`` at ``local[cores]`` with every
    scratch file kept inside the checkout."""
    from octospark.session import get_spark

    tmp = scratch_dir("tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": scratch_dir("spark-local"),
        "spark.sql.warehouse.dir": scratch_dir("warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    conf.update(extra or {})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, final: bool = False) -> None:
    """Stop the context; with ``final`` also shut the JVM down and wait
    for it to exit, so the run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    if final and SparkContext._gateway is not None:
        proc = getattr(SparkContext._gateway, "proc", None)
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# --- the workloads' timed calls -----------------------------------------------
# Each returns ((rows, checksum, error rows), timings) for its output, where
# the checksum is bit_xor(xxhash64(url, warc_ts, text)).

def _facts(df) -> tuple:
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("url", "warc_ts", "text")).alias("checksum"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("err")
        if "error" in df.columns else F.lit(0).alias("err"),
    ).collect()[0]
    return int(r["n"]), int(r["checksum"] or 0), int(r["err"] or 0)


def read_pages(spark, path: str):
    """The program sees the generated table minus the oracle's text."""
    pages = spark.read.parquet(path)
    return pages.drop("text") if "text" in pages.columns else pages


def fused_call(spark, path: str) -> tuple:
    """Production fused path, census inside the wall."""
    from octospark.pipeline import extract_pages, find_skewed_hosts

    t0 = time.perf_counter()
    pages = read_pages(spark, path)
    skewed = find_skewed_hosts(pages) or None
    facts = _facts(extract_pages(pages, salted=True, skewed_hosts=skewed))
    return facts, {"wall_s": time.perf_counter() - t0,
                   "salted_hosts": len(skewed or ())}


def staged_call(spark, path: str) -> tuple:
    from octospark.pipeline import classify, merge, segment

    t0 = time.perf_counter()
    pages = read_pages(spark, path)
    facts = _facts(merge(classify(segment(pages)), pages))
    return facts, {"wall_s": time.perf_counter() - t0}


def commit_call(spark, path: str) -> tuple:
    """Crash after half the buckets, resume, read the snapshot back."""
    from octospark.lineage import read_extracted, run_extract

    out = os.path.join(scratch_dir("commit"), f"run{time.perf_counter_ns()}")
    t0 = time.perf_counter()
    pages = read_pages(spark, path)
    run_extract(spark, pages, out, n_buckets=N_BUCKETS,
                fail_after_buckets=CRASH_AFTER)
    t1 = time.perf_counter()
    run_extract(spark, pages, out, n_buckets=N_BUCKETS)
    t2 = time.perf_counter()
    facts = _facts(read_extracted(spark, out))
    t3 = time.perf_counter()
    shutil.rmtree(out, ignore_errors=True)
    return facts, {"wall_s": t3 - t0, "crash_s": t1 - t0,
                   "resume_s": t2 - t1, "readback_s": t3 - t2}


CALLS = {
    "pages_small_skewed": fused_call,
    "pages_large_uniform": fused_call,
    "commit_resume": commit_call,
    "staged_blocks": staged_call,
}


def check(facts: tuple, expect: dict) -> int:
    """Pages failed in one call: all of them on a count or checksum
    mismatch (missing, duplicated or wrong rows), else the error rows."""
    n, checksum, errors = facts
    if n != expect["n"] or checksum != expect["checksum"]:
        return expect["n"]
    return errors


def run_passes(spark, call, path: str, expect: dict, budget_s: float,
               min_passes: int) -> list:
    """Repeat ``call`` until ``budget_s`` has elapsed (at least
    ``min_passes`` times); each pass is checked against the oracle."""
    passes = []
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < budget_s:
        cpu0 = tree_cpu_s(os.getpid())
        facts, timing = call(spark, path)
        timing["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        timing["failed"] = check(facts, expect)
        timing["pages"] = expect["n"]
        passes.append(timing)
    return passes


# --- timed run ---------------------------------------------------------------------

def timed_run(workload: str, seed: int, seconds: float) -> dict:
    import gen

    call = CALLS[workload]
    t = time.perf_counter()
    inputs, generated = gen.ensure_inputs(CACHE, REPO, workload, seed)
    gen_s = time.perf_counter() - t
    path = os.path.join(inputs, "main")
    spark = start_spark(CORES)
    try:
        expect = gen.facts_of(spark.read.parquet(path))
        # the warm-up pass: the workload's call on its own input, untimed.
        # It spawns the Python workers and compiles the workload's code
        # paths; a cold first pass of commit_resume takes 1.5-2x a warm one
        warm = run_passes(spark, call, path, expect, 0, 1)
        setup_s = time.perf_counter() - T_PROCESS - gen_s
        passes = run_passes(spark, call, path, expect, seconds, MIN_PASSES)
    finally:
        stop_spark(spark, final=True)

    attempted = sum(p["pages"] for p in warm + passes)
    failed = sum(p["failed"] for p in warm + passes)
    metrics = {
        "pages_per_s": (statistics.median(
            p["pages"] / p["wall_s"] for p in passes), "1/s"),
        "setup_s": (setup_s, "s"),
        "pages_per_cpu_s": (statistics.median(
            p["pages"] / p["cpu_s"] for p in passes), "1/s"),
    }
    notes = {
        "pages": expect["n"], "passes": len(passes),
        "warm_up_wall_s": round(warm[0]["wall_s"], 3),
        "pass_walls_s": [round(p["wall_s"], 3) for p in passes],
        "input_generation_s": round(gen_s, 3),
        "inputs_cached": not generated,
        "failed_frac": failed / attempted,
    }
    for k in ("crash_s", "resume_s", "readback_s", "salted_hosts"):
        if k in passes[0]:
            notes[k] = [round(p[k], 3) for p in passes]
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "notes": notes}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import octospark.pipeline
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(octospark.pipeline.__file__).startswith(REPO + os.sep):
        print("perfbench: octospark is not this checkout's copy", file=sys.stderr)
        return 2
    tmp = scratch_dir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = scratch_dir("spark-local")
    # Python workers import octospark and this directory's modules
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    try:
        if args.trace:
            import tracing

            res = tracing.traced_run(args.workload, args.seed)
        else:
            res = timed_run(args.workload, args.seed, args.seconds)
    except BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(os.path.join(CACHE, "scratch", str(os.getpid())),
                      ignore_errors=True)
    for k, v in res["notes"].items():
        print(f"# {k}: {v}")
    for name, (value, unit) in res["metrics"].items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        print("# setup_s: process start to the end of the warm-up pass (JVM "
              "launch, get_spark, the oracle's expected facts, Python worker "
              "spawn, one untimed pass of the workload's call); input "
              "generation runs before Spark starts, is cached per (workload, "
              "seed, size) and is excluded")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
