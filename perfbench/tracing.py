"""The traced run: per-layer spans, Spark stage metrics, self-time table.

Separate from the timed runs. The process makes three Spark sessions:

A. ``local[4]``, UI off: cold start (the ``session.start_s`` span),
   warm-up, input generation, then two untraced passes of the
   workload's call (the second one counts);
B. ``local[1]``, UI off, right after A: the warm-up, then one pass of
   the same call on the quarter table, for ``scaling_eff_1_4``;
C. ``local[4]``, UI on: the traced section. Spans wrap each call the
   benchmark makes into a layer (``session``, ``sources``, ``pipeline``,
   ``extractor``, ``lineage``); each span sets a Spark job group, so the
   stage metrics fetched from the REST API afterwards map back to it.

Fused-path numbers are differences between cumulative prefixes that
each end in a real action (scan -> + exchange -> + identity Arrow
round trip -> + the extraction UDF). The staged path ends its
prefixes in noop writes. Probes of a path that the workload itself
does not run use the workload's quarter table, so the traced run stays
short; the workload's own path runs on its main table.

Spans stay in memory and are written once, at the end, to
``.perfbench/traces/<workload>-s<seed>-<time>/spans.json`` with the
per-layer table beside it (``layers.txt``, also printed).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import urllib.request
from contextlib import contextmanager

import run

LAYERS = ("session", "sources", "pipeline", "extractor", "lineage")
MOVES = {
    "session": "setup_s, all workloads",
    "sources": "pages_per_s on pages_large_uniform",
    "pipeline": "pages_per_s on pages_small_skewed, pages_large_uniform "
                "(fused) and staged_blocks (staged)",
    "extractor": "pages_per_s on pages_large_uniform (segment); "
                 "pages_small_skewed, staged_blocks (classify, merge)",
    "lineage": "pages_per_s on commit_resume",
}
EXTRACTOR_SAMPLE = 1000
FUSED = ("pages_small_skewed", "pages_large_uniform")


class Tracer:
    """In-memory spans: name, layer, start, end, parent and run id."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []
        self.sc = None  # SparkContext whose job group follows the spans

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._group(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def _group(self, span_id) -> None:
        if self.sc is not None:
            if span_id is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(f"span{span_id}", self.spans[span_id]["name"])

    def get(self, name: str) -> dict:
        (rec,) = [s for s in self.spans if s["name"] == name]
        return rec

    def dur(self, name: str) -> float:
        rec = self.get(name)
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the time its children cover."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return rec["end"] - rec["start"] - covered


# --- Spark REST stage metrics ------------------------------------------------------

class StageMetrics:
    """Completed-stage metrics per span, from the Spark UI's REST API."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = (f"{self.sc.uiWebUrl}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=10) as r:
            return json.loads(r.read())

    def collect(self, tracer: Tracer, timeout_s: float = 20.0) -> dict:
        """{span id: [stage dicts]} once the UI store has every job."""
        want = {}
        for rec in tracer.spans:
            for j in self.sc.statusTracker().getJobIdsForGroup(f"span{rec['id']}"):
                want[j] = rec["id"]
        deadline = time.perf_counter() + timeout_s
        while True:
            jobs = {j["jobId"]: j for j in self._get("jobs")}
            done = all(jobs.get(j, {}).get("status") in ("SUCCEEDED", "FAILED")
                       for j in want)
            if done or time.perf_counter() > deadline:
                break
            time.sleep(0.2)
        stages = {s["stageId"]: s for s in self._get("stages?status=complete")}
        by_span: dict = {}
        for j, sid in want.items():
            for st in jobs.get(j, {}).get("stageIds", ()):
                if st in stages:
                    by_span.setdefault(sid, []).append(stages[st])
        return by_span

    def task_quantiles(self, stage: dict) -> list:
        q = self._get(f"stages/{stage['stageId']}/{stage['attemptId']}/"
                      "taskSummary?quantiles=0.5,1.0")
        return q["executorRunTime"]


def _sum(stages: list, key: str) -> float:
    return float(sum(s.get(key, 0) for s in stages))


# --- probes ---------------------------------------------------------------------

WARM_PAGES = 64


def warm_up(spark) -> None:
    """The fused call over WARM_PAGES fixed small pages: spawns the
    Python workers, imports the extractor in them and compiles the
    extraction plan."""
    import random

    from octospark.sources import PAGES_SCHEMA
    from pyspark.sql import types as T

    import gen

    path = os.path.join(run.scratch_dir("warm"), f"t{time.perf_counter_ns()}")
    rows = gen.small_rows(random.Random("warm"), WARM_PAGES, False, 0)
    schema = T.StructType([f for f in PAGES_SCHEMA.fields if f.name != "text"])
    spark.createDataFrame(rows, schema).repartition(run.CORES).write.parquet(path)
    (n, _, _), _ = run.fused_call(spark, path)
    shutil.rmtree(path, ignore_errors=True)
    if n != WARM_PAGES:
        raise run.BenchError(
            f"warm-up returned {n} rows, expected {WARM_PAGES}")


def _identity(batches):
    yield from batches


def fused_probes(tr: Tracer, spark, path: str, expect: dict) -> int:
    """Cumulative prefixes of the fused path; returns (pages failed,
    html bytes the scan delivered)."""
    from pyspark.sql import functions as F

    from octospark.pipeline import (extract_pages, find_skewed_hosts,
                                    salted_repartition)

    def html_facts(df):
        return df.agg(F.count("*"), F.sum(F.length("html"))).collect()[0]

    pages = run.read_pages(spark, path)
    src = pages.select("url", "warc_ts", "html", "lang")
    with tr.span("sources.scan", "sources"):
        html_bytes = html_facts(src)[1]
    with tr.span("pipeline.census", "pipeline"):
        skewed = find_skewed_hosts(pages) or None
    shuffled = salted_repartition(src, skewed_hosts=skewed)
    with tr.span("pipeline.exchange_prefix", "pipeline"):
        html_facts(shuffled)
    with tr.span("pipeline.arrow_prefix", "pipeline"):
        html_facts(shuffled.mapInPandas(_identity, src.schema))
    with tr.span("pipeline.extract_prefix", "pipeline"):
        facts = run._facts(extract_pages(pages, salted=True, skewed_hosts=skewed))
    return run.check(facts, expect), html_bytes


def staged_probes(tr: Tracer, spark, path: str, expect: dict) -> int:
    from octospark.pipeline import classify, merge, segment

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    pages = run.read_pages(spark, path)
    with tr.span("pipeline.segment_prefix", "pipeline"):
        noop(segment(pages))
    with tr.span("pipeline.classify_prefix", "pipeline"):
        noop(classify(segment(pages)))
    with tr.span("pipeline.merge_prefix", "pipeline"):
        facts = run._facts(merge(classify(segment(pages)), pages))
    return run.check(facts, expect)


def lineage_probes(tr: Tracer, spark, path: str, expect: dict) -> tuple:
    """Crash, resume, read back; returns (pages failed, counts)."""
    from octospark.lineage import read_extracted, read_manifest, run_extract

    out = os.path.join(run.scratch_dir("commit"), "traced")
    pages = run.read_pages(spark, path)
    with tr.span("lineage.crash_attempt", "lineage"):
        run_extract(spark, pages, out, n_buckets=run.N_BUCKETS,
                    fail_after_buckets=run.CRASH_AFTER)
    crash = read_manifest(out)
    with tr.span("lineage.resume", "lineage"):
        manifest = run_extract(spark, pages, out, n_buckets=run.N_BUCKETS)
    with tr.span("lineage.readback", "lineage"):
        facts = run._facts(read_extracted(spark, out))
    committed = sum(b["output_count"] for b in manifest["buckets"].values())
    crash_committed = sum(b["input_count"] for b in crash["buckets"].values())
    files, data_bytes = 0, 0
    for root, _, names in os.walk(os.path.join(out, "data")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                data_bytes += os.path.getsize(os.path.join(root, n))
    counts = {
        # the crash attempt extracts every row; the resume re-extracts
        # the rows of the buckets the crash did not commit
        "extracted_per_committed":
            (expect["n"] + expect["n"] - crash_committed) / max(committed, 1),
        "files_per_bucket": files / run.N_BUCKETS,
        "data_mb_per_text_mb": data_bytes / max(expect["text_chars"], 1),
    }
    return run.check(facts, expect), counts


def extractor_probes(tr: Tracer, path: str) -> dict:
    """Direct in-process calls on one core over a fixed sample."""
    import pyarrow.parquet as pq

    from octospark.extractor import (classify_blocks, extract, merge_spans,
                                     segment_blocks)

    tbl = pq.read_table(path, columns=["url", "html"]).sort_by("url")
    step = max(1, tbl.num_rows // EXTRACTOR_SAMPLE)
    htmls = tbl.column("html").to_pylist()[::step][:EXTRACTOR_SAMPLE]
    seg = cls = mrg = 0.0
    page_us, blocks, depth = [], 0, 0
    pc = time.perf_counter
    with tr.span("extractor.sample", "extractor"):
        for h in htmls:
            t0 = pc()
            bl = segment_blocks(h, with_hist=False)
            t1 = pc()
            classify_blocks(bl)
            t2 = pc()
            merge_spans(bl)
            t3 = pc()
            extract(h)
            t4 = pc()
            seg += t1 - t0
            cls += t2 - t1
            mrg += t3 - t2
            page_us.append((t4 - t3) * 1e6)
            blocks += len(bl)
            depth = max([depth] + [b.depth for b in bl])
    kb = sum(len(h) for h in htmls) / 1024
    n = len(htmls)
    q = statistics.quantiles(page_us, n=100)
    return {
        "extractor.segment_us_per_kb": (seg * 1e6 / kb, "us/KB"),
        "extractor.classify_us_per_page": (cls * 1e6 / n, "us"),
        "extractor.merge_us_per_page": (mrg * 1e6 / n, "us"),
        "extractor.page_us_p50": (statistics.median(page_us), "us"),
        "extractor.page_us_p99": (q[98], "us"),
        "extractor.blocks_per_page": (blocks / n, "count"),
        "extractor.max_depth": (float(depth), "count"),
        "extractor.sample_pages": (float(n), "count"),
    }


# --- the traced run -----------------------------------------------------------------

def traced_run(workload: str, seed: int) -> dict:
    import gen

    call = run.CALLS[workload]
    tr = Tracer(f"{workload}-s{seed}-{int(time.time())}")
    failed = attempted = 0

    def rate(spark, path, expect, passes):
        """Untraced pages/s of the last of ``passes`` calls. The traced
        section runs in a JVM that sessions A and B have already warmed,
        so A's reference is its second call, not its first."""
        nonlocal failed, attempted
        ps = run.run_passes(spark, call, path, expect, 0, passes)
        failed += sum(p["failed"] for p in ps)
        attempted += sum(p["pages"] for p in ps)
        return ps[-1]["pages"] / ps[-1]["wall_s"]

    # A: untraced reference at local[4]
    with tr.span("session.cold_start", "session"):
        spark = run.start_spark(run.CORES)
    warm_up(spark)
    inputs, _ = gen.ensure_inputs(run.CACHE, run.REPO, workload, seed)
    main = os.path.join(inputs, "main")
    meta = {"main": gen.facts_of(spark.read.parquet(main))}
    quarter = os.path.join(inputs, "quarter")
    meta["quarter"] = gen.quarter_table(spark, main, quarter)
    rate4 = rate(spark, main, meta["main"], 2)
    run.stop_spark(spark)
    # B: local[1] on the quarter table, next to A's pass
    spark = run.start_spark(1)
    warm_up(spark)
    rate1 = rate(spark, quarter, meta["quarter"], 1)
    run.stop_spark(spark)

    # C: traced section
    def table_for(own: bool) -> tuple:
        return (main, meta["main"]) if own else (quarter, meta["quarter"])

    fused_in = table_for(workload in FUSED)
    staged_in = table_for(workload == "staged_blocks")
    lineage_in = table_for(workload == "commit_resume")
    with run.RssSampler() as rss, tr.span("traced", "bench") as root:
        with tr.span("session.get_spark", "session"):
            spark = run.start_spark(run.CORES, {
                "spark.ui.enabled": "true", "spark.ui.port": "0"})
        tr.sc = spark.sparkContext
        with tr.span("pipeline.warm_up", "pipeline"):
            warm_up(spark)
        fused_failed, scan_bytes = fused_probes(tr, spark, *fused_in)
        staged_failed = staged_probes(tr, spark, *staged_in)
        lineage_failed, lineage_counts = lineage_probes(tr, spark, *lineage_in)
        ext = extractor_probes(tr, main)
    rest = StageMetrics(spark)
    stages = rest.collect(tr)
    for f, (_, e) in ((fused_failed, fused_in), (staged_failed, staged_in),
                      (lineage_failed, lineage_in)):
        failed += f
        attempted += e["n"]

    d = tr.dur

    def st(name):
        return stages.get(tr.get(name)["id"], [])

    udf_stages = st("pipeline.extract_prefix")
    run_ms = _sum(udf_stages, "executorRunTime")
    python_stage = max(udf_stages, key=lambda s: s["executorRunTime"])
    p50, pmax = rest.task_quantiles(python_stage)
    run.stop_spark(spark, final=True)

    primary = {
        "pages_small_skewed": ("pipeline.census", "pipeline.extract_prefix"),
        "pages_large_uniform": ("pipeline.census", "pipeline.extract_prefix"),
        "staged_blocks": ("pipeline.merge_prefix",),
        "commit_resume": ("lineage.crash_attempt", "lineage.resume",
                          "lineage.readback"),
    }[workload]
    traced_rate = meta["main"]["n"] / sum(d(n) for n in primary)
    wall = root["end"] - root["start"]
    layer_self = {lay: sum(tr.self_time(s) for s in tr.spans
                           if s["layer"] == lay and s["start"] >= root["start"])
                  for lay in LAYERS}
    unattributed = tr.self_time(root)

    m = {
        "session.start_s": (d("session.cold_start"), "s"),
        "sources.scan_s": (d("sources.scan"), "s"),
        "sources.scan_mb": (scan_bytes / 1e6, "MB"),
        "pipeline.census_s": (d("pipeline.census"), "s"),
        "pipeline.exchange_s": (d("pipeline.exchange_prefix") - d("sources.scan"), "s"),
        "pipeline.exchange_mb": (
            _sum(st("pipeline.exchange_prefix"), "shuffleWriteBytes") / 1e6, "MB"),
        "pipeline.arrow_s": (
            d("pipeline.arrow_prefix") - d("pipeline.exchange_prefix"), "s"),
        "pipeline.udf_s": (
            d("pipeline.extract_prefix") - d("pipeline.arrow_prefix"), "s"),
        "pipeline.udf_task_ms_p50": (p50, "ms"),
        "pipeline.udf_task_skew": (pmax / max(p50, 1e-9), "ratio"),
        "pipeline.occupancy": (
            run_ms / (d("pipeline.extract_prefix") * 1000 * run.CORES), "ratio"),
        "pipeline.gc_share": (
            _sum(udf_stages, "jvmGcTime") / max(run_ms, 1.0), "ratio"),
        "pipeline.segment_s": (d("pipeline.segment_prefix"), "s"),
        "pipeline.classify_s": (
            d("pipeline.classify_prefix") - d("pipeline.segment_prefix"), "s"),
        "pipeline.merge_s": (
            d("pipeline.merge_prefix") - d("pipeline.classify_prefix"), "s"),
        "pipeline.block_rows": (
            _sum(st("pipeline.classify_prefix"), "shuffleWriteRecords"), "count"),
        "pipeline.staged_shuffle_mb": (
            _sum(st("pipeline.merge_prefix"), "shuffleWriteBytes") / 1e6, "MB"),
        **ext,
        "lineage.crash_attempt_s": (d("lineage.crash_attempt"), "s"),
        "lineage.resume_s": (d("lineage.resume"), "s"),
        "lineage.readback_s": (d("lineage.readback"), "s"),
        "lineage.extracted_per_committed": (
            lineage_counts["extracted_per_committed"], "ratio"),
        "lineage.files_per_bucket": (lineage_counts["files_per_bucket"], "count"),
        "lineage.data_mb_per_text_mb": (
            lineage_counts["data_mb_per_text_mb"], "ratio"),
        "scaling_eff_1_4": (rate4 / (run.CORES * rate1), "ratio"),
        "peak_rss_mb": (rss.peak, "MB"),
        "trace.untraced_pages_per_s": (rate4, "1/s"),
        "trace.traced_pages_per_s": (traced_rate, "1/s"),
        "trace.rate_ratio": (traced_rate / rate4, "ratio"),
        "trace.wall_s": (wall, "s"),
        "trace.unattributed_share": (unattributed / wall, "ratio"),
    }
    for lay in LAYERS:
        m[f"{lay}.self_s"] = (layer_self[lay], "s")

    table = layer_table(layer_self, unattributed, wall, m)
    out = os.path.join(run.CACHE, "traces", tr.run_id)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "spans.json"), "w") as f:
        json.dump({"run_id": tr.run_id, "spans": tr.spans,
                   "stages": {str(k): v for k, v in stages.items()}}, f)
    with open(os.path.join(out, "layers.txt"), "w") as f:
        f.write(table + "\n")
    notes = {
        "spans_file": os.path.relpath(os.path.join(out, "spans.json"), run.REPO),
        "probe_tables": {"fused": os.path.basename(fused_in[0]),
                         "staged": os.path.basename(staged_in[0]),
                         "lineage": os.path.basename(lineage_in[0])},
        "failed_frac": failed / attempted,
        "layers": "\n" + table,
    }
    return {"metrics": m, "attempted": attempted, "failed": failed,
            "notes": notes}


def layer_table(layer_self: dict, unattributed: float, wall: float,
                m: dict) -> str:
    counts = {
        "session": "",
        "sources": f"scan {m['sources.scan_mb'][0]:.1f} MB",
        "pipeline": (f"exchange {m['pipeline.exchange_mb'][0]:.1f} MB, "
                     f"{m['pipeline.block_rows'][0]:.0f} block rows"),
        "extractor": (f"{m['extractor.sample_pages'][0]:.0f} pages, "
                      f"{m['extractor.blocks_per_page'][0]:.1f} blocks/page"),
        "lineage": f"{m['lineage.files_per_bucket'][0]:.1f} files/bucket",
    }
    rows = [f"{'layer':<10} {'self_s':>8} {'share':>6}  {'counts':<40} should move"]
    for lay in LAYERS:
        rows.append(f"{lay:<10} {layer_self[lay]:8.3f} "
                    f"{layer_self[lay] / wall:6.1%}  {counts[lay]:<40} {MOVES[lay]}")
    rows.append(f"{'(none)':<10} {unattributed:8.3f} {unattributed / wall:6.1%}  "
                f"{'benchmark code between spans':<40} -")
    rows.append(f"{'traced':<10} {wall:8.3f} {1:6.1%}")
    return "\n".join(rows)
