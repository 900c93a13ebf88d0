"""Structured Streaming smoke tests: file-source extraction stream with
availableNow drain; rate-source windowed agg. Batch-equivalents of the
window semantics are oracle-checked in octospark.relational."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def pages_dir(spark, pages, tmp_path):
    p = str(tmp_path / "pages_in")
    pages.orderBy("url").limit(100).write.parquet(p)
    return p


def test_stream_extract_matches_batch(spark, pages, pages_dir, tmp_path):
    from octospark.streamops import (
        read_stream_extracted,
        run_stream_exactly_once,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = run_stream_exactly_once(spark, pages_dir, out, ckpt)
    q.awaitTermination(120)
    got = read_stream_extracted(spark, out)
    n = got.count()
    assert n == 100
    # byte-identity also holds on the streaming path (same UDF)
    j = (
        spark.read.parquet(pages_dir)
        .select("url", F.col("text").alias("golden"))
        .join(got.select("url", "text"), "url")
    )
    assert j.filter(F.col("golden") != F.col("text")).count() == 0


def test_stream_resume_processes_only_new_files(spark, pages, pages_dir,
                                                tmp_path):
    from octospark.streamops import (
        read_stream_extracted,
        run_stream_exactly_once,
    )

    out = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    run_stream_exactly_once(spark, pages_dir, out, ckpt,
                            watermark="3650 days").awaitTermination(120)
    # land new files (write elsewhere first: writing a frame derived from
    # pages_dir back into pages_dir would re-read it mid-write), then
    # restart from the checkpoint
    import glob
    import shutil

    staging = str(tmp_path / "staging")
    existing = spark.read.parquet(pages_dir).select("url")
    pages.orderBy("url").limit(150).join(
        existing, "url", "left_anti"
    ).write.parquet(staging)
    for i, f in enumerate(glob.glob(f"{staging}/part-*.parquet")):
        shutil.copy(f, f"{pages_dir}/landed-{i}.parquet")
    # huge watermark delay: landed rows have older warc_ts than the first
    # batch, and a realistic 10-minute watermark would (correctly) drop
    # them as late — this test is about file-offset resume, not lateness
    run_stream_exactly_once(spark, pages_dir, out, ckpt,
                            watermark="3650 days").awaitTermination(120)
    got = read_stream_extracted(spark, out)
    assert got.count() == 150
    assert got.groupBy("url").count().filter("count != 1").count() == 0


def test_stateful_sessionize_gap_split_and_timeout_flush(spark, tmp_path):
    """applyInPandasWithState sessionizer: an in-batch gap closes a
    session immediately; an open session is flushed when a later
    micro-batch advances the watermark past last_ts + gap.

    Batch plan (gap 30 min, watermark delay 10 min; one file per
    micro-batch, ordered by mtime):
      A: h1 @ 10:00, 10:05, 11:00  -> closes [10:00,10:05] in-batch
         h2 @ 10:00
         (watermark after A = 10:50)
      B: h3 @ 20:00               -> h2 times out (10:30 < 10:50);
         (watermark after B = 19:50)    h1's 11:30 deadline not yet due
      C: h4 @ 30:00               -> h1 [11:00] times out (11:30<19:50)
    After C, Spark's trailing no-data micro-batch advances the
    watermark to 29:50 and flushes h3 (deadline 20:30); h4's 30:30
    deadline stays ahead of it, so h4 alone remains open."""
    import os
    import time as _time

    import pandas as pd

    from octospark.streamops import sessionize_stream
    from octospark.sources import PAGES_SCHEMA

    d = pd.Timestamp("2024-03-01")

    def page(host, hh, mm):
        return (
            f"https://{host}/p{hh}{mm}",
            d + pd.Timedelta(hours=hh, minutes=mm),
            b"<html></html>",
            "",
            "en",
        )

    in_dir = tmp_path / "sess_in"
    in_dir.mkdir()
    batches = [
        [page("h1", 10, 0), page("h1", 10, 5), page("h1", 11, 0),
         page("h2", 10, 0)],
        [page("h3", 20, 0)],
        [page("h4", 30, 0)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        f = str(tmp_path / f"stage_{i}")
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(f)
        import glob
        import shutil

        src = glob.glob(f"{f}/part-*.parquet")[0]
        dst = str(in_dir / f"b{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (_time.time() + i, _time.time() + i))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    sessions = sessionize_stream(stream, gap="30 minutes",
                                 watermark="10 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.host, r.session_start.strftime("%H:%M"),
         r.session_end.strftime("%H:%M"), r.n_pages)
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    assert got == {
        ("h1", "10:00", "10:05", 2),   # closed by in-batch gap
        ("h2", "10:00", "10:00", 1),   # timeout flush in batch B
        ("h1", "11:00", "11:00", 1),   # timeout flush in batch C
        ("h3", "20:00", "20:00", 1),   # flushed by final no-data batch
    }, got


def test_rate_source_windowed_agg(spark):
    from octospark.streamops import throughput_metrics

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
        .select(
            F.concat(F.lit("https://h/"), "value").alias("url"),
            F.col("timestamp").alias("warc_ts"),
            F.lit("x").alias("text"),
            F.lit("en").alias("lang"),
        )
    )
    agg = throughput_metrics(rate, window="10 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_agg")
        .outputMode("update")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    deadline = time.time() + 60
    rows = 0
    while time.time() < deadline:
        rows = spark.sql("SELECT count(*) c FROM rate_agg").collect()[0]["c"]
        if rows > 0:
            break
        time.sleep(1)
    q.stop()
    assert rows > 0


def test_stream_dedup_within_watermark(spark, pages, tmp_path):
    """Duplicate urls landing in the stream within the watermark are
    emitted once (dropDuplicatesWithinWatermark) — the in-stream
    recrawl guard; batch compaction handles latest-wins later."""
    from octospark.streamops import (
        read_stream_extracted,
        run_stream_exactly_once,
    )

    src = pages.orderBy("url").limit(40)
    p = str(tmp_path / "pages_dup_in")
    # land the SAME 40 urls twice (two files, same micro-batch window)
    src.write.parquet(p)
    src.write.mode("append").parquet(p)
    assert spark.read.parquet(p).count() == 80

    out = str(tmp_path / "out_dedup")
    ckpt = str(tmp_path / "ckpt_dedup")
    q = run_stream_exactly_once(spark, p, out, ckpt)
    q.awaitTermination(120)
    got = read_stream_extracted(spark, out)
    assert got.count() == 40
    assert got.select("url").distinct().count() == 40


def test_watermark_finalizes_windows_and_drops_late_rows(spark, tmp_path):
    """The REAL late-data contract across multiple micro-batches
    (append mode): a window is emitted exactly once when the watermark
    passes its end, and a row arriving BEHIND the watermark is dropped
    instead of mutating the already-final window."""
    import time

    from octospark.streamops import windowed_page_counts

    src_dir = str(tmp_path / "wm_in")
    ckpt = str(tmp_path / "wm_ckpt")

    def land(name, ts_list):
        # one file per call == one micro-batch (maxFilesPerTrigger=1)
        spark.createDataFrame(
            [(f"https://h/{name}/{i}", ts) for i, ts in enumerate(ts_list)],
            "url string, warc_ts string",
        ).select(
            "url", F.col("warc_ts").cast("timestamp").alias("warc_ts")
        ).coalesce(1).write.mode("append").parquet(src_dir)

    # batch 1: two rows in window A [10:00,10:05) + one in B [10:20,10:25)
    land("b1", ["2026-01-01 10:00:30", "2026-01-01 10:01:00",
                "2026-01-01 10:20:00"])

    stream = (
        spark.readStream.schema("url string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        windowed_page_counts(stream)
        .writeStream.format("memory")
        .queryName("wm_counts")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # watermark is now 10:20 - 5min = 10:15 (updated post-batch)

        # batch 2: one LATE row for window A (behind the watermark — must
        # be dropped) + one at 10:40 advancing the watermark to 10:35,
        # which finalizes A and B
        land("b2", ["2026-01-01 10:02:00", "2026-01-01 10:40:00"])
        q.processAllAvailable()

        # batch 3: advance watermark past 10:45 to flush window C too
        land("b3", ["2026-01-01 11:00:00"])
        q.processAllAvailable()

        got = {
            r["win_start"].strftime("%H:%M"): r["n_pages"]
            for r in spark.sql("SELECT * FROM wm_counts").collect()
        }
    finally:
        q.stop()
    # window A emitted ONCE with the on-time rows only (late row dropped);
    # B and C finalized with their single rows; 11:00 window still open
    assert got == {"10:00": 2, "10:20": 1, "10:40": 1}


def test_sessionize_late_event_extends_session_without_regressing_end(
    spark, tmp_path
):
    """Code-review regression: a late-but-within-watermark event must
    join the current session (count + possibly earlier start) WITHOUT
    moving session_end backwards (the old `last = t` regression
    fabricated gap splits), and null warc_ts rows must be ignored
    instead of becoming INT64_MIN timestamps.

    Batches (gap 30 min, watermark 10 min):
      A: h1 @ 10:00, 10:20            (wm after A = 10:10)
      B: h1 @ 10:15 (late, admitted), h1 @ null, h9 @ 11:30
                                      (wm after B = 11:20)
      C: h9 @ 23:00 -> h1 times out (10:50 < 11:20); h9 splits in the
         trailing no-data batch (deadline 12:00 < 22:50)."""
    import glob
    import os
    import shutil
    import time as _time

    import pandas as pd

    from octospark.sources import PAGES_SCHEMA
    from octospark.streamops import sessionize_stream

    d = pd.Timestamp("2024-03-01")

    def page(host, hh, mm):
        ts = None if hh is None else d + pd.Timedelta(hours=hh, minutes=mm)
        return (f"https://{host}/p{hh}{mm}", ts, b"<html></html>", "", "en")

    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    batches = [
        [page("h1", 10, 0), page("h1", 10, 20)],
        [page("h1", 10, 15), page("h1", None, None), page("h9", 11, 30)],
        [page("h9", 23, 0)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        f = str(tmp_path / f"late_stage_{i}")
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(f)
        src = glob.glob(f"{f}/part-*.parquet")[0]
        dst = str(in_dir / f"b{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (_time.time() + i, _time.time() + i))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        sessionize_stream(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.host, r.session_start.strftime("%H:%M"),
         r.session_end.strftime("%H:%M"), r.n_pages)
        for r in spark.sql("SELECT * FROM late_sessions").collect()
    }
    assert ("h1", "10:00", "10:20", 3) in got, got  # end NOT regressed
    assert ("h9", "11:30", "11:30", 1) in got, got


def test_throughput_metrics_append_mode_over_pages_stream(
    spark, pages, tmp_path
):
    """Code-review regression: the documented composition must actually
    run in append mode. Spark permits ONE watermark per query lineage
    and mapInPandas strips event-time metadata, so metrics consume the
    RAW pages stream (equivalent: extracted text is byte-identical to
    the golden text column) and throughput_metrics applies the single
    watermark itself."""
    from octospark.streamops import read_pages_stream, throughput_metrics

    p = str(tmp_path / "tp_in")
    pages.orderBy("url").limit(30).write.parquet(p)
    metrics = throughput_metrics(
        read_pages_stream(spark, p), window="5 minutes"
    )
    q = (
        metrics.writeStream.format("memory")
        .queryName("tp_metrics")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # pages span ~30 min of event time; the trailing no-data batch
    # advances the watermark to max_ts - 10 min, flushing at least the
    # first three 5-minute windows
    assert spark.sql("SELECT * FROM tp_metrics").count() >= 3


def test_sessionize_late_event_bridges_pending_split(spark, tmp_path):
    """Code-review regression (eager-emit bug): an in-batch gap split
    must stay PENDING until the watermark finalizes it, so a later
    admissible event can re-bridge the two halves into the ONE session
    the gap rule defines.

    gap 30 min, watermark 10 min:
      A: h1 @ 10:00 and 10:31  (31-min in-batch gap -> two pending
         sessions; eager emit would ship [10:00] now; wm after = 10:21)
      B: h1 @ 10:25 (admitted; bridges: 25 min to 10:00-side, 6 min to
         10:31-side)          (wm after = 10:15? no: max 10:31 - 10 = 10:21)
      C: h1 @ 12:00 -> wm 11:50 finalizes the bridged session."""
    import glob
    import os
    import shutil
    import time as _time

    import pandas as pd

    from octospark.sources import PAGES_SCHEMA
    from octospark.streamops import sessionize_stream

    d = pd.Timestamp("2024-03-01")

    def page(host, hh, mm):
        return (
            f"https://{host}/p{hh}{mm}",
            d + pd.Timedelta(hours=hh, minutes=mm),
            b"<html></html>", "", "en",
        )

    in_dir = tmp_path / "bridge_in"
    in_dir.mkdir()
    batches = [
        [page("h1", 10, 0), page("h1", 10, 31)],
        [page("h1", 10, 25)],
        [page("h1", 12, 0)],
    ]
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
        f = str(tmp_path / f"bridge_stage_{i}")
        spark.createDataFrame(pdf, PAGES_SCHEMA).coalesce(1).write.parquet(f)
        src = glob.glob(f"{f}/part-*.parquet")[0]
        dst = str(in_dir / f"b{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (_time.time() + i, _time.time() + i))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir))
    )
    q = (
        sessionize_stream(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("bridge_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.host, r.session_start.strftime("%H:%M"),
         r.session_end.strftime("%H:%M"), r.n_pages)
        for r in spark.sql("SELECT * FROM bridge_sessions").collect()
    }
    # ONE bridged session {10:00, 10:25, 10:31}; the 12:00 page's
    # session stays open (its deadline 12:30 is ahead of wm 11:50)
    assert got == {("h1", "10:00", "10:31", 3)}, got


def test_exactly_once_sink_kill_resume_no_dup_no_gap(
    spark, pages, tmp_path
):
    """foreachBatch manifest sink: kill after one committed batch (the
    next batch's data files land but the manifest commit never runs),
    assert the torn batch is invisible to the committed-batches reader,
    then restart from the checkpoint and assert the final output equals
    the uninterrupted run exactly — no dup, no gap, byte-identical."""
    from pyspark.sql.utils import StreamingQueryException

    from octospark.streamops import (
        read_stream_extracted,
        run_stream_exactly_once,
    )

    src = str(tmp_path / "eo_in")
    pages.orderBy("url").limit(80).repartition(4).write.parquet(src)
    golden = {
        (r.url, r.text)
        for r in spark.read.parquet(src).select("url", "text").collect()
    }

    # uninterrupted reference run
    out_ref, ck_ref = str(tmp_path / "eo_ref"), str(tmp_path / "eo_ckr")
    # huge watermark delay: file-batch order is mtime-based while
    # warc_ts is unordered across files, and a realistic watermark
    # would (correctly) drop cross-batch late rows — this test is about
    # the commit protocol, not lateness
    run_stream_exactly_once(
        spark, src, out_ref, ck_ref, max_files_per_trigger=1,
        watermark="3650 days",
    ).awaitTermination(180)
    ref = {
        (r.url, r.text)
        for r in read_stream_extracted(spark, out_ref).collect()
    }
    assert {u for u, _ in ref} == {u for u, _ in golden}
    assert ref == golden  # byte-identity on the streaming path

    # killed run: batch 0 commits, batch 1 writes data then dies
    out, ck = str(tmp_path / "eo_out"), str(tmp_path / "eo_ck")
    q = run_stream_exactly_once(
        spark, src, out, ck, max_files_per_trigger=1,
        fail_after_batches=1, watermark="3650 days",
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    from octospark.lineage import inspect, read_manifest

    m = read_manifest(out)
    assert list(m.get("batches", {})) == ["0"]
    import os

    # torn batch's data files exist on disk, in a data/ directory the
    # manifest does not name, and are reader-invisible
    named = {b["chunk"] for b in m["batches"].values()}
    orphans = set(os.listdir(os.path.join(out, "data"))) - named
    assert len(orphans) == 1
    partial = read_stream_extracted(spark, out)
    n_committed = partial.count()
    assert 0 < n_committed < 80
    assert partial.groupBy("url").count().filter("count != 1").count() == 0
    # inspect lists the committed batch and never the orphan
    ins = inspect(out)
    assert ins["n_committed_batches"] == 1
    assert ins["batch_output_count"] == n_committed
    assert [b["chunk"] for b in ins["batches"]] == [m["batches"]["0"]["chunk"]]

    # resume from the checkpoint: batch 1 replays, run completes
    run_stream_exactly_once(
        spark, src, out, ck, max_files_per_trigger=1,
        watermark="3650 days",
    ).awaitTermination(180)
    got_df = read_stream_extracted(spark, out)
    got = {(r.url, r.text) for r in got_df.collect()}
    assert got == ref  # no dup, no gap, byte-identical to clean run
    assert got_df.groupBy("url").count().filter("count != 1").count() == 0
    ids = sorted(int(k) for k in read_manifest(out)["batches"])
    assert ids == list(range(len(ids)))  # contiguous batch commits
    ins = inspect(out)
    assert ins["n_committed_batches"] == len(ids)
    assert ins["batch_output_count"] == 80
    assert orphans.isdisjoint(b["chunk"] for b in ins["batches"])


def test_stream_stream_join_respects_time_bound_and_emits_once(
    spark, tmp_path
):
    """Stream-stream url join with an event-time range: a fetch within
    [warc_ts, warc_ts+5min] joins; one outside the bound never does;
    re-triggering never duplicates an emitted match."""
    from octospark.streamops import join_stream_with_fetch_log

    pages_dir = str(tmp_path / "ss_pages")
    fetch_dir = str(tmp_path / "ss_fetch")
    ckpt = str(tmp_path / "ss_ckpt")

    def land(path, schema, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(path)

    pg = "url string, warc_ts timestamp"
    ft = "fetch_url string, fetch_ts timestamp, status int, latency_ms int"
    ts = lambda s: __import__("datetime").datetime.fromisoformat(s)  # noqa: E731

    # batch 1: two pages; u1's fetch lands 2 min later (in bound),
    # u2's fetch lands 30 min later (outside the 5-min bound)
    land(pages_dir, pg, [("u1", ts("2026-01-01 10:00:00")),
                         ("u2", ts("2026-01-01 10:00:00"))])
    land(fetch_dir, ft, [("u1", ts("2026-01-01 10:02:00"), 200, 37),
                         ("u2", ts("2026-01-01 10:30:00"), 200, 11)])

    pages = (
        spark.readStream.schema(pg).option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    fetches = (
        spark.readStream.schema(ft).option("maxFilesPerTrigger", 1)
        .parquet(fetch_dir)
    )
    q = (
        join_stream_with_fetch_log(pages, fetches)
        .writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a second page for u2 whose fetch IS in bound, plus
        # far-future rows on both sides to advance both watermarks and
        # force state eviction of everything earlier
        land(pages_dir, pg, [("u2", ts("2026-01-01 10:28:00")),
                             ("zz", ts("2026-01-01 12:00:00"))])
        land(fetch_dir, ft, [("zz", ts("2026-01-01 12:00:00"), 500, 1)])
        q.processAllAvailable()
        q.processAllAvailable()  # idempotent re-trigger: no new files
        got = {
            (r.url, r.warc_ts.strftime("%H:%M"),
             r.fetch_ts.strftime("%H:%M"), r.status, r.latency_ms)
            for r in spark.sql("SELECT * FROM ss_join").collect()
        }
        n_rows = spark.sql("SELECT count(*) c FROM ss_join").collect()[0].c
    finally:
        q.stop()
    assert got == {
        ("u1", "10:00", "10:02", 200, 37),   # in-bound match
        ("u2", "10:28", "10:30", 200, 11),   # matches the LATER page only
        ("zz", "12:00", "12:00", 500, 1),    # watermark-advancer pair
    }
    assert n_rows == len(got)  # emitted exactly once each
