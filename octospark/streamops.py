"""Structured Streaming surface — the same extraction pipeline over an
unbounded pages stream.

The reference is strictly batch (its "streaming" is a progress loop,
/root/reference/src/octopy/cli/segment.py:134-145); this module is the
Spark-native extension: the SAME fused extraction plan
(:func:`octospark.pipeline.extract_pages`) runs unchanged on a streaming
DataFrame, because mapInPandas is stateless per-row — octopy's
per-document independence is what makes the pipeline streamable for
free.

Patterns covered (SURVEY.md §2.2 streaming extras):
- file-source streaming ingest (`readStream.schema(...).parquet`)
- watermarked late-data handling (`withWatermark`)
- in-stream url dedup (`dropDuplicatesWithinWatermark`)
- an exactly-once sink that commits each micro-batch through the
  chunk-directory protocol of :mod:`octospark.lineage`
- tumbling-window throughput metrics (the batch-equivalent twins are
  oracle-checked in octospark.relational)
- `Trigger.AvailableNow` batch-drain for testable runs
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from octospark.lineage import (
    _read_chunks,
    _register_attempt,
    _write_chunk,
    commit_manifest,
    committed_batches,
    read_manifest,
)
from octospark.pipeline import EXTRACTED_SCHEMA, extract_pages
from octospark.sources import PAGES_SCHEMA


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Unbounded pages source: each micro-batch takes up to
    ``max_files_per_trigger`` new parquet files from ``input_dir`` (the
    file-arrival pattern of a crawl landing zone)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_stream(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming extraction: watermark late crawls, drop duplicate urls
    within the watermark (latest-crawl-wins happens downstream in batch
    compaction), then the batch path's fused extraction plan with its
    default size guard."""
    return extract_pages(
        pages.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
    )


def throughput_metrics(
    pages: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Windowed pages/window metric (append-mode safe: aggregation
    keyed on a watermarked event-time window).

    Feed this the RAW pages stream (or extracted output re-streamed
    from its sink), NOT ``extract_stream``'s in-flight output: Spark
    allows exactly ONE ``withWatermark`` per query lineage, and the
    mapInPandas extraction both consumes the upstream mark (for url
    dedup) and strips the event-time metadata from its output — so an
    aggregation over the in-flight extracted stream can neither reuse
    nor redefine a watermark (tests pin the working composition).
    Metrics over raw pages are equivalent for this corpus contract:
    extracted text is byte-identical per url to the golden ``text``
    column. The watermark is applied here only when the input does not
    already carry one (batch DataFrames pass through untouched)."""
    field = pages.schema["warc_ts"]
    if (
        pages.isStreaming
        and "spark.watermarkDelayMs" not in (field.metadata or {})
    ):
        pages = pages.withWatermark("warc_ts", watermark)
    return (
        pages.groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(F.col("w.start").alias("win_start"), "lang", "n_pages",
                "n_chars")
    )


SESSION_SCHEMA = (
    "host string, session_start timestamp, session_end timestamp, "
    "n_pages long"
)
_SESSION_STATE_SCHEMA = (  # parallel arrays: open/pending sessions
    "starts array<long>, lasts array<long>, ns array<long>"
)


def sessionize_stream(
    pages: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: per-host crawl sessions via
    ``applyInPandasWithState`` — the arbitrary-state API that
    ``session_window`` (octospark.relational stream_session_window)
    cannot replace when per-group logic goes beyond a gap split (here:
    exact page counts per session and event-time-timeout flushes).

    Semantics: pages for one host belong to one session while
    consecutive warc_ts gaps stay below ``gap``. A session is emitted
    exactly once, when the event-time watermark passes ``last + gap``
    — i.e. when NO admissible event could still extend or bridge it.
    Until then split sessions stay PENDING in state, so a
    late-but-within-watermark event can merge into — or re-bridge —
    sessions an eager emitter would already have shipped (the classic
    incremental-sessionization bug; the in-batch-split-then-late-bridge
    case is pinned in tests). State per host is the list of open
    session summaries (start, last, n) — bounded by (active span /
    gap), a handful of longs per ACTIVE host, never per page."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if pd.Timedelta(watermark) > pd.Timedelta(gap):
        # a late event older than the gap could belong between two
        # already-FINAL sessions; bounding late-ness by the gap keeps
        # "watermark passed last+gap" a true finality condition
        raise ValueError(
            f"sessionize_stream requires watermark <= gap "
            f"({watermark!r} > {gap!r}): a late event older than the "
            f"gap could bridge sessions already emitted as final"
        )
    gap_us = int(pd.Timedelta(gap).total_seconds() * 1_000_000)

    def fn(key, pdfs, state: GroupState):
        host = key[0]

        def session_row(start_us: int, last_us: int, n: int):
            return pd.DataFrame(
                {
                    "host": [host],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(last_us, unit="us")],
                    "n_pages": [n],
                }
            )

        sessions: list[list[int]] = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [list(t) for t in zip(starts, lasts, ns)]

        if not state.hasTimedOut:
            ts: list[int] = []
            for pdf in pdfs:
                col = pdf["warc_ts"].astype("datetime64[us]")
                # null event times would become NaT -> INT64_MIN garbage
                ts.extend(col.dropna().astype("int64"))
            # merge sweep: every new event is a singleton session;
            # sorting + coalescing handles in-order runs, late merges,
            # and late events BRIDGING two pending sessions uniformly
            sessions.extend([int(t), int(t), 1] for t in ts)
            sessions.sort(key=lambda s: (s[0], s[1]))
            merged: list[list[int]] = []
            for s in sessions:
                if merged and s[0] - merged[-1][1] <= gap_us:
                    merged[-1][1] = max(merged[-1][1], s[1])
                    merged[-1][2] += s[2]
                else:
                    merged.append(s)
            sessions = merged

        if not sessions:
            if state.exists:
                state.remove()
            return

        # finality: watermark passed last+gap => no admissible event
        # (t >= wm) can merge (t - last > gap). Emit those, keep rest.
        wm_us = state.getCurrentWatermarkMs() * 1000
        final = [s for s in sessions if s[1] + gap_us < wm_us]
        keep = [s for s in sessions if s[1] + gap_us >= wm_us]
        if keep:
            state.update(
                ([s[0] for s in keep], [s[1] for s in keep],
                 [s[2] for s in keep])
            )
            # earliest pending deadline, clamped ahead of the watermark
            timeout_ms = max(
                min(s[1] + gap_us for s in keep) // 1000,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(timeout_ms)
        else:
            state.remove()
        for s in final:
            yield session_row(s[0], s[1], s[2])

    from octospark.pipeline import host_of

    return (
        pages.withWatermark("warc_ts", watermark)
        .select(host_of(F.col("url")).alias("host"), "warc_ts")
        .groupBy("host")
        .applyInPandasWithState(
            fn,
            SESSION_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stream_exactly_once(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    watermark: str = "10 minutes",
    max_files_per_trigger: int = 8,
    fail_after_batches: int | None = None,
):
    """Streaming extraction with an EXACTLY-ONCE manifest sink — the
    streaming twin of :func:`octospark.lineage.run_extract`'s R22-R24
    checkpoint/resume protocol (reference analog: the train loop's
    resumable checkpoints, /root/reference/src/octopy/cli/train.py:76-97).

    Each micro-batch commits through the chunk-directory protocol of
    :mod:`octospark.lineage`, the one :func:`run_extract` and
    :func:`octospark.lineage.compact_run` use: the query registers its
    attempt in ``manifest["attempts"]``, writes each micro-batch as the
    new chunk ``data/<attempt>-<batch_id>`` and then atomically records
    it, with the batch's lineage stats (row count, error count,
    ``bit_xor(xxhash64(url, text))`` checksum), in
    ``manifest["batches"][batch_id]``. So one inspection surface
    (:func:`octospark.lineage.inspect`, ``jobs/inspect_run.py``) covers
    batch and stream output, and :func:`read_stream_extracted` reads
    through the same chunk reader as
    :func:`octospark.lineage.read_extracted`.

    The exactly-once argument, both halves:
    - REPLAY SAFETY: Spark writes the batch's source offsets to the
      checkpoint WAL before running it, so after a crash the SAME
      batch_id re-runs with the SAME input slice. A batch already in
      the manifest is a no-op; otherwise the replay, running under the
      restarted query's new attempt id, writes a fresh chunk directory.
    - READER ISOLATION: :func:`read_stream_extracted` reads ONLY the
      chunk directories the manifest names, so a torn batch (data
      written, crash before the manifest commit) is an unnamed orphan
      directory, the same as a drift-aborted bucket chunk — no dup, no
      partial.

    ``fail_after_batches=k`` simulates the worst-case crash for tests:
    the (k+1)-th batch of the run writes its data files and dies BEFORE
    the manifest commit.

    Scale shape: each micro-batch is extracted once, by its chunk
    write; its stats are one partial-agg pass over a column-pruned read
    of the chunk just written (``url, text, error``), so nothing is
    cached. The manifest grows one small JSON row per micro-batch,
    never per page."""
    os.makedirs(out_dir, exist_ok=True)
    attempt = _register_attempt(
        out_dir, read_manifest(out_dir), f"stream-{uuid.uuid4().hex[:12]}"
    )
    committed_this_run = [0]

    def _commit(batch_df, batch_id: int) -> None:
        m = read_manifest(out_dir)
        batches = m.setdefault("batches", {})
        if str(batch_id) in batches:
            return  # checkpoint replay of a committed batch: no-op
        chunk = f"{attempt}-{batch_id}"
        stats = _write_chunk(batch_df, out_dir, chunk, EXTRACTED_SCHEMA)[None]
        if (
            fail_after_batches is not None
            and committed_this_run[0] >= fail_after_batches
        ):
            raise RuntimeError(
                "simulated crash after data write, before manifest "
                f"commit (batch {batch_id})"
            )
        batches[str(batch_id)] = {
            "run_id": attempt,
            "chunk": chunk,
            **stats,
            "committed_at": time.time(),
        }
        commit_manifest(out_dir, m)
        committed_this_run[0] += 1

    pages = read_pages_stream(spark, input_dir, max_files_per_trigger)
    extracted = extract_stream(pages, watermark=watermark)
    writer = (
        extracted.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed-batches-only reader for :func:`run_stream_exactly_once`
    output, in :data:`octospark.pipeline.EXTRACTED_SCHEMA`: it opens
    exactly the chunk directories ``manifest["batches"]`` names, so a
    torn batch's directory is invisible. A batch entry that names no
    chunk directory is an error."""
    batches = committed_batches(read_manifest(out_dir))
    return _read_chunks(
        spark, out_dir, [b["chunk"] for b in batches.values()],
        EXTRACTED_SCHEMA,
    )


def windowed_page_counts(
    pages: DataFrame,
    watermark: str = "5 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window page counts in APPEND mode — the
    real late-data contract (the oracle-checked batch twin is
    ``stream_tumbling_window``): a window row is emitted exactly once,
    when the event-time watermark passes its end, and rows arriving
    behind the watermark are DROPPED rather than mutating an
    already-final window. tests/test_streamops.py drives three
    micro-batches through this and pins both halves of the contract.

    Scale shape: the streaming agg state is per-window partial counts
    (the same partial-aggregable sum as batch); the watermark bounds
    state size — without it the window store grows forever on a
    10^12-page crawl stream."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_pages",
        )
    )


def join_stream_with_fetch_log(
    pages: DataFrame,
    fetches: DataFrame,
    watermark: str = "10 minutes",
    max_lag_minutes: int = 5,
) -> DataFrame:
    """Stream-stream INNER join: enrich the live pages stream with the
    crawl fetch log (status code, latency) that arrives on its own
    stream — matched on url with an event-time range bound
    (fetch within [warc_ts, warc_ts + max_lag]).  Both sides carry
    watermarks because Spark requires them to BOUND THE JOIN STATE:
    a buffered page can be dropped from state once the fetch-side
    watermark passes warc_ts + max_lag (no future fetch can match),
    which is what keeps state finite on an unbounded 10^12-page
    crawl.  Without the time bound the state store would pin every
    unmatched url forever.

    Scale shape: the join state is hash-partitioned by url exactly
    like a batch shuffle join; the range condition turns into the
    state-eviction clock. The reference has no streaming analog (its
    progress loop is batch, cli/segment.py:134-145) — this is the
    Spark-native extension of R11's url-keyed join to unbounded
    inputs."""
    p = pages.withWatermark("warc_ts", watermark)
    f = fetches.withWatermark("fetch_ts", watermark)
    return p.join(
        f,
        F.expr(
            "url = fetch_url AND fetch_ts >= warc_ts "
            f"AND fetch_ts <= warc_ts + interval {max_lag_minutes} minutes"
        ),
        "inner",
    ).select(
        "url", "warc_ts", "fetch_ts", "status", "latency_ms",
    )
