"""Lineage + idempotent commit + resume — the Iceberg-snapshot analog.

No Iceberg/Delta jar exists in this environment (SURVEY.md §7.0), so
snapshot semantics are implemented over plain Parquet with an atomic
JSON manifest commit log (write-tmp + os.replace = atomic rename),
mirroring what an Iceberg table commit gives us. A real Iceberg sink
(write, read and compact) waits for an Iceberg runtime jar.

Reference analogs:
- per-partition checkpointing  <- ModelCheckpoint top-k
  (/root/reference/src/octopy/train.py:80-87)
- crash-safe commit            <- on-exception checkpoint
  (/root/reference/src/octopy/train.py:76-79)
- resume-from-checkpoint       <- load_from_checkpoint + --resume
  (/root/reference/src/octopy/train.py:89-97,140-162)
- inspect                      <- model metadata dump
  (/root/reference/src/octopy/cli/inspect.py:38-69)

The unit of commit is a **stable bucket**: ``part_key =
pmod(xxhash64(url), n_buckets)``. Task partition ids change with
parallelism; url-hash buckets don't (SURVEY.md §7.3), so a run at
local[8] can resume work committed at local[32].

Checksum note: the design doc asks for sha256 of concatenated sorted
output bytes; at 10^12 rows concatenating a bucket on one node is not
scalable, so the lineage checksum is the order-independent
``bit_xor(xxhash64(url, text))`` per bucket — computable as a streaming
aggregate with map-side partial combine, still detects any changed /
missing / duplicated row.

Commit protocol — one flat directory per chunk, named in the manifest.
This module is its one implementation; :func:`run_extract` (a chunk of
buckets), :func:`compact_run` (the whole snapshot) and
:func:`octospark.streamops.run_stream_exactly_once` (a micro-batch) all
commit through it:

- **attempt**: every attempt is registered in ``manifest["attempts"]``
  under a unique id before it writes anything;
- **write**: each chunk is written flat (no ``partitionBy``) with
  ``mode("errorifexists")`` into its own directory ``data/<name>``, the
  name derived from the attempt id, so a retry never overwrites. The
  write yields the chunk's lineage stats (row count, error count,
  checksum), read back from the chunk as written, so they cover the
  committed bytes and no cached copy of the rows is kept;
- **commit**: the atomic manifest replace records the ``chunk``
  directory next to the unit's lineage stats;
- **read**: readers open exactly the chunk directories the manifest
  names. A directory no manifest entry names — an aborted attempt's
  chunk, a torn micro-batch, or a generation a compaction superseded —
  is never listed, let alone scanned.

A flat chunk costs at most one data file per write task, whatever the
bucket count; ``partitionBy("part_key")`` cost one directory, data file
and ``.crc`` file per task and bucket.
"""

from __future__ import annotations

import functools
import json
import operator
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octospark.pipeline import EXTRACTED_SCHEMA

DEFAULT_BUCKETS = 64

# committed rows as written and read back: the extracted columns, then
# the attempt that committed them, then their bucket
SNAPSHOT_SCHEMA = T.StructType(
    EXTRACTED_SCHEMA.fields
    + [
        T.StructField("run_id", T.StringType(), True),
        T.StructField("part_key", T.IntegerType(), True),
    ]
)


class GoldenDriftError(RuntimeError):
    """Raised by run_extract's validation cadence when the live extractor
    no longer reproduces the frozen golden fixtures (R25 analog:
    val_check_interval, reference src/octopy/train.py:71-74)."""


def with_part_key(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "part_key", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


# --- manifest (commit log) ---------------------------------------------------

def _manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest.json")


def read_manifest(out_dir: str) -> dict:
    path = _manifest_path(out_dir)
    if not os.path.exists(path):
        return {"run_ids": [], "buckets": {}, "attempts": []}
    with open(path) as f:
        m = json.load(f)
    m.setdefault("attempts", [])
    return m


def commit_manifest(out_dir: str, manifest: dict) -> None:
    """Atomic manifest replace (tmp write + rename) — the snapshot
    commit. A crash before the rename leaves the previous snapshot
    intact; data files not in the manifest are invisible to readers."""
    tmp = _manifest_path(out_dir) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(out_dir))


def _register_attempt(out_dir: str, manifest: dict, base: str) -> str:
    """Record a new attempt in the manifest before it writes any data and
    return its id: ``base``, or ``base.<n>`` when ``base`` was already
    attempted, so an aborted attempt's orphan chunk directory can never
    share a name or a (part_key, run_id) pair with a later attempt's
    chunks."""
    run_id, n = base, 2
    while run_id in manifest["attempts"]:
        run_id = f"{base}.{n}"
        n += 1
    manifest["attempts"].append(run_id)
    commit_manifest(out_dir, manifest)
    return run_id


def committed_buckets(out_dir: str) -> list:
    return sorted(int(k) for k in read_manifest(out_dir)["buckets"])


def _chunk_of(kind: str, key: str, entry: dict) -> str:
    """The chunk directory a committed manifest entry names. An entry
    that names none is an error: there is no other layout to fall back
    on."""
    if "chunk" not in entry:
        raise ValueError(
            f"manifest {kind} {key} names no chunk directory; this "
            "output was not written by the chunk-directory protocol"
        )
    return entry["chunk"]


def committed_chunks(manifest: dict) -> dict:
    """{chunk directory name: (run_id, sorted bucket keys)} of every
    committed bucket."""
    chunks: dict = {}
    for k, v in manifest["buckets"].items():
        chunk = _chunk_of("bucket", k, v)
        chunks.setdefault(chunk, (v["run_id"], []))[1].append(int(k))
    return {c: (r, sorted(ks)) for c, (r, ks) in sorted(chunks.items())}


def committed_batches(manifest: dict) -> dict:
    """{batch id: manifest entry} of every committed stream micro-batch,
    in batch order; each entry names its chunk directory."""
    batches = {}
    for k, v in manifest.get("batches", {}).items():
        _chunk_of("batch", k, v)
        batches[int(k)] = v
    return dict(sorted(batches.items()))


# --- chunks ------------------------------------------------------------------

_STATS = ("output_count", "error_count", "checksum")
_NO_ROWS = dict.fromkeys(_STATS, 0)


def _lineage_stats(df: DataFrame) -> dict:
    """The lineage aggregate, one partial-aggregated job: row count,
    error count and the order-independent ``bit_xor(xxhash64(url,
    text))`` checksum. Returns ``{part_key: stats}`` for the buckets
    ``df`` has rows in when ``df`` has a ``part_key`` column, else
    ``{None: stats}`` over all of ``df``."""
    keys = ["part_key"] if "part_key" in df.columns else []
    rows = df.groupBy(*keys).agg(
        F.count("*").alias("output_count"),
        F.count("error").alias("error_count"),
        F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
    ).collect()
    return {
        r["part_key"] if keys else None: {s: int(r[s] or 0) for s in _STATS}
        for r in rows
    }


def _write_chunk(
    rows: DataFrame, out_dir: str, name: str, schema: T.StructType
) -> dict:
    """Write ``rows`` as the new chunk directory ``data/<name>`` and
    return the lineage stats (:func:`_lineage_stats`) of the chunk as
    written, read back as ``schema``: the checksum covers the committed
    bytes, and column pruning makes the read one of ``url, text,
    error[, part_key]``. A chunk is never overwritten
    (``errorifexists``): a retry writes under a fresh attempt id, and
    only the manifest commit that names the chunk makes it visible."""
    rows.write.mode("errorifexists").parquet(
        os.path.join(out_dir, "data", name)
    )
    return _lineage_stats(
        _read_chunks(rows.sparkSession, out_dir, [name], schema)
    )


def _read_chunks(
    spark: SparkSession, out_dir: str, chunks, schema: T.StructType
) -> DataFrame:
    """Scan exactly the named chunk directories with an explicit schema
    (no listing job to infer one); no chunk reads as an empty frame of
    ``schema``."""
    if not chunks:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(out_dir, "data", c) for c in chunks]
    )


def _parquet_files(path: str) -> list:
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if n.endswith(".parquet"))


# --- run --------------------------------------------------------------------

def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    run_id: str | None = None,
    fail_after_buckets: int | None = None,
    max_bytes: int | None = None,
    salted: bool = False,
    salt_partitions: int | None = None,
    validate_every_k_buckets: int | None = None,
    validate_fn=None,
) -> dict:
    """Extract with per-bucket lineage + idempotent commit.

    Buckets already in the manifest are skipped (anti-join semantics —
    done with a pushed-down NOT IN filter on the int bucket key, which
    Catalyst evaluates at the scan). Every bucket is committed, one the
    input has no rows in with zero counts and checksum 0, so a finished
    run over a sparse input is complete and its rerun a no-op.
    ``fail_after_buckets`` simulates a crash after committing only k
    buckets (for resume tests). ``salted`` first runs the giant-host
    census (:func:`octospark.pipeline.find_skewed_hosts`, a url-only
    column-pruned scan) and salts the rows of the hosts it names
    row-level in the url-hash repartition before the UDF, over
    ``salt_partitions`` partitions; placement never changes a committed
    row.

    ``validate_every_k_buckets`` + ``validate_fn`` (R25 validation
    cadence, reference train.py:71-74): commits happen in chunks of k
    buckets, and between chunk commits ``validate_fn()`` is called — it
    returns a list of drift messages (empty = healthy). On drift the run
    aborts with :class:`GoldenDriftError`; chunks committed before the
    drift stay in the manifest, so a fixed engine resumes from there
    instead of re-extracting 10^12 rows. ``validate_fn`` alone (cadence
    None) means one final pre-commit validation.

    Each chunk is its own extraction of only its buckets' rows, written,
    then committed with the stats read back from the written chunk, so
    the cadence stops extraction at the drift and a crash after k
    buckets has extracted only those k. The cost is one input scan per
    chunk rather than per attempt, filtered to the chunk's buckets
    before the UDF; the skew census and the per-bucket input count run
    once per attempt.

    Returns the updated manifest dict.
    """
    from octospark import MAX_HTML_BYTES
    from octospark.pipeline import extract_pages, find_skewed_hosts

    if max_bytes is None:
        max_bytes = MAX_HTML_BYTES
    os.makedirs(out_dir, exist_ok=True)
    manifest = read_manifest(out_dir)
    done = set(int(k) for k in manifest["buckets"])

    keyed = with_part_key(pages, n_buckets)
    todo_keys = [k for k in range(n_buckets) if k not in done]
    if not todo_keys:
        return manifest

    # registered even if it later crashes before committing any bucket;
    # a caller-supplied run_id that was already attempted gets a suffix
    run_id = _register_attempt(
        out_dir, manifest, run_id or uuid.uuid4().hex[:12]
    )

    todo = keyed.filter(F.col("part_key").isin(todo_keys))
    input_counts = {
        int(r["part_key"]): int(r["n"])
        for r in todo.groupBy("part_key").agg(F.count("*").alias("n")).collect()
    }

    skewed_hosts = None
    if salted:
        # see tests/test_pipeline.py::test_skewed_host_branch_spreads_
        # giant_host for the partition-spread guarantee the census buys
        skewed_hosts = find_skewed_hosts(todo) or None

    commit_keys = todo_keys
    if fail_after_buckets is not None:
        commit_keys = commit_keys[:fail_after_buckets]
    chunk_size = validate_every_k_buckets or len(commit_keys) or 1
    total_committed = 0
    for index, i in enumerate(range(0, len(commit_keys), chunk_size)):
        chunk_keys = commit_keys[i : i + chunk_size]
        extracted = extract_pages(
            keyed.filter(F.col("part_key").isin(chunk_keys)).drop("part_key"),
            max_bytes=max_bytes,
            salted=salted,
            num_partitions=salt_partitions,
            skewed_hosts=skewed_hosts,
        )
        # columns in SNAPSHOT_SCHEMA order, sorted by part_key so footer
        # stats cover bucket ranges
        chunk = f"{run_id}-{index:04d}"
        stats = _write_chunk(
            with_part_key(
                extracted.withColumn("run_id", F.lit(run_id)), n_buckets
            ).sortWithinPartitions("part_key"),
            out_dir, chunk, SNAPSHOT_SCHEMA,
        )
        if validate_fn is not None:
            drift = validate_fn()
            if drift:
                raise GoldenDriftError(
                    f"golden fixture drift after "
                    f"{total_committed} committed buckets: "
                    + "; ".join(str(d) for d in drift[:5])
                )
        now = time.time()
        for k in chunk_keys:
            manifest["buckets"][str(k)] = {
                "run_id": run_id,
                "chunk": chunk,
                "input_count": input_counts.get(k, 0),
                **stats.get(k, _NO_ROWS),
                "committed_at": now,
            }
        total_committed += len(chunk_keys)
        # one history row per attempt, updated at each chunk commit
        manifest["run_ids"] = [
            e for e in manifest["run_ids"] if e["run_id"] != run_id
        ] + [{"run_id": run_id, "committed_buckets": total_committed,
              "committed_at": now}]
        commit_manifest(out_dir, manifest)

    return manifest


def read_extracted(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back only committed data (snapshot isolation).

    The scan's root paths are exactly the chunk directories the manifest
    names, so an aborted attempt's chunk (data written, crash or drift
    before the manifest commit) and a generation a compaction superseded
    are never listed — exactly like data files absent from an Iceberg
    manifest. Each chunk's ``(run_id, part_key ∈ keys)`` condition is
    then applied as a plain column expression that Parquet receives as a
    pushed filter: no listing job (the schema is known), no join.

    Returns ``url, warc_ts, text, spans, lang, n_blocks, error, run_id,
    part_key`` (:data:`SNAPSHOT_SCHEMA`); a run that committed no bucket
    reads as an empty frame of that schema."""
    chunks = committed_chunks(read_manifest(out_dir))
    return _read_chunks(spark, out_dir, chunks, SNAPSHOT_SCHEMA).filter(
        functools.reduce(operator.or_, [
            (F.col("run_id") == run_id) & F.col("part_key").isin(keys)
            for run_id, keys in chunks.values()
        ], F.lit(False))
    )


EXPORT_FORMATS = ("parquet", "jsonl")


def export_extracted(
    spark: SparkSession, out_dir: str, dest: str, fmt: str = "parquet"
) -> int:
    """Final-artifact export (R28 analog: safetensors/coreml conversion,
    reference src/octopy/train.py:171-183): rewrite the committed
    snapshot as plain Parquet or JSONL. Spans serialize natively in both
    (JSONL via Spark's json sink). Returns the exported row count."""
    if fmt not in EXPORT_FORMATS:
        raise ValueError(f"fmt must be one of {EXPORT_FORMATS}")
    buckets = read_manifest(out_dir)["buckets"]
    df = read_extracted(spark, out_dir).drop("part_key", "run_id")
    if fmt == "jsonl":
        df.write.mode("overwrite").json(dest)
    else:
        df.write.mode("overwrite").parquet(dest)
    # each bucket's output_count was counted from its committed chunk,
    # so the sum is exactly the rows read_extracted returned
    return sum(v["output_count"] for v in buckets.values())


def lineage_table(spark: SparkSession, out_dir: str) -> DataFrame:
    """Lineage rows as a DataFrame (the `inspect` surface)."""
    m = read_manifest(out_dir)
    rows = [
        (
            int(k), v["run_id"], v["input_count"], v["output_count"],
            v["error_count"], v["checksum"], float(v["committed_at"]),
        )
        for k, v in sorted(m["buckets"].items(), key=lambda kv: int(kv[0]))
    ]
    return spark.createDataFrame(
        rows,
        "part_key int, run_id string, input_count long, output_count long, "
        "error_count long, checksum long, committed_at double",
    )


def compact_run(spark: SparkSession, out_dir: str) -> dict:
    """Snapshot-preserving compaction + orphan GC — the Iceberg
    ``rewrite_data_files`` + ``expire_snapshots`` analog, and the
    maintenance op a resume-heavy 10^12-row table needs: every aborted
    attempt leaves an orphan chunk directory, every resume run adds
    another chunk generation, and at 100 TB the accumulated small files
    dominate scan planning time.

    Protocol (crash-safe at every step), on the same chunk-directory
    layout as :func:`run_extract`:

    1. read the committed snapshot (:func:`read_extracted` — orphans
       are invisible by construction);
    2. rewrite it as ONE new chunk directory under a fresh
       ``compact-*`` run_id, one shuffle partition per bucket
       (``repartition(part_key)``) so each bucket lands in a single
       file;
    3. VERIFY the rewrite: the per-bucket lineage stats of the new
       chunk (row count, error count and the order-independent
       ``bit_xor(xxhash64(url, text))`` checksum, the same aggregate
       :func:`run_extract` commits) must equal the manifest's — a
       compaction that changed any row deletes its chunk and aborts,
       and the old snapshot stays live;
    4. atomically commit a manifest pointing every bucket at the new
       chunk (crash before this leaves it an unnamed orphan; the next
       compaction collects it);
    5. GC: delete every ``data/`` directory the manifest no longer
       names — each is either superseded (its buckets were rewritten in
       step 2) or an aborted attempt's orphan (crash mid-delete is
       safe: a leftover directory stays unnamed, so unread). Committed
       stream micro-batch chunks are named, so they stay.

    Returns {"files_before", "files_after", "old_files_removed",
    "run_id"}, counting Parquet data files.
    """
    m = read_manifest(out_dir)
    if not m["buckets"]:
        return {"files_before": 0, "files_after": 0,
                "old_files_removed": 0, "run_id": None}
    data_dir = os.path.join(out_dir, "data")
    files_before = sum(
        len(_parquet_files(os.path.join(data_dir, d)))
        for d in os.listdir(data_dir)
    )

    run_id = _register_attempt(
        out_dir, m, f"compact-{uuid.uuid4().hex[:12]}"
    )
    chunk = f"{run_id}-0000"
    chunk_dir = os.path.join(data_dir, chunk)
    got = _write_chunk(
        read_extracted(spark, out_dir)
        .withColumn("run_id", F.lit(run_id))
        .repartition(len(m["buckets"]), "part_key")
        .sortWithinPartitions("part_key"),
        out_dir, chunk, SNAPSHOT_SCHEMA,
    )

    # verify the rewrite against committed lineage before the swap
    for k, v in m["buckets"].items():
        if got.get(int(k), _NO_ROWS) != {s: v[s] for s in _STATS}:
            shutil.rmtree(chunk_dir)  # abort: old snapshot stays live
            raise RuntimeError(
                f"compaction verify failed for bucket {k}: rewrite does "
                f"not reproduce committed lineage — snapshot unchanged"
            )

    now = time.time()
    for v in m["buckets"].values():
        v["run_id"] = run_id
        v["chunk"] = chunk
        v["compacted_at"] = now
    m["run_ids"].append(
        {"run_id": run_id, "committed_buckets": len(m["buckets"]),
         "committed_at": now, "compaction": True}
    )
    commit_manifest(out_dir, m)

    named = {v["chunk"] for v in committed_batches(m).values()} | {chunk}
    removed = 0
    for d in os.listdir(data_dir):
        if d not in named:
            removed += len(_parquet_files(os.path.join(data_dir, d)))
            shutil.rmtree(os.path.join(data_dir, d))
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(chunk_dir)),
        "old_files_removed": removed,
        "run_id": run_id,
    }


def inspect(out_dir: str) -> dict:
    """JSON metadata dump (analog of `octopy inspect`). ``chunks`` lists
    every committed bucket chunk directory with its bucket count and
    Parquet data-file count, so a run's write amplification shows
    without a diagnostic script; ``batches`` lists every committed
    stream micro-batch with its row count and chunk directory. A
    directory no manifest entry names (an orphan) is never listed."""
    m = read_manifest(out_dir)
    buckets = m["buckets"]
    batches = committed_batches(m)
    data_dir = os.path.join(out_dir, "data")

    def data_files(chunk: str) -> int:
        return len(_parquet_files(os.path.join(data_dir, chunk)))

    return {
        "out_dir": out_dir,
        "n_runs": len(m["run_ids"]),
        "runs": m["run_ids"],
        "n_committed_buckets": len(buckets),
        "input_count": sum(b["input_count"] for b in buckets.values()),
        "output_count": sum(b["output_count"] for b in buckets.values()),
        "error_count": sum(b["error_count"] for b in buckets.values()),
        "chunks": [
            {"chunk": c, "run_id": run_id, "buckets": len(keys),
             "data_files": data_files(c)}
            for c, (run_id, keys) in committed_chunks(m).items()
        ],
        "n_committed_batches": len(batches),
        "batch_output_count": sum(
            b["output_count"] for b in batches.values()
        ),
        "batches": [
            {"batch_id": i, "chunk": b["chunk"], "run_id": b["run_id"],
             "output_count": b["output_count"],
             "data_files": data_files(b["chunk"])}
            for i, b in batches.items()
        ],
    }
