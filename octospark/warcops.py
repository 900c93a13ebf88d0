"""WARC container source (Common-Crawl-native ingest).

The north rule's corpus is "Common-Crawl-style web pages"; before those
rows exist in an Iceberg table, they land as ``.warc.gz`` crawl output —
one gzip member per record, non-splittable mid-file. This module is the
ingest edge: scan the files with Spark's ``binaryFile`` source (one
task per file — exactly the parallelism a non-splittable container
permits; a real crawl snapshot has tens of thousands of ~1 GB files,
so a 1000-executor cluster is kept fully busy by file-level
parallelism alone) and parse records inside an Arrow-batched
``mapInPandas`` — the same single-Python-stage shape as the html
extraction pipeline (SURVEY.md §2.1 R3).

Tolerance contract (reference analog: per-document try/except,
reference src/octopy/cli/segment.py:137-145): a malformed record or a
corrupt gzip member never fails the task — :func:`parse_warc_file`
returns the records it could recover plus an error list, and the scan
surfaces good records only (errors ride an ``observe`` metric).

Test staging synthesizes the files deterministically from
``documents.parquet`` (pure function of the rows — byte-identical
across runs); at real scale the files land from the crawler and the
scan below is unchanged.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import shutil
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octospark import ORACLE, QUERIES, register
from octospark.sources import load_table
from octospark.warcgen import build_warc_file


# --------------------------------------------------------------------------
# tolerant parser (pure Python, shared by driver tests and executors)
# --------------------------------------------------------------------------

def _parse_record(data: bytes) -> dict:
    """One uncompressed WARC record -> dict. Raises ValueError on any
    malformation; the caller decides tolerance."""
    sep = data.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("missing WARC header terminator")
    lines = data[:sep].split(b"\r\n")
    if not lines[0].startswith(b"WARC/"):
        raise ValueError("bad WARC version line")
    hdrs: dict = {}
    for line in lines[1:]:
        k, colon, v = line.partition(b":")
        if not colon:
            raise ValueError("malformed WARC header line")
        hdrs[k.strip().lower()] = v.strip()
    try:
        clen = int(hdrs[b"content-length"])
        url = hdrs[b"warc-target-uri"].decode("utf-8")
        rec_type = hdrs[b"warc-type"].decode("ascii")
        ts = _dt.datetime.strptime(
            hdrs[b"warc-date"].decode("ascii"), "%Y-%m-%dT%H:%M:%SZ"
        )
    except KeyError as e:
        raise ValueError(f"missing WARC header {e.args[0]!r}") from e
    body = data[sep + 4 : sep + 4 + clen]
    if len(body) != clen:
        raise ValueError("truncated record body")
    status, payload = None, b""
    if body.startswith(b"HTTP/"):
        hsep = body.find(b"\r\n\r\n")
        try:
            status = int(body.split(b"\r\n", 1)[0].split(b" ")[1])
        except (IndexError, ValueError) as e:
            raise ValueError("bad HTTP status line") from e
        payload = body[hsep + 4 :] if hsep >= 0 else b""
    return {
        "url": url,
        "warc_ts": ts,
        "rec_type": rec_type,
        "http_status": status,
        "html": payload,
        "record_id": hdrs.get(b"warc-record-id", b"").decode(
            "ascii", "replace"
        ),
    }


def parse_warc_file(blob: bytes) -> tuple:
    """Concatenated-gzip-member WARC file -> (records, errors).

    Never raises. Gzip members are walked via ``unused_data``; a corrupt
    or truncated member aborts the remainder of THIS file (member
    boundaries are unrecoverable once the stream breaks) with one error
    entry, keeping every record already recovered."""
    records: list = []
    errors: list = []
    pos, n = 0, len(blob)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            data = d.decompress(blob[pos:])
        except zlib.error as e:
            errors.append(f"gzip error at byte {pos}: {e}")
            break
        if not d.eof:
            errors.append(f"truncated gzip member at byte {pos}")
            break
        try:
            records.append(_parse_record(data))
        except ValueError as e:
            errors.append(f"bad record in member at byte {pos}: {e}")
        rest = d.unused_data
        if not rest:
            break
        pos = n - len(rest)
    return records, errors


# --------------------------------------------------------------------------
# deterministic test staging (simulated crawler output)
# --------------------------------------------------------------------------

N_WARC_FILES = 8


def stage_warc_files(sf_dir: str, n_files: int = N_WARC_FILES) -> str:
    """Materialize documents.parquet as n_files .warc.gz under /tmp,
    once per source fingerprint (mtime_ns + size, same stale-copy
    guard as sources.stage_format_copy); older stagings for the same
    sf are evicted. File assignment doc_id % n_files, ascending doc_id
    within a file — a pure function of the rows."""
    src = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(src)
        fingerprint = f"{st.st_mtime_ns}_{st.st_size}"
    except OSError:
        fingerprint = "0_0"
    base = os.path.basename(sf_dir.rstrip("/"))
    dest = f"/tmp/octospark_warc_{base}_{fingerprint}"
    if os.path.exists(os.path.join(dest, "_SUCCESS")):
        return dest
    for old in glob.glob(f"/tmp/octospark_warc_{base}_*"):
        if old != dest:
            shutil.rmtree(old, ignore_errors=True)
    import pyarrow.parquet as pq

    tbl = pq.read_table(src, columns=["doc_id", "text", "lang", "source"])
    rows = sorted(
        zip(
            tbl["doc_id"].to_pylist(),
            tbl["text"].to_pylist(),
            tbl["lang"].to_pylist(),
            tbl["source"].to_pylist(),
        )
    )
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(n_files):
        part = [r for r in rows if int(r[0]) % n_files == i]
        with open(os.path.join(tmp, f"part-{i:04d}.warc.gz"), "wb") as f:
            f.write(build_warc_file(part))
    with open(os.path.join(tmp, "_SUCCESS"), "w"):
        pass
    try:
        os.replace(tmp, dest)  # atomic publish; loser of a race cleans up
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("html", T.BinaryType(), True),
    ]
)


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        cols: dict = {"url": [], "warc_ts": [], "http_status": [], "html": []}
        for blob in pdf["content"]:
            records, _errors = parse_warc_file(bytes(blob))
            for r in records:
                if r["rec_type"] != "response":
                    continue
                cols["url"].append(r["url"])
                cols["warc_ts"].append(r["warc_ts"])
                cols["http_status"].append(r["http_status"])
                cols["html"].append(r["html"])
        yield pd.DataFrame(cols)


def read_warc_pages(spark: SparkSession, warc_dir: str) -> DataFrame:
    """.warc.gz directory -> (url, warc_ts, http_status, html).

    ``binaryFile`` gives one row (and one task) per file — the correct
    physical plan for a non-splittable container; only ``content`` is
    carried into the Python stage. The parse is a narrow transformation:
    no shuffle, scales with file count."""
    files = spark.read.format("binaryFile").load(
        os.path.join(warc_dir, "*.warc.gz")
    )
    return files.select("content").mapInPandas(_parse_batches, _PAGES_SCHEMA)


@register(
    "scan_warc",
    # The container fields are pure functions of documents rows
    # (warcgen determinism law), so the oracle reconstructs them in SQL:
    # url/warc_ts/status recovered from the binary container must equal
    # the values the generator derived from the source rows.
    "SELECT 'https://' || source || '.example.org/doc/' || CAST(doc_id AS VARCHAR) AS url, "
    "TIMESTAMP '2026-01-01 00:00:00' + (doc_id % 525600) * INTERVAL 1 MINUTE AS warc_ts, "
    "CAST(200 AS INTEGER) AS http_status "
    "FROM documents",
)
def scan_warc(spark, sf):
    """WARC ingest correctness key: parse every record out of the
    staged .warc.gz files and surface the container-level fields.
    (pipeline role: the R1 file-source analog for crawl-native input;
    reference glob source /root/reference/src/octopy/cli/util.py:52-65)
    """
    d = stage_warc_files(sf)
    return read_warc_pages(spark, d).select("url", "warc_ts", "http_status")


_IDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("rec_type", T.StringType()),
    ]
)


def _id_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        cols: dict = {"url": [], "record_id": [], "rec_type": []}
        for blob in pdf["content"]:
            records, _errors = parse_warc_file(bytes(blob))
            for r in records:
                # response records only, like _parse_batches: a mixed
                # archive (warcinfo/request/metadata members) must not
                # desync this surface from the one-response-per-url
                # oracle
                if r["rec_type"] != "response":
                    continue
                cols["url"].append(r["url"])
                cols["record_id"].append(r["record_id"])
                cols["rec_type"].append(r["rec_type"])
        yield pd.DataFrame(cols)


@register(
    "scan_warc_record_ids",
    # the record id is the deterministic md5-urn of the target url
    # (warcgen.record_id); the oracle recomputes the SAME function in
    # SQL, so a parse that misreads the header OR a generator drift in
    # the id scheme fails the hash compare
    """
    WITH h AS (
      SELECT 'https://' || source || '.example.org/doc/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    m AS (SELECT url, md5(url) AS x FROM h)
    SELECT url,
           '<urn:uuid:' || substr(x, 1, 8) || '-' || substr(x, 9, 4)
             || '-' || substr(x, 13, 4) || '-' || substr(x, 17, 4)
             || '-' || substr(x, 21, 12) || '>' AS record_id,
           'response' AS rec_type
    FROM m
    """,
)
def scan_warc_record_ids(spark, sf):
    """WARC record-IDENTITY surface — the WARC-Record-ID header parsed
    back out of every staged container record: the primary key of a
    web archive (dedup ledgers, revisit records, and CDX digests all
    reference it), here the deterministic RFC-4122-shaped md5-urn of
    the target url (warcgen.record_id).  The DuckDB twin RECOMPUTES
    the same md5-urn formatting in SQL, so this key pins the full
    identity chain: generator formula -> container bytes -> tolerant
    parse -> recovered header, with any break (id-scheme drift, a
    header-parse regression, member corruption) failing the exact
    hash compare.

    Scale shape: identical to scan_warc — binaryFile one-task-per-
    member-concatenated-file, header-only Python parse (the payload
    is never decoded here), no shuffle.

    Reference analog: octopy names every output by a deterministic
    derivation from the input path so reruns overwrite rather than
    duplicate (reference src/octopy/cli/util.py output naming) —
    stable content-derived identity."""
    d = stage_warc_files(sf)
    files = spark.read.format("binaryFile").load(
        os.path.join(d, "*.warc.gz")
    )
    return files.select("content").mapInPandas(_id_batches, _IDS_SCHEMA)
