"""Multimodal operators: image, video and audio keys over one media
container.

No image, video or audio codec is a dependency, so every key reads a
documented synthetic container built from ``doc_id`` alone; each
expected output is then reconstructable in the key's DuckDB oracle.
The Arrow batching, the numpy kernels and the never-drop error rows are
what a deployment with real codecs runs.

The container is written by :func:`pack` and read by :func:`unpack`,
and nothing else in ``octospark`` knows its layout::

    magic (4 bytes) | big-endian header fields | uint8 payload
    image  b"OIMG" | width:u16 | height:u16 | channels:u8 (= 1)
                   | width*height gray pixels, row-major
    video  b"OVID" | n_frames:u16 | n_frames 16-byte frames
    audio  b"OAUD" | n_samples:u16 | n_samples samples

A Python key is a per-blob numpy kernel run by :func:`never_drop`: a
blob that is null, malformed or rejected by the kernel yields an error
row, never a task failure (the reference's fallback,
src/octopy/plugins/kraken_polygonizer.py:109-122).
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octospark import register
from octospark.sources import _staged_dir, load_table

# --------------------------------------------------------------------------
# the container: one table, one writer, one reader, one batch driver
# --------------------------------------------------------------------------

_FRAME_BYTES = 16

_CONTAINERS = {
    # kind: (magic, header fields as (name, bytes), payload shape as a
    # function of the header ints)
    "image": (
        b"OIMG",
        (("width", 2), ("height", 2), ("channels", 1)),
        lambda w, h, c: (h, w),
    ),
    "video": (b"OVID", (("n_frames", 2),), lambda n: (n, _FRAME_BYTES)),
    "audio": (b"OAUD", (("n_samples", 2),), lambda n: (n,)),
}

_HEADERS = {
    kind: struct.Struct(
        ">" + "".join({1: "B", 2: "H"}[n] for _, n in fields)
    )
    for kind, (_, fields, _) in _CONTAINERS.items()
}


def pack(kind: str, header: tuple, payload) -> bytes:
    """A ``kind`` blob: its magic, ``header`` packed big-endian, then
    the payload's bytes (``bytes`` or a uint8 array)."""
    magic = _CONTAINERS[kind][0]
    return magic + _HEADERS[kind].pack(*header) + bytes(payload)


def unpack(kind: str, blob) -> tuple[tuple, np.ndarray]:
    """``(header ints, uint8 payload shaped by the header)`` of a
    ``kind`` blob; bytes past the payload are ignored. Raises
    ``ValueError`` on a null blob, a wrong magic or a blob too short
    for its header or payload."""
    if blob is None:
        raise ValueError("null media")
    magic, _, shape_of = _CONTAINERS[kind]
    fmt = _HEADERS[kind]
    b = bytes(blob)
    if b[:4] != magic:
        raise ValueError(f"bad {kind} magic")
    start = 4 + fmt.size
    if len(b) < start:
        raise ValueError(f"truncated {kind} header")
    header = fmt.unpack_from(b, 4)
    shape = shape_of(*header)
    size = math.prod(shape)
    if len(b) < start + size:
        raise ValueError(f"truncated {kind} payload")
    return header, np.frombuffer(b, np.uint8, size, start).reshape(shape)


def _be_int(content: str, pos: int, nbytes: int):
    """Big-endian unsigned int at 1-based byte ``pos`` of a binary
    column, decoded JVM-side (substring -> hex -> base-16 conv)."""
    return F.conv(
        F.hex(F.expr(f"substring({content}, {pos}, {nbytes})")), 16, 10
    ).cast("long")


def _header_columns(kind: str, content: str) -> tuple[list, int]:
    """The header fields of the ``kind`` blobs in binary column
    ``content`` as named JVM columns, at the offsets of
    ``_CONTAINERS``, and the 1-based position of the payload."""
    magic, fields, _ = _CONTAINERS[kind]
    cols, pos = [], len(magic) + 1
    for name, nbytes in fields:
        cols.append(_be_int(content, pos, nbytes).alias(name))
        pos += nbytes
    return cols, pos


def never_drop(kind: str, kernel, columns: tuple[str, ...]):
    """The ``mapInPandas`` body that runs ``kernel(header, payload)``
    (see :func:`unpack`) on each ``kind`` blob of a ``(doc_id, media)``
    batch. The kernel returns the blob's rows, one value per name in
    ``columns``; each gets ``doc_id`` in front and a null ``error``
    behind. A blob whose kernel returns no rows yields the one row
    ``(doc_id, None, ..., None)``; a blob that fails to unpack, or whose
    kernel raises, yields the one row ``(doc_id, None, ..., str(exc))``."""
    failed = (None,) * len(columns)
    names = ["doc_id", *columns, "error"]

    def batches(frames):
        for pdf in frames:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                try:
                    out = [(*r, None) for r in kernel(*unpack(kind, blob))]
                except Exception as exc:  # never-drop fallback
                    out = [(*failed, str(exc))]
                if not out:  # a clean blob with no rows still has one
                    out = [(*failed, None)]
                rows.extend((int(doc_id), *r) for r in out)
            yield pd.DataFrame(rows, columns=names)

    return batches


# --------------------------------------------------------------------------
# synthetic media: each encoder builds a payload from doc_id
# --------------------------------------------------------------------------

def _fake_image_bytes(doc_id: int) -> bytes:
    """Constant fill ``doc_id % 256``; width ``1 + doc_id % 64``,
    height ``1 + (doc_id * 7) % 48``."""
    w, h = 1 + doc_id % 64, 1 + (doc_id * 7) % 48
    return pack("image", (w, h, 1), bytes([doc_id % 256]) * (w * h))


def _fake_image_ramp_bytes(doc_id: int) -> bytes:
    """A two-axis modular RAMP fill (px[y][x] = (base + x*xstep +
    y*ystep) mod 256) instead of the constant fill: constant images
    hash identically under any perceptual hash, so the dedup key needs
    structured pixels; the ramp keeps every pixel (and therefore the
    expected dHash) SQL-reconstructable from doc_id alone."""
    w = 16 + doc_id % 48
    h = 16 + (doc_id * 7) % 32
    base = doc_id % 256
    xstep = 1 + doc_id % 97
    ystep = doc_id % 5
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    px = (
        (base + x[None, :] * xstep + y[:, None] * ystep) % 256
    ).astype(np.uint8)
    return pack("image", (w, h, 1), px)


_OCR_CW = 8  # character cell width in px


def _fake_page_bytes(doc_id: int) -> bytes:
    """A striped 'scanned page': n_lines ink bands (pixel = (doc_id +
    x) % 96, always dark) separated by blank gaps (255). Ink value
    depends on x only, so each character cell's ink sum, and therefore
    the deterministic 'recognition' output, is reconstructable from
    doc_id in pure SQL."""
    w = 24 + doc_id % 40
    lh = 3 + doc_id % 4
    g = 2 + doc_id % 3
    nl = 3 + doc_id % 6
    h = nl * (lh + g) + g
    px = np.full((h, w), 255, dtype=np.uint8)
    ink = ((doc_id + np.arange(w, dtype=np.int64)) % 96).astype(np.uint8)
    for k in range(nl):
        y0 = g + k * (lh + g)
        px[y0 : y0 + lh, :] = ink[None, :]
    return pack("image", (w, h, 1), px)


def _fake_video_bytes(doc_id: int) -> bytes:
    """``1 + doc_id % 30`` frames, frame i filled with
    ``(doc_id + i) % 256``."""
    n = 1 + doc_id % 30
    frames = b"".join(
        bytes([(doc_id + i) % 256]) * _FRAME_BYTES for i in range(n)
    )
    return pack("video", (n,), frames)


def _fake_audio_bytes(doc_id: int) -> bytes:
    """``64 + doc_id % 192`` samples s[i] = (doc_id*3 + i*5) % 256: a
    sawtooth whose integer stats are reconstructable analytically (the
    oracle side)."""
    n = 64 + doc_id % 192
    samples = bytes((doc_id * 3 + i * 5) % 256 for i in range(n))
    return pack("audio", (n,), samples)


def _fake_media(spark, sf, kind: str) -> DataFrame:
    """Stage an opaque binary media column (the encode half of the
    plumbing) — one mapInPandas producing bytes rows, exactly how a
    real pipeline would carry fetched image/video blobs."""
    enc = {
        "image": _fake_image_bytes,
        "image_ramp": _fake_image_ramp_bytes,
        "page": _fake_page_bytes,
        "video": _fake_video_bytes,
        "audio": _fake_audio_bytes,
    }[kind]

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media": [enc(int(d)) for d in pdf["doc_id"]],
                }
            )

    d = load_table(spark, sf, "documents").select("doc_id")
    return d.mapInPandas(gen, "doc_id long, media binary")


# --------------------------------------------------------------------------
# images
# --------------------------------------------------------------------------

@register(
    "multimodal_meta",
    "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, "
    "lower(hex(CAST(substring(text, 1, 4) AS BLOB))) AS header_hex "
    "FROM documents",
)
def multimodal_meta(spark, sf):
    """Multimodal column plumbing: opaque binary 'media' column processed
    in Arrow batches via mapInPandas — schema, batching, and typed
    metadata extraction (byte length and a header fingerprint)."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("media")
    )
    return d.mapInPandas(
        meta_batches, "doc_id long, n_bytes long, header_hex string"
    )


def meta_batches(batches):
    """mapInPandas body for opaque-media metadata (module-level so tests
    can run it on adversarial frames). A NULL blob (e.g. NULL text cast
    to binary — an expected upstream-extraction-failure case) yields
    NULL metadata, matching octet_length(NULL)/hex(NULL) on the oracle
    side, never a task failure."""
    for pdf in batches:
        metas = []
        for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
            if blob is None:
                metas.append((int(doc_id), None, None))
            else:
                b = bytes(blob)
                metas.append((int(doc_id), len(b), b[:4].hex()))
        yield pd.DataFrame(
            metas, columns=["doc_id", "n_bytes", "header_hex"]
        )


def _decode(header, px):
    w, h, _ = header
    return [(w, h, float(px.mean()))]


_DECODE_SCHEMA = (
    "doc_id long, width long, height long, mean_px double, error string"
)
decode_image_batches = never_drop(
    "image", _decode, ("width", "height", "mean_px")
)


@register(
    "multimodal_decode",
    "SELECT doc_id, 1 + doc_id % 64 AS width, "
    "1 + (doc_id * 7) % 48 AS height, "
    "CAST(doc_id % 256 AS DOUBLE) AS mean_px, "
    "CAST(NULL AS VARCHAR) AS error FROM documents",
)
def multimodal_decode(spark, sf):
    """Image decode plumbing: binary media column -> typed metadata +
    pixel stats via mapInPandas (the container decoded with numpy)."""
    return _fake_media(spark, sf, "image").mapInPandas(
        decode_image_batches, _DECODE_SCHEMA
    )


def _resize(header, px):
    w, h, _ = header
    thumb = px[::2, ::2]  # stride downsample
    return [(w, h, thumb.shape[1], thumb.shape[0], thumb.nbytes)]


_RESIZE_SCHEMA = (
    "doc_id long, width long, height long, thumb_w long, "
    "thumb_h long, thumb_bytes long, error string"
)
resize_batches = never_drop(
    "image", _resize,
    ("width", "height", "thumb_w", "thumb_h", "thumb_bytes"),
)


@register(
    "multimodal_resize",
    # numpy [::2] keeps ceil(n/2) elements -> thumb dim = (dim + 1) // 2
    "SELECT doc_id, 1 + doc_id % 64 AS width, 1 + (doc_id * 7) % 48 "
    "AS height, (2 + doc_id % 64) // 2 AS thumb_w, "
    "(2 + (doc_id * 7) % 48) // 2 AS thumb_h, "
    "((2 + doc_id % 64) // 2) * ((2 + (doc_id * 7) % 48) // 2) "
    "AS thumb_bytes, CAST(NULL AS VARCHAR) AS error FROM documents",
)
def multimodal_resize(spark, sf):
    """Thumbnail resize plumbing: decode -> 2x2 numpy stride downsample
    -> thumbnail dims and size. The array slicing is the real resize
    kernel shape; only the codec is synthetic."""
    return _fake_media(spark, sf, "image").mapInPandas(
        resize_batches, _RESIZE_SCHEMA
    )


_PHASH_CAP = 64  # per-bucket member cap (deterministic, oracle-mirrored)
_PHASH_HAM_T = 3  # <= 3 differing bits over 4 bands => pigeonhole-complete

_PHASH_SQL = f"""
    WITH img AS (
      SELECT doc_id,
             16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 32 AS h,
             doc_id % 256 AS base, 1 + doc_id % 97 AS xstep,
             doc_id % 5 AS ystep
      FROM documents),
    bits AS (
      SELECT doc_id, gi.i AS i, gj.j AS j,
             CASE WHEN (base + (((gj.j + 1) * w) // 9) * xstep
                        + ((gi.i * h) // 8) * ystep) % 256
                      > (base + ((gj.j * w) // 9) * xstep
                        + ((gi.i * h) // 8) * ystep) % 256
                  THEN 1 ELSE 0 END AS bit
      FROM img, generate_series(0, 7) gi(i), generate_series(0, 7) gj(j)),
    bands AS (
      SELECT doc_id, i // 2 AS band_idx,
             CAST(sum(bit * (1 << ((i % 2) * 8 + j))) AS BIGINT)
               AS band_val
      FROM bits GROUP BY doc_id, i // 2),
    mem AS (
      SELECT band_idx, band_val, doc_id,
             row_number() OVER (
               PARTITION BY band_idx, band_val ORDER BY doc_id) AS rn
      FROM bands),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mem a JOIN mem b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      WHERE a.rn <= {_PHASH_CAP} AND b.rn <= {_PHASH_CAP}),
    ham AS (
      SELECT p.doc_a, p.doc_b,
             CAST(sum(bit_count(xor(x.band_val, y.band_val))) AS BIGINT)
               AS hamming
      FROM pairs p
      JOIN bands x ON x.doc_id = p.doc_a
      JOIN bands y ON y.doc_id = p.doc_b AND y.band_idx = x.band_idx
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {_PHASH_HAM_T}
    """


def _phash(header, px):
    """8x9 grid sample -> dHash (horizontal neighbor comparisons, 64
    bits) as FOUR 16-bit band values (rows 2k/2k+1) — banding is the
    point, and four bounded ints also sidestep the signed-BIGINT
    overflow a packed 64-bit hash would hit in cross-engine sums."""
    w, h, _ = header
    if w < 9 or h < 8:
        raise ValueError("tiny image")
    g = px[
        np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)
    ].astype(np.int64)
    bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
    return [
        tuple(
            int((bits[2 * k : 2 * k + 2].reshape(-1) << np.arange(16)).sum())
            for k in range(4)
        )
    ]


_PHASH_SCHEMA = (
    "doc_id long, b0 long, b1 long, b2 long, b3 long, error string"
)
phash_batches = never_drop("image", _phash, ("b0", "b1", "b2", "b3"))


@register("dedup_image_phash", _PHASH_SQL)
def dedup_image_phash(spark, sf):
    """Near-duplicate IMAGE detection via banded perceptual hashing —
    the dedup x multimodal cell: dHash over the decoded pixel grid,
    split into 4 x 16-bit bands, candidate pairs only WITHIN shared
    band buckets (never all-pairs), exact Hamming verify <= 3. With 4
    bands, any pair within Hamming 3 differs in at most 3 bands and
    therefore SHARES at least one — the same pigeonhole completeness
    law as dedup_simhash_banded, here over pixels instead of text.

    Buckets are capped at the 64 LOWEST doc_ids (not the keyed-hash
    sample minhash uses) because this key's cap must replay exactly in
    the DuckDB oracle — row_number over doc_id is the SQL-expressible
    deterministic choice; the bias (hot buckets keep early docs) is
    acceptable for a guardrail that, like every LSH cap here, only
    bounds degenerate buckets. Members carry their full hash in the
    struct so pair expansion needs NO join back to the hash table (and
    therefore never recomputes the Python decode stage — the
    minhash-lsh no-self-join lesson).

    Scale shape: one Arrow-batched mapInPandas (decode + hash, the only
    Python stage), one groupBy shuffle on (band_idx, band_val), pair
    expansion from capped member arrays, distinct. At 100 TB the decode
    stage is embarrassingly parallel and the banding keeps candidate
    generation linear in bucket count. Reference analog: R3 stage-1
    segmentation features feeding R9 classification
    (reference src/octopy/segment.py) — here the 'features' are
    the perceptual hash and the 'classes' are dup clusters."""
    media = _fake_media(spark, sf, "image_ramp")
    hashes = media.mapInPandas(phash_batches, _PHASH_SCHEMA).filter(
        F.col("error").isNull()
    )
    bands = hashes.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "band_val"
        ),
    )
    buckets = (
        bands.groupBy("band_idx", "band_val")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_set(
                        F.struct(
                            F.col("doc_id").alias("id"),
                            F.col("b0"),
                            F.col("b1"),
                            F.col("b2"),
                            F.col("b3"),
                        )
                    )
                ),
                1,
                _PHASH_CAP,
            ).alias("members")
        )
        .filter(F.size("members") >= 2)
    )
    lhs = buckets.select(
        F.posexplode("members").alias("i", "m"), "members"
    )
    pairs = lhs.select(
        F.col("m"),
        F.explode(
            F.slice(F.col("members"), F.col("i") + 2, F.size("members"))
        ).alias("m2"),
    )
    hamming = sum(
        F.bit_count(
            F.col(f"m.b{k}").bitwiseXOR(F.col(f"m2.b{k}"))
        ).cast("long")
        for k in range(4)
    )
    return (
        pairs.select(
            F.col("m.id").alias("doc_a"),
            F.col("m2.id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _PHASH_HAM_T)
        .distinct()
    )


_IMGHIST_BINS = 16  # 256 levels / 16 per bin


def _image_histogram(header, px):
    """16-bin luminance histogram (np.bincount over px >> 4), one row
    per NON-EMPTY bin."""
    hist = np.bincount(px.reshape(-1) >> 4, minlength=_IMGHIST_BINS)
    return [(b, int(n)) for b, n in enumerate(hist) if n > 0]


_IMGHIST_SCHEMA = "doc_id long, bin long, n_px long, error string"
image_hist_batches = never_drop("image", _image_histogram, ("bin", "n_px"))


@register(
    "multimodal_image_histogram",
    f"""
    WITH dims AS (
      SELECT doc_id, 16 + doc_id % 48 AS w, 16 + (doc_id * 7) % 32 AS h,
             doc_id % 256 AS base, 1 + doc_id % 97 AS xstep,
             doc_id % 5 AS ystep
      FROM documents),
    xs AS (
      SELECT doc_id, base, xstep, ystep, h,
             unnest(range(0, w)) AS i
      FROM dims),
    ys AS (
      SELECT doc_id, base, xstep, ystep, i,
             unnest(range(0, h)) AS j
      FROM xs)
    SELECT doc_id,
           ((base + i * xstep + j * ystep) % 256)
             // {256 // _IMGHIST_BINS} AS bin,
           CAST(count(*) AS BIGINT) AS n_px
    FROM ys GROUP BY 1, 2
    """,
)
def multimodal_image_histogram(spark, sf):
    """Per-image luminance HISTOGRAM (16 bins over the 256 gray
    levels) — the exposure/contrast statistics pass every vision
    corpus runs before training: all-dark, all-bright, and
    low-dynamic-range images are curation rejects, and the histogram
    is the input to contrast normalization and quality scoring
    (the image twin of text_zipf_histogram's shape census).  Emits
    (doc_id, bin, n_px) for non-empty bins only.

    Decode is the ramp image (dedup_image_phash's media): the
    fill px[y][x] = (base + x*xstep + y*ystep) mod 256 makes every
    pixel SQL-reconstructable from doc_id alone, so the DuckDB twin
    regenerates the pixel grid with two correlated unnest(range())
    levels and aggregates the identical integer bins — the
    multimodal_scene_cut oracle discipline.  The binning is integer
    shift (px >> 4 == px // 16): no float anywhere.

    Scale shape: ONE Arrow-batched mapInPandas (decode + vectorized
    np.bincount — the only Python stage, embarrassingly parallel,
    emitting at most 16 rows per image regardless of resolution), and
    that's it: the histogram is computed inside the UDF, so NOTHING
    per-pixel ever crosses a shuffle — at 10^12 images the job moves
    16 longs per image, not megapixels.

    Reference analog: octopy's segmentation computes per-region
    char-class/intensity histograms as stage-1 features (reference
    src/octopy/segment.py feature extraction) — the same binned
    density census, per image."""
    media = _fake_media(spark, sf, "image_ramp")
    return (
        media.mapInPandas(image_hist_batches, _IMGHIST_SCHEMA)
        .filter(F.col("error").isNull())
        .select("doc_id", "bin", "n_px")
    )


def _ocr_lines(header, page):
    """The reference's two CLI stages fused per page. Stage 1 SEGMENT:
    horizontal projection profile (row mean < 128 => ink) ->
    consecutive-run detection -> line boxes, exactly Kraken's
    baseline-segmentation shape flattened to stripes. Stage 2
    RECOGNIZE: per 8-px character cell, ink-sum mod 26 -> letter (the
    deterministic stand-in for a recognition model's argmax)."""
    w, h, _ = header
    if w < _OCR_CW:
        raise ValueError("tiny page")
    page = page.astype(np.int64)
    inky = page.mean(axis=1) < 128  # projection profile
    edges = np.flatnonzero(np.diff(inky.astype(np.int8)))
    starts = ([0] if inky[0] else []) + (edges + 1).tolist()
    runs = [
        (int(s), int(e))
        for s, e in zip(starts, starts[1:] + [h])
        if inky[s]
    ]
    nc = w // _OCR_CW
    lines = []
    for k, (y0, y1) in enumerate(runs):
        band = page[y0:y1, : nc * _OCR_CW]
        sums = band.sum(axis=0).reshape(nc, _OCR_CW).sum(axis=1)
        text = "".join(chr(65 + int(s) % 26) for s in sums)
        lines.append((k, y0, y1, text, nc))
    return lines


_OCR_SCHEMA = (
    "doc_id long, line_idx long, y0 long, y1 long, "
    "text string, n_chars long, error string"
)
ocr_line_batches = never_drop(
    "image", _ocr_lines, ("line_idx", "y0", "y1", "text", "n_chars")
)

_OCR_SQL = """
    WITH p AS (
      SELECT doc_id, 24 + doc_id % 40 AS w, 3 + doc_id % 4 AS lh,
             2 + doc_id % 3 AS g, 3 + doc_id % 6 AS nl
      FROM documents),
    lines AS (
      SELECT doc_id, w, lh, g, k.k AS line_idx,
             g + k.k * (lh + g) AS y0,
             g + k.k * (lh + g) + lh AS y1
      FROM p, generate_series(0, 7) k(k) WHERE k.k < nl),
    cells AS (
      SELECT doc_id, line_idx, y0, y1, lh, w, c.c AS c
      FROM lines, generate_series(0, 7) c(c) WHERE c.c < w // 8),
    codes AS (
      SELECT doc_id, line_idx, y0, y1, c,
             CAST(lh * sum((doc_id + c * 8 + x.x) % 96) AS BIGINT)
               % 26 AS code
      FROM cells, generate_series(0, 7) x(x)
      GROUP BY doc_id, line_idx, y0, y1, c, lh)
    SELECT doc_id, line_idx, y0, y1,
           string_agg(chr(65 + CAST(code AS INTEGER)), ''
                      ORDER BY c) AS text,
           count(*) AS n_chars
    FROM codes
    GROUP BY doc_id, line_idx, y0, y1
    """


@register("multimodal_ocr_lines", _OCR_SQL)
def multimodal_ocr_lines(spark, sf):
    """Page-image OCR: segment each scanned page into text lines, then
    recognize each line — the closest analog in this engine to the
    reference's entire reason to exist (octopy wraps Kraken's segment
    -> recognize CLI; reference src/octopy/segment.py and
    recognize.py are stages 1 and 2). Here stage 1 is a horizontal
    projection-profile segmenter and stage 2 a deterministic per-cell
    classifier, both fused into ONE Arrow-batched mapInPandas so each
    page is decoded once (the R3/R6 shared-precompute discipline).

    Scale shape: embarrassingly parallel — one Python stage, zero
    shuffles, output rows ~8 per page. At 100 TB the plan is scan ->
    mapInPandas -> sink; per-page cost is bounded by the (w*h <= 64*84)
    decode. The striped synthetic page keeps the expected line boxes
    AND the recognized text SQL-reconstructable from doc_id, so the
    whole two-stage flow is oracle-verified end to end — segmentation
    (y0/y1 boxes), reading order (line_idx), and recognition (text)."""
    media = _fake_media(spark, sf, "page")
    return media.mapInPandas(ocr_line_batches, _OCR_SCHEMA).filter(
        F.col("error").isNull()
    ).drop("error")


_BINSCAN_MAX_ID = 200


def _stage_image_blobs(spark, sf: str) -> str:
    """Materialize one image blob file per document (doc_id < 200)
    under /tmp, once per (sf, fingerprint) — the simulated object-store
    landing a multimodal ingest job reads. Same idempotent staging
    contract as sources.stage_format_copy."""

    def write(dest: str) -> None:
        # the ids collect lives INSIDE write() so the idempotent fast
        # path (marker already present) costs zero Spark jobs — the
        # stage_format_copy discipline; the collect itself is bounded
        # by _BINSCAN_MAX_ID rows
        ids = [
            r.doc_id
            for r in load_table(spark, sf, "documents")
            .select("doc_id")
            .filter(F.col("doc_id") < _BINSCAN_MAX_ID)
            .collect()
        ]
        os.makedirs(dest, exist_ok=True)
        for i in ids:
            with open(os.path.join(dest, f"img_{i:06d}.oimg"), "wb") as f:
                f.write(_fake_image_bytes(i))
        # marker last: a crashed write never looks complete
        open(os.path.join(dest, "_STAGED"), "w").close()

    return _staged_dir(
        sf, "documents", "octospark_src", "images.bin", "_STAGED", write
    )


@register(
    "scan_binary_files",
    f"""
    SELECT doc_id,
           1 + doc_id % 64 AS width,
           1 + (doc_id * 7) % 48 AS height,
           CAST(1 AS BIGINT) AS channels,
           doc_id % 256 AS first_px,
           (1 + doc_id % 64) * (1 + (doc_id * 7) % 48) AS n_px
    FROM documents WHERE doc_id < {_BINSCAN_MAX_ID}
    """,
)
def scan_binary_files(spark, sf):
    """Whole-file binary ingestion via Spark's ``binaryFile`` source —
    the R1-family reader for image/audio corpora that land as one
    object per item rather than as parquet rows: each file becomes a
    (path, modificationTime, length, content) row, and the image
    header is parsed ENTIRELY JVM-side with substring/hex/conv at the
    offsets of ``_CONTAINERS`` — no Python stage, so header-only
    metadata extraction never deserializes pixels into the Python
    worker.  The DuckDB oracle reconstructs every field from doc_id
    (the deterministic-container discipline of the multimodal keys).

    Scale shape: binaryFile packs many small objects per task
    (spark.sql.files.maxPartitionBytes), so a 10^9-image landing
    reads as a normal well-partitioned scan; the header parse is a
    map-side projection and the pixel payload is never touched unless
    a downstream decode stage asks for ``content``.

    Reference analog: octopy's segment command globs page-image FILES
    from a directory as its input unit (reference
    src/octopy/cli/segment.py)."""
    d = spark.read.format("binaryFile").load(_stage_image_blobs(spark, sf))
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    header, payload = _header_columns("image", "content")
    return d.select(
        F.regexp_extract(fname, r"img_(\d+)\.oimg", 1)
        .cast("long")
        .alias("doc_id"),
        *header,
        _be_int("content", payload, 1).alias("first_px"),
        (F.col("length") - (payload - 1)).cast("long").alias("n_px"),
    )


# --------------------------------------------------------------------------
# video
# --------------------------------------------------------------------------

def _frame_sample(header, frames):
    return [(len(frames), len(frames[::5]))]


_FRAME_SAMPLE_SCHEMA = (
    "doc_id long, n_frames long, n_sampled long, error string"
)
sample_video_batches = never_drop(
    "video", _frame_sample, ("n_frames", "n_sampled")
)


@register(
    "multimodal_frame_sample",
    "SELECT doc_id, 1 + doc_id % 30 AS n_frames, "
    "(1 + doc_id % 30 + 4) // 5 AS n_sampled, "
    "CAST(NULL AS VARCHAR) AS error FROM documents",
)
def multimodal_frame_sample(spark, sf):
    """Video frame-sample plumbing: binary stream -> every-5th-frame
    sample via numpy stride over the video container's frames; the
    batching, frame indexing, and output schema are what an
    ffmpeg-backed sampler needs."""
    return _fake_media(spark, sf, "video").mapInPandas(
        sample_video_batches, _FRAME_SAMPLE_SCHEMA
    )


_SCENE_CUT_THRESHOLD = 32.0


def _scene_cut(header, frames):
    """Per-frame mean luma -> abs inter-frame delta -> cut where delta
    > threshold: the shot-boundary kernel shape an ffmpeg-backed
    detector runs on decoded luma planes."""
    cuts = np.flatnonzero(
        np.abs(np.diff(frames.mean(axis=1))) > _SCENE_CUT_THRESHOLD
    )
    return [(len(frames), cuts.size, int(cuts[0]) if cuts.size else None)]


_SCENE_CUT_SCHEMA = (
    "doc_id long, n_frames long, n_cuts long, "
    "first_cut_frame long, error string"
)
scene_cut_batches = never_drop(
    "video", _scene_cut, ("n_frames", "n_cuts", "first_cut_frame")
)


@register(
    "multimodal_scene_cut",
    # frame i fills with (doc_id+i)%256, so the ONLY above-threshold
    # delta is the 255->0 wrap: cut index r = 255 - doc_id%256 exists
    # iff r <= n-2 (diff i sits between frames i and i+1; n = 1+doc_id%30)
    """
    SELECT doc_id,
           CAST(1 + doc_id % 30 AS BIGINT) AS n_frames,
           CAST(CASE WHEN 255 - doc_id % 256 <= doc_id % 30 - 1
                THEN 1 ELSE 0 END AS BIGINT) AS n_cuts,
           CASE WHEN 255 - doc_id % 256 <= doc_id % 30 - 1
                THEN CAST(255 - doc_id % 256 AS BIGINT)
                ELSE NULL END AS first_cut_frame,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    """,
)
def multimodal_scene_cut(spark, sf):
    """Shot-boundary (scene-cut) detection over the opaque video
    column — the segmentation step a video-training pipeline runs
    before frame sampling (sample per SHOT, not per fixed stride, so
    no shot is missed and none dominates). Per clip: frame count, cut
    count, first cut index; the fake codec's deterministic fill makes
    every expected cut reconstructable in SQL, so threshold logic and
    indexing are oracle-pinned exactly.

    Scale shape: identical to the other multimodal keys — Arrow
    batches through one mapInPandas, numpy vectorized per clip, no
    shuffle at all; never-drop error rows. Reference analog: R3
    stage-1 segmentation (reference src/octopy/segment.py baseline
    detection) applied on the time axis."""
    return _fake_media(spark, sf, "video").mapInPandas(
        scene_cut_batches, _SCENE_CUT_SCHEMA
    )


# --------------------------------------------------------------------------
# audio
# --------------------------------------------------------------------------

def _audio_stats(header, samples):
    """Exact int64 reductions over the sample buffer — the same
    buffer-view + vectorized-reduction shape a real resampler/VAD
    front-end has."""
    s = samples.astype(np.int64)
    return [
        (len(s), int((s * s).sum()), int(s.max()), int((s > 250).sum()))
    ]


_AUDIO_SCHEMA = (
    "doc_id long, n_samples long, energy long, peak long, "
    "n_clipped long, error string"
)
audio_stats_batches = never_drop(
    "audio", _audio_stats, ("n_samples", "energy", "peak", "n_clipped")
)


@register(
    "multimodal_audio_stats",
    # the sawtooth's integer stats reconstructed analytically per doc:
    # energy = sum of squares, peak = max, n_clipped = count > 250 —
    # all exact int64 so the comparison is engine-independent
    """
    SELECT doc_id,
           64 + doc_id % 192 AS n_samples,
           CAST(list_aggregate(
             list_transform(range(64 + doc_id % 192),
               i -> ((doc_id * 3 + i * 5) % 256)
                    * ((doc_id * 3 + i * 5) % 256)),
             'sum') AS BIGINT) AS energy,
           list_aggregate(
             list_transform(range(64 + doc_id % 192),
               i -> (doc_id * 3 + i * 5) % 256),
             'max') AS peak,
           len(list_filter(
             list_transform(range(64 + doc_id % 192),
               i -> (doc_id * 3 + i * 5) % 256),
             x -> x > 250)) AS n_clipped,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    """,
)
def multimodal_audio_stats(spark, sf):
    """Audio feature-extraction plumbing: opaque binary PCM column ->
    exact integer energy/peak/clipping stats via Arrow-batched
    mapInPandas — completes the image/video/audio multimodal triple.
    The batching, buffer views, vectorized reductions, and never-drop
    error rows are the real deployment shape."""
    return _fake_media(spark, sf, "audio").mapInPandas(
        audio_stats_batches, _AUDIO_SCHEMA
    )


_VAD_THRESHOLD = 128  # uint8 amplitude gate


def _audio_vad(header, s):
    """Amplitude gate -> contiguous active-run count. The numpy compare
    + transition count is the real energy-VAD kernel shape (a
    production front-end swaps the gate for a smoothed energy
    threshold; the segmentation logic is identical)."""
    active = s >= _VAD_THRESHOLD
    starts = int(active[0]) + int(
        (active[1:] & ~active[:-1]).sum()
    ) if len(s) else 0
    return [(len(s), int(active.sum()), starts)]


_VAD_SCHEMA = (
    "doc_id long, n_samples long, n_active long, n_segments long, "
    "error string"
)
audio_vad_batches = never_drop(
    "audio", _audio_vad, ("n_samples", "n_active", "n_segments")
)


@register(
    "multimodal_audio_vad",
    # samples are the sawtooth s[i] = (doc_id*3 + 5i) % 256; a segment
    # STARTS at i=0 if s[0] >= 128, else exactly where s[i] crosses up
    # into [128, 132] (the previous sample s[i]-5 was < 128; the 256
    # wrap lands at s[i] < 5, whose predecessor was active — no start)
    f"""
    WITH ex AS (
      SELECT doc_id,
             unnest(range(0, 64 + doc_id % 192)) AS i,
             (doc_id * 3 + 5 * unnest(range(0, 64 + doc_id % 192))) % 256
               AS v
      FROM documents)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN v >= {_VAD_THRESHOLD} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_active,
           CAST(sum(CASE
                 WHEN i = 0 AND v >= {_VAD_THRESHOLD} THEN 1
                 WHEN i > 0 AND v BETWEEN {_VAD_THRESHOLD}
                      AND {_VAD_THRESHOLD + 4} THEN 1
                 ELSE 0 END) AS BIGINT) AS n_segments,
           CAST(NULL AS VARCHAR) AS error
    FROM ex GROUP BY doc_id
    """,
)
def multimodal_audio_vad(spark, sf):
    """Voice-activity detection over the opaque audio column — the
    segmentation step a speech-data pipeline runs before transcription
    (cut on silence, transcribe per active segment): per clip the
    sample count, active-sample count, and number of contiguous active
    segments. The sawtooth codec makes every expected segment boundary
    reconstructable analytically, so the gate AND the run-counting
    logic are oracle-pinned exactly.

    Scale shape: same as the other multimodal keys — one Arrow-batched
    mapInPandas, numpy-vectorized per clip, zero shuffle, never-drop
    error rows; the oracle's per-sample explode exists only on the
    DuckDB side (the Spark side never materializes per-sample rows).
    Reference analog: R3 stage-1 segmentation on the time axis, like
    multimodal_scene_cut for video."""
    return _fake_media(spark, sf, "audio").mapInPandas(
        audio_vad_batches, _VAD_SCHEMA
    )
