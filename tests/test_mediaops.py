"""Tests for the media container and its batch driver
(octospark.mediaops): every kernel keeps every blob, and no output
depends on what is installed."""

from __future__ import annotations

import glob
import os
import re
import sys
import types

import pandas as pd
import pytest

import octospark.mediaops as M

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (mapInPandas body, its schema, a clean blob) for every container kernel
KERNELS = {
    "decode": (M.decode_image_batches, M._DECODE_SCHEMA,
               M._fake_image_bytes(8)),
    "resize": (M.resize_batches, M._RESIZE_SCHEMA, M._fake_image_bytes(9)),
    "frame_sample": (M.sample_video_batches, M._FRAME_SAMPLE_SCHEMA,
                     M._fake_video_bytes(4)),
    "scene_cut": (M.scene_cut_batches, M._SCENE_CUT_SCHEMA,
                  M._fake_video_bytes(226)),
    "audio_stats": (M.audio_stats_batches, M._AUDIO_SCHEMA,
                    M._fake_audio_bytes(3)),
    "audio_vad": (M.audio_vad_batches, M._VAD_SCHEMA,
                  M._fake_audio_bytes(42)),
    "phash": (M.phash_batches, M._PHASH_SCHEMA,
              M._fake_image_ramp_bytes(7)),
    "image_histogram": (M.image_hist_batches, M._IMGHIST_SCHEMA,
                        M._fake_image_ramp_bytes(5)),
    "ocr_lines": (M.ocr_line_batches, M._OCR_SCHEMA,
                  M._fake_page_bytes(11)),
}

# a clean blob on which the kernel finds no rows at all
NO_ROWS = {
    "image_histogram": M.pack("image", (0, 0, 1), b""),  # 0x0 image
    "ocr_lines": M.pack("image", (32, 12, 1), b"\xff" * 32 * 12),  # blank
}


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_container_kernels_never_drop(spark, kernel):
    """Through Spark, each blob that is null, has a bad magic, or is cut
    inside its magic, header or payload yields exactly one error row
    with every value null; the clean blob yields rows with no error, and
    a clean blob with no rows yields one row with every value and the
    error null."""
    batches, schema, ok = KERNELS[kernel]
    cases = {
        1: None,
        2: b"XXXX" + ok[4:],  # bad magic
        3: ok[:2],  # cut inside the magic
        4: ok[:5],  # cut inside the header
        5: ok[:-1],  # cut inside the payload
        6: ok,
    }
    if kernel in NO_ROWS:
        cases[7] = NO_ROWS[kernel]
    media = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(cases), "media": list(cases.values())}),
        schema="doc_id long, media binary",
    )
    rows = media.mapInPandas(batches, schema).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.asDict())
    assert sorted(by_doc) == list(cases)
    assert [r["error"] for r in by_doc[1]] == ["null media"]
    for doc_id in (1, 2, 3, 4, 5):
        (row,) = by_doc[doc_id]
        assert row["error"], (doc_id, row)
        assert all(v is None for k, v in row.items()
                   if k not in ("doc_id", "error")), (doc_id, row)
    assert all(r["error"] is None for r in by_doc[6])
    if 7 in cases:
        assert [set(r.values()) for r in by_doc[7]] == [{7, None}]


def test_outputs_do_not_depend_on_pillow():
    """An importable PIL whose ``Image.open`` rejects these blobs, as
    Pillow does, changes no row of the image decode or the metadata
    body."""
    ids = list(range(40))
    images = pd.DataFrame(
        {"doc_id": ids + [40],
         "media": [M._fake_image_bytes(i) for i in ids] + [None]}
    )
    texts = pd.DataFrame(
        {"doc_id": [1, 2], "media": [b"some page text", None]}
    )

    def run():
        return (
            pd.concat(list(M.decode_image_batches(iter([images])))),
            pd.concat(list(M.meta_batches(iter([texts])))),
        )

    def reject(fh):
        raise OSError("cannot identify image file")

    pil, pil_image = types.ModuleType("PIL"), types.ModuleType("PIL.Image")
    pil_image.open = reject
    pil.Image = pil_image
    old = {k: sys.modules.get(k) for k in ("PIL", "PIL.Image")}
    sys.modules.update({"PIL": pil, "PIL.Image": pil_image})
    try:
        with_pil = run()
    finally:
        for k, v in old.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v
    without = run()
    assert without[0]["error"].notna().sum() == 1  # only the null blob
    for a, b in zip(without, with_pil):
        pd.testing.assert_frame_equal(a, b)


def test_container_layout_lives_in_mediaops():
    """No other operator module holds a container magic or refers to
    Pillow: the layout is written and read in one place."""
    found = []
    for path in glob.glob(os.path.join(REPO, "octospark", "*.py")):
        if os.path.basename(path) == "mediaops.py":
            continue
        src = open(path).read()
        found += [
            (os.path.basename(path), word)
            for word in (r'b"OIMG"', r'b"OVID"', r'b"OAUD"', r"\bPIL\b")
            if re.search(word, src)
        ]
    assert not found, found
