"""Pure-Python extractor tests: frozen goldens + invariant laws
(FIXTURES.md §D) + generated-corpus quality. No Spark here."""

from __future__ import annotations

import dataclasses
import json
import pathlib

import duckdb
import pytest

import octospark.extractor as E
from octospark.extractor import (
    CONTENT_LABELS,
    LABELS,
    _structural,
    classify_blocks,
    decode_html,
    extract,
    merge_spans,
    segment_blocks,
)
from octospark.htmlgen import build_html, build_page
from tests.fixtures.adversarial import CASES

GOLDEN = json.loads(
    (pathlib.Path(__file__).parent / "fixtures/golden.json").read_text()
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(limit=None):
    q = f"SELECT doc_id, text, lang, source FROM '{SF_DIR}/documents.parquet' ORDER BY doc_id"
    if limit:
        q += f" LIMIT {limit}"
    return duckdb.sql(q).fetchall()


# --- frozen golden regression ----------------------------------------------

@pytest.mark.parametrize("name,html", CASES, ids=[c[0] for c in CASES])
def test_golden_frozen(name, html):
    r = extract(html)
    g = GOLDEN[name]
    assert r["text"] == g["text"]
    assert r["spans"] == g["spans"]
    assert r["n_blocks"] == g["n_blocks"]


# --- invariant laws -----------------------------------------------------------

@pytest.mark.parametrize("name,html", CASES, ids=[c[0] for c in CASES])
def test_span_laws(name, html):
    r = extract(html)
    text, spans = r["text"], r["spans"]
    prev_end = -1
    for s in spans:
        assert 0 <= s["start"] <= s["end"] <= len(text)
        assert s["start"] > prev_end  # monotonic, non-overlapping
        prev_end = s["end"]
        assert s["label"] in CONTENT_LABELS
    # concatenating span slices reproduces text exactly
    assert "\n".join(text[s["start"]:s["end"]] for s in spans) == text


@pytest.mark.parametrize("name,html", CASES, ids=[c[0] for c in CASES])
def test_never_raises_and_deterministic(name, html):
    a, b = extract(html), extract(html)
    assert a == b


def test_labels_in_vocabulary():
    for _, html in CASES:
        for blk in classify_blocks(segment_blocks(html)):
            assert blk.label in LABELS


def test_script_style_never_leak():
    r = extract(CASES[8][1])  # script_style_excluded
    assert "not_content" not in r["text"]
    assert "color:red" not in r["text"]


def test_none_and_empty_input():
    assert extract(None)["text"] == ""
    assert extract(b"")["text"] == ""
    assert extract(b"")["error"] is None  # still a valid (empty) row


# --- merge offset math (direct) -----------------------------------------------

def test_merge_offsets_exact():
    blocks = classify_blocks(segment_blocks(CASES[11][1]))  # headings_interleaved
    text, spans = merge_spans(blocks)
    assert len(spans) == 4
    assert spans[0].start == 0
    for a, b in zip(spans, spans[1:]):
        assert b.start == a.end + 1  # exactly one '\n' between spans
        assert text[a.end] == "\n"


# --- generated corpus quality (real classifier assertion, not tautology) -----

def test_generated_corpus_quality():
    rows = _docs()
    assert len(rows) == 500
    recalls = []
    boiler_hits = 0
    for doc_id, dtext, lang, source in rows:
        page = build_page(doc_id, dtext, lang, source)
        got_words = set(page["text"].split())
        orig_words = set(dtext.split())
        recalls.append(len(orig_words & got_words) / max(1, len(orig_words)))
        # boilerplate phrases must not leak into extracted text
        for phrase in ("Copyright 2026", "Sign up", "Shop now", "Privacy",
                       "Related story", "Nice post"):
            if phrase in page["text"]:
                boiler_hits += 1
    assert sum(recalls) / len(recalls) > 0.75
    assert boiler_hits == 0


def test_htmlgen_deterministic():
    d = _docs(limit=5)
    for doc_id, text, lang, source in d:
        assert build_html(doc_id, text, source) == build_html(doc_id, text, source)
        p1, p2 = (build_page(doc_id, text, lang, source) for _ in range(2))
        assert p1 == p2


# --- walk equivalence (the compiled walk vs stdlib HTMLParser) ---------------

def _open_tags(node) -> tuple:
    """The open-tag chain of a block's node, innermost first."""
    tags = []
    while node[1] is not None:
        tags.append(node[0])
        node = node[1]
    return tuple(tags)


def _block_key(b):
    return (b.block_id, _open_tags(b.node), b.depth,
            _structural(b.node, b.n_words, b.link_density), b.text,
            b.n_chars, b.n_words, b.n_link_chars, b.link_density,
            b.text_density, tuple(b.char_hist))


def _salvage(html, walk=E._stdlib_walk):
    """The walk's salvage flag: None, or 'salvaged:<exception type>'."""
    return walk(decode_html(html))[1]


def _stdlib_blocks(html) -> list:
    """segment_blocks() through the stdlib reference walk."""
    records, _ = E._stdlib_walk(decode_html(html))
    return [E._block(k, r, True) for k, r in enumerate(records)]


def _engines_agree(html) -> bool:
    """segment_blocks(), through the walk stage 1 runs (the compiled
    one, see test_compiled_walk_is_the_default), gives the stdlib
    reference's blocks, and both walks give the same salvage flag."""
    return ([_block_key(b) for b in segment_blocks(html)]
            == [_block_key(b) for b in _stdlib_blocks(html)]
            and _salvage(html, E._DEFAULT_WALK) == _salvage(html))


@pytest.mark.parametrize("name,html", CASES, ids=[c[0] for c in CASES])
def test_fast_engine_equivalent_on_fixtures(name, html):
    assert _engines_agree(html)


def _corpus_and_mutations():
    """(html, note) pairs: 60 generated pages, then truncations and
    adversarial injections at several positions of the first 12."""
    rows = duckdb.sql(
        "SELECT doc_id, text, source FROM "
        "'/root/testdata/sf0.001/documents.parquet' LIMIT 60"
    ).fetchall()
    pages = [build_html(*r) for r in rows]
    for h in pages:
        yield h, None
    inject = [
        b"<", b"<<>", b"</", b"<!--oops", b"<p junk='a>b'",
        b"&amp;&bogus;&#65;", b"<br/>", b"<ScRiPt>x<div></sCrIpT>",
        b"<style>p{}<", b"<?php echo ?>", b"<!DOCTYPE junk>", b"<a/>",
        b"</ weird>", b"</>", b"<p a=\"x>y\"", b"<em x='unclosed",
        b"<!--term-->", b"<div/><span>word</span>",
        b"<![CDATA[hidden <p>x</p>]]>", b"<![BAD[z]]>",
        b"<![if !IE]>hidden<![endif]>", b"<![ ", b"</script foo>",
        b"<scriptx>y</scriptx>", b"<vector</p>", b"<p\x00weird>",
        b"<P UPPER>x</P>", b"<a href=x/>", b"<hr />",
        b"<input type='checkbox' checked/>",
        # forms the compiled walk's hand matcher takes itself
        b"<a href=x/ >", b'<p class = "a" / >', b"<div\x0cid=x>",
        "<p\u3000a=b>".encode(), b"<A HREF='x'>", b"<a>caf&eacute;</a>",
        "<a>x \U0001f600y</a>".encode(), "<b\u212a>x</bk>".encode(),
        b"<!--a-- >b<p>c</p>-->",
    ]
    for h in pages[:12]:
        n = len(h)
        for cut in [3, 17, n // 7, n // 3, n // 2, n - 5, n - 1]:
            yield h[:cut], ("trunc", cut)
        for inj in inject:
            for pos in [n // 4, n // 2, 3 * n // 4]:
                yield h[:pos] + inj + h[pos:], (inj, pos)


def test_fast_engine_equivalent_on_corpus_and_mutations():
    """Block-identical compiled vs stdlib tokenization over generated
    pages plus byte-level mutations (truncations + adversarial
    injections at several positions) — the contract that lets the
    compiled walk be the default."""
    for h, note in _corpus_and_mutations():
        assert _engines_agree(h), note


# --- fused kernel vs the staged reference -----------------------------------

def _kernel_agrees(html) -> bool:
    """extract() (the fused kernel, through the walk stage 1 runs)
    equals the three stages composed over the stdlib reference walk, on
    text, spans and n_blocks, and reports the stdlib walk's salvage flag
    as its error."""
    blocks = classify_blocks(_stdlib_blocks(html))
    text, spans = merge_spans(blocks)
    r = extract(html)
    return (r["text"], r["spans"], r["n_blocks"], r["error"]) == (
        text, [dataclasses.asdict(s) for s in spans], len(blocks),
        _salvage(html))


@pytest.mark.parametrize("name,html", CASES, ids=[c[0] for c in CASES])
def test_kernel_equals_reference_on_fixtures(name, html):
    assert _kernel_agrees(html)


def test_kernel_equals_reference_on_corpus_and_mutations():
    for h, note in _corpus_and_mutations():
        assert _kernel_agrees(h), note


def test_compiled_walk_is_the_default():
    """Stage 1 runs the compiled walk; a build failure would show here,
    not as a silent fallback."""
    assert E.WALK == "compiled"
    assert E._DEFAULT_WALK.__module__ == "octospark._walk"


def _configure_compiled(**replace):
    """Configure the compiled walk with extractor's objects, the named
    ones replaced; this also empties its table of tag names."""
    objs = dict(
        skip_tags=E._SKIP_TAGS, block_tags=E._BLOCK_TAGS,
        ancestor_labels=E._ANCESTOR_LABELS, table_tags=E._TABLE_TAGS,
        cdata_strict=E._CDATA_STRICT, tolerant_token=E._tolerant_token,
        unescape=E._unescape, root=E._ROOT,
    )
    objs.update(replace)
    E._DEFAULT_WALK.__self__.configure(*objs.values())


def test_compiled_walk_takes_every_token_of_generated_pages():
    """The compiled walk's hand matcher takes every token of the
    generated pages: none goes to ``_tolerant_token``, which it calls
    for what it declines."""
    calls = []

    def counted(*args):
        calls.append(args[1])
        return E._tolerant_token(*args)

    _configure_compiled(tolerant_token=counted)
    try:
        pages = [build_html(r[0], r[1], r[3]) for r in _docs()]
        for h in pages:
            E._DEFAULT_WALK(decode_html(h))
    finally:
        _configure_compiled()
    assert len(pages) > 100 and calls == []


def test_compiled_walk_past_its_tag_table():
    """The compiled walk keeps the first 512 distinct tag names in a
    table; past it, and for names longer than 32 characters, it looks a
    name up in the vocabularies each time. Either way its blocks are
    the stdlib walk's, a name lowercased to ASCII ('\u212a' is 'k')
    included."""
    names = [f"t{k}" for k in range(600)] + ["x" * 40, "nav", "bk"]
    html = (
        "".join(f"<{n}><p>x {n}</p>" for n in names)
        + "".join(f"</{n.upper()}>y" for n in names[::-3])
        + "<b\u212a>x</bk><p>z</p></X" + "X" * 39 + "><td>w"
    )
    try:
        for text in (html, html[::-1], html):  # the last with a full table
            assert E._DEFAULT_WALK(text) == E._stdlib_walk(text)
    finally:
        _configure_compiled()


def test_failed_build_warns_once_and_falls_back(monkeypatch, tmp_path,
                                                caplog):
    """With no compiler, selecting the walk logs one warning and picks
    the stdlib walk, and extract_row gives the same rows as through the
    compiled walk."""
    import logging

    from octospark import native

    def no_compiler(src, out):
        raise FileNotFoundError("cc")

    monkeypatch.setattr(native, "_compile", no_compiler)
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    with caplog.at_level(logging.WARNING):
        name, walk = E._select_walk()
    assert (name, walk) == ("stdlib", E._stdlib_walk)
    assert [r.levelno for r in caplog.records] == [logging.WARNING]
    want = [E.extract_row(h) for _, h in CASES]
    monkeypatch.setattr(E, "_DEFAULT_WALK", walk)
    assert [E.extract_row(h) for _, h in CASES] == want


def test_build_deletes_stale_builds(monkeypatch, tmp_path):
    """A build into the package's own cache leaves one build of the
    extension there: the builds of the source's other versions are
    deleted. The shared cache keeps them."""
    import sysconfig

    from octospark import native

    src = {"v": b"int v1;"}
    monkeypatch.setattr(native.pkgutil, "get_data", lambda pkg, f: src["v"])
    monkeypatch.setattr(native, "_compile",
                        lambda s, out: pathlib.Path(out).write_bytes(s))
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    suffix = sysconfig.get_config_var("EXT_SUFFIX")
    (tmp_path / f"_other-0{suffix}").write_bytes(b"")
    for v in (b"int v1;", b"int v2;"):
        src["v"] = v
        native.load("_walk")  # the stub builds no loadable module
    left = sorted(p.name for p in tmp_path.iterdir())
    assert len(left) == 2 and left[0] == f"_other-0{suffix}", left
    assert (tmp_path / left[1]).read_bytes() == b"int v2;"
    # the shared cache, which two versions may load from at once, keeps all
    monkeypatch.setattr(native, "_SHARED_CACHE", str(tmp_path))
    src["v"] = b"int v3;"
    native.load("_walk")
    assert len(list(tmp_path.iterdir())) == 3


def test_no_tolerant_regexes_selects_stdlib_without_building(monkeypatch):
    """Where html.parser lacks the tolerant regexes the compiled walk
    delegates to, stage 1 runs the stdlib walk and no build is tried."""
    from octospark import native

    def no_build(name):
        raise AssertionError(f"built {name}")

    monkeypatch.setattr(E, "_HAVE_TOLERANT", False)
    monkeypatch.setattr(native, "load", no_build)
    assert E._select_walk() == ("stdlib", E._stdlib_walk)


def test_adversarial_nesting_is_linear_time():
    """Unclosed ``<div><span>x `` repeated n times: every block opens one
    level deeper, so a walk that copies the open-tag path per block is
    quadratic (such a walk took 2.2 s at n=4k and 9.4 s at n=8k on a
    4-core VM, and the staged walk, which built each block's tag path,
    3.94 s at n=8k). Doubling n must cost at most 2.5x, through the
    fused kernel and through the staged walk alike. Each ratio is of the
    best of 5 interleaved runs per size with the cyclic GC paused; a
    shared machine can slow every run of one window, so the bound is
    checked on the least disturbed of up to 3 such measurements. Both run
    the compiled walk, the one stage 1 runs."""
    import gc
    import time

    assert E.WALK == "compiled"

    h4, h8 = "<div><span>x " * 4000, "<div><span>x " * 8000
    for run in (extract, lambda h: segment_blocks(h, with_hist=False)):
        ratios = []
        for _ in range(3):
            b4 = b8 = float("inf")
            gc.collect()
            gc.disable()
            try:
                for _ in range(5):
                    t0 = time.perf_counter()
                    run(h4)
                    t1 = time.perf_counter()
                    run(h8)
                    t2 = time.perf_counter()
                    b4, b8 = min(b4, t1 - t0), min(b8, t2 - t1)
            finally:
                gc.enable()
            assert b8 < 1.0, run
            ratios.append(b8 / b4)
            if ratios[-1] <= 2.5:
                break
        assert min(ratios) <= 2.5, (run, ratios)


def test_unclosed_comments_are_declined_once():
    """On repeated unclosed comments, the compiled walk scans for a
    comment close once: every later ``<!--`` is declined without a scan.
    It then runs in less than half the stdlib walk's time, with the
    stdlib walk's records. A walk that rescans the tail at each ``<!--``
    took 3.45 s on this page against the stdlib walk's 0.68 s (one core
    of a 4-core VM)."""
    import time

    html = "<!--x" * 8000
    t0 = time.perf_counter()
    want = E._stdlib_walk(html)
    stdlib_s = time.perf_counter() - t0
    compiled_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        got = E._DEFAULT_WALK(html)
        compiled_s = min(compiled_s, time.perf_counter() - t0)
    assert got == want
    assert compiled_s < stdlib_s / 2, (compiled_s, stdlib_s)


def test_salvaged_parse_is_reported():
    """A parse that fails midway keeps the blocks before the failure and
    says so: ``error='salvaged:<exception type>'`` (FIXTURES.md §D), the
    same from both walks. A marked section cut off at the end of the
    input is incomplete, not failed: it is recovered as data."""
    html = b"<p>hello world</p><![BAD[z]]><p>after</p>"
    r = extract(html)
    assert r["error"] == "salvaged:AssertionError"
    assert r["n_blocks"] == 1
    assert _salvage(html) == _salvage(html, E._DEFAULT_WALK) == r["error"]
    assert _engines_agree(html) and _kernel_agrees(html)
    for cut in (b"<p>hello world</p><![", b"<p>hello world</p><![BAD"):
        assert extract(cut)["error"] is None
        assert _engines_agree(cut) and _kernel_agrees(cut), cut


# --- property-based fuzz (hypothesis) ---------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HTMLISH = st.text(
        alphabet=st.sampled_from(
            list("<>/!-='\"& abcdefghijklmnopqrstuvwxyzPBR&#;\n\t中\U0001f600"
                 "\x0b\x1c\x85\xa0\u3000")
        ),
        max_size=400,
    )
    _TAGS = st.sampled_from(
        ["<p>", "</p>", "<div>", "</div>", "<a href='/x'>", "</a>",
         "<script>", "</script>", "<br/>", "<nav>", "</nav>", "<!--",
         "-->", "<![CDATA[", "]]>", "&amp;", "&#65;", "word "]
    )
    _PAGE = st.lists(st.one_of(_HTMLISH, _TAGS), max_size=30).map(
        lambda parts: "".join(parts).encode("utf-8")
    )

    @given(_PAGE)
    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_fuzz_fast_engine_equivalent(html):
        assert _engines_agree(html)

    @given(_PAGE)
    @settings(max_examples=300, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def test_fuzz_kernel_equals_reference(html):
        assert _kernel_agrees(html)

    @given(st.binary(max_size=300))
    @settings(max_examples=200, deadline=None)
    def test_fuzz_extract_total_and_lawful(data):
        """extract() is total on arbitrary bytes and its outputs obey
        the span laws (FIXTURES.md §D)."""
        from octospark.extractor import extract

        r = extract(data)
        assert isinstance(r["text"], str)
        pos = 0
        for s in r["spans"]:
            assert 0 <= s["start"] <= s["end"] <= len(r["text"])
            assert s["start"] >= pos or s["start"] == 0
            pos = s["end"]
        # concatenating span slices reproduces text exactly
        joined = "\n".join(
            r["text"][s["start"]:s["end"]] for s in r["spans"]
        )
        assert joined == r["text"]

except ImportError:  # pragma: no cover — hypothesis absent
    pass


def test_huge_block_at_size_guard_boundary():
    """VERDICT r3 #8: a 10 MB single-block page driven to the size-guard
    boundary. (a) under the default 20 MB guard the block extracts
    exactly (expectation computed analytically — a 10 MB golden.json
    entry would bloat the repo); (b) through the inline per-row guard,
    max_bytes == len(html) still parses (the guard is strictly
    greater-than) while max_bytes == len(html) - 1 yields the
    size_guard error row — never an exception, never a dropped row."""
    import pandas as pd

    from octospark.pipeline import _make_extract_batches

    html = b"<html><body><p>" + b"word " * 2_000_000 + b"</p></body></html>"
    assert len(html) > 10_000_000

    expected = ("word " * 2_000_000).strip()
    r = extract(html)
    assert r["error"] is None
    assert r["n_blocks"] == 1
    assert r["text"] == expected
    assert r["spans"][0]["start"] == 0
    assert r["spans"][0]["end"] == len(expected)

    def run(max_bytes):
        frames = [pd.DataFrame({
            "url": ["u"], "warc_ts": [None], "html": [html], "lang": ["en"],
        })]
        out = pd.concat(list(_make_extract_batches(max_bytes)(iter(frames))))
        return out.iloc[0]

    at = run(len(html))  # == boundary: still parsed (guard is >)
    assert at["error"] is None and at["text"] == expected
    over = run(len(html) - 1)  # just over the guard: error row
    assert over["error"] == "size_guard" and over["text"] == ""


def _mutate(rng, html: bytes) -> bytes:
    """One seeded random byte-mutation: truncation, tag splicing,
    byte flips, invalid-UTF-8 injection, or chunk duplication."""
    kind = rng.randrange(5)
    if not html:
        return b"<p" * rng.randrange(3)
    if kind == 0:  # truncate anywhere (possibly mid-tag / mid-rune)
        return html[: rng.randrange(len(html))]
    if kind == 1:  # splice random tag fragments at random offsets
        frags = [b"<div", b"</p>", b"<![CDATA[", b"<script>", b"</",
                 b"<p class='", b"-->", b"<template>", b"]]>"]
        out = html
        for _ in range(rng.randrange(1, 4)):
            i = rng.randrange(len(out))
            out = out[:i] + rng.choice(frags) + out[i:]
        return out
    if kind == 2:  # flip random bytes
        b = bytearray(html)
        for _ in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        return bytes(b)
    if kind == 3:  # inject invalid / truncated UTF-8 sequences
        i = rng.randrange(len(html))
        return html[:i] + bytes(
            rng.choice([[0xFF, 0xFE], [0xE2, 0x82], [0xC0, 0xAF],
                        [0xF8, 0x88, 0x80]])
        ) + html[i:]
    i = rng.randrange(len(html))  # duplicate a chunk
    j = min(len(html), i + rng.randrange(1, 200))
    return html[:i] + html[i:j] + html[i:]


def _fuzz_corpus(n_pages: int = 30, n_mut: int = 8):
    """Seeded mutated pages from the golden generator + the adversarial
    fixture set — (url, html) rows, deterministic across calls."""
    import random

    import duckdb

    from octospark.htmlgen import build_page
    from tests.fixtures.adversarial import CASES

    rng = random.Random(42)
    rows = duckdb.sql(
        "SELECT doc_id, text, lang, source FROM "
        "'/root/testdata/sf0.001/documents.parquet' "
        f"ORDER BY doc_id LIMIT {n_pages}"
    ).fetchall()
    seeds = [build_page(*r)["html"] for r in rows] + [
        h for _, h in CASES
    ]
    out = []
    for si, html in enumerate(seeds):
        for mi in range(n_mut):
            out.append((f"https://fuzz.example/{si}/{mi}",
                        _mutate(rng, html)))
    return out


def test_fuzz_extract_never_throws_and_is_deterministic():
    """Extractor fuzz law (VERDICT r4 #7), library half: seeded random
    byte-mutations of golden + adversarial pages never raise, always
    return the full contract dict, and extract twice -> identical."""
    from octospark.extractor import extract

    corpus = _fuzz_corpus()
    assert len(corpus) >= 400
    for url, html in corpus:
        a = extract(html)
        assert isinstance(a, dict) and isinstance(a.get("text"), str)
        assert "spans" in a
        b = extract(html)
        assert a == b, url


def test_fuzz_extract_pages_never_drops_and_repartition_invariant(
    spark,
):
    """Extractor fuzz law, Spark half: the mutated corpus through
    extract_pages keeps EVERY url exactly once (never-drop) and the
    extracted bytes are identical at 2 vs 8 partitions."""
    import pyspark.sql.functions as F

    from octospark.pipeline import extract_pages

    corpus = _fuzz_corpus(n_pages=15, n_mut=4)
    pages = spark.createDataFrame(
        [(u, None, h, None, None) for u, h in corpus],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    outs = []
    for parts in (2, 8):
        got = (
            extract_pages(pages.repartition(parts))
            .select("url", "text", "error")
            .collect()
        )
        assert len(got) == len(corpus)  # never-drop, no dup
        assert {r.url for r in got} == {u for u, _ in corpus}
        outs.append(sorted((r.url, r.text, r.error) for r in got))
    assert outs[0] == outs[1]
