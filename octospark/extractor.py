"""Pure-Python reference extractor — the golden-defining oracle.

This module has NO Spark dependency. It defines the exact semantics of
main-content extraction; the Spark pipeline (:mod:`octospark.pipeline`)
imports these same functions inside its Arrow-batched UDFs, so
"byte-identical extracted text per url" holds by construction at any
parallelism (the north-rule invariant, BASELINE.json).

Structure mirrors the reference's two-stage flow (jahtz/octopy):

- :func:`segment_blocks`  — stage 1: html -> ordered Block list with
  shallow text features (analog of ``SegmentationTaskModel.predict``,
  reference src/octopy/segment.py:70,179 + feature precompute
  src/octopy/plugins/kraken_polygonizer.py:64-70).
- :func:`classify_blocks` — stage 2: Boilerpipe-style shallow-feature
  rules over (prev, curr, next) blocks with a never-drop fallback
  (analog of polygonization + ``_calculate_fallback``,
  reference src/octopy/plugins/kraken_polygonizer.py:28-35,109-122).
- :func:`merge_spans`     — span concatenation with offset bookkeeping
  (analog of ``_segmentation_to_pagexml`` join/sort/serialize,
  reference src/octopy/segment.py:117-157).
- :func:`extract_row`     — the fused per-page kernel the Spark UDF
  calls: one pass of the block walk, then the same rule cascade
  (:func:`_label`) and span arithmetic as the three stages above, over
  block records instead of Block objects; a pure function of (html
  bytes) with row-level error tolerance (analog of the per-document
  try/except, reference src/octopy/cli/segment.py:137-145).
  :func:`extract` returns the same row as a dict.

Stage 1 has two walks that produce the same block records:

- the compiled walk (``octospark/_walk.c``, the default), one loop in C
  that tokenizes and keeps the block state, built at import by
  :mod:`octospark.native` into a cache keyed by its source hash. It
  hands back to this module's own objects whatever is rare: a construct
  its hand matcher declines goes to :data:`_TOKEN` and
  :func:`_tolerant_token`, data holding ``&`` to ``html.unescape``, and
  the tag vocabularies are passed in, not copied;
- the stdlib ``html.parser`` reference (:class:`_BlockParser`), which
  the tests hold the compiled walk and the fused kernel to, and which
  runs where the compiled walk cannot be built (the build failure is
  logged once).

:data:`WALK` names the walk stage 1 runs.

Determinism rules (SURVEY.md §7.3):
- pure functions of the input bytes; no RNG, no global state;
- unicode decoding is ``errors='replace'`` (deterministic);
- whitespace normalization happens in exactly one place
  (:func:`_norm_ws`); all features are derived from normalized text.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass
from html import unescape as _unescape  # same fn HTMLParser uses
from html.parser import HTMLParser

from octospark import native

# --- vocabulary -----------------------------------------------------------
# Block label vocabulary — the analog of the reference's 27-class region
# mapping (src/octopy/mappings.py:15-48). Unmapped/failed -> 'unknown'.
LABELS = (
    "content",
    "heading",
    "boilerplate-nav",
    "boilerplate-header",
    "boilerplate-footer",
    "advert",
    "table",
    "caption",
    "noise",
    "unknown",
)

#: labels whose blocks contribute to the final extracted text
CONTENT_LABELS = frozenset({"content", "heading"})

#: tags whose subtree text is never emitted
_SKIP_TAGS = frozenset(
    {"script", "style", "noscript", "template", "head", "svg", "iframe",
     "title", "option", "datalist"}
)

#: tags that open/close a block (flush the text accumulator)
_BLOCK_TAGS = frozenset(
    {"p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
     "td", "th", "tr", "table", "thead", "tbody", "pre", "blockquote",
     "article", "section", "main", "aside", "nav", "header", "footer",
     "figure", "figcaption", "dd", "dt", "dl", "form", "body", "html",
     "br", "hr", "fieldset", "address", "details", "summary"}
)

#: ancestor tag -> forced label (checked nearest-ancestor-first)
_ANCESTOR_LABELS = {
    "nav": "boilerplate-nav",
    "header": "boilerplate-header",
    "footer": "boilerplate-footer",
    "aside": "advert",
    "form": "noise",
}

_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_TABLE_TAGS = frozenset({"table", "td", "th", "tr", "thead", "tbody"})

#: char-class histogram buckets (fixed order, len 8)
HIST_BUCKETS = (
    "alpha", "digit", "space", "punct", "quote", "bracket", "other", "nonascii"
)

_PUNCT = frozenset(".,;:!?-")
_QUOTE = frozenset("\"'`")
_BRACKET = frozenset("()[]{}<>")


# --- block walk state -------------------------------------------------------
# An open tag is an immutable linked node (tag, parent, forced, in_table,
# depth): ``forced`` is the nearest forced-ancestor label on the path from
# the root to this tag (the tag itself included), ``in_table`` whether any
# tag on that path is a table tag, ``depth`` the path's length. A push is
# O(1), and a block keeps the node that was current at its first data, so
# a block costs O(1) at any nesting depth and :func:`_structural` reads
# the facts it needs in O(1).
_ROOT = ("", None, None, False, 0)


@dataclass
class Block:
    """Stage-1 IR: one candidate text block (analog of a BaselineLine,
    reference src/octopy/segment.py:104-114)."""

    block_id: int
    depth: int
    text: str          # whitespace-normalized visible text
    n_chars: int
    n_words: int
    n_link_chars: int
    link_density: float
    text_density: float
    char_hist: list    # list[int] of len 8, HIST_BUCKETS order
    label: str = ""    # filled by stage 2
    node: tuple = _ROOT  # open-tag node at the block's first data


@dataclass
class Span:
    """Stage-2/merge output: character span into the extracted text."""

    block_id: int
    start: int
    end: int
    label: str


def _norm_ws(s: str) -> str:
    """Collapse all unicode whitespace runs to single spaces and strip.

    The single normalization point: every feature and the final text are
    computed from this form (analog of the downscale->compute->rescale
    discipline, reference src/octopy/plugins/kraken_polygonizer.py:50-62).
    """
    return " ".join(s.split())


def decode_html(html: bytes | str | None) -> str:
    """Deterministic html-bytes decode (errors='replace')."""
    if html is None:
        return ""
    if isinstance(html, str):
        return html
    return html.decode("utf-8", errors="replace")


def char_histogram(text: str) -> list:
    """8-bucket char-class histogram (per-block shared feature, analog of
    the per-page feature precompute, reference
    src/octopy/plugins/kraken_polygonizer.py:64-70)."""
    h = [0] * 8
    for ch in text:
        o = ord(ch)
        if o > 127:
            h[7] += 1
        elif ch.isalpha():
            h[0] += 1
        elif ch.isdigit():
            h[1] += 1
        elif ch == " ":
            h[2] += 1
        elif ch in _PUNCT:
            h[3] += 1
        elif ch in _QUOTE:
            h[4] += 1
        elif ch in _BRACKET:
            h[5] += 1
        else:
            h[6] += 1
    return h


def _flush(pieces: list, links: list, node: tuple, records: list) -> None:
    """Close the current block: append its record ``(text, n_words,
    n_link_chars, link_density, node)`` unless it has no words, then
    empty ``pieces`` (its raw data) and ``links`` (the pieces of it that
    sit inside ``<a>``)."""
    raw = pieces[0] if len(pieces) == 1 else "".join(pieces)
    words = raw.split()  # one pass: text = _norm_ws(raw), words, count
    if words:
        text = " ".join(words)
        n_chars = len(text)
        n_link_chars = (
            min(sum(len(_norm_ws(p)) for p in links), n_chars) if links else 0
        )
        records.append(
            (text, len(words), n_link_chars, n_link_chars / n_chars, node)
        )
    pieces.clear()
    links.clear()


class _BlockParser(HTMLParser):
    """Stdlib-HTMLParser DOM walk into block records — the reference the
    compiled walk (``octospark/_walk.c``) is tested block-identical
    against.

    Lenient on malformed nesting by design (FIXTURES.md §C case 4): stray
    end tags pop to the nearest matching open tag; unclosed tags simply
    leave stack residue (depth is a feature, not a correctness anchor).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.node = _ROOT
        self.open_counts: dict = {}  # tag -> open count (O(1) membership)
        self.skip_depth = 0
        self.link_depth = 0
        self.pieces: list = []
        self.links: list = []
        self.block_node = _ROOT
        self.records: list = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self.skip_depth += 1
            return
        if tag in _BLOCK_TAGS and self.pieces:
            _flush(self.pieces, self.links, self.block_node, self.records)
        if tag == "a":
            self.link_depth += 1
        if tag not in ("br", "hr"):  # void elements don't nest
            node = self.node
            self.node = (tag, node, _ANCESTOR_LABELS.get(tag) or node[2],
                         node[3] or tag in _TABLE_TAGS, node[4] + 1)
            oc = self.open_counts
            oc[tag] = oc.get(tag, 0) + 1

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self.skip_depth > 0:
                self.skip_depth -= 1
            return
        if tag in _BLOCK_TAGS and self.pieces:
            _flush(self.pieces, self.links, self.block_node, self.records)
        if tag == "a" and self.link_depth > 0:
            self.link_depth -= 1
        oc = self.open_counts
        if oc.get(tag):  # pop to the nearest matching open tag
            node = self.node
            while True:
                top = node[0]
                node = node[1]
                oc[top] -= 1
                if top == tag:
                    break
            self.node = node

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in ("br", "hr"):
            self.pieces.append(" ")
            if self.link_depth > 0:
                self.links.append(" ")

    def handle_data(self, data: str) -> None:
        if self.skip_depth > 0 or not data:
            return
        if not self.pieces:
            self.block_node = self.node
        self.pieces.append(data)
        if self.link_depth > 0:
            self.links.append(data)


def _stdlib_walk(text: str) -> tuple:
    """``(records, salvage)``: the block records of ``text`` through
    html.parser.HTMLParser. A parser exception keeps the blocks produced
    so far and sets ``salvage`` to ``'salvaged:<exception type>'``;
    otherwise it is None."""
    p = _BlockParser()
    salvage = None
    try:
        p.feed(text)
        p.close()
    except Exception as exc:
        salvage = f"salvaged:{type(exc).__name__}"
    if p.pieces:
        _flush(p.pieces, p.links, p.block_node, p.records)
    return p.records, salvage


# --- tokenizers of the compiled walk -----------------------------------------
# The compiled walk (``octospark/_walk.c``) is one loop that tokenizes and
# keeps the block state itself (skip depth, link depth, open-tag node,
# pieces), with no per-token method call: the stdlib machinery —
# attribute materialization, updatepos, charref splitting, handler
# dispatch — dominates a HTMLParser profile and none of it feeds our
# features. It mirrors HTMLParser(convert_charrefs=True) for everything
# the block state observes: charrefs decoded in data; CDATA content mode
# for script/style (tags inside are NOT parsed, and only a strict
# ``</script>`` leaves the mode, :data:`_CDATA_STRICT`); '/>'-suffixed
# tags are start-end tags. Its hand matcher takes the common forms of
# :data:`_TOKEN`; any other construct goes to :data:`_TOKEN` and then
# :func:`_tolerant_token`, whose tag-boundary decisions reuse
# html.parser's OWN compiled tolerant regexes. Equivalence with the
# stdlib walk is enforced block-for-block in tests/test_extractor.py
# over every fixture, generated pages, thousands of byte-level
# mutations and a hypothesis fuzz.

try:  # CPython html.parser module-level regexes (3.8-3.12 stable names)
    from html.parser import attrfind_tolerant as _ATTRFIND
    from html.parser import locatestarttagend_tolerant as _LOCATE_START
    from html.parser import tagfind_tolerant as _TAGFIND

    _HAVE_TOLERANT = True
except ImportError:  # pragma: no cover — fall back to the stdlib walk
    _HAVE_TOLERANT = False

# Groups: (1) the data before '<', then at most one of (2) an end-tag
# name, (3) a start-tag name with (4) '/' when self-closing; a comment or
# declaration sets none of them.
_TOKEN = re.compile(
    r"([^<]*+)<(?:"
    # end tag in endtagfind's form '</ name >'
    r"/\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    # conservative well-formed start tag: simple name, simple attrs (no
    # '<'/'>'/stray quotes inside), optional '/>' suffix. By construction
    # every match is tokenized identically by the stdlib tolerant
    # machinery (incl. the self-closing rule: a bare value eats a
    # trailing '/', so only a detached '/' marks '/>'). The name ends
    # where tagfind_tolerant's does: any other whitespace (\x0b, \xa0,
    # U+3000, ...) continues the stdlib's tag name
    r"|([a-zA-Z][-a-zA-Z0-9:_.]*)(?=[\t\n\r\f />])"
    r"(?:\s+[^\s/>=\"'<]+"
    r"(?:\s*=\s*(?:\"[^\"<>]*\"|'[^'<>]*'|[^\s>\"'`=<]+))?)*"
    r"\s*(/?)>"
    # closed comment, up to the first commentclose ('--\s*>') as stdlib
    r"|!--(?s:.*?)--\s*>"
    # doctype / bogus comment: '<!' not opening a comment or marked section
    r"|!(?!--|\[)[^>]*+>"
    r")"
)
_CDATA_STRICT = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")  # stdlib _scan_name
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")   # standard  ]]>
_MS_MARKED_CLOSE = re.compile(r"]\s*>")    # MS Office ]>  (if/else/endif)
_MARKED_STD = frozenset({"temp", "cdata", "ignore", "include", "rcdata"})
_MARKED_MS = frozenset({"if", "else", "endif"})
# check_for_whole_start_tag's incomplete-at-boundary character class
_INCOMPLETE_NEXT = frozenset(
    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
)


def _recover(text: str, lt: int) -> tuple:
    """stdlib goahead() end-of-input recovery for an incomplete
    construct at ``lt``: data through the next '>' (inclusive) or up to
    the next '<', unescaped, else just '<'; as a token of
    :func:`_tolerant_token`."""
    j = text.find(">", lt + 1)
    if j >= 0:
        chunk = text[lt : j + 1]
    else:
        j2 = text.find("<", lt + 1)
        if j2 < 0:
            return "<", None, None, False, lt + 1
        chunk = text[lt:j2]
        j = j2 - 1
    if "&" in chunk:
        chunk = _unescape(chunk)
    return chunk, None, None, False, j + 1


def _tolerant_token(text: str, lt: int) -> tuple:
    """Tokenize a construct at ``text[lt] == '<'`` that :data:`_TOKEN`
    does not match, as stdlib HTMLParser(convert_charrefs=True) does for
    everything our walk observes: returns ``(data, end tag, start tag,
    self-closing, resume index)`` with at most one of data / end tag /
    start tag set. Tolerant end tags and weird start tags follow
    html.parser's own regexes; broken start tags are emitted raw; bogus
    end tags, marked sections and processing instructions are consumed
    silently; incomplete constructs (an unclosed comment among them)
    recover via :func:`_recover`; a stray '<' is data. An unknown marked
    section raises AssertionError, as stdlib does."""
    nxt = text[lt + 1 : lt + 2]
    if nxt == "/":
        gt = text.find(">", lt + 1)
        if gt < 0:  # no '>' anywhere: incomplete endtag
            return _recover(text, lt)
        nm = _TAGFIND.match(text, lt + 2)  # tolerant name at i+2
        if nm:  # resume past the '>' (exists: gt >= name end)
            return "", nm.group(1), None, False, text.find(">", nm.end()) + 1
        if text.startswith("</>", lt):
            return "", None, None, False, lt + 3
        return "", None, None, False, gt + 1  # bogus comment
    if "a" <= nxt <= "z" or "A" <= nxt <= "Z":
        # stdlib tolerant start-tag machinery, verbatim
        j = _LOCATE_START.match(text, lt).end()
        nc = text[j : j + 1]
        if nc == ">":
            endpos = j + 1
        elif nc == "/" and text.startswith("/>", j):
            endpos = j + 2
        elif nc == "" or nc in _INCOMPLETE_NEXT:
            return _recover(text, lt)  # incomplete at input end
        else:  # broken start tag: raw data through attr region
            return text[lt:j], None, None, False, j
        # faithful parse_starttag: walk attrs, then classify the tail —
        # '>' start, '/>' startend, else raw data
        nm = _TAGFIND.match(text, lt + 1)
        k = nm.end()
        while k < endpos:
            am = _ATTRFIND.match(text, k)
            if not am:
                break
            k = am.end()
        tail = text[k:endpos].strip()
        if tail == ">":
            return "", None, nm.group(1), False, endpos
        if tail == "/>":
            return "", None, nm.group(1), True, endpos
        return text[lt:endpos], None, None, False, endpos
    if nxt == "!":
        if text.startswith("<![", lt):
            sect = _DECLNAME.match(text, lt + 3)
            if (sect.end() if sect else lt + 3) == len(text):
                return _recover(text, lt)  # name runs to the end: incomplete
            name = sect.group(0).strip().lower() if sect else ""
            if name in _MARKED_STD:
                mc = _MARKED_CLOSE.search(text, lt + 3)
            elif name in _MARKED_MS:
                mc = _MS_MARKED_CLOSE.search(text, lt + 3)
            else:  # stdlib's exception type, so a salvage reads the same
                raise AssertionError("unknown marked section")
            if mc is None:
                return _recover(text, lt)
            return "", None, None, False, mc.end()
        return _recover(text, lt)  # unclosed comment, '<!' with no '>'
    if nxt == "?":
        j = text.find(">", lt + 2)
        if j >= 0:
            return "", None, None, False, j + 1
        return _recover(text, lt)
    return "<", None, None, False, lt + 1  # lone/stray '<': data


def _select_walk() -> tuple:
    """``(name, walk)``: the walk stage 1 runs. It is the compiled walk
    (``octospark/_walk.c``, built by :func:`octospark.native.load`),
    configured with this module's vocabularies and tokenizers, when
    html.parser has the tolerant regexes it delegates to and the build
    succeeds; else :func:`_stdlib_walk` (a failed build is logged),
    which gives the same records about 18x slower."""
    if not _HAVE_TOLERANT or (mod := native.load("_walk")) is None:
        return "stdlib", _stdlib_walk
    mod.configure(_SKIP_TAGS, _BLOCK_TAGS, _ANCESTOR_LABELS, _TABLE_TAGS,
                  _CDATA_STRICT, _TOKEN.match, _tolerant_token, _unescape,
                  _ROOT)
    return "compiled", mod.walk


#: the walk stage 1 runs: 'compiled' or 'stdlib'
WALK, _DEFAULT_WALK = _select_walk()


def _block(block_id: int, record: tuple, with_hist: bool) -> Block:
    """A :class:`Block` from a walk's block record."""
    text, n_words, n_link_chars, link_density, node = record
    n_chars = len(text)
    # words-per-wrapped-line proxy at 80 cols (Boilerpipe-style density)
    lines = max(1, math.ceil(n_chars / 80))
    return Block(
        block_id=block_id,
        depth=node[4],
        text=text,
        n_chars=n_chars,
        n_words=n_words,
        n_link_chars=n_link_chars,
        link_density=link_density,
        text_density=n_words / lines,
        char_hist=char_histogram(text) if with_hist else [],
        node=node,
    )


def segment_blocks(html: bytes | str | None, with_hist: bool = True) -> list:
    """Stage 1: html -> ordered list[Block] in DOM order.

    Pure function of the input bytes; DOM order is preserved (reading
    order, analog of reference src/octopy/segment.py:149-156). Used by
    the staged path and the tests; the fused path (:func:`extract_row`)
    runs the same walk, the one :data:`WALK` names, without building
    Blocks. ``with_hist=False`` skips the char-class histogram.
    """
    records, _ = _DEFAULT_WALK(decode_html(html))
    return [_block(k, r, with_hist) for k, r in enumerate(records)]


# --- stage 2: classification ----------------------------------------------

# Boilerpipe NumWordsRulesClassifier thresholds (public knowledge:
# boilerpipe's NumWordsRulesClassifier; also SNIPPETS.md). All comparisons
# are on exact float64 values derived identically in the Spark-expression
# word-count cascade (octospark.pipeline.classify), so both paths agree
# bit-for-bit.
_LINK_DENSITY_MAX = 0.333333
_PREV_LINK_DENSITY_HIGH = 0.555555


def _structural(node: tuple, n_words: int, link_density: float) -> str | None:
    """The label a block's open-tag node forces, else None — the
    structural half of the rule cascade, which the staged path takes
    from stage 1 (the block's ``structural`` column) as the reference
    takes each unit's class from segmentation (reference
    src/octopy/segment.py:159-180):

    1. forced ancestor labels (nav/header/footer/aside/form), nearest
       ancestor first — the analog of the fixed region-class mapping
       (reference src/octopy/mappings.py:15-48);
    2. heading / caption tags, then table with the layout-table
       carve-out.
    """
    forced = node[2]
    if forced is not None:
        return forced
    last = node[0]
    if last in _HEADING_TAGS:
        return "heading"
    if last == "figcaption":
        return "caption"
    # layout-table carve-out (r3): long, low-link prose inside a table is
    # page content rendered through a layout table — let it fall through
    # to the word-count cascade instead of losing it. Short cells /
    # link-heavy rows keep the 'table' label.
    if node[3] and not (n_words > 16 and link_density <= _LINK_DENSITY_MAX):
        return "table"
    return None


def _label(
    node: tuple, n_words: int, link_density: float,
    prev_words: int, prev_link_density: float, next_words: int,
) -> str:
    """The deterministic rule cascade for one block, from its open-tag
    node, its features and its neighbors' (0 at the page edges): the
    structural labels (:func:`_structural`), then Boilerpipe-style
    (prev, curr, next) word-count + link-density rules."""
    label = _structural(node, n_words, link_density)
    if label is not None:
        return label
    if link_density > _LINK_DENSITY_MAX:
        return "boilerplate-nav"
    if prev_link_density > _PREV_LINK_DENSITY_HIGH:
        if n_words > 40 or next_words > 17:
            return "content"
        return "noise"
    if n_words > 16 or next_words > 15 or prev_words > 4:
        return "content"
    return "noise"


def classify_block(
    curr: Block, prev: Block | None, next_: Block | None
) -> str:
    """Label one block from its features and its neighbors' features
    (the rule cascade :func:`_label`)."""
    return _label(
        curr.node,
        curr.n_words,
        curr.link_density,
        prev.n_words if prev is not None else 0,
        prev.link_density if prev is not None else 0.0,
        next_.n_words if next_ is not None else 0,
    )


def classify_blocks(blocks: list) -> list:
    """Stage 2 over the whole page, with the never-drop fallback: a block
    whose classification raises gets label 'unknown' instead of being
    dropped (analog of ``_calculate_fallback``, reference
    src/octopy/plugins/kraken_polygonizer.py:28-35,109-122)."""
    out = []
    n = len(blocks)
    for i, b in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else None
        next_ = blocks[i + 1] if i + 1 < n else None
        try:
            b.label = classify_block(b, prev, next_)
        except Exception:
            b.label = "unknown"
        out.append(b)
    return out


# --- merge ------------------------------------------------------------------

def merge_spans(blocks: list) -> tuple:
    """Concatenate content-label block texts (DOM order) into the final
    extracted text; return (text, list[Span]) with exact offsets.

    Invariants (FIXTURES.md §D): spans are monotonic, non-overlapping,
    within [0, len(text)]; ``"\\n".join`` slices reproduce text exactly.
    Offsets are clamped >= 0 (analog of the output coordinate clamp,
    reference src/octopy/segment.py:83-84).
    """
    parts: list = []
    spans: list = []
    pos = 0
    for b in blocks:
        if b.label not in CONTENT_LABELS:
            continue
        if parts:
            pos += 1  # the '\n' joiner
        start = max(0, pos)
        end = start + len(b.text)
        parts.append(b.text)
        spans.append(Span(block_id=b.block_id, start=start, end=end, label=b.label))
        pos = end
    return "\n".join(parts), spans


# --- the fused kernel ---------------------------------------------------------

def extract_row(html: bytes | str | None) -> tuple:
    """Fused per-page kernel: html -> the UDF row ``(text,
    [(block_id, start, end, label)], n_blocks, error)``.

    The same result as :func:`merge_spans` over :func:`classify_blocks`
    over :func:`segment_blocks`, in one walk over block records with no
    Block objects. Never raises — any failure yields text='' with the
    error recorded (row-level error tolerance, analog of the per-document
    try/except in reference src/octopy/cli/segment.py:137-145); a parse
    the walk salvaged keeps the text of the blocks before the failure
    and reports ``error='salvaged:<exception type>'``. Every input page
    yields exactly one output row (never-drop law)."""
    try:
        records, salvage = _DEFAULT_WALK(decode_html(html))
        parts: list = []
        spans: list = []
        pos = 0
        prev_words, prev_ld = 0, 0.0
        last = len(records) - 1
        for k, (text, n_words, _, ld, node) in enumerate(records):
            next_words = records[k + 1][1] if k < last else 0
            label = _label(node, n_words, ld, prev_words, prev_ld, next_words)
            if label in CONTENT_LABELS:
                if parts:
                    pos += 1  # the '\n' joiner
                end = pos + len(text)
                spans.append((k, pos, end, label))
                parts.append(text)
                pos = end
            prev_words, prev_ld = n_words, ld
        return "\n".join(parts), spans, len(records), salvage
    except Exception as exc:  # pragma: no cover — defensive outer guard
        return "", [], 0, f"{type(exc).__name__}: {exc}"


def extract(html: bytes | str | None) -> dict:
    """:func:`extract_row` as a dict: ``{text, spans, n_blocks, error}``
    with each span a ``{block_id, start, end, label}`` dict."""
    text, spans, n_blocks, error = extract_row(html)
    return {
        "text": text,
        "spans": [
            {"block_id": b, "start": s, "end": e, "label": lab}
            for b, s, e, lab in spans
        ],
        "n_blocks": n_blocks,
        "error": error,
    }
