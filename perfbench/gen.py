"""Seeded, cached input generation for the four benchmark workloads.

Every table is a pure function of (workload, seed, size): the same seed
gives byte-identical rows. Pages follow the program's input schema
``pages(url, warc_ts, html, text, lang)``; ``text`` is the oracle's
extraction (``octospark.extractor.extract``), computed here and stored
next to the html. The benchmark drops ``text`` before handing pages to
the program.

Generation is plain Python in the calling process (one core, pyarrow
writes the parquet) and needs no Spark session, so the benchmark runs
it before it starts Spark: a run whose inputs are new starts its JVM
exactly as cold as a run whose inputs are cached. The expected output
facts (row count and the order-independent checksum
``bit_xor(xxhash64(url, warc_ts, text))``) use Spark's xxhash64, so
:func:`facts_of` computes them from the stored text inside a session.

Each workload gets a ``main`` table; the traced run also derives a
``quarter`` table (see :func:`quarter_table`) for the ``local[1]``
side of the scaling measurement and for probes of paths the workload
does not run.

Tables are cached under ``<cache>/inputs/<workload>-s<seed>-n<size>-<code>``
where ``<code>`` hashes the extractor, the html generator and this
file, so a change to any of them regenerates the oracle instead of
checking against a stale one.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

# --- sizes -----------------------------------------------------------------
# pages_small_skewed: the giant host must clear find_skewed_hosts' cutoff
# max(5% of rows, 10,000), so the table needs > 10,000 giant-host rows.
SMALL_SKEWED_PAGES = 32_000
GIANT_SHARE = 0.325  # 10,400 rows
HOT_URLS = 8
HOT_RECRAWL_SHARE = 0.10  # of the giant host's rows
LARGE_PAGES = 1000
LARGE_PAGE_BYTES = 50_000
COMMIT_PAGES = 8_000
STAGED_PAGES = 8_000
UNIFORM_HOSTS = 400

SIZES = {
    "pages_small_skewed": SMALL_SKEWED_PAGES,
    "pages_large_uniform": LARGE_PAGES,
    "commit_resume": COMMIT_PAGES,
    "staged_blocks": STAGED_PAGES,
}

LANGS = ("en", "de", "fr", "es", "it", "nl")
_EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# --- vocabulary: fixed, seed-independent ----------------------------------
_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "st", "tr", "pl", "ch", "sh", "gr", "br", "th")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ea", "ou", "io")
_CODAS = ("", "n", "r", "s", "t", "l", "m", "nd", "st", "ng", "ck")


def _vocab() -> tuple:
    rng = random.Random("perfbench-vocab")
    words = set()
    while len(words) < 4000:
        n = rng.choice((1, 1, 2, 2, 2, 3))
        words.add("".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(n)
        ))
    ordered = sorted(words)
    rng.shuffle(ordered)
    # Zipf-like weights, as in natural text
    cum, acc = [], 0.0
    for r in range(len(ordered)):
        acc += 1.0 / (r + 1)
        cum.append(acc)
    return tuple(ordered), tuple(cum)


VOCAB, VOCAB_CUM = _vocab()


def words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(VOCAB, cum_weights=VOCAB_CUM, k=n))


def code_version(repo: str) -> str:
    h = hashlib.sha256()
    for rel in ("octospark/extractor.py", "octospark/htmlgen.py",
                "perfbench/gen.py"):
        with open(os.path.join(repo, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


# --- page builders -------------------------------------------------------------

def _ts(minutes: int) -> dt.datetime:
    return _EPOCH + dt.timedelta(minutes=minutes)


def small_rows(rng: random.Random, n: int, skewed: bool, id_base: int) -> list:
    """~1.2 KB ``htmlgen.build_html`` pages. With ``skewed``, one giant
    host holds GIANT_SHARE of the rows, and part of those rows are
    re-crawls of HOT_URLS urls at distinct ``warc_ts`` (identical html,
    so the program's own (url, text) checksum would XOR them away)."""
    from octospark.htmlgen import build_html, build_url

    rows = []
    n_giant = int(n * GIANT_SHARE) if skewed else 0
    n_recrawl = int(n_giant * HOT_RECRAWL_SHARE) if skewed else 0
    hot = []
    for i in range(n - n_recrawl):
        doc_id = id_base + i
        host = ("giant" if i < n_giant - n_recrawl
                else f"site{rng.randrange(UNIFORM_HOSTS)}")
        html = build_html(doc_id, words(rng, rng.randint(35, 70)), host)
        row = (build_url(doc_id, host), _ts(doc_id % 525_600), html,
               LANGS[doc_id % len(LANGS)])
        rows.append(row)
        if host == "giant" and len(hot) < HOT_URLS:
            hot.append(row)
    for k in range(n_recrawl):
        url, ts, html, lang = hot[k % len(hot)]
        rows.append((url, ts + dt.timedelta(minutes=1 + k), html, lang))
    rng.shuffle(rows)
    return rows


_NAV = ('<nav class="top"><ul>' + "".join(
    f'<li><a href="/s{i}">Section {i}</a></li>' for i in range(12))
    + "</ul></nav>")
_WRAPPERS = ("div", "div", "div", "section", "article", "div", "span")


def _section(rng: random.Random, doc: int) -> str:
    """One embedded document: its text nested a few dozen tags deep."""
    depth = rng.randint(12, 40)
    tags = [rng.choice(_WRAPPERS) for _ in range(depth)]
    opened = "".join(f'<{t} class="c{k}">' for k, t in enumerate(tags))
    closed = "".join(f"</{t}>" for t in reversed(tags))
    body = [f"<h2>{words(rng, rng.randint(3, 9))}</h2>"]
    for _ in range(rng.randint(3, 9)):
        r = rng.random()
        if r < 0.12:
            body.append("<ul>" + "".join(
                f'<li><a href="/d{doc}/{j}">{words(rng, rng.randint(2, 5))}</a></li>'
                for j in range(rng.randint(3, 8))) + "</ul>")
        elif r < 0.2:
            body.append("<table>" + "".join(
                f"<tr><td>{words(rng, 2)}</td><td>{rng.randint(0, 9999)}</td></tr>"
                for _ in range(rng.randint(2, 6))) + "</table>")
        elif r < 0.26:
            body.append(f'<aside><div class="ad">{words(rng, 8)} '
                        f'<a href="/ad{doc}">{words(rng, 2)}</a></div></aside>')
        else:
            body.append(f"<p>{words(rng, rng.randint(15, 70))}</p>")
    return opened + "".join(body) + closed


def large_html(rng: random.Random, doc_id: int, host: str) -> bytes:
    """~50 KB page built from the text of many documents."""
    head = (f"<head><title>{words(rng, 6)}</title><style>body{{margin:0}}"
            f"</style><script>var page = {doc_id};</script></head>")
    parts = [f"<!DOCTYPE html><html>{head}<body>{_NAV}",
             f"<header><h1>{host}</h1><p>{words(rng, 10)}</p></header><main>"]
    size = sum(len(p) for p in parts)
    target = int(LARGE_PAGE_BYTES * rng.uniform(0.9, 1.1))
    k = 0
    while size < target:
        s = _section(rng, doc_id * 1000 + k)
        parts.append(s)
        size += len(s)
        k += 1
    parts.append(f"</main><footer><p>{words(rng, 12)}</p></footer></body></html>")
    return "".join(parts).encode("utf-8")


def large_rows(rng: random.Random, n: int, id_base: int) -> list:
    from octospark.htmlgen import build_url

    rows = []
    for i in range(n):
        doc_id = id_base + i
        host = f"site{rng.randrange(UNIFORM_HOSTS)}"
        rows.append((build_url(doc_id, host), _ts(doc_id % 525_600),
                     large_html(rng, doc_id, host), LANGS[doc_id % len(LANGS)]))
    return rows


def build_rows(workload: str, seed: int, n: int) -> list:
    rng = random.Random(f"{workload}:{seed}")
    id_base = (seed % 100_000) * 1_000_000
    if workload == "pages_small_skewed":
        return small_rows(rng, n, True, id_base)
    if workload == "pages_large_uniform":
        return large_rows(rng, n, id_base)
    return small_rows(rng, n, False, id_base)


# --- oracle + cache ------------------------------------------------------------

def facts_of(pages) -> dict:
    from pyspark.sql import functions as F

    r = pages.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("url", "warc_ts", "text")).alias("checksum"),
        F.sum(F.length("html")).alias("html_bytes"),
        F.sum(F.length("text")).alias("text_chars"),
    ).collect()[0]
    return {k: int(r[k]) for k in ("n", "checksum", "html_bytes", "text_chars")}


def write_table(rows: list, path: str, n_files: int = 8) -> None:
    """Write ``rows`` as a pages table of ``n_files`` parquet files, with
    the oracle's ``text`` next to each page."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from octospark.extractor import extract

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ])
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for k in range(0, len(rows), step):
        url, ts, html, lang = zip(*rows[k:k + step])
        text = [extract(h)["text"] for h in html]
        cols = [list(url), list(ts), list(html), text, list(lang)]
        pq.write_table(pa.Table.from_arrays(cols, schema=schema),
                       os.path.join(path, f"part-{k // step:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def quarter_table(spark, src: str, dest: str) -> dict:
    """The url-hash quarter of ``src``: rows with crc32(url) % 4 = 0,
    oracle text carried over. crc32 keeps the subset independent of the
    program's xxhash64 url buckets and partition keys. Urls crawled more
    than once are left out, because the staged path's merge keys on url
    alone and would fold the re-crawls of one url into one row."""
    from pyspark.sql import functions as F

    if not os.path.exists(os.path.join(dest, "_SUCCESS")):
        df = spark.read.parquet(src).filter(
            F.pmod(F.crc32(F.col("url").cast("binary")), F.lit(4)) == 0)
        once = df.groupBy("url").count().filter("count = 1").select("url")
        df.join(once, "url", "left_semi").coalesce(2).write.mode(
            "overwrite").parquet(dest)
    return facts_of(spark.read.parquet(dest))


def ensure_inputs(cache: str, repo: str, workload: str, seed: int) -> tuple:
    """Return (dir, generated_now). ``dir`` holds the ``main`` parquet
    table and ``meta.json``."""
    n = SIZES[workload]
    d = os.path.join(cache, "inputs",
                     f"{workload}-s{seed}-n{n}-{code_version(repo)}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d, False
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write_table(build_rows(workload, seed, n), os.path.join(tmp, "main"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "size": n}, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, True
