"""Laws for the round-5r keys (image luminance histogram, sampled
harmonic closeness) — recomputed sequentially at sf0.001."""

from __future__ import annotations

from collections import Counter, defaultdict

import octospark.mediaops  # noqa: F401  (registers the media keys)
import octospark.textops as T
from octospark.sources import load_table
from octospark.textops import _HARM_ITERS, _HARM_SEED_MOD

SF = "/root/testdata/sf0.001"


def test_image_histogram_matches_ramp_formula(spark):
    """Histogram rows equal the per-pixel ramp recompute: bins
    partition w*h pixels exactly, no empty bins emitted."""
    docs = [
        r.doc_id for r in load_table(spark, SF, "documents").collect()
    ]
    want = set()
    for d in docs:
        w, h = 16 + d % 48, 16 + (d * 7) % 32
        base, xstep, ystep = d % 256, 1 + d % 97, d % 5
        c = Counter(
            ((base + x * xstep + y * ystep) % 256) >> 4
            for x in range(w)
            for y in range(h)
        )
        want.update((d, b, n) for b, n in c.items())
    got = {
        tuple(r)
        for r in T.QUERIES["multimodal_image_histogram"](
            spark, SF
        ).collect()
    }
    assert got == want
    per_doc = defaultdict(int)
    for d, _, n in got:
        assert n > 0
        per_doc[d] += n
    for d in docs:
        assert per_doc[d] == (16 + d % 48) * (16 + (d * 7) % 32)


def test_harmonic_closeness_matches_sequential_bfs(spark):
    """Per-seed rollups equal a sequential per-seed BFS truncated at
    the same horizon, with per-term floored 1e6/d units."""
    docs = [
        r.doc_id for r in load_table(spark, SF, "documents").collect()
    ]
    n = len(docs)
    adj = defaultdict(set)
    for d in docs:
        for dst in ((d * 17 + 1) % n, (d * 31 + 7) % n, (d + 1) % n):
            adj[d].add(dst)
    want = set()
    for seed in (d for d in docs if d % _HARM_SEED_MOD == 0):
        dist = {seed: 0}
        frontier = {seed}
        for hop in range(1, _HARM_ITERS + 1):
            nxt = {
                v for u in frontier for v in adj[u] if v not in dist
            }
            for v in nxt:
                dist[v] = hop
            frontier = nxt
        want.add(
            (
                seed,
                len(dist) - 1,
                sum(dist.values()),
                sum(1_000_000 // h for h in dist.values() if h > 0),
            )
        )
    got = {
        tuple(r)
        for r in T.QUERIES["graph_harmonic_closeness"](
            spark, SF
        ).collect()
    }
    assert got == want
