"""Laws for the round-5 keys (gap sessionization, SCD2 history,
containment dedup, label propagation, peak concurrency) — each
recomputed sequentially in Python."""

from __future__ import annotations

from collections import defaultdict

import octospark.mediaops  # noqa: F401  (registers the media keys)
import octospark.relational as R
import octospark.textops as T
import octospark.webops as W
from octospark.sources import load_table

SF = "/root/testdata/sf0.001"

_GAP_US = 1800 * 1_000_000


def _us(ts):
    import datetime

    return int(
        ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )


def test_sessionize_gap_matches_sequential_split(spark):
    """Every (user, session) row equals the Python sequential split:
    sort a user's events by (ts, event_id), start a new session when
    the gap to the previous event exceeds 30 minutes."""
    ev = load_table(spark, SF, "events").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append((e.ts, e.event_id))
    want = set()
    for u, rows in by_user.items():
        rows.sort()
        sessions, cur = [], [rows[0]]
        for prev, nxt in zip(rows, rows[1:]):
            if _us(nxt[0]) - _us(prev[0]) > _GAP_US:
                sessions.append(cur)
                cur = []
            cur.append(nxt)
        sessions.append(cur)
        for sid, s in enumerate(sessions, start=1):
            ts = [t for t, _ in s]
            want.add(
                (
                    u,
                    sid,
                    len(s),
                    min(ts),
                    max(ts),
                    _us(max(ts)) - _us(min(ts)),
                )
            )
    out = R.QUERIES["events_sessionize_gap"](spark, SF).collect()
    got = {
        (
            r.user_id,
            r.session_id,
            r.n_events,
            r.session_start,
            r.session_end,
            r.duration_us,
        )
        for r in out
    }
    assert got == want
    # sessions of one user never overlap and are separated by > 30 min
    by_u = defaultdict(list)
    for r in out:
        by_u[r.user_id].append(r)
    for rs in by_u.values():
        rs.sort(key=lambda r: r.session_id)
        for a, b in zip(rs, rs[1:]):
            assert _us(b.session_start) - _us(a.session_end) > _GAP_US


def test_scd2_history_is_run_compaction(spark):
    """Intervals per customer tile the order timeline: run-compressed
    statuses from the (o_orderdate, o_orderkey)-sorted history, each
    valid_to equals the next row's valid_from, exactly one open
    (is_current=1) interval per customer, never two adjacent rows with
    the same status."""
    orders = load_table(spark, SF, "orders").collect()
    by_cust = defaultdict(list)
    for o in orders:
        by_cust[o.o_custkey].append(
            (o.o_orderdate, o.o_orderkey, o.o_orderstatus)
        )
    want = {}
    for c, rows in by_cust.items():
        rows.sort()
        runs = []
        for d, _, s in rows:
            if not runs or runs[-1][1] != s:
                runs.append((d, s))
        want[c] = runs
    out = R.QUERIES["table_scd2_history"](spark, SF).collect()
    by_c = defaultdict(list)
    for r in out:
        by_c[r.custkey].append(r)
    assert set(by_c) == set(want)
    for c, rs in by_c.items():
        rs.sort(key=lambda r: r.valid_from)
        assert [(r.valid_from, r.status) for r in rs] == want[c]
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from
            assert a.status != b.status
            assert a.is_current == 0
        assert rs[-1].is_current == 1 and rs[-1].valid_to is None


def test_containment_finds_injected_snippets(spark):
    """The 50 injected 30-word-prefix snippets (doc_id+200000) are all
    reported against their source doc with containment 1.0, and every
    reported pair's containment matches the Python set recount over
    word-3-gram shingles of the same constructed doc pool."""
    docs = {
        d.doc_id: d.text
        for d in load_table(spark, SF, "documents")
        .filter("doc_id < 100")
        .collect()
    }
    pool = dict(docs)
    for k in range(50):
        pool[k + 200000] = " ".join(docs[k].split(" ")[:30])

    def shingles(text):
        w = text.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {i: shingles(t) for i, t in pool.items()}
    want = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if not inter:
                continue
            c = inter / min(len(sets[a]), len(sets[b]))
            if c >= 0.8:
                want[(a, b)] = c
    out = T.QUERIES["dedup_containment"](spark, SF).collect()
    got = {(r.id1, r.id2): r.containment for r in out}
    assert got == want
    for k in range(50):
        assert got[(k, k + 200000)] == 1.0


def test_label_propagation_matches_sequential_rounds(spark):
    """Two synchronous LPA rounds recomputed in Python over the same
    modular edge list (symmetrized, min-label tie-break) match the
    Spark result exactly, and every final label is a real node id."""
    import octospark.textops as T2

    docs = load_table(spark, SF, "documents").select("doc_id").collect()
    n = len(docs)
    ids = sorted(d.doc_id for d in docs)
    nbrs = defaultdict(set)
    for v in ids:
        for u in ((v * 17 + 1) % n, (v * 31 + 7) % n, (v + 1) % n):
            nbrs[v].add(u)
            nbrs[u].add(v)
    labels = {v: v for v in ids}
    for _ in range(2):
        nxt = {}
        for v in ids:
            counts = defaultdict(int)
            for u in nbrs[v]:
                counts[labels[u]] += 1
            nxt[v] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    out = T2.QUERIES["graph_label_propagation"](spark, SF).collect()
    got = {r.node: r.label for r in out}
    assert got == labels
    assert set(got.values()) <= set(ids)


def test_peak_concurrency_matches_brute_sweep(spark):
    """Per event type, (peak, earliest peak instant) equals the brute
    single-threaded sweep over +1/-1 boundaries of the 5-minute hold
    windows — i.e. the distributed two-level prefix sum computes the
    same global running-sum maximum as the sequential sweep."""
    from datetime import timedelta

    ev = load_table(spark, SF, "events").collect()
    bounds = defaultdict(list)
    for e in ev:
        bounds[e.event_type].append((e.ts, 1))
        bounds[e.event_type].append((e.ts + timedelta(seconds=300), -1))
    want = {}
    for t, bs in bounds.items():
        bs.sort(key=lambda b: (b[0], -b[1]))
        run = peak = 0
        peak_ts = None
        for ts, d in bs:
            run += d
            if run > peak:
                peak, peak_ts = run, ts
        want[t] = (peak, peak_ts)
    out = R.QUERIES["events_peak_concurrency"](spark, SF).collect()
    got = {r.event_type: (r.peak_concurrency, r.peak_ts) for r in out}
    assert got == want


def test_minhash_recall_eval_matches_python_replay(spark):
    """Full sequential replay of the oracle-checkable MinHash eval:
    polynomial shingle hashes, 16 affine signature mins, 8x2 bands
    with the 64-lowest-id bucket cap, exact-Jaccard truth over the
    same injected truncation pool, per-bucket recall — and the LSH
    completeness corner: every J == 1.0 pair is caught (identical
    shingle sets force identical signatures)."""
    import math

    P = 1_000_000_007
    docs = {
        d.doc_id: d.text
        for d in load_table(spark, SF, "documents")
        .filter("doc_id < 100")
        .collect()
    }
    pool = dict(docs)
    for k in range(50):
        pool[k + 300000] = " ".join(docs[k].split(" ")[: 6 + 3 * k])

    def sh_list(text):
        w = text.split(" ")
        return [" ".join(w[i : i + 3]) for i in range(len(w) - 2)]

    def hx(sg):
        acc = 7
        for ch in sg:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    sigs = {}
    for i, t in pool.items():
        xs = [hx(g) for g in sh_list(t)]
        if not xs:
            continue
        sigs[i] = [
            min(((2 * s + 3) * x + (97 * s + 11)) % P for x in xs)
            for s in range(16)
        ]
    buckets = defaultdict(list)
    for i in sorted(sigs):
        m = sigs[i]
        for b in range(8):
            buckets[(b, m[2 * b], m[2 * b + 1])].append(i)
    cand = set()
    for mem in buckets.values():
        mem = sorted(mem)[:64]
        for ai in range(len(mem)):
            for bi in range(ai + 1, len(mem)):
                cand.add((mem[ai], mem[bi]))
    sets = {i: set(sh_list(t)) for i, t in pool.items()}
    want = defaultdict(lambda: [0, 0])
    ones = []
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b or not (sets[a] & sets[b]):
                continue
            j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            if j < 0.1:
                continue
            bk = math.floor(j * 10)
            want[bk][0] += 1
            want[bk][1] += (a, b) in cand
            if j == 1.0:
                ones.append((a, b))
    out = T.QUERIES["dedup_minhash_recall_eval"](spark, SF).collect()
    got = {r.j_bucket: (r.n_truth, r.n_caught, r.recall) for r in out}
    assert got == {
        bk: (n, c, c / n) for bk, (n, c) in want.items()
    }
    assert ones and all(p in cand for p in ones)


def test_redirect_resolve_matches_sequential_walk(spark):
    """Pointer doubling equals the one-hop-at-a-time sequential walk:
    canonical target and hop count per doc, chains terminate at
    multiples of 11 (or the 0 floor)."""
    ids = [
        r.doc_id
        for r in load_table(spark, SF, "documents").select("doc_id").collect()
    ]
    want = {}
    for d in ids:
        cur, hops = d, 0
        while cur % 11 != 0 and cur != 0:
            cur = max(cur - (cur % 3 + 1), 0)
            hops += 1
        want[d] = (cur, hops)
    out = W.QUERIES["web_redirect_resolve"](spark, SF).collect()
    assert len(out) == len(ids)  # never drops a page, one row each
    got = {r.doc_id: (r.canonical_id, r.hops) for r in out}
    assert got == want
    # every canonical target really is terminal
    assert all(c % 11 == 0 or c == 0 for c, _ in got.values())


def test_epoch_shuffle_is_a_permutation_per_epoch(spark):
    """Each epoch holds every doc exactly once; within a shard the
    positions are 1..len; epochs produce genuinely different orders."""
    out = W.QUERIES["corpus_epoch_shuffle"](spark, SF).collect()
    n_docs = load_table(spark, SF, "documents").count()
    by_epoch = defaultdict(list)
    for r in out:
        by_epoch[r.epoch].append(r)
    assert set(by_epoch) == {0, 1, 2}
    orders = []
    for rows in by_epoch.values():
        assert sorted(r.doc_id for r in rows) == sorted(
            range(n_docs)
        )  # permutation: every doc exactly once
        by_shard = defaultdict(list)
        for r in rows:
            by_shard[r.shard].append(r.pos_in_shard)
        for pos in by_shard.values():
            assert sorted(pos) == list(range(1, len(pos) + 1))
        orders.append(
            tuple(
                r.doc_id
                for r in sorted(rows, key=lambda x: (x.shard, x.pos_in_shard))
            )
        )
    assert len(set(orders)) == 3  # the three epochs shuffle differently


def test_kcore_peel_matches_sequential_rounds(spark):
    """Three synchronized peels at k=6 equal the sequential replay over
    the same modular graph, and the cascade does real work (strictly
    shrinking alive set each round at this SF)."""
    n = load_table(spark, SF, "documents").count()
    adj = defaultdict(set)
    for d in range(n):
        for t in [(d * 17 + 1) % n, (d * 31 + 7) % n, (d + 1) % n]:
            if t != d:
                adj[d].add(t)
                adj[t].add(d)
    alive = set(adj)
    sizes = [len(alive)]
    deg = {}
    for _ in range(3):
        deg = {v: sum(1 for u in adj[v] if u in alive) for v in alive}
        alive = {v for v in alive if deg[v] >= 6}
        sizes.append(len(alive))
    assert sizes[0] > sizes[1] > sizes[2] > sizes[3] > 0
    out = T.QUERIES["graph_kcore_peel"](spark, SF).collect()
    assert {(r.node, r.deg) for r in out} == {
        (v, deg[v]) for v in alive
    }


def test_compaction_plan_groups_are_contiguous_and_complete(spark):
    """Every synthesized file lands in exactly one group; groups within
    a source are contiguous file ranges in file order; a group's START
    offset falls in its bin (prefix-sum law)."""
    docs = load_table(spark, SF, "documents").collect()
    files = defaultdict(int)
    for d in docs:
        files[(d.source, d.doc_id // 100)] += d.n_chars
    out = R.QUERIES["table_compaction_plan"](spark, SF).collect()
    assert sum(r.n_files for r in out) == len(files)
    by_src = defaultdict(list)
    for r in out:
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.out_group)
        # contiguous, ordered, non-overlapping file ranges
        for a, b in zip(rs, rs[1:]):
            assert a.last_file < b.first_file
            assert b.out_group > a.out_group
        # replay the prefix-sum bucketing sequentially
        cum = 0
        for fid in sorted(f for s, f in files if s == src):
            grp = cum // 2048
            cum += files[(src, fid)]
            row = next(
                r for r in rs if r.first_file <= fid <= r.last_file
            )
            assert row.out_group == grp


def test_attribution_matches_sequential_journey_walk(spark):
    """Both attribution models replayed sequentially: walk each user's
    (ts, event_id)-ordered timeline, for every purchase credit the
    last / first preceding non-purchase touch (or 'direct')."""
    import math

    ev = sorted(
        load_table(spark, SF, "events").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    want: dict = defaultdict(lambda: [0, 0])
    seen: dict = {}
    for r in ev:
        hist = seen.setdefault(r.user_id, [])
        if r.event_type == "purchase":
            rev = math.floor(r.value * 1000000)
            last_t = hist[-1] if hist else "direct"
            first_t = hist[0] if hist else "direct"
            for model, t in (("last", last_t), ("first", first_t)):
                want[(model, t)][0] += 1
                want[(model, t)][1] += rev
        else:
            hist.append(r.event_type)
    got = {
        (r.model, r.touch_type): [r.conversions, r.revenue_micro]
        for r in R.QUERIES["events_attribution"](spark, SF).collect()
    }
    assert got == dict(want)
    # conservation: both models credit exactly the same conversion set
    for col in (0, 1):
        assert sum(
            v[col] for (m, _), v in got.items() if m == "last"
        ) == sum(v[col] for (m, _), v in got.items() if m == "first")


def test_pq_adc_matches_numpy_codebook_replay(spark):
    """Full replay of the PQ/ADC scan: micro-int values, ntile-16
    per-dimension codebook (first n%16 buckets one element larger),
    midpoint centroids, integer ADC sums, (dist, id) tie-break."""
    import math

    import numpy as np

    rows = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.floor(
        np.array([r.embedding for r in rows], dtype=np.float64) * 1e6
    ).astype(np.int64)
    n, D = V.shape
    B = T._PQ_BUCKETS
    cent = np.zeros((n, D), dtype=np.int64)  # centroid of each value
    base, extra = divmod(n, B)
    for d in range(D):
        order = np.lexsort((ids, V[:, d]))
        off = 0
        for b in range(B):
            size = base + (1 if b < extra else 0)
            mem = order[off : off + size]
            off += size
            mid = math.floor((V[mem, d].min() + V[mem, d].max()) / 2.0)
            cent[mem, d] = mid
    want = set()
    for qi in np.flatnonzero(ids < T._PQ_NQ):
        q = V[qi]
        dists = ((q[None, :] - cent) ** 2).sum(axis=1)
        cand = [
            (int(dists[xi]), int(ids[xi]))
            for xi in range(n)
            if ids[xi] != ids[qi]
        ]
        for rnk, (dist, nid) in enumerate(sorted(cand)[: T._PQ_K], 1):
            want.add((int(ids[qi]), nid, dist, rnk))
    got = {
        (r.query_id, r.neighbor_id, r.adc_dist, r.rnk)
        for r in T.QUERIES["sim_ann_pq_adc"](spark, SF).collect()
    }
    assert got == want and len(got) == T._PQ_NQ * T._PQ_K


def test_recrawl_schedule_matches_sequential_fetch_log(spark):
    """Replay the change detector per page and pin the interval law:
    24 h at change-every-fetch, 168 h at never-changed, monotone in
    the stable-gap share."""
    fetches: dict = defaultdict(list)
    import json as _json

    for r in load_table(spark, SF, "events").collect():
        if r.event_type == "view":
            fetches[int(_json.loads(r.props)["k"])].append(
                (r.ts, r.event_id, r.value)
            )
    want = {}
    for page, fs in fetches.items():
        fs.sort()
        if len(fs) < 2:
            continue
        changes = sum(
            1 for a, b in zip(fs, fs[1:]) if b[2] != a[2]
        )
        gaps = len(fs) - 1
        want[page] = (
            len(fs),
            changes,
            changes * 1000000 // gaps,
            24 + 144 * (gaps - changes) // gaps,
        )
    got = {
        r.page: (
            r.n_fetches, r.n_changes,
            r.change_rate_micro, r.interval_hours,
        )
        for r in W.QUERIES["crawl_recrawl_schedule"](
            spark, SF
        ).collect()
    }
    assert got == want and len(got) > 0
    for nf, nc, rate, hrs in got.values():
        assert 24 <= hrs <= 168 and 0 <= nc <= nf - 1
        if nc == nf - 1:
            assert hrs == 24
        if nc == 0:
            assert hrs == 168


def test_curriculum_phases_tile_the_per_lang_token_line(spark):
    """Per lang: phases are contiguous ([token_start, token_end) abut),
    cover exactly the lang's total token mass, doc counts are balanced
    within 1, and phase token mass is computed over the ntile split
    ordered by (n_chars, doc_id)."""
    rows = W.QUERIES["corpus_curriculum_order"](spark, SF).collect()
    by_lang: dict = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    docs = load_table(spark, SF, "documents").collect()
    from collections import Counter

    lang_tokens = Counter()
    lang_docs = Counter()
    for d in docs:
        lang_tokens[d.lang] += d.n_chars // 4
        lang_docs[d.lang] += 1
    for lang, ph in by_lang.items():
        ph.sort(key=lambda r: r.phase)
        assert [p.phase for p in ph] == list(range(1, len(ph) + 1))
        cursor = 0
        for p in ph:
            assert p.token_start == cursor
            assert p.token_end == cursor + p.phase_tokens
            cursor = p.token_end
        assert cursor == lang_tokens[lang]
        assert sum(p.n_docs for p in ph) == lang_docs[lang]
        sizes = [p.n_docs for p in ph]
        assert max(sizes) - min(sizes) <= 1


def test_manifest_prune_never_false_skips(spark):
    """No-false-skip law: every document matching the predicate lives
    in a file the planner marked must_scan; reason column is
    consistent with the flag; at sf0.01 the doc_id zone maps actually
    prune files (the readout is not vacuous)."""
    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents").collect()
    matching_files = {
        (d.source, d.doc_id // 100)
        for d in docs
        if 120 <= d.doc_id <= 360 and d.n_chars >= 60
    }
    out = R.QUERIES["table_manifest_prune"](spark, sf).collect()
    scanned = {(r.source, r.file_id) for r in out if r.must_scan}
    assert matching_files <= scanned
    for r in out:
        assert r.must_scan == (r.skip_reason == "scan")
        # stats envelope sanity
        assert r.min_doc <= r.max_doc and r.min_chars <= r.max_chars
    assert any(not r.must_scan for r in out), "pruning was vacuous"
    assert any(r.skip_reason == "doc_range" for r in out)


def test_reservoir_sample_matches_hash_order_statistics(spark):
    """Exactly k rows, equal to the sequential k-smallest-hash replay,
    with ranks 1..k in (hk, doc_id) order — reproducible sampling."""
    sf = "/root/testdata/sf0.01"
    docs = load_table(spark, sf, "documents").collect()
    ranked = sorted(
        (((d.doc_id % 100000007) * 2654435761) % 4294967296,
         d.doc_id, d.lang)
        for d in docs
    )
    want = [
        (i + 1, doc, lang, hk)
        for i, (hk, doc, lang) in enumerate(ranked[:200])
    ]
    out = R.QUERIES["agg_reservoir_sample"](spark, sf).collect()
    got = sorted((r.rank, r.doc_id, r.lang, r.hk) for r in out)
    assert got == want
    assert len(got) == 200


def test_caption_align_dot_is_exact_int(spark):
    """Alignment dot replayed sequentially: shared int8 quantizer
    (round half-away-from-zero, 1e-30 floor regime) x the synthetic
    image codes — bit-equal int64 dot and keep flag per pair."""
    emb = load_table(spark, SF, "embeddings").collect()

    want = {}
    for e in emb:
        q, _scale = _quantize_int8(e.embedding)
        img = [
            (e.vec_id * 31 + (j + 1) * 7) % 255 - 127
            for j in range(len(q))
        ]
        dot = sum(a * b for a, b in zip(q, img))
        want[e.vec_id] = (len(q), dot, dot > 0)
    out = T.QUERIES["multimodal_caption_align"](spark, SF).collect()
    got = {r.vec_id: (r.n_dims, r.align_dot, r.keep) for r in out}
    assert got == want


def test_cooccurrence_pmi_matches_sequential_count(spark):
    """Pair counts, unigram counts, and the integer PMI ratio replayed
    sequentially over +/-2 skip windows with unordered canonical
    pairs; support floor applied to the output only."""
    docs = load_table(spark, SF, "documents").collect()
    pair_n: dict = defaultdict(int)
    uni_n: dict = defaultdict(int)
    n_tokens = 0
    for d in docs:
        if d.text is None:
            continue
        w = d.text.split(" ")
        n_tokens += len(w)
        for t in w:
            uni_n[t] += 1
        for off in (1, 2):
            for i in range(len(w) - off):
                x, y = sorted((w[i], w[i + off]))
                pair_n[(x, y)] += 1
    want = {
        (x, y): (
            c,
            uni_n[x],
            uni_n[y],
            c * n_tokens * 1000000 // (uni_n[x] * uni_n[y]),
        )
        for (x, y), c in pair_n.items()
        if c >= 3
    }
    out = T.QUERIES["text_cooccurrence_pmi"](spark, SF).collect()
    got = {
        (r.x, r.y): (r.pair_n, r.x_n, r.y_n, r.pmi_ratio_micro)
        for r in out
    }
    assert got == want
    # canonical-pair law: x <= y everywhere
    assert all(x <= y for x, y in got)


def test_scan_binary_files_header_parse_matches_codec(spark):
    """The JVM-side header parse of the staged OIMG blobs equals the
    codec law (width/height/channels/fill derived from doc_id), for
    every staged file."""
    docs = load_table(spark, SF, "documents").collect()
    ids = sorted(d.doc_id for d in docs if d.doc_id < 200)
    out = T.QUERIES["scan_binary_files"](spark, SF).collect()
    assert sorted(r.doc_id for r in out) == ids
    for r in out:
        w, h = 1 + r.doc_id % 64, 1 + (r.doc_id * 7) % 48
        assert (r.width, r.height, r.channels) == (w, h, 1)
        assert r.first_px == r.doc_id % 256
        assert r.n_px == w * h


def test_kneser_ney_mass_law_and_replay(spark):
    """Two laws: (1) the interpolated-KN estimate normalizes — for
    every context w1, sum over OBSERVED continuations of the
    discounted term plus lambda(w1) * 1 equals exactly 1 (Fraction
    arithmetic, no float); (2) the emitted micro values equal the
    sequential integer replay."""
    from fractions import Fraction

    docs = load_table(spark, SF, "documents").collect()
    bg: dict = defaultdict(int)
    for d in docs:
        if d.text is None:
            continue
        w = d.text.split(" ")
        for a, b in zip(w, w[1:]):
            bg[(a, b)] += 1
    ctx_n: dict = defaultdict(int)
    n1plus: dict = defaultdict(int)
    cont_n: dict = defaultdict(int)
    for (a, b), c in bg.items():
        ctx_n[a] += c
        n1plus[a] += 1
        cont_n[b] += 1
    T_types = len(bg)
    d75 = Fraction(3, 4)
    # law 1: normalization per context
    for w1 in ctx_n:
        disc = sum(
            max(Fraction(c) - d75, 0) / ctx_n[w1]
            for (a, _), c in bg.items()
            if a == w1
        )
        lam = d75 * n1plus[w1] / ctx_n[w1]
        assert disc + lam == 1, w1
    # law 2: emitted integers equal the replay
    want = {}
    for (a, b), c in bg.items():
        if c < 2:
            continue
        num = max(4 * c - 3, 0) * T_types + 3 * n1plus[a] * cont_n[b]
        den = 4 * ctx_n[a] * T_types
        want[(a, b)] = (
            c, ctx_n[a], n1plus[a], cont_n[b], T_types,
            num * 1000000 // den,
        )
    out = T.QUERIES["text_kneser_ney_bigram"](spark, SF).collect()
    got = {
        (r.w1, r.w2): (
            r.pair_n, r.ctx_n, r.n1plus, r.cont_n, r.n_types,
            r.p_kn_micro,
        )
        for r in out
    }
    assert got == want


def test_quality_calibration_invariants(spark):
    """Reliability-table invariants: buckets cover the validation split
    exactly once; every bucket's floored mean prediction lies inside
    the bucket's decile; positives never exceed docs; the positive
    total equals the label column's validation total."""
    frame, _ = T._train_feature_frame(spark, SF)
    val = frame.filter("NOT is_train").collect()
    out = T.QUERIES["corpus_quality_calibration"](spark, SF).collect()
    assert sum(r.n_docs for r in out) == len(val)
    assert sum(r.n_pos for r in out) == sum(r.y for r in val)
    for r in out:
        assert 0 <= r.bucket <= 9
        assert 0 <= r.n_pos <= r.n_docs
        mean_micro = r.pred_micro_sum / r.n_docs
        assert r.bucket * 100000 <= mean_micro < (r.bucket + 1) * 100000


def _quantize_int8(xs):
    """Sequential replay of the shared int8 quantizer (round
    half-away-from-zero, 1e-30 floor regime)."""
    import math

    v = [float(x) for x in xs]
    m = max(abs(x) for x in v) if v else 0.0
    if m < 1e-30:
        return [0] * len(v), 1e-30
    return [
        int(math.copysign(math.floor(abs(x * 127 / m) + 0.5), x))
        for x in v
    ], m


def test_knn_graph_matches_sequential_bucketed_knn(spark):
    """Full sequential replay: hyperplane buckets, in-bucket candidate
    dots, dequantized top-3 per source, mutual flag from the directed
    edge set — plus the structural laws (<=k per src, edges never
    cross buckets, mutual is symmetric membership)."""
    from octospark.textops import _hyperplanes

    emb = load_table(spark, SF, "embeddings").collect()
    planes = _hyperplanes()[:4]
    rows = {}
    for e in emb:
        v = [float(x) for x in e.embedding]
        q, s = _quantize_int8(e.embedding)
        bucket = sum(
            (1 << i)
            for i, p in enumerate(planes)
            if sum(a * b for a, b in zip(v, p)) > 0
        )
        rows[e.vec_id] = (v, q, s, bucket)
    knn = {}
    for src, (_, qa, sa, bk) in rows.items():
        cands = []
        for dst, (_, qb, sb, bk2) in rows.items():
            if dst == src or bk2 != bk:
                continue
            dot = sum(a * b for a, b in zip(qa, qb))
            cands.append((-(dot * (sa * sb / 16129.0)), dst, dot))
        cands.sort()
        for rank, (_, dst, dot) in enumerate(cands[:3], start=1):
            knn[(src, dst)] = (dot, rank)
    want = {
        (s, d): (dot, rank, (d, s) in knn)
        for (s, d), (dot, rank) in knn.items()
    }
    out = T.QUERIES["sim_knn_graph"](spark, SF).collect()
    got = {(r.src, r.dst): (r.dot, r.rank, r.mutual) for r in out}
    assert got == want
    per_src = defaultdict(int)
    for (s, _d), (_, _, _) in got.items():
        per_src[s] += 1
    assert all(c <= 3 for c in per_src.values())


def test_wilson_ctr_bound_laws(spark):
    """Wilson lower bound replayed with the identical IEEE formula;
    the bound never exceeds the raw proportion and stays in [0, 1)."""
    import math

    ev = load_table(spark, SF, "events").collect()
    agg = defaultdict(lambda: [0, 0])
    for e in ev:
        agg[e.event_type][0] += 1
        if e.value is not None and e.value > 100.0:
            agg[e.event_type][1] += 1
    res = R.QUERIES["events_wilson_ctr"](spark, SF).collect()
    assert {r.event_type for r in res} == set(agg)
    for r in res:
        n, c = agg[r.event_type]
        assert (r.n_events, r.n_conv) == (n, c)
        p = c / n
        lb = (
            p + 3.8416 / (2.0 * n)
            - 1.96 * math.sqrt(
                (p * (1.0 - p)) / n + 3.8416 / (4.0 * n * n)
            )
        ) / (1.0 + 3.8416 / n)
        assert abs(r.wilson_lb - lb) < 1e-12
        assert r.wilson_lb <= r.ctr + 1e-12
        assert 0.0 <= r.wilson_lb < 1.0


def test_sequence_pattern_matches_sequential_sessions(spark):
    """Sessionize sequentially (30-min gap, (ts, event_id) order), cap
    at 200 events, build the initials string, regex-match — equal to
    the distributed result row for row."""
    import re

    ev = load_table(spark, SF, "events").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append((e.ts, e.event_id, e.event_type[0]))
    want = {}
    for u, rows in by_user.items():
        rows.sort()
        sid = 0
        prev = None
        cur: list = []
        flush = []
        for ts, eid, ini in rows:
            if prev is None or _us(ts) - _us(prev) > _GAP_US:
                if cur:
                    flush.append(cur)
                cur = []
            cur.append(ini)
            prev = ts
        if cur:
            flush.append(cur)
        for sid, inis in enumerate(flush, start=1):
            seq = "".join(inis[:200])
            want[(u, sid)] = (
                len(inis[:200]),
                seq,
                re.search("v.*c.*p", seq) is not None,
            )
    out = R.QUERIES["events_sequence_pattern"](spark, SF).collect()
    got = {
        (r.user_id, r.session_id): (r.n_events, r.seq, r.matched)
        for r in out
    }
    assert got == want


def test_link_pred_matches_sequential_jaccard(spark):
    """Sequential replay of the wedge-count Jaccard: undirected
    adjacency sets from the modular edges, common = |N(x) ∩ N(y)|,
    union by inclusion-exclusion, floored micros; already_linked
    equals edge-set membership."""
    docs = load_table(spark, SF, "documents").collect()
    n = len(docs)
    nbrs = defaultdict(set)
    for d in docs:
        i = d.doc_id
        for j in ((i * 17 + 1) % n, (i * 31 + 7) % n, (i + 1) % n):
            if i != j:
                nbrs[i].add(j)
                nbrs[j].add(i)
    want = {}
    nodes = sorted(nbrs)
    # replay via wedges so complexity mirrors the distributed shape
    common = defaultdict(int)
    for v in nodes:
        adj = sorted(nbrs[v])
        for ai in range(len(adj)):
            for bi in range(ai + 1, len(adj)):
                common[(adj[ai], adj[bi])] += 1
    for (x, y), c in common.items():
        if c < 2:
            continue
        dx, dy = len(nbrs[x]), len(nbrs[y])
        want[(x, y)] = (
            c, dx, dy, y in nbrs[x],
            c * 1000000 // (dx + dy - c),
        )
    out = T.QUERIES["graph_jaccard_link_pred"](spark, SF).collect()
    got = {
        (r.x, r.y): (
            r.common_n, r.deg_x, r.deg_y, r.already_linked,
            r.jaccard_micro,
        )
        for r in out
    }
    assert got == want
    # structural law: scores live in (0, 1e6]
    assert all(0 < v[4] <= 1000000 for v in got.values())


def test_new_vs_returning_matches_sequential_walk(spark):
    """Sequential replay: first-seen day per user, daily active set,
    new/returning split, cumulative acquired-users curve."""
    ev = load_table(spark, SF, "events").collect()
    days = defaultdict(set)
    first = {}
    for e in ev:
        d = e.ts.strftime("%Y-%m-%d")
        days[d].add(e.user_id)
        if e.user_id not in first or d < first[e.user_id]:
            first[e.user_id] = d
    want = {}
    cum = 0
    for d in sorted(days):
        new = sum(1 for u, fd in first.items() if fd == d)
        cum += new
        want[d] = (len(days[d]), new, len(days[d]) - new, cum)
    out = R.QUERIES["events_new_vs_returning"](spark, SF).collect()
    got = {
        r.day: (r.active_users, r.new_users, r.returning_users,
                r.cum_users)
        for r in out
    }
    assert got == want
    # conservation: final cumulative == total distinct users
    assert got[sorted(got)[-1]][3] == len(first)


def test_partition_evolution_never_false_skips(spark):
    """No-false-skip across BOTH specs: every document matching
    (source, lang) lives in a must_scan file of its spec; spec-1
    files matching the source are always scanned (their lang value is
    unknown); reasons are consistent with the flag."""
    docs = load_table(spark, SF, "documents").collect()
    out = R.QUERIES["table_partition_evolution"](spark, SF).collect()
    scanned1 = {
        (r.source, r.file_id) for r in out if r.spec == 1 and r.must_scan
    }
    scanned2 = {
        (r.source, r.file_id, r.lang)
        for r in out
        if r.spec == 2 and r.must_scan
    }
    for d in docs:
        fid = d.doc_id // 100
        if d.source == "src1" and d.lang == "en":
            if fid % 2 == 0:
                assert (d.source, fid) in scanned1
            else:
                assert (d.source, fid, d.lang) in scanned2
    for r in out:
        assert r.must_scan == (r.prune_reason == "scan")
        if r.spec == 1:
            assert r.lang is None
            if r.source == "src1":
                assert r.must_scan  # spec-1 cannot prune on lang
        else:
            assert r.lang is not None
    assert any(r.prune_reason == "lang" for r in out)
    assert any(r.prune_reason == "source" for r in out)


def test_stickiness_matches_sequential_window(spark):
    """DAU/WAU replayed sequentially: per day, WAU = distinct users
    active in the trailing 7 calendar days; DAU <= WAU always;
    stickiness in (0, 1e6]."""
    from datetime import timedelta

    ev = load_table(spark, SF, "events").collect()
    ud = {(e.user_id, e.ts.date()) for e in ev}
    days = sorted({d for _, d in ud})
    want = {}
    for d in days:
        dau = sum(1 for u, dd in ud if dd == d)
        wau = len({
            u for u, dd in ud
            if d - timedelta(days=6) <= dd <= d
        })
        want[d.strftime("%Y-%m-%d")] = (
            dau, wau, dau * 1000000 // wau,
        )
    out = R.QUERIES["events_stickiness_dau_wau"](spark, SF).collect()
    got = {r.day: (r.dau, r.wau, r.stickiness_micro) for r in out}
    assert got == want
    for dau, wau, s in got.values():
        assert dau <= wau
        assert 0 < s <= 1000000


def test_code_detection_catches_injected_and_matches_recount(spark):
    """Every injected code doc (doc_id % 20 == 0) is flagged; clean
    docs are not; counts equal the Python recount over the same
    augmented text."""
    docs = load_table(spark, SF, "documents").collect()
    syms = set("{}();=[]<>+*/")
    want = {}
    for d in docs:
        t = d.text or ""
        if d.doc_id % 20 == 0:
            snip = (f" int x{d.doc_id % 7}"
                    " = (a[i] * 3); if (x > 0) { y += x; } // k")
            t += snip * (1 + len(t) // 100)
        n = len(t)
        ns = sum(1 for c in t if c in syms)
        semi = t.count(";")
        sym_micro = ns * 1000000 // n if n else 0
        want[d.doc_id] = (n, ns, semi, sym_micro, n > 0 and sym_micro >= 50000)
    out = T.QUERIES["text_code_detection"](spark, SF).collect()
    got = {
        r.doc_id: (r.n_chars, r.n_code_sym, r.n_semicolons,
                   r.sym_micro, r.is_code)
        for r in out
    }
    assert got == want
    for doc_id, v in got.items():
        if doc_id % 20 == 0:
            assert v[4], f"injected code doc {doc_id} not flagged"
        else:
            assert not v[4], f"clean doc {doc_id} falsely flagged"


def test_rfm_segments_match_sequential_scoring(spark):
    """Sequential replay: per-user (recency days, frequency, floor-micro
    revenue), exact lerp quartile cutoffs, inverted recency scoring,
    segment rollup — plus conservation (users and revenue both sum to
    the corpus totals)."""
    import math

    ev = load_table(spark, SF, "events").collect()
    per = defaultdict(lambda: [None, 0, 0])
    for e in ev:
        p = per[e.user_id]
        d = e.ts.date()
        p[0] = d if p[0] is None or d > p[0] else p[0]
        p[1] += 1
        p[2] += math.floor(e.value * 1000000)
    corpus_day = max(p[0] for p in per.values())

    def lerp_q(vals, q):
        s = sorted(vals)
        pos = q * (len(s) - 1)
        lo, hi = int(math.floor(pos)), int(math.ceil(pos))
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    rows = [
        ((corpus_day - p[0]).days, p[1], p[2]) for p in per.values()
    ]
    cuts = {
        dim: [lerp_q([r[i] for r in rows], q) for q in (0.25, 0.5, 0.75)]
        for i, dim in enumerate(("r", "f", "m"))
    }
    want = defaultdict(lambda: [0, 0])
    for rd, fq, rv in rows:
        rs = 4 - sum(rd > c for c in cuts["r"])
        fs = 1 + sum(fq > c for c in cuts["f"])
        ms = 1 + sum(rv > c for c in cuts["m"])
        k = (rs * 100 + fs * 10 + ms, rs, fs, ms)
        want[k][0] += 1
        want[k][1] += rv
    out = R.QUERIES["events_rfm_segments"](spark, SF).collect()
    got = {
        (r.segment, r.r_score, r.f_score, r.m_score):
            [r.n_users, r.rev_micro_sum]
        for r in out
    }
    assert got == dict(want)
    assert sum(v[0] for v in got.values()) == len(per)
    assert sum(v[1] for v in got.values()) == sum(
        p[2] for p in per.values()
    )


def test_datacard_matches_sequential_inventory(spark):
    """The one-row card equals the Python inventory recount, and the
    card is stable across two runs (bit-stable contract)."""
    import hashlib

    docs = load_table(spark, SF, "documents").collect()
    shas = {hashlib.sha256((d.text or "").encode()).hexdigest()
            for d in docs}
    n = len(docs)
    toks = [len((d.text or "").split(" ")) for d in docs]
    want = (
        n, len({d.lang for d in docs}), len({d.source for d in docs}),
        len(shas), (n - len(shas)) * 1000000 // n,
        sum(d.n_chars for d in docs), sum(toks),
        sum(toks) * 1000000 // n,
        min(d.n_chars for d in docs), max(d.n_chars for d in docs),
    )
    fn = T.QUERIES["corpus_datacard_stats"]
    r1 = fn(spark, SF).collect()[0]
    r2 = fn(spark, SF).collect()[0]
    got = (
        r1.n_docs, r1.n_langs, r1.n_sources, r1.n_unique_texts,
        r1.dup_rate_micro, r1.total_chars, r1.total_tokens,
        r1.mean_tokens_micro, r1.min_chars, r1.max_chars,
    )
    assert got == want
    assert r1 == r2


def test_vacuum_orphans_exactly_the_injected_debris(spark):
    """Every source reports exactly one orphan (the injected .tmp,
    4096 bytes) and live_bytes equals the manifest recount; no
    referenced file is ever counted as reclaimable."""
    docs = load_table(spark, SF, "documents").collect()
    live = defaultdict(int)
    nfiles = defaultdict(set)
    for d in docs:
        live[d.source] += d.n_chars
        nfiles[d.source].add(d.doc_id // 100)
    out = R.QUERIES["table_vacuum_orphans"](spark, SF).collect()
    assert {r.source for r in out} == set(live)
    for r in out:
        assert r.n_orphans == 1
        assert r.reclaim_bytes == 4096
        assert r.live_bytes == live[r.source]
        assert r.n_files == len(nfiles[r.source]) + 1


def test_time_to_convert_matches_sequential_firsts(spark):
    """Per-user first view / first purchase and their gap replayed
    sequentially in exact epoch microseconds; only view-then-purchase
    users emit; ttc is never negative."""
    ev = load_table(spark, SF, "events").collect()
    fv, fp = {}, {}
    for e in ev:
        us = _us(e.ts)
        if e.event_type == "view":
            fv[e.user_id] = min(us, fv.get(e.user_id, us))
        elif e.event_type == "purchase":
            fp[e.user_id] = min(us, fp.get(e.user_id, us))
    want = {
        u: (fv[u], fp[u], fp[u] - fv[u])
        for u in fv.keys() & fp.keys()
        if fp[u] >= fv[u]
    }
    out = R.QUERIES["events_time_to_convert"](spark, SF).collect()
    got = {
        r.user_id: (r.first_view_us, r.first_purchase_us, r.ttc_us)
        for r in out
    }
    assert got == want
    assert all(v[2] >= 0 for v in got.values())


def test_hostgraph_collapse_matches_sequential_count(spark):
    """Host-pair link counts replayed sequentially from the modular
    edge list + the doc->host map; intra-host flag consistent; link
    conservation (sum of pair counts == number of page edges)."""
    docs = load_table(spark, SF, "documents").collect()
    n = len(docs)
    host = {d.doc_id: d.source for d in docs}
    edges = set()
    for v in host:
        for u in ((v * 17 + 1) % n, (v * 31 + 7) % n, (v + 1) % n):
            edges.add((v, u))
    want = defaultdict(int)
    for s, d in edges:
        want[(host[s], host[d])] += 1
    out = T.QUERIES["graph_hostgraph_collapse"](spark, SF).collect()
    got = {(r.src_host, r.dst_host): r.n_links for r in out}
    assert got == dict(want)
    assert all(
        r.intra_host == (r.src_host == r.dst_host) for r in out
    )
    assert sum(got.values()) == len(edges)


def test_cohort_ltv_matches_sequential_walk(spark):
    """Cohort/age revenue replayed sequentially: cohort = first event
    day, age = purchase day - cohort day, floor-micro revenue, running
    cumulative per cohort in age order."""
    import math

    ev = load_table(spark, SF, "events").collect()
    first = {}
    for e in ev:
        d = e.ts.date()
        if e.user_id not in first or d < first[e.user_id]:
            first[e.user_id] = d
    daily = defaultdict(lambda: [0, 0])
    for e in ev:
        if e.event_type != "purchase":
            continue
        c = first[e.user_id]
        age = (e.ts.date() - c).days
        daily[(c, age)][0] += 1
        daily[(c, age)][1] += math.floor(e.value * 1000000)
    want = {}
    by_cohort = defaultdict(list)
    for (c, age), v in daily.items():
        by_cohort[c].append((age, v))
    for c, rows in by_cohort.items():
        rows.sort()
        cum = 0
        for age, (np_, rv) in rows:
            cum += rv
            want[(c.strftime("%Y-%m-%d"), age)] = (np_, rv, cum)
    out = R.QUERIES["events_cohort_ltv"](spark, SF).collect()
    got = {
        (r.cohort_day, r.age_days):
            (r.n_purchases, r.rev_micro, r.cum_rev_micro)
        for r in out
    }
    assert got == want


def test_power_pareto_matches_sequential_curve(spark):
    """Every (rank, cum_events, cum_share_ppm) row equals the Python
    sequential recompute: users sorted by (count desc, user_id asc),
    running sum, floor ppm — and the last rank lands at exactly
    1,000,000 ppm."""
    ev = load_table(spark, SF, "events").collect()
    counts = defaultdict(int)
    for e in ev:
        counts[e.user_id] += 1
    total = sum(counts.values())
    order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    want, cum = {}, 0
    for rank, (u, n) in enumerate(order, start=1):
        cum += n
        want[u] = (n, rank, cum, cum * 1_000_000 // total)
    out = R.QUERIES["events_power_pareto"](spark, SF).collect()
    got = {
        r.user_id: (r.n_events, r.user_rank, r.cum_events,
                    r.cum_share_ppm)
        for r in out
    }
    assert got == want
    assert max(got.values())[3] if False else True
    last = max(got.values(), key=lambda v: v[1])
    assert last[2] == total and last[3] == 1_000_000


def test_interarrival_log2_matches_sequential_histogram(spark):
    """The bucket histogram equals the Python recompute: per-user
    sorted gaps, bucket = bit_length(max(gap_us, 1)); bucket b holds
    gaps in [2^(b-1), 2^b)."""
    ev = load_table(spark, SF, "events").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append((_us(e.ts), e.event_id))
    want_n = defaultdict(int)
    want_u = defaultdict(set)
    for u, rows in by_user.items():
        rows.sort()
        for (p, _), (n, _) in zip(rows, rows[1:]):
            b = max(n - p, 1).bit_length()
            want_n[b] += 1
            want_u[b].add(u)
    out = R.QUERIES["events_interarrival_log2"](spark, SF).collect()
    got = {r.bucket: (r.n_gaps, r.n_users) for r in out}
    assert got == {
        b: (want_n[b], len(want_u[b])) for b in want_n
    }
    # conservation: every event but each user's first yields one gap
    assert sum(n for n, _ in got.values()) == len(ev) - len(by_user)


def test_zonemap_skip_is_sound_and_complete(spark):
    """Soundness law: a zone flagged can_skip contains ZERO matching
    rows (a skipping scan never loses data); completeness: zone row
    counts and match counts add back up to the raw table's."""
    ev = load_table(spark, SF, "events").collect()
    out = R.QUERIES["table_zonemap_skip"](spark, SF).collect()
    for r in out:
        assert r.can_skip == (r.max_value < 95.0)
        if r.can_skip:
            assert r.n_match == 0
    assert sum(r.n_rows for r in out) == len(ev)
    assert sum(r.n_match for r in out) == sum(
        1 for e in ev if e.value >= 95.0
    )
    # zone stats really are the zone's min/max
    zones = defaultdict(list)
    for e in ev:
        zones[e.event_id // 500].append(e.value)
    for r in out:
        assert r.min_value == min(zones[r.zone_id])
        assert r.max_value == max(zones[r.zone_id])
