"""Tests for the training-data pipeline operators (octospark.textops):
recall guarantees for the dedup family and determinism of signatures.

The MinHash/LSH plan is asserted shuffle-lean: the signature stage must
reuse the up-front repartition(doc_id) for both the window and the
aggregation (exactly one Exchange below the signature aggregate).
"""

from __future__ import annotations

import octospark.mediaops as M
import octospark.textops as T
from octospark import QUERIES


def test_minhash_lsh_recalls_injected_duplicates(spark, sf_dir):
    df = T.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    got = {(r.id1, r.id2) for r in df.collect()}
    # injected exact copies (doc_id+100000 of doc_id<50) must all be
    # candidate pairs: identical text -> identical signature -> every
    # band collides.
    missing = [i for i in range(50) if (i, i + 100000) not in got]
    assert not missing, f"missed injected dups: {missing}"


def test_minhash_lsh_deterministic_across_partitioning(spark, sf_dir):
    a = {tuple(r) for r in T.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()}
    b = {
        tuple(r)
        for r in T.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .repartition(1)
        .collect()
    }
    assert a == b


def test_minhash_computes_signature_pipeline_once(spark, sf_dir):
    """The expensive signature pipeline (scan -> explode -> window ->
    16-way min agg) must run exactly ONCE. The former self-join shape
    broadcast one side and recomputed the whole subtree twice (4 scans,
    2 windows); the bucket-groupBy pair expansion halves the work."""
    df = T.QUERIES["dedup_minhash_lsh"](spark, sf_dir)
    df.count()  # let AQE finalize
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 1, plan
    # 2 scans = base docs + injected-duplicate branch of the union,
    # not a duplicated pipeline
    assert plan.count("Scan parquet") == 2, plan
    assert "Join" not in plan, plan  # pair expansion, not a self-join
    # exchanges: repartition(doc_id) reused by window+signature agg,
    # then the (band,bucket) agg, then the distinct — exactly 3
    assert plan.count("Exchange hashpartitioning") == 3, plan
    # the signature stage must NOT add its own aggregate exchange on
    # top of the repartition (distribution reuse)
    assert "hashpartitioning(doc_id" in plan and "REPARTITION_BY_NUM" in plan


def test_exact_dedup_groups_identical_text(spark, sf_dir):
    rows = T.QUERIES["dedup_exact"](spark, sf_dir).collect()
    # every group keeps its minimum doc_id and counts >= 1
    assert all(r.n_dups >= 1 for r in rows)
    total = sum(r.n_dups for r in rows)
    from octospark.sources import load_table

    assert total == load_table(spark, sf_dir, "documents").count()


def test_embedding_cosine_finds_injected_copies(spark, sf_dir):
    got = {
        (r.id1, r.id2)
        for r in T.QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    }
    missing = [i for i in range(20) if (i, i + 10000) not in got]
    assert not missing, f"missed injected embedding dups: {missing}"


def test_sim_ann_topk_rank1_is_query_vector(spark, sf_dir):
    rows = T.QUERIES["sim_ann_topk"](spark, sf_dir).collect()
    by_rank = {r.rank: r for r in rows}
    assert by_rank[1].vec_id == 0  # self-similarity = 1.0
    assert abs(by_rank[1].sim - 1.0) < 1e-6
    sims = [by_rank[k].sim for k in sorted(by_rank)]
    assert sims == sorted(sims, reverse=True)


def test_sim_ann_ivf_rank1_is_query_vector(spark, sf_dir):
    rows = T.QUERIES["sim_ann_ivf"](spark, sf_dir).collect()
    by_rank = {r.rank: r for r in rows}
    # the query vector's own cell is always probed -> rank 1 = itself
    assert by_rank[1].vec_id == 0
    assert abs(by_rank[1].sim - 1.0) < 1e-6
    assert len(rows) == 5


def test_sim_ann_ivf_subset_of_probed_cells_only(spark, sf_dir):
    """IVF must scan strictly fewer vectors than brute force: its
    results are consistent with exact cosine on the probed subset
    (every returned sim also appears in the brute-force full ranking
    with the same value)."""
    exact = {
        r.vec_id: r.sim
        for r in T.QUERIES["sim_ann_topk"](spark, sf_dir).collect()
    }
    for r in T.QUERIES["sim_ann_ivf"](spark, sf_dir).collect():
        if r.vec_id in exact:
            assert abs(r.sim - exact[r.vec_id]) < 1e-6


def test_multimodal_decode_roundtrip(spark, sf_dir):
    """Decode inverts the fake encoder exactly; constant-fill pixels
    make mean_px == doc_id % 256; no error rows on well-formed media."""
    rows = QUERIES["multimodal_decode"](spark, sf_dir).collect()
    assert rows and all(r.error is None for r in rows)
    for r in rows:
        assert r.width == 1 + r.doc_id % 64
        assert r.height == 1 + (r.doc_id * 7) % 48
        assert abs(r.mean_px - (r.doc_id % 256)) < 1e-9


def test_multimodal_resize_dims(spark, sf_dir):
    for r in QUERIES["multimodal_resize"](spark, sf_dir).collect():
        assert r.thumb_w == (r.width + 1) // 2
        assert r.thumb_h == (r.height + 1) // 2
        assert r.thumb_bytes == r.thumb_w * r.thumb_h


def test_multimodal_frame_sample_every_fifth(spark, sf_dir):
    for r in QUERIES["multimodal_frame_sample"](spark, sf_dir).collect():
        assert r.error is None
        assert r.n_sampled == (r.n_frames + 4) // 5
        assert 1 <= r.n_frames <= 30


def test_multimodal_meta_null_blob_yields_null_metadata(spark, sf_dir):
    """NULL media (e.g. NULL text cast to binary — an expected
    upstream-extraction-failure case) yields NULL n_bytes/header_hex,
    matching octet_length(NULL)/hex(NULL) on the oracle side, and never
    fails the task."""
    import pandas as pd

    mixed = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "media": [None, b"ABCDEF"]}).astype(
            {"doc_id": "int64"}
        ),
        schema="doc_id long, media binary",
    )
    rows = {
        r.doc_id: r
        for r in mixed.mapInPandas(
            M.meta_batches, "doc_id long, n_bytes long, header_hex string"
        ).collect()
    }
    assert rows[1].n_bytes is None and rows[1].header_hex is None
    assert rows[2].n_bytes == 6 and rows[2].header_hex == b"ABCD".hex()


def test_simhash_deterministic(spark, sf_dir):
    a = {tuple(r) for r in T.QUERIES["dedup_simhash"](spark, sf_dir).collect()}
    b = {tuple(r) for r in T.QUERIES["dedup_simhash"](spark, sf_dir).collect()}
    assert a == b
    # identical texts must get identical simhash
    sh = {r[0]: r[1] for r in a}
    from octospark.sources import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    by_text: dict = {}
    for did, txt in texts.items():
        by_text.setdefault(txt, []).append(did)
    for ids in by_text.values():
        assert len({sh[i] for i in ids}) == 1


def test_pii_mask_removes_injected_pii(spark, sf_dir):
    rows = T.QUERIES["text_pii_mask"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.had_email is True
        assert "<EMAIL>" in r.masked and "<PHONE>" in r.masked
        assert "@mail.example.com" not in r.masked
        assert "+1-555-" not in r.masked


def test_gopher_quality_matches_python_recompute(spark, sf_dir):
    import re as _re

    rows = T.QUERIES["text_gopher_quality"](spark, sf_dir).collect()
    from octospark.sources import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert rows
    for r in rows[:50]:
        toks = texts[r.doc_id].lower().split(" ")
        n_words = len(toks)
        n_alpha_chars = len(texts[r.doc_id].lower().replace(" ", ""))
        n_alpha_words = sum(1 for w in toks if _re.search("[a-z]", w))
        assert r.n_words == n_words
        mwl = n_alpha_chars / n_words
        awr = n_alpha_words / n_words
        assert abs(r.mean_word_len - mwl) < 1e-12
        want_pass = (50 <= n_words <= 100000 and 3 <= mwl <= 10
                     and awr >= 0.8)
        assert r.quality_pass == want_pass, r.doc_id


def test_url_canonicalize_invariants(spark, sf_dir):
    rows = T.QUERIES["dedup_url_canonicalize"](spark, sf_dir).collect()
    assert rows
    total = sum(r.n_dupes for r in rows)
    from octospark.sources import load_table

    assert total == load_table(spark, sf_dir, "documents").count()
    for r in rows:
        u = r.curl
        assert u == u.lower()
        assert "utm_" not in u and "#" not in u and ":443" not in u
        assert not u.endswith("/")


def test_ngram_profile_matches_counter(spark, sf_dir):
    from collections import Counter

    from octospark.sources import load_table

    rows = T.QUERIES["text_ngram_profile"](spark, sf_dir).collect()
    assert len(rows) == 20
    c = Counter()
    for r in load_table(spark, sf_dir, "documents").collect():
        toks = [t for t in r.text.lower().split(" ") if t]
        c.update(f"{a} {b}" for a, b in zip(toks, toks[1:]))
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    got = [(r.bigram, r.n) for r in rows]
    assert got == want


def test_topk_batch_shape_and_order(spark, sf_dir):
    rows = T.QUERIES["sim_ann_topk_batch"](spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert set(by_q) == set(range(8))
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2, 3]
        assert rs[0].sim >= rs[1].sim >= rs[2].sim
        assert all(r.vec_id != qid for r in rs)


def test_cluster_cc_component_laws(spark, sf_dir):
    """Connected-components invariants: labels are the component MIN,
    every edge's endpoints share a label, and the graph has at least
    one transitive (size >= 3) cluster so the test is not vacuous."""
    import duckdb

    from octospark.textops import _CC_EDGE_SQL, QUERIES

    cc = {
        r["doc_id"]: r["cluster_id"]
        for r in QUERIES["dedup_cluster_cc"](spark, sf_dir).collect()
    }
    assert len(cc) == 150
    edges = duckdb.sql(
        _CC_EDGE_SQL.replace(
            "FROM documents",
            f"FROM read_parquet('{sf_dir}/documents.parquet')",
        )
        + " SELECT id1, id2 FROM e"
    ).fetchall()
    assert edges, "threshold produced no edges — test would be vacuous"
    for a, b in edges:
        assert cc[a] == cc[b], f"edge ({a},{b}) split across clusters"
    # label = min member of its component
    members: dict = {}
    for node, label in cc.items():
        members.setdefault(label, []).append(node)
    for label, nodes in members.items():
        assert label == min(nodes)
    assert max(len(v) for v in members.values()) >= 3, "no transitive cluster"


def test_simhash_banded_recall_and_completeness(spark, sf_dir):
    """Banded SimHash laws: (a) injected near-dups inside the radius
    are recalled, (b) pigeonhole completeness — EVERY pair within
    hamming <= 3 among a sampled id range appears in the output (4
    bands of 8 bits cannot all change under < 4 flips), (c) soundness
    — no emitted pair exceeds the radius."""
    from pyspark.sql import functions as F

    from octospark.textops import QUERIES, simhash_signatures

    out = QUERIES["dedup_simhash_banded"](spark, sf_dir).collect()
    pairs = {(r["id1"], r["id2"]): r["hamming"] for r in out}
    assert all(h <= 3 for h in pairs.values())  # soundness
    injected = [(i, i + 200000) for i in range(20)]
    recalled = [p for p in injected if p in pairs]
    assert len(recalled) >= 15  # dropping one word rarely flips > 3 bits
    # completeness over a sampled range, vs exact signatures
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    sig = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs).collect()
    }
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sig[a] ^ sig[b]).count("1")
            if h <= 3:
                assert (a, b) in pairs, f"missed in-radius pair ({a},{b})"
                assert pairs[(a, b)] == h


def test_extract_links_matches_template_inventory(spark, sf_dir):
    """Every page's extracted hrefs equal the template-derived
    inventory (boilerplate is a pure function of doc_id % 6)."""
    import collections

    import duckdb

    from octospark.textops import _LINKS_SQL, QUERIES

    got = collections.Counter(
        (r["url"], r["href"])
        for r in QUERIES["extract_links"](spark, sf_dir).collect()
    )
    want = collections.Counter(
        (u, h)
        for u, h in duckdb.sql(
            _LINKS_SQL.replace(
                "FROM documents)",
                f"FROM read_parquet('{sf_dir}/documents.parquet'))",
            )
        ).fetchall()
    )
    assert got == want


def test_pagerank_mass_and_determinism(spark, sf_dir):
    """Integer PageRank: every node's rank stays in
    [teleport, n * unit]; total mass never exceeds the initial total
    (integer div only leaks downward); ring edge (i+1 mod n) means no
    node can hold less than the teleport floor. Re-run is
    bit-identical (integer arithmetic is associative)."""
    from octospark.textops import QUERIES

    rows = {
        r["node"]: r["rank_units"]
        for r in QUERIES["graph_pagerank"](spark, sf_dir).collect()
    }
    n = len(rows)
    assert n > 0
    assert all(v >= 150_000 for v in rows.values())
    assert sum(rows.values()) <= n * 1_000_000
    rows2 = {
        r["node"]: r["rank_units"]
        for r in QUERIES["graph_pagerank"](spark, sf_dir).collect()
    }
    assert rows == rows2


def test_crawl_frontier_cap_and_no_crawled(spark, sf_dir):
    """Politeness cap holds per host; no already-crawled url appears."""
    import duckdb

    from octospark.textops import QUERIES

    rows = QUERIES["crawl_frontier"](spark, sf_dir).collect()
    assert rows
    per_host: dict = {}
    for r in rows:
        per_host.setdefault(r["host"], []).append(r)
        assert r["target"].startswith("https://" + r["host"])
    crawled = {
        u for (u,) in duckdb.sql(
            "SELECT 'https://' || source || '.example.org/doc/' || doc_id "
            f"FROM '{sf_dir}/documents.parquet'"
        ).fetchall()
    }
    for host, hr in per_host.items():
        assert len(hr) <= 5, host
        for r in hr:
            assert r["target"] not in crawled


def test_stratified_sample_exact_quotas(spark, sf_dir):
    """Each stratum contributes EXACTLY ceil(n/10) docs."""
    import collections

    import duckdb

    from octospark.textops import QUERIES

    got = collections.Counter(
        r["lang"]
        for r in QUERIES["corpus_stratified_sample"](spark, sf_dir).collect()
    )
    want = {
        lang: (n + 9) // 10
        for lang, n in duckdb.sql(
            f"SELECT lang, count(*) FROM '{sf_dir}/documents.parquet' "
            "GROUP BY 1"
        ).fetchall()
    }
    assert dict(got) == want


def test_shard_pack_budget_and_coverage(spark, sf_dir):
    """Every doc is assigned exactly once; within each (lang, shard)
    the token mass stays under budget + one doc's overshoot, and shard
    ids are contiguous from 0 per lang."""
    import collections

    from octospark.textops import QUERIES

    rows = QUERIES["corpus_shard_pack"](spark, sf_dir).collect()
    n_docs = QUERIES["corpus_shard_pack"](spark, sf_dir).select(
        "doc_id").distinct().count()
    assert len(rows) == n_docs
    mass: dict = collections.defaultdict(int)
    maxtok: dict = collections.defaultdict(int)
    shards: dict = collections.defaultdict(set)
    for r in rows:
        key = (r["lang"], r["shard_id"])
        mass[key] += r["n_tokens"]
        maxtok[key] = max(maxtok[key], r["n_tokens"])
        shards[r["lang"]].add(r["shard_id"])
    for key, m in mass.items():
        assert m < 5000 + maxtok[key], key
    for lang, ids in shards.items():
        assert ids == set(range(max(ids) + 1)), lang


def test_extract_main_content_all_byte_identical(spark, sf_dir):
    """The flagship key's ok flag is TRUE for every url (byte-identity
    law), and the url set covers the whole corpus exactly once."""
    import duckdb

    from octospark.textops import QUERIES

    rows = QUERIES["extract_main_content"](spark, sf_dir).collect()
    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert len(rows) == n
    assert len({r["url"] for r in rows}) == n
    assert all(r["ok"] for r in rows)


def test_contamination_check_flags_injected_overlap(spark, sf_dir):
    """A candidate doc sharing a 5-gram with a benchmark doc gets
    contamination > 0; every benchmark doc is absent from the output;
    ratios stay in [0, 1]."""
    from octospark.textops import QUERIES

    rows = QUERIES["text_contamination_check"](spark, sf_dir).collect()
    assert rows
    ids = {r["doc_id"] for r in rows}
    assert all(i % 97 != 0 for i in ids)
    for r in rows:
        assert 0 <= r["n_contaminated"] <= r["n_shingles"]
        assert abs(r["contamination"]
                   - r["n_contaminated"] / r["n_shingles"]) == 0.0


def test_word_rarity_bounds_and_mass(spark, sf_dir):
    """mean_commonness >= 1 (every token occurs at least once — itself);
    freq_mass == sum over tokens of that token's corpus count, checked
    exactly on one doc."""
    import collections

    import duckdb

    from octospark.textops import QUERIES

    rows = {r["doc_id"]: r
            for r in QUERIES["text_word_rarity"](spark, sf_dir).collect()}
    assert all(r["mean_commonness"] >= 1.0 for r in rows.values())
    texts = dict(duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall())
    corpus = collections.Counter(
        w for t in texts.values() for w in t.split(" ")
    )
    probe = min(texts)
    want = sum(corpus[w] for w in texts[probe].split(" "))
    assert rows[probe]["freq_mass"] == want
    assert rows[probe]["n_words"] == len(texts[probe].split(" "))


def test_substring_windows_cross_doc_only(spark, sf_dir):
    """dup_windows counts windows shared with ANOTHER doc: a window
    repeated only inside one doc never counts; fractions stay in
    [0, 1]; window count matches len-k+1 for a probe doc."""
    import duckdb

    from octospark.textops import QUERIES

    rows = {r["doc_id"]: r
            for r in QUERIES["dedup_substring_windows"](spark, sf_dir)
            .collect()}
    assert rows
    for r in rows.values():
        assert 0 <= r["dup_windows"] <= r["n_windows"]
        assert abs(r["dup_fraction"]
                   - r["dup_windows"] / r["n_windows"]) == 0.0
    texts = dict(duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"WHERE len(text) >= 40"
    ).fetchall())
    probe = min(texts)
    assert rows[probe]["n_windows"] == len(texts[probe]) - 39
    # pure-Python cross-check of dup_windows for the probe doc
    others = set()
    for d, t in texts.items():
        if d != probe:
            others.update(t[i:i + 40] for i in range(len(t) - 39))
    want = sum(1 for i in range(len(texts[probe]) - 39)
               if texts[probe][i:i + 40] in others)
    assert rows[probe]["dup_windows"] == want


def test_host_filter_integer_mean_gate(spark, sf_dir):
    """keep flag equals the exact integer cross-multiply of host mean
    vs corpus mean, recomputed in pure Python."""
    import collections

    import duckdb

    from octospark.textops import QUERIES

    rows = QUERIES["corpus_host_filter"](spark, sf_dir).collect()
    meta = duckdb.sql(
        f"SELECT doc_id, source, n_chars "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    assert len(rows) == len(meta)
    hd = collections.Counter()
    hc = collections.Counter()
    for _, s, c in meta:
        hd[s] += 1
        hc[s] += c
    tot_docs, tot_chars = len(meta), sum(hc.values())
    for r in rows:
        assert r["host_docs"] == hd[r["source"]]
        assert r["host_chars"] == hc[r["source"]]
        assert r["keep"] == (
            hc[r["source"]] * tot_docs >= tot_chars * hd[r["source"]]
        )


def test_lang_rebalance_temperature_sampling(spark, sf_dir):
    """Rarest language keeps every doc (rate 1.0); every language's
    kept fraction tracks its sqrt(min/n) rate; keep flag is the
    deterministic integer-hash Bernoulli recomputed in pure Python."""
    import math

    from octospark.textops import QUERIES

    rows = QUERIES["corpus_lang_rebalance"](spark, sf_dir).collect()
    assert rows
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    min_docs = min(len(v) for v in by_lang.values())
    for lang, rs in by_lang.items():
        n = len(rs)
        rate = math.sqrt(min_docs / n)
        for r in rs:
            assert r["lang_docs"] == n
            assert r["keep_rate"] == rate
            want = (r["doc_id"] * 2654435761) % 1000000 < math.floor(
                1000000 * rate
            )
            assert r["keep"] == want
    rarest = min(by_lang, key=lambda k: len(by_lang[k]))
    assert all(r["keep"] for r in by_lang[rarest])


def test_audio_stats_exact_and_never_drop(spark, sf_dir):
    """Audio stats match the analytic sawtooth reconstruction exactly
    (int64 energy/peak/clip counts), and a malformed blob yields an
    error row, never a task failure — same never-drop contract (R8) as
    the image/video paths."""
    import pandas as pd

    for r in (
        QUERIES["multimodal_audio_stats"](spark, sf_dir).limit(50).collect()
    ):
        n = 64 + r.doc_id % 192
        s = [(r.doc_id * 3 + i * 5) % 256 for i in range(n)]
        assert r.error is None
        assert r.n_samples == n
        assert r.energy == sum(x * x for x in s)
        assert r.peak == max(s)
        assert r.n_clipped == sum(1 for x in s if x > 250)

    mixed = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                # bad magic; truncated payload (claims 200 samples);
                # and a NULL blob (nullable binary column upstream)
                "media": [b"WHAT\x00\x08abcdefgh",
                          b"OAUD\x00\xc8short",
                          None],
            }
        )
    )
    rows = {
        r.doc_id: r
        for r in mixed.mapInPandas(
            M.audio_stats_batches, M._AUDIO_SCHEMA
        ).collect()
    }
    assert rows[1].error is not None and rows[1].energy is None
    assert rows[2].error is not None and rows[2].n_samples is None
    assert rows[3].error is not None and rows[3].energy is None


def test_repetition_filter_flags_injected_repeats(spark, sf_dir):
    """A synthetic one-word-dominated doc and a repeated-bigram doc are
    both rejected; a normal varied doc passes; a 1-word doc never
    drops out of the output (zero bigrams, keep governed by top-word
    gate alone)."""
    import pandas as pd

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4, 5],
                "text": [
                    "spam spam spam spam spam eggs",     # top-word 5/6
                    "a b a b a b a b a b a b",           # dup bigrams
                    "one two three four five six seven", # varied
                    "lonely",                            # single word
                    None,                                # failed extract
                ],
            }
        )
    )
    docs.createOrReplaceTempView("documents_inj")
    import octospark.textops as TT

    orig = TT.load_table

    def fake_load(spark_, sf_, name):
        if name == "documents":
            return spark_.table("documents_inj")
        return orig(spark_, sf_, name)

    TT.load_table = fake_load
    try:
        rows = {
            r.doc_id: r
            for r in T.QUERIES["text_repetition_filter"](
                spark, sf_dir
            ).collect()
        }
    finally:
        TT.load_table = orig

    assert set(rows) == {1, 2, 3, 4, 5}
    assert not rows[1].keep          # one word dominates
    assert not rows[2].keep          # all bigrams repeated
    assert rows[3].keep              # varied text passes
    assert rows[4].n_bigrams == 0    # 1-word doc present, not dropped
    assert rows[2].dup_bigram_n == rows[2].n_bigrams - 2  # 'a b','b a'
    # NULL text (upstream extraction failure): verdict row still
    # emitted (never-drop), gated out via n_words == 0
    assert rows[5].n_words == 0 and not rows[5].keep


def test_embed_quantize_int8_bounds_and_jvm_only(spark, sf_dir):
    """Quantized values fit int8, dequant error respects the
    scale/254 bound (half-ulp of the quantization step), and the plan
    is pure JVM (no Python stage, no shuffle)."""
    df = T.QUERIES["embed_quantize_int8"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_dims == 64
        assert all(-127 <= int(x) <= 127 for x in r.q)
        # strict elementwise bound: |x - q*s/127| <= s/254 (+ tiny fp slack)
        assert r.max_abs_err <= r.scale / 254 * (1 + 1e-9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "Exchange" not in plan  # map-side only, runs inside the scan


def test_topk_int8_agrees_with_float_topk(spark, sf_dir):
    """The quantized ranking must closely track the exact float
    ranking. Ranking is by the DEQUANTIZED dot (raw int dots are not
    cross-candidate comparable — each vector has its own scale), whose
    per-pair error is bounded by n*(s_c*|y|_max + s_q*|x|_max)/254, so
    ranks only swap between genuine near-ties. Assertions honor that
    bound instead of demanding exact agreement the function never
    promised: the float top-1 must appear in the quantized top-2
    (exact top-1 equality would be flaky if a regenerated fixture put
    ranks 1-2 within the quantization error), and at least 9 of the
    float top-10 ids must survive (currently 10/10 on the fixture;
    9 leaves one near-tie of slack)."""
    f_ids = [
        r.vec_id
        for r in T.QUERIES["sim_ann_topk"](spark, sf_dir).collect()
    ]
    q_ids = [
        r.vec_id
        for r in T.QUERIES["sim_ann_topk_int8"](spark, sf_dir).collect()
    ]
    assert len(q_ids) == 10
    assert f_ids[0] in q_ids[:2]
    assert len(set(f_ids) & set(q_ids)) >= 9


# --- property-based laws (hypothesis) ---------------------------------------

def test_jaccard_hot_shingle_df_cap(spark):
    """The shared Jaccard edge builder must DROP shingles whose
    document frequency exceeds the cap BEFORE aggregation — a stopword
    3-gram shared by every doc must not produce C(n,2) pairs (at 100 TB
    that bucket is an executor OOM + a ~10^12-pair expansion), while a
    genuine duplicate pair with rare shingles must survive intact."""
    from octospark.textops import _jaccard_pair_counts

    # 30 docs all share the hot shingle "hot1 hot2 hot3"; their other
    # shingles are unique. Docs 100/101 are true duplicates of each
    # other with no hot shingle.
    rows = [
        (i, f"hot1 hot2 hot3 u{i}a u{i}b u{i}c") for i in range(30)
    ] + [(100, "x1 x2 x3 x4 x5"), (101, "x1 x2 x3 x4 x5")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = _jaccard_pair_counts(docs, df_cap=8).collect()
    assert [(r.id1, r.id2, r.n_inter) for r in capped] == [(100, 101, 3)]
    # sizes stay UNCAPPED (conservative Jaccard denominator)
    assert capped[0].n1 == 3 and capped[0].n2 == 3

    # without the cap the hot shingle alone would emit C(30,2) pairs
    uncapped = _jaccard_pair_counts(docs, df_cap=10**9).count()
    assert uncapped == 30 * 29 // 2 + 1


_QUANT_FLOOR = 1e-30


def _quantize_ref(vec):
    """Reference int8 quantization (mirrors embed_quantize_int8,
    including the floor regime: max-abs < 1e-30 => all-zero codes)."""
    import math

    m = max(abs(x) for x in vec)
    s = max(m, _QUANT_FLOOR)
    if m < _QUANT_FLOOR:
        return s, [0] * len(vec)
    q = []
    for x in vec:
        y = (x * 127) / s
        # round half away from zero (Spark HALF_UP == C round())
        q.append(int(math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)))
    return s, q


def test_quantize_laws_roundtrip_and_scale_invariance():
    """Laws of symmetric max-abs int8 quantization, engine-free:
    (1) q in [-127, 127]; (2) dequant error <= scale/254 + eps in the
    normal regime, <= the 1e-30 floor in the floored (numerically
    zero) regime, where codes are all zero; (3) quantization is
    invariant under multiplication by a power of two (scale doubles
    exactly, so every ratio x/scale is bit-identical) — except when
    the x4 crosses the floor boundary, where the sub-floor side is
    pinned all-zero instead."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    floats = st.floats(
        min_value=-1e6, max_value=1e6,
        allow_nan=False, allow_infinity=False, width=32,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(floats, min_size=1, max_size=64))
    def law(vec):
        m = max(abs(x) for x in vec)
        s, q = _quantize_ref(vec)
        assert all(-127 <= v <= 127 for v in q)
        if m < _QUANT_FLOOR:
            assert q == [0] * len(vec)  # floored regime: all-zero codes
            for x in vec:
                assert abs(x) <= _QUANT_FLOOR
        else:
            for x, v in zip(vec, q):
                assert abs(x - (v * s) / 127) <= s / 254 * (1 + 1e-9)
        s2, q2 = _quantize_ref([x * 4.0 for x in vec])
        if (m < _QUANT_FLOOR) == (m * 4.0 < _QUANT_FLOOR):
            # same regime on both sides of the x4: codes identical
            assert q2 == q
        else:
            # x4 crossed the floor: the sub-floor side is all-zero
            assert q == [0] * len(vec) and any(q2)

    law()


def test_repetition_gate_laws():
    """Laws of the Gopher repetition gate, engine-free: all-distinct
    words always keep; a single word repeated >= 2x total always
    rejects on the top-word rule; permuting words never changes the
    top-word fraction (it is order-free)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    word = st.text(alphabet="abcdefgh", min_size=1, max_size=5)

    @settings(max_examples=150, deadline=None)
    @given(st.lists(word, min_size=2, max_size=40))
    def law(words):
        # top-word rule exactly as the operator computes it
        def top_gate(ws):
            c = Counter(ws)
            return 2 * max(c.values()) <= len(ws)

        distinct = list(dict.fromkeys(words))
        if len(distinct) >= 2:
            assert top_gate(distinct)  # all-distinct always passes
        dominated = [words[0]] * len(words) + words
        assert not top_gate(dominated)  # one word holds > half
        import random

        rng = random.Random(42)
        shuffled = words[:]
        rng.shuffle(shuffled)
        assert top_gate(shuffled) == top_gate(words)  # order-free

    law()


def test_skew_salted_join_matches_plain_join(spark, sf_dir):
    """The salt must never change the answer: the salted join's
    aggregate equals a plain (unsalted) join computed independently."""
    import pyspark.sql.functions as F

    from octospark.relational import QUERIES as RQ
    from octospark.sources import load_table

    got = {
        r.s_nationkey: (r.n, r.sum_qty)
        for r in RQ["join_skew_salted"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0).cast("long"))
        .otherwise(F.col("l_suppkey")).alias("skew_key"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("skew_key"), "s_nationkey"
    )
    dim = sup
    if sup.filter(F.col("skew_key") == 0).limit(1).count() == 0:
        dim = sup.unionByName(
            spark.createDataFrame(
                [(0, -1)], "skew_key long, s_nationkey long"
            )
        )
    want = {
        r.s_nationkey: (r.n, r.sum_qty)
        for r in fact.join(dim, "skew_key")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n"), F.sum("qty").alias("sum_qty"))
        .collect()
    }
    assert got == want


def test_url_blocklist_suffix_semantics(spark, sf_dir):
    """Suffix blocking: src3 hosts are blocked WITH their cdn
    subdomains; unblocked sources never flag; every doc appears
    exactly once."""
    rows = T.QUERIES["filter_url_blocklist"](spark, sf_dir).collect()
    seen = {}
    for r in rows:
        assert r.doc_id not in seen
        seen[r.doc_id] = r
        if r.host.endswith("src3.example.org") or r.host.endswith(
            "src7.example.org"
        ):
            assert r.blocked, r.host  # subdomains blocked too
        else:
            assert not r.blocked, r.host
    assert any(r.host.startswith("cdn.src3.") and r.blocked
               for r in rows)


def test_dedup_priority_one_keeper_per_cluster(spark, sf_dir):
    """Exactly one kept doc per cluster; the keeper has the cluster's
    max n_chars (ties -> smaller doc_id); non-keepers never beat it."""
    rows = T.QUERIES["corpus_dedup_priority"](spark, sf_dir).collect()
    assert rows
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m.keep]
        assert len(keepers) == 1, cid
        k = keepers[0]
        best = max(members, key=lambda m: (m.n_chars, -m.doc_id))
        assert (k.doc_id, k.n_chars) == (best.doc_id, best.n_chars)


def test_dedup_line_level_strips_boilerplate(spark, sf_dir):
    """Line-level dedup contract: every doc yields one row; the
    injected corpus-wide boilerplate header survives in EXACTLY one
    document (the canonical min-doc_id one) and is stripped everywhere
    else; kept lines are always a subset of the doc's original lines
    in original order."""
    from octospark.textops import _BOILER_LINE, _LINE_WORDS

    rows = T.QUERIES["dedup_line_level"](spark, sf_dir).collect()
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*), min(doc_id) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    assert len(rows) == n_docs[0]
    with_boiler = [r.doc_id for r in rows
                   if _BOILER_LINE in r.text_dedup.split("\n")]
    assert with_boiler == [n_docs[1]]  # canonical = min doc_id only
    texts = dict(duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall())
    for r in rows:
        # a fully-duplicated doc (exact copy of an earlier one) keeps 0
        assert 0 <= r.n_kept <= r.n_lines
        w = (texts[r.doc_id] or "").split(" ")
        orig = [_BOILER_LINE] + [
            " ".join(w[i:i + _LINE_WORDS])
            for i in range(0, len(w), _LINE_WORDS)
        ]
        assert r.n_lines == len(orig)
        kept = r.text_dedup.split("\n") if r.text_dedup else []
        # kept lines appear in the original, in order (subsequence)
        it = iter(orig)
        assert all(ln in it for ln in kept)


def test_zorder_locality_law(spark, sf_dir):
    """Z-order law: fixing the top 12 bits of the interleaved value
    pins bits >= 10 of BOTH dimensions, so every file's x_span and
    y_span are <= 1023 by construction — the property that makes
    min/max footer stats prune on either column. Also: files partition
    the table (counts sum to the full event count) and the z value
    matches a pure-Python Morton reference on a sample."""
    import duckdb

    rows = T.QUERIES["layout_zorder_cluster"](spark, sf_dir).collect()
    n_events = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    assert sum(r.n_events for r in rows) == n_events
    assert len(rows) > 1  # real spread, not one degenerate bucket
    for r in rows:
        assert 0 <= r.x_span <= 1023 and 0 <= r.y_span <= 1023
        assert r.x_max - r.x_min == r.x_span
        assert r.y_max - r.y_min == r.y_span

    # python Morton reference on a sample of events
    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    sample = duckdb.sql(
        f"SELECT event_id, hour(ts)*60+minute(ts) AS m "
        f"FROM '{sf_dir}/events.parquet' LIMIT 100"
    ).fetchall()
    file_of = {}
    for eid, m in sample:
        file_of.setdefault(morton(eid & 65535, m & 65535) >> 20, 0)
    assert set(file_of) <= {r.file_id for r in rows}


def test_link_census_flags_universal_nav(spark, sf_dir):
    """Link census law: hrefs present in EVERY template ('/privacy',
    '/terms', '/topics', '/sitemap') are linked from every host, so
    n_hosts == tot_hosts and the nav flag is on; '/deal1' exists only
    in the doc_id%6==1 template, so its in-link count is exactly that
    residue-class size; in-link counts sum to the full edge count."""
    import duckdb

    rows = {r.href: r for r in
            T.QUERIES["graph_link_census"](spark, sf_dir).collect()}
    n_docs, n_deal = duckdb.sql(
        f"SELECT count(*), count(*) FILTER (WHERE doc_id % 6 = 1) "
        f"FROM '{sf_dir}/documents.parquet'"
    ).fetchone()
    for universal in ["/privacy", "/terms", "/topics", "/sitemap"]:
        r = rows[universal]
        assert r.n_hosts == r.tot_hosts and r.is_nav_boilerplate
        assert r.n_inlinks == n_docs
    if n_deal:
        assert rows["/deal1"].n_inlinks == n_deal
    edges = T.QUERIES["extract_links"](spark, sf_dir).count()
    assert sum(r.n_inlinks for r in rows.values()) == edges


def test_boilerplate_census_finds_injected_header(spark, sf_dir):
    """Line census law: the injected header appears once per doc, so
    its row has df_docs == tot_docs == n_occurrences and the >= 5%
    flag on; every row clears the df >= 2 output bound; df never
    exceeds occurrences or tot_docs."""
    from octospark.textops import _BOILER_LINE

    rows = T.QUERIES["extract_boilerplate_census"](
        spark, sf_dir
    ).collect()
    by_ln = {r.ln: r for r in rows}
    hdr = by_ln[_BOILER_LINE]
    assert hdr.df_docs == hdr.tot_docs == hdr.n_occurrences
    assert hdr.is_boilerplate
    for r in rows:
        assert r.df_docs >= 2
        assert r.df_docs <= r.n_occurrences
        assert r.df_docs <= r.tot_docs
        assert 1 <= r.n_hosts <= r.df_docs


def test_upsample_epochs_exact_expansion(spark, sf_dir):
    """Upsampling laws: every doc appears exactly n_epochs times with
    epochs 1..n_epochs; the max-resource language gets exactly 1
    epoch; no language exceeds the cap of 4; n_epochs is the exact
    ceil-div of max_docs by lang_docs (capped)."""
    import duckdb
    from collections import Counter

    rows = T.QUERIES["corpus_upsample_epochs"](spark, sf_dir).collect()
    lang_docs = dict(duckdb.sql(
        f"SELECT lang, count(*) FROM '{sf_dir}/documents.parquet' "
        f"GROUP BY lang"
    ).fetchall())
    max_docs = max(lang_docs.values())
    per_doc = Counter()
    for r in rows:
        expect = min(4, -(-max_docs // lang_docs[r.lang]))
        assert r.n_epochs == expect
        assert 1 <= r.epoch <= r.n_epochs
        per_doc[r.doc_id] += 1
    for r in rows:
        assert per_doc[r.doc_id] == r.n_epochs
    assert all(1 <= n <= 4 for n in
               (min(4, -(-max_docs // v)) for v in lang_docs.values()))


def test_countmin_estimate_is_upper_bound_and_mostly_exact(spark):
    """CMS law: min-over-rows estimate can only over-count (est >=
    true for every key); with 97 keys in 4x512 buckets most keys are
    collision-free so est == true for the vast majority."""
    from octospark.sketchops import QUERIES as SQ

    rows = SQ["agg_sketch_countmin"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r.est_n >= r.true_n for r in rows)
    exact = sum(1 for r in rows if r.est_n == r.true_n)
    assert exact >= int(0.9 * len(rows))


def test_robots_filter_kept_urls_never_match_a_rule(spark):
    """Direct prefix-semantics law: no surviving url's path starts with
    a disallow rule of its host; and blocked docs actually exist."""
    kept = {
        r.doc_id
        for r in T.QUERIES["crawl_robots_filter"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source").collect()
    assert 0 < len(kept) < len(docs)
    for r in docs:
        path = f"/doc/{r.doc_id}"
        rules = ["/doc/1", "/doc/3"] if len(r.source) % 2 == 0 else ["/doc/1"]
        blocked = any(path.startswith(p) for p in rules)
        assert (r.doc_id in kept) == (not blocked)


def test_chunk_spans_cover_and_rebuild_documents(spark):
    """Chunk law: per doc, chunks tile the token range with the pinned
    stride/overlap, and stride-aligned reassembly reproduces the
    original text exactly."""
    out = T.QUERIES["text_chunk_spans"](spark, "/root/testdata/sf0.001")
    docs = {
        r.doc_id: (r.text or "")
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    by_doc: dict = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        words = docs[doc_id].split(" ")
        chunks.sort(key=lambda r: r.start_tok)
        assert [c.start_tok for c in chunks] == list(
            range(0, max(len(words), 1), 24)
        )
        for c in chunks:
            assert c.chunk_text == " ".join(words[c.start_tok:c.start_tok + 32])
            assert c.end_tok == min(c.start_tok + 32, len(words))
        # stride-aligned reassembly: first 24 tokens of each chunk +
        # the full tail of the last one
        rebuilt: list = []
        for c in chunks[:-1]:
            rebuilt.extend(c.chunk_text.split(" ")[:24])
        rebuilt.extend(chunks[-1].chunk_text.split(" "))
        assert " ".join(rebuilt) == docs[doc_id]


def test_semdedup_drops_every_injected_copy_and_keeps_originals(spark):
    """SemDeDup law: each injected exact copy (vec_id+10000) is dropped
    with its original as the dominating duplicate; originals are all
    kept (the synthetic embeddings have no natural >0.95 neighbors)."""
    rows = T.QUERIES["dedup_semantic_semdedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r.vec_id: r for r in rows}
    copies = [r for r in rows if r.vec_id >= 10000]
    assert copies
    for r in copies:
        assert r.kept is False and r.dup_of == r.vec_id - 10000
    originals = [r for r in rows if r.vec_id < 10000]
    assert all(r.kept for r in originals)
    # copies land in the same cell as their original (same vector)
    for r in copies:
        assert r.cell == by_id[r.vec_id - 10000].cell


def test_ann_recall_eval_agrees_with_the_two_legs(spark, sf_dir):
    """recall@5 must equal |ivf_top5 ∩ exact_top5| / 5 computed from
    the two registered legs directly, and the IVF scale path must keep
    recall >= 0.8 on the fixture."""
    import octospark.textops as T

    r = T.QUERIES["sim_ann_recall_eval"](spark, sf_dir).collect()[0]
    exact = {
        x.vec_id
        for x in T.QUERIES["sim_ann_topk"](spark, sf_dir).collect()
        if x.rank <= 5
    }
    approx = {
        x.vec_id for x in T.QUERIES["sim_ann_ivf"](spark, sf_dir).collect()
    }
    assert r.k == 5
    assert r.n_hits == len(approx & exact)
    assert r.recall_at_k == r.n_hits / 5
    assert r.recall_at_k >= 0.8


def test_scene_cut_matches_formula_and_never_drops():
    """Direct batch-body drive: cuts land exactly at the 255->0 wrap,
    clips without a wrap report zero cuts, and malformed/null blobs
    yield error rows instead of raising."""
    import pandas as pd

    from octospark.mediaops import (
        _SCENE_CUT_THRESHOLD,
        _fake_video_bytes,
        scene_cut_batches,
    )

    assert _SCENE_CUT_THRESHOLD < 255

    ids = [0, 17, 226, 240, 250, 254, 255, 300, 511]
    pdf = pd.DataFrame(
        {"doc_id": ids, "media": [_fake_video_bytes(i) for i in ids]}
    )
    out = pd.concat(list(scene_cut_batches(iter([pdf]))))
    saw_cut = saw_none = False
    for _, r in out.iterrows():
        doc_id = int(r.doc_id)
        n = 1 + doc_id % 30
        wrap = 255 - doc_id % 256
        want_cut = wrap <= n - 2
        assert r.error is None
        assert r.n_frames == n
        assert r.n_cuts == (1 if want_cut else 0)
        if want_cut:
            assert r.first_cut_frame == wrap
            saw_cut = True
        else:
            assert r.first_cut_frame is None or pd.isna(r.first_cut_frame)
            saw_none = True
    assert saw_cut and saw_none, "fixture ids must cover both classes"
    # adversarial: null blob, bad magic, truncated header
    bad = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "media": [None, b"XXXX\x00\x05junk", b"OV"],
        }
    )
    rows = pd.concat(list(scene_cut_batches(iter([bad]))))
    assert len(rows) == 3
    assert all(r.error is not None for _, r in rows.iterrows())


def test_tfidf_topk_matches_python_recount(spark, sf_dir):
    """Top-k rows per doc equal an exact Python fixed-point replay
    (score desc, word asc tie-break)."""
    from collections import Counter, defaultdict

    from octospark.sources import load_table
    from octospark.textops import _TFIDF_K, QUERIES

    docs = load_table(spark, sf_dir, "documents").collect()
    tf: dict = {}
    df: Counter = Counter()
    for d in docs:
        if d.text is None:
            continue
        c = Counter(d.text.split(" "))
        tf[d.doc_id] = c
        for w in c:
            df[w] += 1
    n = len(tf)
    want = {}
    for doc_id, c in tf.items():
        scored = [
            (float(t) * (float(n) / float(df[w])), w)
            for w, t in c.items()
        ]
        scored.sort(key=lambda sw: (-sw[0], sw[1]))
        want[doc_id] = [
            (w, s, i + 1) for i, (s, w) in enumerate(scored[:_TFIDF_K])
        ]
    out = defaultdict(list)
    for r in QUERIES["text_tfidf_topk"](spark, sf_dir).collect():
        out[r.doc_id].append((r.word, r.score, r.rnk))
    for doc_id, rows in out.items():
        rows.sort(key=lambda x: x[2])
        assert rows == want[doc_id], doc_id
    assert set(out) == set(want)


def test_hits_scores_match_python_fixed_point_replay(spark, sf_dir):
    """Exact Python replay of the 2-iteration fixed-point HITS on the
    same modular edge list: every node's hub/auth units must match
    bitwise, units stay in [0, 2^20], and each normalization's argmax
    sits exactly at 2^20."""
    import math
    from collections import defaultdict

    from octospark.sources import load_table
    from octospark.textops import _HITS_ITERS, _HITS_SHIFT, QUERIES

    docs = [
        d.doc_id for d in load_table(spark, sf_dir, "documents").collect()
    ]
    n = len(docs)
    edges = set()
    for d in docs:
        for dst in ((d * 17 + 1) % n, (d * 31 + 7) % n, (d + 1) % n):
            edges.add((d, dst))
    out_e = defaultdict(list)
    in_e = defaultdict(list)
    for s, t in edges:
        out_e[s].append(t)
        in_e[t].append(s)

    def norm(raw):
        m = max(raw.values())
        return {
            k: math.floor(float(v * _HITS_SHIFT) / m)
            for k, v in raw.items()
        }

    h = {d: 1 for d in docs}
    a = {}
    for _ in range(_HITS_ITERS):
        a = norm({
            t: sum(h[s] for s in in_e[t]) for t in in_e
        })
        h = norm({
            s: sum(a[t] for t in out_e[s] if t in a) for s in out_e
        })
    rows = QUERIES["graph_hits_scores"](spark, sf_dir).collect()
    assert len(rows) == n
    for r in rows:
        assert r.hub_units == h.get(r.node, 0)
        assert r.auth_units == a.get(r.node, 0)
        assert 0 <= r.hub_units <= _HITS_SHIFT
        assert 0 <= r.auth_units <= _HITS_SHIFT
    assert max(r.hub_units for r in rows) == _HITS_SHIFT
    assert max(r.auth_units for r in rows) == _HITS_SHIFT


def test_kmeans_step_matches_python_replay(spark, sf_dir):
    """Exact Python replay of the one-step k-means: same int8 codes,
    same encoded argmin tie-break, same integer centroid sums; every
    (cluster, dim) cell matches bitwise and cluster sizes sum to the
    corpus."""
    from collections import defaultdict

    from octospark.sources import load_table
    from octospark.textops import _KMEANS_DIM, _KMEANS_K, QUERIES

    vecs = {
        r.vec_id: _quantize_ref([float(x) for x in r.embedding])[1]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    cents = {j: vecs[j] for j in range(_KMEANS_K)}
    assign = {}
    for vid, q in vecs.items():
        best = min(
            sum((a - b) * (a - b) for a, b in zip(q, cents[j])) * _KMEANS_K
            + j
            for j in range(_KMEANS_K)
        )
        assign[vid] = best % _KMEANS_K
    sums = defaultdict(lambda: [0] * _KMEANS_DIM)
    counts = defaultdict(int)
    for vid, q in vecs.items():
        c = assign[vid]
        counts[c] += 1
        for d, code in enumerate(q):
            sums[c][d] += code
    rows = QUERIES["cluster_kmeans_step"](spark, sf_dir).collect()
    assert len(rows) == len(counts) * _KMEANS_DIM
    for r in rows:
        assert r.n_members == counts[r.cluster]
        assert r.code_sum == sums[r.cluster][r.dim]
        assert r.centroid == sums[r.cluster][r.dim] / counts[r.cluster]
    assert sum(counts.values()) == len(vecs)


def test_audio_vad_segments_match_replay_and_never_drop():
    """Direct batch-body drive: segment counts match a per-sample
    Python replay of the gate+transition logic, and malformed/null
    blobs yield error rows instead of raising."""
    import pandas as pd

    from octospark.mediaops import (
        _VAD_THRESHOLD,
        _fake_audio_bytes,
        audio_vad_batches,
    )

    ids = [0, 1, 7, 42, 100, 191, 255, 300]
    pdf = pd.DataFrame(
        {"doc_id": ids, "media": [_fake_audio_bytes(i) for i in ids]}
    )
    out = pd.concat(list(audio_vad_batches(iter([pdf]))))
    for _, r in out.iterrows():
        doc_id = int(r.doc_id)
        n = 64 + doc_id % 192
        samples = [(doc_id * 3 + 5 * i) % 256 for i in range(n)]
        act = [v >= _VAD_THRESHOLD for v in samples]
        segs = int(act[0]) + sum(
            1 for i in range(1, n) if act[i] and not act[i - 1]
        )
        assert r.error is None
        assert r.n_samples == n
        assert r.n_active == sum(act)
        assert r.n_segments == segs
        assert r.n_segments >= 1  # every sawtooth period crosses the gate
    bad = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "media": [
                None, b"XXXX\x00\x05junk", b"OA",
                # valid magic, header says 200 samples, only 10 present
                b"OAUD" + (200).to_bytes(2, "big") + bytes(10),
            ],
        }
    )
    rows = pd.concat(list(audio_vad_batches(iter([bad]))))
    assert len(rows) == 4 and all(
        r.error is not None for _, r in rows.iterrows()
    )


def test_bigram_lm_matches_recount_and_probability_laws(spark, sf_dir):
    """Pair and context counts equal a Python recount; p_cond is the
    single division; per-context kept probability mass never exceeds
    1; support threshold enforced."""
    from collections import Counter

    from octospark.sources import load_table
    from octospark.textops import _BIGRAM_MIN_COUNT, QUERIES

    docs = load_table(spark, sf_dir, "documents").collect()
    pairs: Counter = Counter()
    for d in docs:
        if d.text is None:
            continue
        ws = d.text.split(" ")
        for i in range(len(ws) - 1):
            pairs[(ws[i], ws[i + 1])] += 1
    ctx: Counter = Counter()
    for (w1, _), n in pairs.items():
        ctx[w1] += n
    rows = QUERIES["text_bigram_lm"](spark, sf_dir).collect()
    want_kept = {k for k, n in pairs.items() if n >= _BIGRAM_MIN_COUNT}
    assert {(r.w1, r.w2) for r in rows} == want_kept
    mass: dict = {}
    for r in rows:
        assert r.pair_n == pairs[(r.w1, r.w2)]
        assert r.ctx_n == ctx[r.w1]
        assert r.p_cond == r.pair_n / r.ctx_n
        mass[r.w1] = mass.get(r.w1, 0.0) + r.p_cond
    assert mass and all(m <= 1.0 + 1e-12 for m in mass.values())


def test_hashed_ngram_features_match_recount_and_conservation(
    spark, sf_dir
):
    """Bucket counts equal a Python recount of the polynomial char
    hash; per-doc total count equals len(text) - 2 (every trigram
    lands in exactly one bucket)."""
    from collections import defaultdict

    from octospark.sources import load_table
    from octospark.textops import _FEAT_BUCKETS, QUERIES

    docs = load_table(spark, sf_dir, "documents").collect()
    want: dict = defaultdict(lambda: defaultdict(int))
    for d in docs:
        t = d.text
        if t is None:
            continue
        for i in range(len(t) - 2):
            g = t[i : i + 3]
            b = (
                ord(g[0]) * 961 + ord(g[1]) * 31 + ord(g[2])
            ) % _FEAT_BUCKETS
            want[d.doc_id][b] += 1
    rows = QUERIES["text_hashed_ngram_features"](spark, sf_dir).collect()
    got: dict = defaultdict(dict)
    for r in rows:
        got[r.doc_id][r.bucket] = r.n
    assert {k: dict(v) for k, v in want.items() if v} == dict(got)
    for d in docs:
        if d.text and len(d.text) >= 3:
            assert sum(got[d.doc_id].values()) == len(d.text) - 2


def test_margin_mining_matches_replay_and_margin_floor(spark, sf_dir):
    """Exact Python replay of the margin criterion (sequential-fold
    dots, rank-order cosine sum): every row matches bitwise, margin is
    always >= 1 (best cosine cannot be below the top-k mean), and the
    accepted flag equals the threshold comparison."""
    from octospark.sources import load_table
    from octospark.textops import (
        _MARGIN_K,
        _MARGIN_THRESHOLD,
        QUERIES,
    )

    emb = load_table(spark, sf_dir, "embeddings").collect()

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    pool = {
        lbl: [
            (r.vec_id, [float(x) for x in r.embedding])
            for r in emb
            if r.label == lbl
        ]
        for lbl in (0, 1)
    }
    import math

    norms = {
        vid: math.sqrt(fold_dot(v, v))
        for lbl in pool
        for vid, v in pool[lbl]
    }
    want = {}
    for a_id, av in pool[0]:
        cands = sorted(
            (
                (
                    -(fold_dot(av, bv) / (norms[a_id] * norms[b_id])),
                    b_id,
                )
                for b_id, bv in pool[1]
            ),
        )[:_MARGIN_K]
        cl = [-c for c, _ in cands]
        acc = 0.0
        for c in cl:
            acc = acc + c
        margin = cl[0] / (acc / float(len(cl)))
        want[a_id] = (cands[0][1], cl[0], margin)
    rows = QUERIES["sim_margin_bitext_mining"](spark, sf_dir).collect()
    assert {r.src_id for r in rows} == set(want)
    for r in rows:
        bt, cb, mg = want[r.src_id]
        assert (r.best_tgt, r.cos_best, r.margin) == (bt, cb, mg)
        assert r.margin >= 1.0 - 1e-12
        assert r.accepted == (r.margin >= _MARGIN_THRESHOLD)


def test_langid_eval_matrix_is_consistent_with_both_legs(spark, sf_dir):
    """Composition integrity: the confusion matrix equals the join of
    the registered text_langid output with the gold lang column, and
    its cells sum to the doc count."""
    from collections import Counter

    from octospark.sources import load_table
    from octospark.textops import QUERIES

    gold = {
        d.doc_id: d.lang
        for d in load_table(spark, sf_dir, "documents").collect()
    }
    pred = {
        r.doc_id: r.langid
        for r in QUERIES["text_langid"](spark, sf_dir).collect()
    }
    want = Counter((gold[i], pred[i]) for i in gold)
    rows = QUERIES["text_langid_eval"](spark, sf_dir).collect()
    assert {(r.actual, r.predicted): r.n for r in rows} == dict(want)
    assert sum(r.n for r in rows) == len(gold)


def test_host_coverage_curve_laws(spark, sf_dir):
    """Ranks are dense 1..n_hosts, bytes non-increasing with rank,
    cum_share strictly increasing to exactly 1.0, and per-host bytes
    recount from the documents table."""
    from collections import defaultdict

    from octospark.sources import load_table
    from octospark.textops import QUERIES

    per_host: dict = defaultdict(int)
    for d in load_table(spark, sf_dir, "documents").collect():
        per_host[d.source] += d.n_chars
    rows = sorted(
        QUERIES["corpus_host_coverage_curve"](spark, sf_dir).collect(),
        key=lambda r: r.host_rank,
    )
    assert [r.host_rank for r in rows] == list(range(1, len(per_host) + 1))
    total = sum(per_host.values())
    cum = 0
    prev_bytes = None
    for r in rows:
        assert r.n_chars == per_host[r.source]
        if prev_bytes is not None:
            assert r.n_chars <= prev_bytes
        prev_bytes = r.n_chars
        cum += r.n_chars
        assert r.cum_share == cum / total
    assert rows[-1].cum_share == 1.0


def test_ngram_novelty_matches_recount_and_first_doc_law(spark, sf_dir):
    """Novelty equals a Python recount of first-appearance shingles;
    the lowest doc_id with text has novelty 1.0 (everything it says is
    new); counts are over DISTINCT shingles."""
    from octospark.sources import load_table
    from octospark.textops import QUERIES

    docs = sorted(
        (
            (d.doc_id, d.text)
            for d in load_table(spark, sf_dir, "documents").collect()
            if d.text is not None
        )
    )
    firsts: dict = {}
    per_doc: dict = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        sh = {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }
        per_doc[doc_id] = sh
        for g in sh:
            firsts.setdefault(g, doc_id)
    rows = QUERIES["text_ngram_novelty"](spark, sf_dir).collect()
    got = {r.doc_id: r for r in rows}
    want_ids = {d for d, sh in per_doc.items() if sh}
    assert set(got) == want_ids
    for doc_id, sh in per_doc.items():
        if not sh:
            continue
        novel = sum(1 for g in sh if firsts[g] == doc_id)
        r = got[doc_id]
        assert r.n_shingles == len(sh)
        assert r.n_novel == novel
        assert r.novelty == novel / len(sh)
    first_doc = min(want_ids)
    assert got[first_doc].novelty == 1.0


def test_triangle_count_matches_python_enumeration(spark, sf_dir):
    """Per-node triangle counts equal a brute-force Python enumeration
    over the same canonical edge set, and the ring-chord construction
    guarantees a non-trivial triangle count."""
    from collections import defaultdict
    from itertools import combinations

    from octospark.sources import load_table
    from octospark.textops import QUERIES

    ids = [
        d.doc_id for d in load_table(spark, sf_dir, "documents").collect()
    ]
    n = len(ids)
    und = set()
    for i in ids:
        for j in (
            (i * 17 + 1) % n, (i * 31 + 7) % n, (i + 1) % n, (i + 2) % n
        ):
            if i != j:
                und.add((min(i, j), max(i, j)))
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    count = defaultdict(int)
    total = 0
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c exactly once
                count[a] += 1
                count[b] += 1
                count[c] += 1
                total += 1
    rows = QUERIES["graph_triangle_count"](spark, sf_dir).collect()
    assert len(rows) == n
    assert total > 0
    for r in rows:
        assert r.n_triangles == count.get(r.node, 0)


def test_reciprocal_links_match_python_recount(spark, sf_dir):
    """Out-degree, mutual count, and reciprocity match a Python
    recount over the same canonical edge set; mutual edges exist
    (the i->i+1 / i+1->i+2... affine maps produce some 2-cycles at
    fixture n or the count is legitimately zero — the law pins
    equality either way)."""
    from collections import defaultdict

    from octospark.sources import load_table
    from octospark.textops import QUERIES

    ids = [
        d.doc_id for d in load_table(spark, sf_dir, "documents").collect()
    ]
    n = len(ids)
    edges = set()
    for i in ids:
        for j in ((i * 17 + 1) % n, (i * 31 + 7) % n, (i + 1) % n):
            if i != j:
                edges.add((i, j))
    out_deg = defaultdict(int)
    n_rec = defaultdict(int)
    for s, t in edges:
        out_deg[s] += 1
        if (t, s) in edges:
            n_rec[s] += 1
    rows = QUERIES["graph_reciprocal_links"](spark, sf_dir).collect()
    assert {r.node for r in rows} == set(out_deg)
    for r in rows:
        assert r.out_deg == out_deg[r.node]
        assert r.n_reciprocal == n_rec.get(r.node, 0)
        assert r.reciprocity == n_rec.get(r.node, 0) / out_deg[r.node]


def test_vocab_growth_monotone_and_recounts(spark, sf_dir):
    """Vocab and token counts at every threshold match a Python
    recount; both are monotone non-decreasing in k; the final
    threshold covers the whole fixture corpus."""
    from octospark.sources import load_table
    from octospark.textops import _VOCAB_THRESHOLDS, QUERIES

    docs = [
        (d.doc_id, d.text)
        for d in load_table(spark, sf_dir, "documents").collect()
        if d.text is not None
    ]
    rows = sorted(
        QUERIES["corpus_vocab_growth"](spark, sf_dir).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == sorted(_VOCAB_THRESHOLDS)
    prev_v = prev_t = -1
    for r in rows:
        vocab = set()
        toks = 0
        for doc_id, text in docs:
            if doc_id < r.k:
                ws = text.split(" ")
                toks += len(ws)
                vocab.update(ws)
        assert r.cum_tokens == toks
        assert r.vocab_size == len(vocab)
        assert r.vocab_size >= prev_v and r.cum_tokens >= prev_t
        prev_v, prev_t = r.vocab_size, r.cum_tokens
    all_vocab = set()
    for doc_id, text in docs:
        all_vocab.update(text.split(" "))
    assert rows[-1].vocab_size == len(all_vocab)


def test_image_phash_replay_law_and_pigeonhole_recall(spark, sf_dir):
    """Full pure-Python replay of the phash pipeline (ramp pixels ->
    8x9 grid dHash -> 4 bands -> capped buckets -> Hamming<=3 pairs)
    must equal the registered key's output exactly; and the pigeonhole
    completeness law: every un-truncated pair within Hamming 3 shares
    a band, so none can be missed."""
    import numpy as np

    ids = [
        int(r.doc_id)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]

    def bands_of(doc_id: int):
        w, h = 16 + doc_id % 48, 16 + (doc_id * 7) % 32
        base, xstep, ystep = doc_id % 256, 1 + doc_id % 97, doc_id % 5
        px = (
            base
            + np.arange(w)[None, :] * xstep
            + np.arange(h)[:, None] * ystep
        ) % 256
        g = px[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
        bits = (g[:, 1:] > g[:, :-1]).astype(np.int64)
        return tuple(
            int((bits[2 * k : 2 * k + 2].reshape(-1)
                 << np.arange(16)).sum())
            for k in range(4)
        )

    H = {d: bands_of(d) for d in ids}
    buckets: dict = {}
    for d in sorted(ids):
        for bi in range(4):
            buckets.setdefault((bi, H[d][bi]), []).append(d)
    want = set()
    for mem in buckets.values():
        mem = mem[: M._PHASH_CAP]
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                a, b = mem[i], mem[j]
                ham = sum(
                    bin(x ^ y).count("1") for x, y in zip(H[a], H[b])
                )
                if ham <= M._PHASH_HAM_T:
                    want.add((a, b, ham))

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in QUERIES["dedup_image_phash"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0
    # pigeonhole: with no truncated buckets at this sf, EVERY pair
    # within Hamming<=3 anywhere in the corpus must have been found
    assert all(len(m) <= M._PHASH_CAP for m in buckets.values())
    ids_sorted = sorted(ids)
    for ai in range(0, len(ids_sorted), 17):  # sampled full scan
        a = ids_sorted[ai]
        for b in ids_sorted[ai + 1 :: 13]:
            ham = sum(
                bin(x ^ y).count("1") for x, y in zip(H[a], H[b])
            )
            if ham <= M._PHASH_HAM_T:
                assert (a, b, ham) in got, (a, b, ham)


def test_bpe_merges_match_sequential_trainer_and_drop_fertility(
    spark, sf_dir
):
    """The distributed 3-round BPE output must equal a sequential
    pure-Python BPE trainer's merges exactly (greedy left-to-right,
    count-then-lexicographic argmax), and applying each learned merge
    must strictly drop corpus fertility (weighted symbols per word)."""
    from collections import Counter

    import octospark.textops as T

    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
        if r.text is not None
    ]
    vocab = Counter(w for t in texts for w in t.split(" ") if w)
    syms = {w: list(w) for w in vocab}
    total0 = sum(len(s) * vocab[w] for w, s in syms.items())
    want, totals = [], [total0]
    for rnd in range(1, T._BPE_ROUNDS + 1):
        pc = Counter()
        for w, wt in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += wt
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, l, r, cnt))
        for w in vocab:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
        totals.append(sum(len(s) * vocab[w] for w, s in syms.items()))

    got = sorted(
        (r.round, r.merge_left, r.merge_right, r.pair_count)
        for r in T.QUERIES["text_bpe_merges"](spark, sf_dir).collect()
    )
    assert got == want
    # fertility-drop law: every merge round shrinks the weighted
    # symbol count (each application removes exactly one symbol)
    assert all(b < a for a, b in zip(totals, totals[1:])), totals


def test_bpe_apply_prices_docs_like_sequential_encoder(spark, sf_dir):
    """text_bpe_apply must price every document exactly as a sequential
    encoder that learns the same 3 merges and re-segments each word:
    n_words, n_tokens, and integer-micro fertility all bitwise-equal,
    and fertility_micro <= 1e6 * max word length always."""
    from collections import Counter

    import octospark.textops as T

    docs = [
        (r.doc_id, r.text)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
        if r.text is not None
    ]
    vocab = Counter(w for _, t in docs for w in t.split(" ") if w)
    syms = {w: list(w) for w in vocab}
    for _ in range(T._BPE_ROUNDS):
        pc = Counter()
        for w, wt in vocab.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += wt
        (l, r), _cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        for w in vocab:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    want = {}
    for doc_id, t in docs:
        ws = [w for w in t.split(" ") if w]
        if not ws:
            continue
        n_words = len(ws)
        n_tokens = sum(len(syms[w]) for w in ws)
        want[doc_id] = (n_words, n_tokens, n_tokens * 1000000 // n_words)

    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.fertility_micro)
        for r in T.QUERIES["text_bpe_apply"](spark, sf_dir).collect()
    }
    assert got == want
    assert all(
        f <= 1000000 * max(len(w) for w in vocab) for _, _, f in got.values()
    )


def test_ocr_lines_replay_law(spark, sf_dir):
    """Pure-Python replay of the OCR flow (striped page -> projection
    profile runs -> per-cell ink-sum recognition) must equal the
    registered key exactly: boxes, reading order, and text."""
    ids = [
        int(r.doc_id)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .collect()
    ]
    want = set()
    for d in ids:
        w, lh, g, nl = (
            24 + d % 40, 3 + d % 4, 2 + d % 3, 3 + d % 6,
        )
        nc = w // M._OCR_CW
        for k in range(nl):
            y0 = g + k * (lh + g)
            text = "".join(
                chr(65 + (lh * sum(
                    (d + c * 8 + x) % 96 for x in range(8)
                )) % 26)
                for c in range(nc)
            )
            want.add((d, k, y0, y0 + lh, text, nc))
    got = {
        (r.doc_id, r.line_idx, r.y0, r.y1, r.text, r.n_chars)
        for r in QUERIES["multimodal_ocr_lines"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    assert len(got) > 0

