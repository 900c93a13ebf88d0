"""Physical-plan quality gates (SURVEY.md §4): the optimizations the
north rule cares about must be visible in `.explain` output —
projection pruning at the scan, predicate pushdown, broadcast vs
sort-merge join selection, exactly one scan in the fused pipeline,
partial aggregation."""

from __future__ import annotations

import pytest

from octospark.relational import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_projection_pruning_reaches_scan(spark):
    df = QUERIES["scan_projection_pushdown"](spark, SF)
    plan = plan_of(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_filter_pushdown_reaches_scan(spark):
    df = QUERIES["filter_predicate"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,45.0)" in plan


def test_broadcast_join_is_broadcast(spark):
    plan = plan_of(QUERIES["join_broadcast_inner"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_sortmerge_join_is_sortmerge(spark):
    plan = plan_of(QUERIES["join_sortmerge_inner"](spark, SF))
    assert "SortMergeJoin" in plan


def test_groupby_has_partial_aggregation(spark):
    plan = plan_of(QUERIES["agg_hash_groupby"](spark, SF))
    # map-side combine: a partial HashAggregate below the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_fused_extraction_single_scan_and_pruned(spark, tmp_path):
    from octospark.pipeline import extract_pages
    from octospark.sources import build_pages

    p = str(tmp_path / "pages")
    build_pages(spark, SF).write.parquet(p)
    pages = spark.read.parquet(p)
    ext = extract_pages(pages, salted=True, num_partitions=4)
    plan = plan_of(ext)
    # size guard inside the UDF: exactly ONE parquet scan feeds it
    assert plan.count("Scan parquet") == 1
    # golden text column pruned before the UDF (html needed, text not)
    assert "text" not in plan.split("ReadSchema:")[-1].split("\n")[0]


def test_segment_blocks_scan_prunes_golden_text(spark, tmp_path):
    from octospark.pipeline import segment

    from octospark.sources import build_pages

    p = str(tmp_path / "pages2")
    build_pages(spark, SF).write.parquet(p)
    pages = spark.read.parquet(p)
    plan = plan_of(segment(pages))
    read_schema = plan.split("ReadSchema:")[-1].split("\n")[0]
    assert "html" in read_schema
    assert "text" not in read_schema and "lang" not in read_schema


def test_classify_is_jvm_expressions(spark, pages):
    from octospark.pipeline import classify, segment

    labeled = classify(segment(pages.limit(50)))
    plan = plan_of(labeled)
    # stage-2 classification must be JVM Project/Window expressions —
    # the ONLY Python node in the plan is the stage-1 segmenter
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert plan.count("MapInPandas") == 2  # pages gen + segmenter only
    head = plan.split("MapInPandas")[0]
    assert "Project" in head and "Window" in head
    assert "CASE WHEN" in head  # the classifier cascade, codegen-able


def test_semi_anti_joins_plan_shapes(spark):
    semi = plan_of(QUERIES["join_left_semi"](spark, SF))
    anti = plan_of(QUERIES["join_left_anti"](spark, SF))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_full_outer_join_plan(spark):
    plan = plan_of(QUERIES["join_full_outer"](spark, SF))
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan  # full outer can't broadcast


def test_pivot_has_partial_aggregation(spark):
    plan = plan_of(QUERIES["agg_pivot"](spark, SF))
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_unpivot_is_expand_no_shuffle(spark):
    """unpivot must lower to Expand (row generation inside the scan
    stage), never a union of N scans or a shuffle."""
    df = QUERIES["unpivot_melt"](spark, SF)
    plan = plan_of(df)
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1
    assert "Exchange" not in plan


def test_url_parse_stays_in_codegen(spark):
    plan = plan_of(QUERIES["scalar_url_parse"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "*(" in plan  # '*' prefix = whole-stage-codegen span


def test_ann_topk_is_take_ordered_not_global_window(spark):
    """The final top-k must plan as TakeOrderedAndProject (distributed
    per-partition top-k + k-row merge), never a partitionless window
    sort of the full scored scan — the 10^12-row scale-killer."""
    from octospark.textops import QUERIES as TQ

    for key in ("sim_ann_topk", "sim_ann_lsh_bucketed", "sim_ann_ivf",
                "sim_ann_topk_int8"):
        plan = plan_of(TQ[key](spark, SF))
        assert "TakeOrderedAndProject" in plan, key
        # the only Window in the plan runs over the k-row limited input
        # (rank assignment), downstream of TakeOrderedAndProject
        assert plan.index("Window") < plan.index("TakeOrderedAndProject"), key


def test_url_canonicalize_is_jvm_only(spark):
    from octospark.textops import QUERIES as TQ

    plan = plan_of(TQ["dedup_url_canonicalize"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # canonicalization is map-side; the groupBy is the only exchange
    assert plan.count("Exchange") == 1


def test_ngram_profile_take_ordered(spark):
    from octospark.textops import QUERIES as TQ

    plan = plan_of(TQ["text_ngram_profile"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_grouping_sets_single_aggregation(spark):
    plan = plan_of(QUERIES["agg_grouping_sets"](spark, SF))
    # Expand feeds ONE aggregation pair (partial+final), not one agg
    # per grouping set
    assert "Expand" in plan
    assert "partial_" in plan


def test_pii_mask_stays_in_codegen(spark):
    from octospark.textops import QUERIES as TQ

    plan = plan_of(TQ["text_pii_mask"](spark, SF))
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "*(" in plan


def test_topk_batch_window_is_partitioned(spark):
    """Per-query top-k must hash-partition on qid — a partitionless
    window here would serialize all queries into one sort."""
    from octospark.textops import QUERIES as TQ

    plan = plan_of(TQ["sim_ann_topk_batch"](spark, SF))
    assert "hashpartitioning(qid" in plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Co-located join via bucketing — the 100 TB fact-fact pattern:
    both sides bucketed by the join key into the same bucket count join
    with ZERO exchanges (each bucket pair joins in place). This is the
    strategy the engine relies on for repeated large joins; at scale the
    bucketed write is amortized across every later join."""
    import pyspark.sql.functions as F

    from octospark.sources import load_table

    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    load_table(spark, SF, "lineitem").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable("li_bucketed")
    load_table(spark, SF, "orders").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable("ord_bucketed")
    try:
        li = spark.table("li_bucketed")
        o = spark.table("ord_bucketed").hint("merge")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_custkey", "l_quantity"
        )
        plan = plan_of(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # sanity: same row count as the shuffled join
        n_shuffled = (
            load_table(spark, SF, "lineitem")
            .join(
                load_table(spark, SF, "orders"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .count()
        )
        assert j.count() == n_shuffled
    finally:
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_format_source_staging_is_idempotent(spark):
    """The CSV/JSON staging writes once and reuses (idempotent _SUCCESS
    check), and both readers reproduce the parquet rows exactly."""
    import os

    from octospark.sources import (
        load_table, read_csv_table, read_json_table, stage_format_copy,
    )

    dest = stage_format_copy(spark, SF, "nation", "csv")
    mtime = os.path.getmtime(os.path.join(dest, "_SUCCESS"))
    assert stage_format_copy(spark, SF, "nation", "csv") == dest
    assert os.path.getmtime(os.path.join(dest, "_SUCCESS")) == mtime

    want = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in load_table(spark, SF, "nation").collect()
    }
    got_csv = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in read_csv_table(
            spark, SF, "nation",
            "n_nationkey long, n_name string, n_regionkey long",
        ).select("n_nationkey", "n_name", "n_regionkey").collect()
    }
    got_json = {
        (r.r_regionkey, r.r_name)
        for r in read_json_table(
            spark, SF, "region", "r_regionkey long, r_name string"
        ).collect()
    }
    want_region = {
        (r.r_regionkey, r.r_name)
        for r in load_table(spark, SF, "region").collect()
    }
    assert got_csv == want
    assert got_json == want_region

    # name-bound (not positional) CSV schema: requesting columns in a
    # different order than the file still yields the right values, and an
    # unknown column fails loudly instead of silently misbinding
    reordered = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in read_csv_table(
            spark, SF, "nation",
            "n_regionkey long, n_name string, n_nationkey long",
        ).collect()
    }
    assert reordered == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in nation"):
        read_csv_table(spark, SF, "nation", "no_such_col long")


@pytest.fixture(scope="module")
def surface_plans(spark):
    """{key: its executed-plan string, or the exception building it
    raised} over the whole queries() surface. Building a plan runs the
    key's eager actions (iterative keys checkpoint as they go), so the
    full-surface checks below share one build."""
    import __spark_entry__ as entrymod

    plans = {}
    for name, fn in entrymod.queries().items():
        try:
            plans[name] = plan_of(fn(spark, SF))
        except Exception as exc:  # raised again by every reader
            plans[name] = exc
    return plans


def test_every_query_plan_is_free_of_antipatterns(surface_plans):
    """Sweep the ENTIRE queries() surface and reject scale anti-patterns
    in each physical plan:
    - row-at-a-time Python (BatchEvalPython) anywhere;
    - Arrow-batched Python (MapInPandas) outside the keys whose
      semantics require it (DOM walk, multimodal codecs, pages synth);
    - partitionless window sorts outside the keys where a global rank
      is semantically inherent and documented (ntile/percent_rank) or
      where the window input is k rows post-TakeOrdered (ANN rank
      assignment);
    - CartesianProduct outside explicitly-bounded broadcast cross joins.
    """
    ALLOW_PYTHON = {
        "udf_map_in_pandas", "udf_pandas_scalar", "udf_grouped_apply",
        "multimodal_meta", "multimodal_decode", "multimodal_resize",
        "multimodal_frame_sample", "multimodal_audio_stats",
        "multimodal_scene_cut", "multimodal_audio_vad",
        "dedup_image_phash",  # decode+dHash is the one Python stage
        # decode + np.bincount is the one Python stage (same ramp-OIMG
        # codec class as dedup_image_phash)
        "multimodal_image_histogram",
        # pyarrow FOOTER parse over binaryFile rows is the one Python
        # stage (no parquet-metadata reader in Spark SQL builtins);
        # table_clustering_depth composes the same pass
        "scan_parquet_rowgroup_stats", "table_clustering_depth",
        # decode + line-band segmentation + cell-ink recognition is the
        # one Python stage (same OIMG codec class as dedup_image_phash)
        "multimodal_ocr_lines",
        # PDF synthesis + tolerant content-stream parse are inherently
        # Python (no PDF support in Spark/JVM builtins)
        "extract_pdf_layout", "pdf_layout_blocks",
        # WARC gzip-member parse is inherently Python (binaryFile rows)
        "scan_warc",
        # same WARC parse, header-identity surface
        "scan_warc_record_ids",
        # page synthesis (build_pages) is the only Python stage here;
        # the href/title pulls themselves are JVM regexp_extract
        "extract_links", "extract_page_title",
        "crawl_frontier",  # consumes extract_links' synthesized pages
        "graph_link_census",  # same synthesized-pages scan as extract_links
        # same synthesized-pages scan; the tag/field pulls are JVM regexp
        "link_anchor_text", "extract_table_fields",
        "extract_headings_outline",
        # the flagship DOM-walk extraction, as an oracle-checked key
        "extract_main_content",
        # full-pipeline regression gate: runs extract_pages (the one
        # Python stage) against the synthesized golden text
        "extract_regression_check",
        # same full-pipeline gate, offsets half
        "extract_spans_consistency_check",
    }
    ALLOW_GLOBAL_WINDOW = {
        "window_ntile_percent",  # global rank semantically inherent
        # ANN keys: the partitionless window ranks only the k rows that
        # survive TakeOrderedAndProject (asserted separately)
        "sim_ann_topk", "sim_ann_lsh_bucketed", "sim_ann_ivf",
        "sim_ann_topk_int8",
        # rank assignment over the k rows surviving TakeOrdered —
        # identical class to the ANN keys above
        "agg_reservoir_sample",
        # global window over the collapsed HOST aggregate (bounded by
        # n_hosts, never the doc count) — the documented exception
        # class; see the key's docstring
        "corpus_host_coverage_curve",
        # same exception class: cumulative-users running sum over the
        # collapsed per-DAY rollup (bounded by the calendar, never the
        # event count); see the key's docstring
        "events_new_vs_returning",
        # same exception class: cumulative-traffic running sum over
        # the collapsed per-USER rollup (bounded by user cardinality,
        # never the event count); see the key's docstring
        "events_power_pareto",
        # same exception class: descending at-risk running sum over
        # the collapsed lifetime HISTOGRAM (bounded by the observation
        # window in hours, never the event count); see the key's
        # docstring
        "events_survival_curve",
        # same exception class: top-k rank over the collapsed path
        # CENSUS (bounded by |event_types|^3, never the event count);
        # see the key's docstring
        "events_top_paths",
        # detector false positive, not a global window: the plan's
        # Exchange SinglePartition feeds the SCALAR corpus-count N
        # (one row, broadcast back); the Window node itself is
        # partitioned by doc_id (asserted in
        # test_tfidf_window_is_doc_partitioned)
        "text_tfidf_topk",
        # same false-positive class as text_tfidf_topk: the
        # SinglePartition exchange feeds the scalar token total N
        # (aggregation states of the vocab table, one row broadcast
        # back); the Window is partitioned by doc_id (asserted in
        # test_pmi_window_is_doc_partitioned)
        "text_cooccurrence_pmi",
        # exact equi-height boundaries ARE a global sort — the
        # documented honest cost of the offline ANALYZE job; the
        # production swap (approx_percentile + width_bucket, no
        # global sort) is documented in the key's docstring
        "table_analyze_equiheight",
    }
    ALLOW_CARTESIAN = set()
    failures = []
    for name, plan in surface_plans.items():
        if isinstance(plan, Exception):
            raise plan
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if "MapInPandas" in plan and name not in ALLOW_PYTHON:
            failures.append(f"{name}: unexpected Python stage")
        if "CartesianProduct" in plan and name not in ALLOW_CARTESIAN:
            failures.append(f"{name}: cartesian product")
        # partitionless running window: requires funneling everything
        # through Exchange SinglePartition into a Window node
        if (
            name not in ALLOW_GLOBAL_WINDOW
            and "Exchange SinglePartition" in plan
            and "Window [" in plan
        ):
            failures.append(f"{name}: partitionless window (single-"
                            f"partition exchange feeding a window)")
    assert not failures, failures


def test_global_window_detector_is_not_vacuous(spark):
    """The anti-pattern sweep's global-window signature must actually
    fire on a known partitionless window (ntile over the whole table)."""
    plan = plan_of(QUERIES["window_ntile_percent"](spark, SF))
    assert "Exchange SinglePartition" in plan and "Window [" in plan


def test_quantile_sketch_partial_agg_plan(spark):
    """agg_quantile_sketch must plan as a partial+final sketch
    aggregation (map-side combine of bounded GK summaries) shuffled by
    the group key — no Window, no global sort, no row-carrying
    SinglePartition exchange."""
    plan = plan_of(QUERIES["agg_quantile_sketch"](spark, SF))
    assert "partial_percentile_approx" in plan
    assert "Window [" not in plan
    assert "rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_quartile_assign_scale_plan(spark):
    """agg_quartile_assign is the documented scale alternative to
    window_ntile_percent (VERDICT r2 #3): its plan must contain NO
    Window node and NO global range sort — every row is assigned by
    broadcast-joined cutoffs, and the only SinglePartition exchange
    merges per-partition aggregation states, never rows."""
    plan = plan_of(QUERIES["agg_quartile_assign"](spark, SF))
    assert "Window [" not in plan
    assert "rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_orc_scan_is_columnar_and_pruned(spark):
    """The ORC reader gets the same scan-level optimizations as
    parquet: vectorized batch read, projection pruned to the four
    requested columns."""
    plan = plan_of(QUERIES["scan_orc_columnar"](spark, SF))
    assert "Format: ORC" in plan
    assert "Batched: true" in plan
    assert (
        "ReadSchema: struct<s_suppkey:bigint,s_name:string,"
        "s_nationkey:int,s_acctbal:double>" in plan
    )


def test_bloom_semi_join_prunes_before_shuffle(spark):
    """join_bloom_filter_semi must plan the bitmap probe against the
    fact scan BEFORE any exchange (map-side pruning: the broadcast
    nested-loop join carrying the 1-row bitmap and the element_at/
    bitwise filter both sit below the first Exchange), build the bitmap
    with a partial bit_or aggregate, and still contain the exact
    semi-join that removes the bloom's false positives."""
    import octospark.relational as rel

    plan = plan_of(rel.QUERIES["join_bloom_filter_semi"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # width-1 bitmap row
    assert "element_at" in plan  # O(1) bitmap probe, pure JVM
    assert "bit_or" in plan  # partial-aggregated bitmap build
    assert "LeftSemi" in plan  # exact false-positive removal
    assert "CartesianProduct" not in plan


def test_partitioned_scan_prunes_partitions(spark):
    """The partition-key predicate must resolve against directory
    names (PartitionFilters) so non-matching partitions' files are
    never opened — metadata pruning, not per-file data filtering."""
    import octospark.relational as rel

    plan = plan_of(rel.QUERIES["scan_parquet_partitioned"](spark, SF))
    pf = plan.split("PartitionFilters:")[-1].split("]")[0]
    assert "o_orderpriority" in pf and "1-URGENT" in pf
    # the data-filter slot must NOT carry the partition predicate
    pushed = plan.split("PushedFilters:")[-1].split("]")[0]
    assert "o_orderpriority" not in pushed


def test_schema_evolution_null_fills_old_files(spark):
    """mergeSchema read: rows from pre-evolution files carry NULL in
    the later-added column; rows from post-evolution files carry real
    values — one table across both vintages."""
    import octospark.relational as rel

    rows = rel.QUERIES["scan_parquet_schema_evolution"](
        spark, SF
    ).collect()
    assert rows
    for r in rows:
        if r.c_custkey % 2 == 0:
            assert r.c_acctbal is None
        else:
            assert r.c_acctbal is not None


def test_skew_salted_join_spreads_hot_key(spark):
    """The salted join must shuffle on (skew_key, salt) — the hot key's
    rows land on SALTS distinct reducers, not one — and the dim side
    must carry the explode that replicates each row per salt."""
    import octospark.relational as rel

    plan = plan_of(rel.QUERIES["join_skew_salted"](spark, SF))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "hashpartitioning(skew_key" in plan
    assert "salt" in plan.split("hashpartitioning(skew_key")[1].split(")")[0]
    assert "Generate explode" in plan or "explode" in plan


def test_merge_upsert_partial_aggregates_before_exchange(spark):
    """table_merge_upsert must reduce to one candidate per key map-side
    (partial_max_by below the exchange) rather than sorting every key
    group through the shuffle with a row_number window."""
    plan = plan_of(QUERIES["table_merge_upsert"](spark, SF))
    assert "partial_max_by" in plan
    assert "Window" not in plan


def test_robots_filter_is_broadcast_anti_join(spark):
    """crawl_robots_filter must filter the url table with a broadcast
    LeftAnti hash join on host (startswith as residual) — never
    shuffling the 10^12-row url side."""
    from octospark.textops import QUERIES as TQ

    plan = plan_of(TQ["crawl_robots_filter"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_countmin_probe_broadcasts_the_sketch(spark):
    """agg_sketch_countmin's probe joins against the kilobyte sketch as
    a broadcast — the sketch, not the keys, moves."""
    from octospark.sketchops import QUERIES as SQ

    plan = plan_of(SQ["agg_sketch_countmin"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_deterministic_and_tie_free(spark):
    """The merge contract depends on version ties being impossible by
    construction (ties would make max_by engine- and run-dependent):
    assert no (okey, version) pair is duplicated in the pre-merge union
    and that the merged result is identical at different parallelism."""
    from pyspark.sql import functions as F

    a = {tuple(r) for r in QUERIES["table_merge_upsert"](spark, SF).collect()}
    df = QUERIES["table_merge_upsert"](spark, SF)
    b = {tuple(r) for r in df.repartition(17).collect()}
    assert a == b
    okeys = [r[0] for r in a]
    assert any(k < 0 for k in okeys)  # inserts present
    # the REAL tie-freedom check runs on the PRE-merge union (the
    # merged output is unique-per-key by construction): rebuild the
    # same base+update+insert key/version pairs and assert no dup
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    base = orders.selectExpr("o_orderkey AS okey", "0 AS version")
    upd = orders.filter("o_orderkey % 3 = 0").selectExpr(
        "o_orderkey AS okey", "1 AS version"
    )
    ins = orders.filter("o_orderkey % 11 = 0").selectExpr(
        "-(o_orderkey + 1) AS okey", "1 AS version"
    )
    union = base.unionByName(upd).unionByName(ins)
    dup_pairs = (
        union.groupBy("okey", "version").count().filter("count > 1").count()
    )
    assert dup_pairs == 0


def test_bucketed_join_plan_is_exchange_free(spark):
    """join_bucketed_colocated's whole point: with broadcast disabled
    (forcing the at-scale SMJ path), the physical plan must contain a
    SortMergeJoin over two Bucketed: true scans and ZERO Exchange
    nodes — the bucketed layout replaces the shuffle."""
    import __spark_entry__ as entrymod

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try:
        df = entrymod.queries()["join_bucketed_colocated"](spark, SF)
        plan = plan_of(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan, plan
    # and the result matches the plain (shuffling) join semantics
    from octospark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    want = {
        (r.doc_id, r.lang, r.n_chars, r.doc_id * 7 % 100)
        for r in docs.filter(F.col("doc_id") % 3 == 0).collect()
    }
    got = {(r.doc_id, r.lang, r.n_chars, r.score) for r in df.collect()}
    assert got == want


def test_tfidf_window_is_doc_partitioned(spark):
    """text_tfidf_topk rides the ALLOW_GLOBAL_WINDOW list only because
    its scalar N aggregate trips the single-partition-exchange
    signature; pin here that the Window node itself partitions by
    doc_id (a true global row_number would show an empty
    partitionBy)."""
    import re

    import __spark_entry__ as entrymod

    plan = plan_of(entrymod.queries()["text_tfidf_topk"](spark, SF))
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert wins, plan
    assert any("doc_id" in w for w in wins), wins


def test_new_key_plan_shapes_round4(spark):
    """Targeted §4 plan pins for the late-round-4 keys: the zero-
    shuffle projections really are zero-shuffle with pruned scans, the
    Bloom probe and anomaly stats joins broadcast, and the politeness
    window hash-partitions on host."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # pure projections: no Exchange, scan pruned to the used columns
    plan = plan_of(qs["corpus_split_assign"](spark, SF))
    assert "Exchange" not in plan
    assert "struct<doc_id:bigint>" in plan.split("ReadSchema:")[-1]
    plan = plan_of(qs["text_readability_stats"](spark, SF))
    assert "Exchange" not in plan
    assert (
        "struct<doc_id:bigint,text:string>"
        in plan.split("ReadSchema:")[-1]
    )
    # Bloom: bit-set and exact-eval joins broadcast (kilobyte filter),
    # and the fingerprint sub-plan is materialized once (checkpointed),
    # not recomputed per consumer
    plan = plan_of(qs["dedup_bloom_snapshot"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "Scan ExistingRDD" in plan  # the shared fp checkpoint
    # anomaly: per-type stats broadcast back onto the counts
    plan = plan_of(qs["events_anomaly_hours"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # politeness: window hash-partitions on the host key
    plan = plan_of(qs["crawl_politeness_schedule"](spark, SF))
    assert "hashpartitioning(source" in plan


def test_plan_fingerprints_unchanged(surface_plans):
    """Plan REGRESSION gate: every key's physical-plan node-count
    fingerprint (exchanges, scans, python stages, windows, join
    strategies) must match the committed PLAN_FINGERPRINTS.json — a new
    Exchange in a previously one-shuffle key, a duplicated scan, or a
    Python stage creeping into a JVM key fails here even when no
    anti-pattern class fires. After an INTENDED plan change, review the
    diff and regenerate with `python scripts/plan_fingerprints.py`."""
    import importlib.util
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "plan_fingerprints",
        os.path.join(root, "scripts", "plan_fingerprints.py"),
    )
    pf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(pf)

    with open(os.path.join(root, "PLAN_FINGERPRINTS.json")) as f:
        committed = json.load(f)["keys"]

    diffs = []
    for name, plan in surface_plans.items():
        if isinstance(plan, Exception):
            raise plan
        got = pf.fingerprint_of(plan)
        want = committed.get(name)
        if want is None:
            diffs.append(f"{name}: NEW key with no committed fingerprint")
        elif got != want:
            delta = {
                k: (want.get(k), got[k])
                for k in got
                if got[k] != want.get(k)
            }
            diffs.append(f"{name}: {delta} (committed, current)")
    stale = set(committed) - set(surface_plans)
    if stale:
        diffs.append(f"stale fingerprints for removed keys: {sorted(stale)}")
    assert not diffs, (
        "plan fingerprint regression — if intended, regenerate via "
        f"`python scripts/plan_fingerprints.py`: {diffs}"
    )


def test_pmi_window_is_doc_partitioned(spark):
    """text_cooccurrence_pmi rides ALLOW_GLOBAL_WINDOW only because its
    scalar N rollup trips the single-partition-exchange signature; pin
    that the lead() Window itself partitions by doc_id, and that the
    plan has exactly two file scans (token window + unigram count —
    the localCheckpointed vocab table feeds everything else)."""
    import re

    import __spark_entry__ as entrymod

    plan = plan_of(entrymod.queries()["text_cooccurrence_pmi"](spark, SF))
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert wins, plan
    assert any("doc_id" in w for w in wins), wins
    assert plan.count("Scan parquet") <= 2  # token window + unigram count
