"""Relational operator surface (SURVEY.md §2.2) — one named query per
operator, each with a DuckDB oracle.

Design rules for cross-engine value-hash parity (the driver compares
row-count + schema + order-insensitive value-hash at sf0.01):

- every computed column is aliased identically in Spark and SQL;
- double SUM/AVG go through exact DECIMAL accumulation then a single
  cast to double (float summation order is nondeterministic under
  shuffles and differs between engines; decimal addition is exact);
- per-row double arithmetic (multiply/divide/sqrt/abs) is IEEE-754
  identical in both engines, so it is used freely;
- timestamps are returned as formatted strings or extracted ints,
  never as raw timestamp columns;
- ordering ties are always broken by a unique key so top-k results
  are engine-independent.

Each ``pipeline role`` comment ties the operator back to the extraction
pipeline and the reference behavior it re-expresses (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from octospark import ORACLE, QUERIES, register
from octospark.sources import load_table
from octospark.session import materialize


def _dec_sum(col, prec="decimal(28,6)", alias=None):
    """Exact decimal sum -> double (engine-independent)."""
    e = F.sum(col.cast(prec)).cast("double")
    return e.alias(alias) if alias else e


# --------------------------------------------------------------------------
# scans / filters / projections  (pipeline role: R1 pages scan, R2 guards)
# --------------------------------------------------------------------------

@register(
    "scan_parquet",
    "SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
)
def scan_parquet(spark, sf):
    return load_table(spark, sf, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"
    )


@register(
    "scan_projection_pushdown",
    "SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_projection_pushdown(spark, sf):
    # ReadSchema must contain only these two columns (checked in tests)
    return load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "filter_predicate",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_quantity > 45 AND l_discount IS NOT NULL",
)
def filter_predicate(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & F.col("l_discount").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "filter_string_like",
    "SELECT p_partkey, p_type FROM part WHERE p_type LIKE '%EDIU%'",
)
def filter_string_like(spark, sf):
    return (
        load_table(spark, sf, "part")
        .filter(F.col("p_type").like("%EDIU%"))
        .select("p_partkey", "p_type")
    )


@register(
    "project_expressions",
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1 - l_discount) AS disc_price, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge, "
    "concat(l_returnflag, '|', l_linestatus) AS flag_status FROM lineitem",
)
def project_expressions(spark, sf):
    li = load_table(spark, sf, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc.alias("disc_price"),
        (disc * (1 + F.col("l_tax"))).alias("charge"),
        F.concat_ws("|", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


# --------------------------------------------------------------------------
# joins  (pipeline roles: R9/R10 dim join, R11 fact-fact, R24 resume)
# --------------------------------------------------------------------------

@register(
    "join_broadcast_inner",
    "SELECT n.n_nationkey, n.n_name, r.r_name FROM nation n "
    "JOIN region r ON n.n_regionkey = r.r_regionkey",
)
def join_broadcast_inner(spark, sf):
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    return n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey, "inner"
    ).select("n_nationkey", "n_name", "r_name")


@register(
    "join_sortmerge_inner",
    "SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_quantity "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey",
)
def join_sortmerge_inner(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").hint("merge")  # force sort-merge
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "o_custkey", "l_quantity"
    )


@register(
    "join_left_outer",
    "SELECT c.c_custkey, o.o_orderkey FROM customer c "
    "LEFT JOIN orders o ON c.c_custkey = o.o_custkey",
)
def join_left_outer(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "o_orderkey"
    )


@register(
    "join_left_semi",
    "SELECT o_orderkey, o_custkey FROM orders o WHERE EXISTS ("
    "SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey "
    "AND c.c_acctbal > 5000)",
)
def join_left_semi(spark, sf):
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").filter(F.col("c_acctbal") > 5000)
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey"
    )


@register(
    "join_left_anti",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS ("
    "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def join_left_anti(spark, sf):
    # pipeline role: resume — process only partitions missing from the
    # manifest (reference analog: train.py:89-97 checkpoint resume)
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_range_theta",
    "SELECT l.l_orderkey, l.l_linenumber FROM lineitem l JOIN orders o "
    "ON l.l_orderkey = o.o_orderkey AND l.l_shipdate >= o.o_orderdate "
    "AND l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY",
)
def join_range_theta(spark, sf):
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAYS"))
    )
    return li.join(o, cond, "inner").select("l_orderkey", "l_linenumber")


@register(
    "join_asof_latest",
    "SELECT user_id, event_id, event_type FROM ("
    "SELECT user_id, event_id, event_type, ROW_NUMBER() OVER ("
    "PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn "
    "FROM events) WHERE rn = 1",
)
def join_asof_latest(spark, sf):
    # pipeline role: latest-crawl-wins dedup per url (duplicate warc_ts)
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# --------------------------------------------------------------------------
# aggregation  (pipeline role: R27 label stats, lineage counts)
# --------------------------------------------------------------------------

@register(
    "agg_hash_groupby",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,4))) AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_qty, "
    "COUNT(*) AS count_order "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
)
def agg_hash_groupby(spark, sf):
    """Exact-arithmetic group-by at long-integer speed.

    Per-row values are fixed-point (quantity/price have <= 2 decimals,
    discount <= 4), so they convert exactly to int64 micros and the hot
    per-row + partial-agg path is pure long arithmetic inside
    whole-stage codegen — measured 2.1x faster than decimal(28,6)
    accumulation at sf0.1, bit-identical results (the decimal oracle
    SQL is unchanged and still hash-matches).

    Overflow discipline for 10^12-row scale: int64 partials overflow, so
    the sum is two-level — long partials per (group,
    salt=xxhash64%8192) bucket, then a decimal(38,0) sum of the <=8192
    tiny partials per group. Binding constraint is the disc-price
    partial (<=1e11 per row: price_cents * discount_bp), safe to
    ~9.2e7 rows per (group, salt) bucket; * 8192 salts ≈ 7.5e11 rows
    per group — 4x headroom over a 10^12-row table split across the 6
    natural groups (the salt width is a constant; widen it for bigger
    tables). Costs one extra exchange over ~50k partial rows (nothing);
    the big scan still gets map-side partial combine on longs."""
    li = load_table(spark, sf, "lineitem")
    q = F.round(F.col("l_quantity") * 1000000, 0).cast("long")
    p = F.round(F.col("l_extendedprice") * 1000000, 0).cast("long")
    pc = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    db = F.round(F.col("l_discount") * 10000, 0).cast("long")
    salt = F.pmod(F.xxhash64("l_orderkey"), F.lit(8192)).alias("salt")
    inner = li.groupBy("l_returnflag", "l_linestatus", salt).agg(
        F.sum(q).alias("sq"),
        F.sum(p).alias("sp"),
        F.sum(pc * (10000 - db)).alias("sd"),
        F.count("*").alias("cnt"),
    )
    D = "decimal(38,0)"
    sum_qty = F.sum(F.col("sq").cast(D)).cast("double") / 1000000.0
    return inner.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        (F.sum(F.col("sp").cast(D)).cast("double") / 1000000.0).alias(
            "sum_base_price"
        ),
        (F.sum(F.col("sd").cast(D)).cast("double") / 1000000.0).alias(
            "sum_disc_price"
        ),
        (sum_qty / F.sum("cnt")).alias("avg_qty"),
        F.sum("cnt").alias("count_order"),
    )


@register(
    "agg_count_distinct",
    "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_custs, "
    "COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus",
)
def agg_count_distinct(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count("*").alias("n_orders"),
    )


@register("agg_approx_count_distinct")  # no exact oracle — rows-only check
def agg_approx_count_distinct(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.approx_count_distinct("o_custkey").alias("approx_custs")
    )


@register(
    "agg_rollup",
    "SELECT r_name, n_name, COUNT(*) AS n FROM nation "
    "JOIN region ON n_regionkey = r_regionkey GROUP BY ROLLUP (r_name, n_name)",
)
def agg_rollup(spark, sf):
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.rollup("r_name", "n_name").agg(F.count("*").alias("n"))


@register(
    "agg_cube",
    "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)
def agg_cube(spark, sf):
    o = load_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        _dec_sum(F.col("o_totalprice"), alias="sum_price"),
    )


# --------------------------------------------------------------------------
# windows  (pipeline roles: R12 reading order, R11 hierarchical ids,
# Boilerpipe prev/next context)
# --------------------------------------------------------------------------

@register(
    "window_row_number",
    "SELECT o_custkey, o_orderkey, rn FROM (SELECT o_custkey, o_orderkey, "
    "ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, "
    "o_orderkey) AS rn FROM orders) WHERE rn <= 3",
)
def window_row_number(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "window_rank_dense",
    "SELECT s_suppkey, s_nationkey, "
    "RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS rnk, "
    "DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS drnk "
    "FROM supplier",
)
def window_rank_dense(spark, sf):
    s = load_table(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@register(
    "window_lag_lead",
    "SELECT event_id, user_id, value - LAG(value, 1) OVER w AS dv, "
    "LEAD(event_type, 1) OVER w AS next_type FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)",
)
def window_lag_lead(spark, sf):
    # pipeline role: span-gap detection between adjacent blocks
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        (F.col("value") - F.lag("value", 1).over(w)).alias("dv"),
        F.lead("event_type", 1).over(w).alias("next_type"),
    )


@register(
    "window_frame_rows",
    # (l_orderkey, l_linenumber) is NOT unique in this data — the full
    # ordering below makes the frame deterministic up to identical rows
    "SELECT l_orderkey, l_linenumber, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) OVER (PARTITION BY l_orderkey "
    "ORDER BY l_linenumber, l_quantity, l_extendedprice, l_partkey, l_suppkey "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) "
    "AS rolling_qty FROM lineitem",
)
def window_frame_rows(spark, sf):
    # pipeline role: rolling block text-density smoothing (prev/next ctx)
    li = load_table(spark, sf, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy(
            "l_linenumber", "l_quantity", "l_extendedprice", "l_partkey",
            "l_suppkey",
        )
        .rowsBetween(-2, Window.currentRow)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(28,6)"))
        .over(w)
        .cast("double")
        .alias("rolling_qty"),
    )


# --------------------------------------------------------------------------
# sort / limit / set ops / distinct
# --------------------------------------------------------------------------

@register(
    "sort_orderby",
    "SELECT c_custkey, c_name, c_acctbal FROM customer "
    "ORDER BY c_acctbal DESC NULLS LAST, c_custkey",
)
def sort_orderby(spark, sf):
    c = load_table(spark, sf, "customer")
    return c.orderBy(
        F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey")
    ).select("c_custkey", "c_name", "c_acctbal")


@register(
    "limit_topk",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def limit_topk(spark, sf):
    o = load_table(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "set_union_all",
    "SELECT c_custkey AS key, 'customer' AS src FROM customer "
    "UNION ALL SELECT s_suppkey AS key, 'supplier' AS src FROM supplier",
)
def set_union_all(spark, sf):
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@register(
    "set_intersect",
    "SELECT n_regionkey AS key FROM nation "
    "INTERSECT SELECT r_regionkey AS key FROM region",
)
def set_intersect(spark, sf):
    n = load_table(spark, sf, "nation").select(F.col("n_regionkey").alias("key"))
    r = load_table(spark, sf, "region").select(F.col("r_regionkey").alias("key"))
    return n.intersect(r)


@register(
    "set_except",
    "SELECT o_custkey AS key FROM orders "
    "EXCEPT ALL SELECT c_custkey AS key FROM customer",
)
def set_except(spark, sf):
    # pipeline role: regression diff (new extraction vs golden)
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("key"))
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("key"))
    return o.exceptAll(c)


@register(
    "distinct_dedup",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def distinct_dedup(spark, sf):
    return (
        load_table(spark, sf, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# scalar function families  (pipeline roles: R5 normalization, R13 clamps,
# R22 checksums, warc_ts bucketing, props parsing)
# --------------------------------------------------------------------------

@register(
    "scalar_string_funcs",
    "SELECT p_partkey, length(p_name) AS n_len, upper(p_name) AS uname, "
    "trim(p_name) AS tname, substring(p_name, 1, 5) AS pre5, "
    "regexp_extract(p_name, '([a-z]+)', 1) AS first_word, "
    "regexp_replace(p_name, ' ', '_') AS underscored FROM part",
)
def scalar_string_funcs(spark, sf):
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.length("p_name").cast("long").alias("n_len"),
        F.upper("p_name").alias("uname"),
        F.trim("p_name").alias("tname"),
        F.substring("p_name", 1, 5).alias("pre5"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "_").alias("underscored"),
    )


@register(
    "scalar_hash_funcs",
    "SELECT p_partkey, sha256(p_name) AS sha, md5(p_name) AS md5h FROM part",
)
def scalar_hash_funcs(spark, sf):
    # pipeline role: url-hash partition keys + lineage byte checksums
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.sha2("p_name", 256).alias("sha"),
        F.md5("p_name").alias("md5h"),
    )


@register(
    "scalar_date_funcs",
    "SELECT event_id, year(ts) AS y, month(ts) AS m, day(ts) AS d, "
    "strftime(ts, '%Y-%m-%d') AS day_str, "
    "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_str, "
    "datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS days_since "
    "FROM events",
)
def scalar_date_funcs(spark, sf):
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_str"
        ),
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("days_since"),
    )


@register(
    "scalar_math_funcs",
    "SELECT l_orderkey, l_linenumber, abs(l_discount - 0.05) AS adis, "
    "sqrt(l_quantity) AS sq, greatest(l_tax, l_discount) AS g, "
    "least(l_tax, l_discount) AS l, round(l_extendedprice / 7.0, 2) AS r "
    "FROM lineitem",
)
def scalar_math_funcs(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("adis"),
        F.sqrt("l_quantity").alias("sq"),
        F.greatest("l_tax", "l_discount").alias("g"),
        F.least("l_tax", "l_discount").alias("l"),
        F.round(F.col("l_extendedprice") / 7.0, 2).alias("r"),
    )


@register(
    "scalar_array_funcs",
    "SELECT vec_id, len(embedding) AS n_dims, "
    "CAST(embedding[1] AS DOUBLE) AS first_dim, "
    "len(embedding[1:8]) AS n_slice FROM embeddings",
)
def scalar_array_funcs(spark, sf):
    em = load_table(spark, sf, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").cast("long").alias("n_dims"),
        F.element_at("embedding", 1).cast("double").alias("first_dim"),
        F.size(F.slice("embedding", 1, 8)).cast("long").alias("n_slice"),
    )


@register(
    "scalar_map_json_funcs",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
    "FROM events",
)
def scalar_map_json_funcs(spark, sf):
    e = load_table(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@register(
    "explode_spans",
    "SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word, "
    "unnest(range(1, len(string_split(p_name, ' ')) + 1)) AS ord FROM part",
)
def explode_spans(spark, sf):
    # pipeline role: flatten extracted spans array -> spans table
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    ).select("p_partkey", "word", (F.col("pos") + 1).cast("long").alias("ord"))


# --------------------------------------------------------------------------
# streaming windows (batch-equivalent; see octospark.streamops for the
# Structured Streaming wrappers)
# --------------------------------------------------------------------------

@register(
    "stream_tumbling_window",
    "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, "
    "event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def stream_tumbling_window(spark, sf):
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            _dec_sum(F.col("value"), alias="sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "stream_sliding_window",
    # Spark's window(ts, 1h, 15m) assigns each event to the 4 epoch-
    # aligned 15-min slide starts s with s <= ts < s + 1h; replicate by
    # unnesting k=0..3 and flooring epoch seconds to the slide grid.
    "SELECT strftime(make_timestamp(CAST((CAST(floor(epoch(ts) / 900) AS "
    "BIGINT) * 900 - k * 900) * 1000000 AS BIGINT)), '%Y-%m-%d %H:%M:%S') "
    "AS win_start, COUNT(*) AS n "
    "FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k) ks "
    "GROUP BY 1",
)
def stream_sliding_window(spark, sf):
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "n",
        )
    )


@register(
    "stream_session_window",
    # gaps-and-islands replica of Spark's session_window(ts, 30 min):
    # a session's window is [first_ts, last_ts + gap), so an event at
    # exactly prev_ts + gap starts a NEW session (>= boundary).
    "WITH d AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR "
    "ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
    "s AS (SELECT user_id, SUM(new_s) OVER (PARTITION BY user_id ORDER BY "
    "ts ROWS UNBOUNDED PRECEDING) AS sid FROM d) "
    "SELECT user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid",
)
def stream_session_window(spark, sf):
    # pipeline role: crawl-session grouping per host
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", "n")
    )


# --------------------------------------------------------------------------
# UDF families  (pipeline roles: R3 segmenter, R6/R7 features, stage-2)
# --------------------------------------------------------------------------

@register(
    "udf_pandas_scalar",
    "SELECT doc_id, "
    "CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) "
    "AS chars_per_token FROM documents",
)
def udf_pandas_scalar(spark, sf):
    # vectorized feature calc (analog of per-unit geometry resolve,
    # reference src/octopy/plugins/kraken_polygonizer.py:76-108)
    from pyspark.sql.functions import pandas_udf

    def _chars_per_token(text):
        return text.str.len().astype("float64") / text.str.split(" ").str.len()

    chars_per_token = pandas_udf(_chars_per_token, "double")

    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id", chars_per_token("text").alias("chars_per_token")
    )


@register(
    "udf_map_in_pandas",
    # The DOM walk itself is not SQL-expressible; the oracle is the
    # FROZEN output of the pure-Python segmenter at sf0.01
    # (scripts/freeze_block_counts.py — Spark-free, reviewed like
    # golden.json). Valid only at sf0.01, which is the driver's
    # correctness scale; check_contract downgrades it to rows-only at
    # any other sf.
    "SELECT url, n_blocks, total_chars FROM "
    "read_parquet('/root/repo/tests/fixtures/"
    "expected_blocks_sf001.parquet')",
)
def udf_map_in_pandas(spark, sf):
    # THE core stage-1 segmenter (reference analog:
    # SegmentationTaskModel.predict, src/octopy/segment.py:179)
    from octospark.pipeline import segment
    from octospark.sources import build_pages

    pages = build_pages(spark, sf)
    blocks = segment(pages)
    return blocks.groupBy("url").agg(
        F.count("*").alias("n_blocks"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "udf_grouped_apply",
    "SELECT source, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars FROM documents "
    "GROUP BY source",
)
def udf_grouped_apply(spark, sf):
    # grouped-map analog of the per-group stage-2 scorer
    import pandas as pd

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        total = int(pdf["n_chars"].sum())  # exact int sum, order-free
        return pd.DataFrame(
            {"source": [pdf["source"].iloc[0]], "n_docs": [n],
             "avg_chars": [total / n]}
        )

    d = load_table(spark, sf, "documents")
    return d.groupBy("source").applyInPandas(
        stats, "source string, n_docs long, avg_chars double"
    )


@register(
    "repartition_salted",
    "SELECT COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_distinct FROM documents",
)
def repartition_salted(spark, sf):
    # north_rule: salted skew mitigation preserves every row exactly once
    from octospark.pipeline import salted_repartition

    d = load_table(spark, sf, "documents").withColumn(
        "url", F.concat(F.lit("https://"), "source", F.lit(".example.org/doc/"),
                        F.col("doc_id"))
    )
    salted = salted_repartition(
        d, num_partitions=16, skewed_hosts=["src0.example.org"], salt_buckets=4
    )
    return salted.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("n_distinct"),
    )


@register(
    "join_full_outer",
    "SELECT c.c_custkey, c.c_name, o.o_orderkey FROM customer c "
    "FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey",
)
def join_full_outer(spark, sf):
    # pipeline role: reconcile two crawl snapshots (urls in either side)
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@register(
    "window_ntile_percent",
    "SELECT o_orderkey, "
    "NTILE(4) OVER w AS quartile, "
    "PERCENT_RANK() OVER w AS prank, "
    "CUME_DIST() OVER w AS cdist "
    "FROM orders WINDOW w AS (ORDER BY o_totalprice, o_orderkey)",
)
def window_ntile_percent(spark, sf):
    """Exact global quantile ranks. A partitionless window is
    semantically inherent here (every row's rank depends on the total
    order), so this is the EXACT small-output form; the scale path for
    'assign each of 10^12 rows its quartile' is approx_percentile /
    percentile_approx cutoffs (one aggregation, no global sort) joined
    back as range predicates — see agg_median_percentile for the
    aggregation form."""
    # pipeline role: quality-score quartiles for corpus filtering
    o = load_table(spark, sf, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@register(
    "agg_pivot",
    "SELECT o_orderpriority, "
    "COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F, "
    "COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O, "
    "COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P "
    "FROM orders GROUP BY o_orderpriority",
)
def agg_pivot(spark, sf):
    # pipeline role: label x host matrix for corpus composition reports
    o = load_table(spark, sf, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    # pivot yields NULL for empty cells; FILTER-count yields 0
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "scalar_url_parse",
    "SELECT doc_id, url, "
    "regexp_extract(url, '^https?://([^/]+)', 1) AS host, "
    "regexp_extract(url, '^https?://[^/]+(/.*)$', 1) AS path, "
    "regexp_extract(url, '\\.([a-z]+)\\.example\\.org', 1) AS subdomain "
    "FROM (SELECT doc_id, 'https://' || source || '.example.org/doc/' "
    "|| doc_id AS url FROM documents)",
)
def scalar_url_parse(spark, sf):
    # pipeline role: host extraction for salting/session grouping (the
    # same expression family as pipeline.host_of)
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://"), "source", F.lit(".example.org/doc/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    return d.select(
        "doc_id",
        "url",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"^https?://[^/]+(/.*)$", 1).alias("path"),
        F.regexp_extract("url", r"\.([a-z]+)\.example\.org", 1).alias(
            "subdomain"
        ),
    )


@register(
    "unpivot_melt",
    "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, "
    "l_quantity AS val FROM lineitem WHERE l_linenumber <= 2 "
    "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount "
    "FROM lineitem WHERE l_linenumber <= 2 "
    "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax "
    "FROM lineitem WHERE l_linenumber <= 2",
)
def unpivot_melt(spark, sf):
    # pipeline role: wide metrics row -> long (metric, value) pairs for
    # the lineage/metrics sink
    li = load_table(spark, sf, "lineitem").filter(F.col("l_linenumber") <= 2)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@register(
    "agg_median_percentile",
    "SELECT o_orderstatus, median(o_totalprice) AS med, "
    "quantile_cont(o_totalprice, 0.25) AS p25 "
    "FROM orders GROUP BY o_orderstatus",
)
def agg_median_percentile(spark, sf):
    # pipeline role: doc-length / quality-score distribution summaries
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.median("o_totalprice").alias("med"),
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
    )


@register(
    "agg_stats_moments",
    # variance/stddev/corr via decimal-exact sums (engine-independent:
    # Welford vs naive accumulation would differ in floats)
    "SELECT o_orderstatus, "
    "CAST((CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * "
    "CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "- CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "* CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "/ COUNT(*)) / (COUNT(*) - 1) AS DOUBLE) AS var_price, "
    "sqrt((CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)) * "
    "CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "- CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "* CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
    "/ COUNT(*)) / (COUNT(*) - 1)) AS std_price "
    "FROM orders GROUP BY o_orderstatus",
)
def agg_stats_moments(spark, sf):
    # pipeline role: quality-score distribution moments per host
    o = load_table(spark, sf, "orders")
    dec = F.col("o_totalprice").cast("decimal(28,6)")
    sum_sq = F.sum(dec * dec).cast("double")
    sum_x = F.sum(dec).cast("double")
    n = F.count("*")
    var = (sum_sq - sum_x * sum_x / n) / (n - 1)
    return o.groupBy("o_orderstatus").agg(
        var.cast("double").alias("var_price"),
        F.sqrt(var).alias("std_price"),
    )


@register(
    "join_cross_bounded",
    "SELECT n.n_name, r.r_name FROM nation n CROSS JOIN region r",
)
def join_cross_bounded(spark, sf):
    # pipeline role: small config-grid expansion (template x host class);
    # bounded sides only — never a fact-fact cross join
    n = load_table(spark, sf, "nation").select("n_name")
    r = load_table(spark, sf, "region").select("r_name")
    return n.crossJoin(F.broadcast(r))


@register(
    "scalar_null_funcs",
    "SELECT c_custkey, "
    "coalesce(NULLIF(c_mktsegment, 'BUILDING'), 'suppressed') AS seg, "
    "CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal_nonneg, "
    "c_acctbal IS NULL AS bal_is_null "
    "FROM customer",
)
def scalar_null_funcs(spark, sf):
    # pipeline role: null-discipline for optional metadata columns
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("suppressed")
        ).alias("seg"),
        F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(
            F.col("c_acctbal")
        ).alias("bal_nonneg"),
        F.col("c_acctbal").isNull().alias("bal_is_null"),
    )


@register(
    "agg_collect_sorted",
    "SELECT n_regionkey, list(n_name ORDER BY n_name) AS names "
    "FROM nation GROUP BY n_regionkey",
)
def agg_collect_sorted(spark, sf):
    # pipeline role: per-host sorted url samples in lineage reports
    n = load_table(spark, sf, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_sort(F.collect_list("n_name")).alias("names")
    )


@register(
    "window_first_last",
    "SELECT o_orderkey, o_custkey, "
    "FIRST_VALUE(o_orderkey) OVER w AS first_ok, "
    "LAST_VALUE(o_orderkey) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_ok "
    "FROM orders WINDOW w AS "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)",
)
def window_first_last(spark, sf):
    # pipeline role: first/latest crawl per host in dedup reports
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wfull = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(wfull).alias("last_ok"),
    )


@register(
    "sql_end_to_end",
    "SELECT n.n_name, o.o_orderpriority, COUNT(*) AS n_orders, "
    "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue "
    "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE o.o_orderstatus <> 'F' "
    "GROUP BY n.n_name, o.o_orderpriority "
    "HAVING COUNT(*) > 5 "
    "ORDER BY revenue DESC, n_name, o_orderpriority LIMIT 50",
)
def sql_end_to_end(spark, sf):
    """The spark.sql surface: the same engine drives textual SQL —
    views registered, one multi-clause statement (join + filter + group
    + having + order + limit), byte-equal to the DuckDB oracle. Catalyst
    plans it identically to the DataFrame composition."""
    for t in ("customer", "orders", "nation"):
        load_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(
        "SELECT n.n_name, o.o_orderpriority, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) "
        "AS revenue "
        "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE o.o_orderstatus <> 'F' "
        "GROUP BY n.n_name, o.o_orderpriority "
        "HAVING COUNT(*) > 5 "
        "ORDER BY revenue DESC, n_name, o_orderpriority LIMIT 50"
    )


@register(
    "agg_grouping_sets",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY GROUPING SETS "
    "((l_returnflag, l_linestatus), (l_returnflag), ())",
)
def agg_grouping_sets(spark, sf):
    """Explicit GROUPING SETS (the general form of rollup/cube) — one
    Expand + one aggregation, partial agg preserved; at 100x scale this
    is one shuffle regardless of how many sets are requested."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView(
        "lineitem_gsets"
    )
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty "
        "FROM lineitem_gsets GROUP BY GROUPING SETS "
        "((l_returnflag, l_linestatus), (l_returnflag), ())"
    )


@register(
    "scalar_regex_funcs",
    # patterns restricted to the regex subset where Java and RE2
    # semantics agree (literal classes, anchors, greedy quantifiers)
    "SELECT p_partkey, "
    "regexp_extract(p_name, '^([a-z]+)', 1) AS first_word, "
    "regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled, "
    "CAST(regexp_matches(p_name, 'o.*o') AS BOOLEAN) AS has_two_os, "
    "len(regexp_extract_all(p_name, '[a-z]+')) AS n_words "
    "FROM part",
)
def scalar_regex_funcs(spark, sf):
    # pipeline role: boilerplate-pattern matching on extracted text
    # (regex stays JVM-side / whole-stage-codegen — never a Python UDF)
    p = load_table(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("o.*o").alias("has_two_os"),
        F.size(F.regexp_extract_all("p_name", F.lit("([a-z]+)"))).cast(
            "long"
        ).alias("n_words"),
    )


@register(
    "scan_csv_schema",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_schema(spark, sf):
    """CSV source with explicit schema (no inferSchema pass — at 100 TB
    schema inference is a full extra scan). The staged CSV copy stands
    in for files landed by an upstream system."""
    from octospark.sources import read_csv_table

    return read_csv_table(
        spark, sf, "nation",
        "n_nationkey long, n_name string, n_regionkey long",
    ).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "scan_json_lines",
    "SELECT r_regionkey, r_name FROM region",
)
def scan_json_lines(spark, sf):
    """JSON-lines source with explicit schema."""
    from octospark.sources import read_json_table

    return read_json_table(
        spark, sf, "region", "r_regionkey long, r_name string"
    ).select("r_regionkey", "r_name")


@register(
    "scan_orc_columnar",
    "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_orc_columnar(spark, sf):
    """ORC source — Spark's second native columnar format. Schema rides
    in the file (no inference pass); column pruning reaches the ORC
    reader exactly as for parquet (asserted in tests/test_plans.py), so
    a lake that lands ORC instead of parquet runs the same plans."""
    from octospark.sources import read_orc_table

    return read_orc_table(
        spark, sf, "supplier",
        ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    )


@register(
    "window_frame_range",
    # RANGE frame over event-time: per user, rolling 1-hour sum/count.
    # RANGE includes ts-peers in both engines, so ties are frame-stable.
    "SELECT user_id, event_id, "
    "CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) "
    "AS rolling_sum, COUNT(*) OVER w AS rolling_n "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
    "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)",
)
def window_frame_range(spark, sf):
    """Value-RANGE window frame (the time-series rolling window —
    distinct from ROWS frames: the frame is defined by the ORDER BY
    value, so ts-peers always share a frame). Spark range frames need a
    numeric sort key -> epoch MICROSECONDS (exact integers in both
    engines; whole-second keys would silently truncate fractional
    timestamps and flip membership for pairs straddling the boundary)."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(28,6)"))
        .over(w).cast("double").alias("rolling_sum"),
        F.count("*").over(w).alias("rolling_n"),
    )


@register(
    "join_interval_binned",
    # 8 campaign windows derived from nation keys: [t0 + k*5d, +2d).
    # The oracle does the plain theta join; the Spark side demonstrates
    # the SCALABLE shape (bin both sides to days, equi-join on the bin,
    # exact filter after) — results are identical by construction.
    """
    WITH c AS (
      SELECT n_nationkey AS k,
             1704067200 + n_nationkey * 345600 AS t_start,
             1704067200 + n_nationkey * 345600 + 172800 AS t_end
      FROM nation WHERE n_nationkey < 8
    )
    SELECT c.k, COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events e JOIN c
      ON epoch_us(e.ts) >= CAST(c.t_start AS BIGINT) * 1000000
     AND epoch_us(e.ts) <  CAST(c.t_end AS BIGINT) * 1000000
    GROUP BY c.k
    """,
)
def join_interval_binned(spark, sf):
    """Interval join via day-binning — the pattern for when BOTH sides
    are big (a naive theta join is quadratic; Spark plans it as a
    nested-loop). Each interval explodes into the day bins it covers
    (bounded fan-out: ceil(len/bin)+1), each event maps to exactly ONE
    bin, the join is a plain equi-join on the bin (shuffle or broadcast,
    AQE's choice), and the exact range predicate filters after. No
    duplicates possible: an event's single bin meets each interval at
    most once. Here the dim side is 8 rows (broadcast), but the plan
    shape is the one that survives 10^12 x 10^6."""
    t0 = 1704067200  # 2024-01-01 UTC, inside the events ts range
    day = 86400
    n = load_table(spark, sf, "nation").filter(F.col("n_nationkey") < 8)
    c = n.select(
        F.col("n_nationkey").alias("k"),
        (F.lit(t0) + F.col("n_nationkey") * 345600).cast("long").alias("t_start"),
        (F.lit(t0) + F.col("n_nationkey") * 345600 + 172800).cast("long").alias("t_end"),
    )
    cbins = c.select(
        "k", "t_start", "t_end",
        F.explode(
            F.sequence(
                F.floor(F.col("t_start") / day),
                # end is exclusive: last covered second is t_end - 1
                F.floor((F.col("t_end") - 1) / day),
            )
        ).alias("bin"),
    )
    e = load_table(spark, sf, "events").select(
        "ts", "value",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withColumn("bin", F.floor(F.col("ts_us") / F.lit(day * 1_000_000)))
    j = e.join(F.broadcast(cbins), "bin").filter(
        (F.col("ts_us") >= F.col("t_start") * 1_000_000)
        & (F.col("ts_us") < F.col("t_end") * 1_000_000)
    )
    return j.groupBy("k").agg(
        F.count("*").alias("n_events"),
        _dec_sum(F.col("value"), alias="sum_value"),
    )


@register(
    "agg_quartile_assign",
    # Oracle: same cutoffs-then-assign computation in SQL. quantile_cont
    # and Spark's exact percentile share the p*(N-1) lerp definition, so
    # the cutoff doubles are bit-identical (agg_median_percentile
    # precedent), and the > comparisons then agree everywhere.
    """
    WITH cuts AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS c1,
             quantile_cont(o_totalprice, 0.50) AS c2,
             quantile_cont(o_totalprice, 0.75) AS c3
      FROM orders
    )
    SELECT 1 + CAST(o_totalprice > c1 AS BIGINT)
             + CAST(o_totalprice > c2 AS BIGINT)
             + CAST(o_totalprice > c3 AS BIGINT) AS quartile,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS sum_price
    FROM orders, cuts
    GROUP BY quartile
    """,
)
def agg_quartile_assign(spark, sf):
    """The SCALE path for quartile assignment (the 10^12-row alternative
    to window_ntile_percent's inherent global sort): one cutoff
    aggregation, broadcast the 3 cutoffs back, assign each row by range
    predicate, aggregate per quartile. No Window, no global row sort —
    the only SinglePartition exchange carries per-partition aggregation
    STATES (O(partitions)), never rows. At true 10^12 scale swap
    F.percentile for F.percentile_approx: the plan shape is unchanged
    and the sketch is mergeable; exact percentile is used here because
    it is bit-reproducible against the DuckDB oracle.
    Reference analog: R27 class statistics at corpus scale
    (/root/reference/src/octopy/train.py:99-121)."""
    # pipeline role: quality-score quartiles for corpus filtering
    o = load_table(spark, sf, "orders").select("o_totalprice")
    cuts = o.agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("c1"),
        F.percentile("o_totalprice", F.lit(0.50)).alias("c2"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("c3"),
    )
    assigned = o.join(F.broadcast(cuts)).select(
        (
            F.lit(1)
            + (F.col("o_totalprice") > F.col("c1")).cast("long")
            + (F.col("o_totalprice") > F.col("c2")).cast("long")
            + (F.col("o_totalprice") > F.col("c3")).cast("long")
        ).alias("quartile"),
        "o_totalprice",
    )
    return assigned.groupBy("quartile").agg(
        F.count("*").alias("n"),
        _dec_sum(F.col("o_totalprice"), alias="sum_price"),
    )


@register(
    "agg_quantile_sketch",
    # Oracle: DuckDB's exact discrete quantile. Spark's percentile_approx
    # (Greenwald-Khanna sketch) is EXACT here because accuracy=100000
    # exceeds every group's row count (rank error 1/accuracy * n < 1),
    # and both engines then return the same discrete element of the
    # group (no interpolation on either side).
    """
    SELECT o_orderpriority,
           [CAST(quantile_disc(o_totalprice, 0.25) AS DOUBLE),
            CAST(quantile_disc(o_totalprice, 0.50) AS DOUBLE),
            CAST(quantile_disc(o_totalprice, 0.75) AS DOUBLE),
            CAST(quantile_disc(o_totalprice, 0.95) AS DOUBLE)] AS quantiles,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_quantile_sketch(spark, sf):
    """Mergeable-sketch per-group quantiles — the true 10^12-row
    percentile path. percentile_approx's partial state is a BOUNDED
    Greenwald-Khanna sketch (O(accuracy) per group regardless of row
    count), merged associatively map-side then tree-wise — contrast the
    exact F.percentile, whose state grows with distinct values, and
    window_ntile_percent's global sort. At sandbox scale the sketch is
    exact (accuracy > group size), which is what lets the DuckDB oracle
    be a hard equality check; at 100 TB the same plan degrades gracefully
    to rank error n/accuracy. Reference analog: R27 class statistics
    (/root/reference/src/octopy/train.py:99-121)."""
    # pipeline role: per-source quality-score quantile profiles
    o = load_table(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx(
            "o_totalprice", [0.25, 0.50, 0.75, 0.95], 100000
        ).alias("quantiles"),
        F.count("*").alias("n"),
    )


@register(
    "stream_dedup_within_watermark",
    "SELECT user_id, event_id, ts_us FROM ("
    "  SELECT user_id, event_id, epoch_us(ts) AS ts_us,"
    "         ROW_NUMBER() OVER (PARTITION BY user_id,"
    "           date_trunc('hour', ts) ORDER BY ts, event_id) AS rn"
    "  FROM events) WHERE rn = 1",
)
def stream_dedup_within_watermark(spark, sf):
    """Batch-equivalent twin of the streaming in-stream dedup
    (octospark.streamops.extract_stream's dropDuplicatesWithinWatermark,
    e2e-tested in tests/test_streamops.py): keep the FIRST event per
    (key, watermark-horizon bucket), ties broken by event_id so the
    choice is total. State story at 10^12 rows: the streaming form holds
    one state row per key within the horizon; this batch form is one
    partitioned window — one shuffle on the dedup key, no global sort."""
    # pipeline role: first-crawl-wins url dedup inside a landing window
    e = load_table(spark, sf, "events")
    w = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        )
    )


@register(
    "join_bloom_filter_semi",
    # the bloom filter never changes the answer (false positives are
    # removed by the exact semi-join), so the oracle is the plain
    # semi-join aggregate
    "SELECT l_returnflag, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty "
    "FROM lineitem WHERE l_orderkey IN "
    "(SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT') "
    "GROUP BY l_returnflag",
)
def join_bloom_filter_semi(spark, sf):
    """Bloom-pruned semi-join — the fact-table pruning shape that
    matters at 100 TB: a kilobyte Bloom filter built over the (small)
    filtered dimension key set is evaluated against the fact rows
    BEFORE the shuffle, so rows that cannot match never enter the
    exchange; the exact left-semi join afterwards removes the bloom's
    false positives, so the result is exactly the plain semi-join
    (which is what the oracle checks).

    Spark's own runtime-filter rewrite
    (spark.sql.optimizer.runtime.bloomFilter.enabled) injects this
    pattern with internal expressions the SQL surface cannot name, so
    the filter here is built from PUBLIC primitives only — and it is a
    real Bloom filter, not an approximation of one:

    - k=3 hash family: xxhash64(key, seed) for seed in (1, 2, 3),
      pmod into m=65536 bit positions;
    - build: positions -> (word, bit) -> groupBy(word).bit_or(mask)
      partial+final aggregate (bytes-sized state rides the shuffle,
      like the theta sketches), assembled into a 1024-long bitmap
      array in ONE driver-free row;
    - probe: broadcast the 1-row bitmap (width-1 nested-loop join,
      same shape as corpus_host_filter's totals row) and test
      bits[pos >> 6] & (1 << (pos & 63)) per seed — O(1) per probe,
      pure JVM codegen.

    pipeline role: R24 resume filter at corpus scale — prune the
    10^12-row pages scan against the (much smaller) set of
    already-committed partition keys before any shuffle."""
    M_BITS = 65536  # 8 KiB bitmap; n~=150 urgent keys at sf0.01 -> fp ~ 0
    M_WORDS = M_BITS // 64
    SEEDS = (1, 2, 3)

    def pos_of(col, seed):
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(M_BITS))

    orders = load_table(spark, sf, "orders")
    urgent = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")

    # build: set bits -> per-word OR -> one-row 1024-long bitmap array
    entries = urgent.select(
        F.explode(
            F.array(*[pos_of(F.col("o_orderkey"), s) for s in SEEDS])
        ).alias("pos")
    ).select(
        (F.col("pos") / 64).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
        .alias("mask"),
    )
    words = entries.groupBy("word").agg(F.bit_or("mask").alias("m"))
    bloom = words.agg(
        F.map_from_entries(
            F.collect_list(F.struct("word", "m"))
        ).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(M_WORDS - 1)),
            lambda w: F.coalesce(
                F.element_at(F.col("wm"), w), F.lit(0).cast("long")
            ),
        ).alias("bits")
    )

    fact = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )

    with_pos = fact.crossJoin(F.broadcast(bloom)).select(
        "*",
        *[
            pos_of(F.col("l_orderkey"), s).alias(f"pos{s}")
            for s in SEEDS
        ],
    )

    def probe(seed):
        # word and mask both derive from the SAME pos column — the
        # hash is evaluated once per (row, seed), and the two halves
        # of the probe cannot drift apart
        pos = F.col(f"pos{seed}")
        word = (pos / 64).cast("int")
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos{seed} % 64 AS INT))"
        )
        return (
            F.element_at(F.col("bits"), word + 1).bitwiseAND(mask)
            != F.lit(0).cast("long")
        )

    pruned = with_pos.filter(probe(1) & probe(2) & probe(3)).select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    exact = pruned.join(F.broadcast(urgent),
                        pruned.l_orderkey == urgent.o_orderkey,
                        "left_semi")
    return exact.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


@register(
    "scan_parquet_partitioned",
    "SELECT o_orderkey, o_custkey, "
    "CAST(o_totalprice AS DOUBLE) AS o_totalprice, "
    "'1-URGENT' AS o_orderpriority "
    "FROM orders WHERE o_orderpriority = '1-URGENT'",
)
def scan_parquet_partitioned(spark, sf):
    """Hive-partitioned scan with PARTITION PRUNING: the dataset is
    laid out as dir/o_orderpriority=<value>/part-*.parquet and the
    filter on the partition key resolves against directory names at
    planning time — the other partitions' files are never opened, let
    alone read. At a 10^12-row pages lake partitioned by crawl date /
    host bucket this is the difference between scanning one day and
    scanning three years; the plan test asserts the predicate lands in
    PartitionFilters (metadata pruning), not PushedFilters (which would
    still enumerate every file).

    pipeline role: R1/R24 — the resume path reads back only the
    part_key directories it needs (lineage.py read-back uses the same
    mechanism, asserted in tests/test_lineage.py)."""
    from octospark.sources import stage_partitioned_copy

    dest = stage_partitioned_copy(spark, sf, "orders", "o_orderpriority")
    return (
        spark.read.parquet(dest)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "o_orderpriority",
        )
    )


@register(
    "scan_parquet_schema_evolution",
    # old files (even custkeys) predate c_acctbal: mergeSchema
    # null-fills them; new files (odd) carry real values
    "SELECT c_custkey, c_name, "
    "CASE WHEN c_custkey % 2 = 1 "
    "THEN CAST(c_acctbal AS DOUBLE) END AS c_acctbal "
    "FROM customer",
)
def scan_parquet_schema_evolution(spark, sf):
    """Schema-evolution read: the staged dataset's batch=1 files were
    written BEFORE the c_acctbal column existed, batch=2 files after —
    the add-a-column evolution every long-lived lake table goes
    through. mergeSchema=true unions the file footers' schemas and
    null-fills the missing column in old files; without it the read
    binds to one footer and silently drops (or fails on) the other
    batch. At 100 TB, footer merging is a metadata operation (one
    footer per file, no data read), so the cost is file-count, not
    byte-count — same plan shape as the plain scan afterwards.

    pipeline role: R1 — a multi-year crawl lake where later snapshots
    added columns (lang detection, quality scores) must stay readable
    as ONE table across all vintages."""
    from octospark.sources import stage_evolved_copy

    dest = stage_evolved_copy(spark, sf)
    return (
        spark.read.option("mergeSchema", True)
        .parquet(dest)
        .select(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
        )
    )


@register(
    "join_skew_salted",
    # the salt never changes the answer (every fact row meets its dim
    # row exactly once: the dim copy whose salt matches), so the
    # oracle is the plain join aggregate over the same skewed key
    """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7
                  THEN 0 ELSE l_suppkey END AS skew_key,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    dim AS (
      SELECT s_suppkey AS skew_key, s_nationkey FROM supplier
      UNION ALL SELECT 0, -1 WHERE 0 NOT IN
        (SELECT s_suppkey FROM supplier)
    )
    SELECT d.s_nationkey, COUNT(*) AS n,
           CAST(SUM(f.qty) AS BIGINT) AS sum_qty
    FROM fact f JOIN dim d USING (skew_key)
    GROUP BY d.s_nationkey
    """,
)
def join_skew_salted(spark, sf):
    """Salted skew join — the explicit mitigation for a hot join key
    when the dim side is too big to broadcast: 70% of fact rows are
    funneled onto one synthetic hot key (the 'giant host' shape of a
    web corpus), which under a plain shuffle join would land on ONE
    reducer and run at single-task speed while 31 cores idle.

    Mitigation (both sides reshaped, answer unchanged):
    - fact rows get salt = pmod(xxhash64(row-unique cols), S) — the hot
      key's rows spread across S distinct (key, salt) shuffle targets;
    - dim rows are REPLICATED S times via explode(sequence(0, S-1)) —
      every fact row still meets exactly one matching dim copy;
    - join on (skew_key, salt), forced to a shuffle join (merge hint;
      broadcast would hide the skew problem AND its fix at this scale).

    At 10^12 rows S is sized from observed key frequencies (the skew
    detector in pipeline.py:454 reports exactly this) and only hot keys
    need salting; here every key is salted for plan clarity. The plan
    test asserts the exchange hashes on (skew_key, salt) — the fix is
    visible, not incidental.

    pipeline role: north_rule giant-host mitigation applied to the
    join side (salted_repartition covers the repartition side)."""
    SALTS = 8
    li = load_table(spark, sf, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0).cast("long"))
        .otherwise(F.col("l_suppkey"))
        .alias("skew_key"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.pmod(
            F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALTS)
        ).alias("salt"),
    )
    sup = load_table(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("skew_key"), "s_nationkey"
    )
    # dim must cover the synthetic hot key 0 (suppkeys start at 1);
    # keep it data-driven so the oracle's guard clause mirrors it
    has_zero = sup.filter(F.col("skew_key") == 0).limit(1)
    dim = sup.unionByName(
        spark.range(1)
        .select(
            F.lit(0).cast("long").alias("skew_key"),
            F.lit(-1).cast("long").alias("s_nationkey"),
        )
        .join(F.broadcast(has_zero.select("skew_key")), "skew_key",
              "left_anti")
    )
    dim_salted = dim.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALTS - 1)))
    )
    joined = fact.hint("merge").join(
        dim_salted, ["skew_key", "salt"], "inner"
    )
    return joined.groupBy("s_nationkey").agg(
        F.count("*").alias("n"), F.sum("qty").alias("sum_qty")
    )


@register(
    "table_merge_upsert",
    """
    WITH base AS (
      SELECT o_orderkey AS okey, o_totalprice AS price,
             o_orderstatus AS status, 0 AS version, 'U' AS op
      FROM orders),
    cdc AS (
      SELECT o_orderkey AS okey, o_totalprice + 100.0 AS price,
             'P' AS status, 1 AS version,
             CASE WHEN o_orderkey % 21 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT -(o_orderkey + 1) AS okey, o_totalprice AS price,
             'N' AS status, 1 AS version, 'U' AS op
      FROM orders WHERE o_orderkey % 11 = 0),
    merged AS (
      SELECT okey,
             arg_max(price, version) AS price,
             arg_max(status, version) AS status,
             arg_max(op, version) AS op,
             max(version) AS version
      FROM (SELECT * FROM base UNION ALL SELECT * FROM cdc)
      GROUP BY okey)
    SELECT okey, price, status, version FROM merged WHERE op <> 'D'
    """,
)
def table_merge_upsert(spark, sf):
    """MERGE INTO emulation (latest-wins upsert + delete) over a base
    table and a CDC batch — the Iceberg/Delta merge-on-read compaction
    primitive the lineage/resume story needs for mutable corpora
    (re-crawls correcting earlier extractions). CDC rows are derived
    deterministically from orders: updates (+100 price) for key%3==0,
    deletes for key%21==0, inserts (-(key+1)) for key%11==0 — strictly negative
    keys can NEVER collide with genuine positive orderkeys at ANY
    scale factor (a fixed additive offset would collide with real keys
    at SF >= ~17 and create version ties).

    Scale shape: latest-per-key via ``max_by(struct, version)`` — a
    PARTIAL-AGGREGABLE reducer (map-side combine folds each partition's
    candidates to one row per key before the exchange), deliberately
    NOT a row_number window, which would sort every key group through
    the shuffle. One union + one groupBy; deletes filtered after the
    merge. At 10^12 rows the base side would be bucketed by key so
    only the (much smaller) CDC batch shuffles. Reference analog:
    resume-from-checkpoint overwrite semantics, /root/reference/src/
    octopy/cli/train.py:89-97 re-imagined as table maintenance."""
    o = load_table(spark, sf, "orders")
    base = o.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).alias("version"),
        F.lit("U").alias("op"),
    )
    upd = o.filter(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("okey"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("price"),
        F.lit("P").alias("status"),
        F.lit(1).alias("version"),
        F.when(F.col("o_orderkey") % 21 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    ins = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("okey"),
        F.col("o_totalprice").alias("price"),
        F.lit("N").alias("status"),
        F.lit(1).alias("version"),
        F.lit("U").alias("op"),
    )
    allrows = base.unionByName(upd).unionByName(ins)
    winner = F.max_by(
        F.struct("price", "status", "op"), F.col("version")
    ).alias("w")
    merged = allrows.groupBy("okey").agg(
        winner, F.max("version").alias("version")
    )
    return merged.filter(F.col("w.op") != "D").select(
        "okey",
        F.col("w.price").alias("price"),
        F.col("w.status").alias("status"),
        "version",
    )


# --------------------------------------------------------------------------
# join_bucketed_colocated — pre-bucketed tables join with ZERO exchange
# --------------------------------------------------------------------------

_BUCKETS = 8


def _stage_bucketed_tables(spark: SparkSession, sf_dir: str):
    """Register two bucketed catalog tables derived from documents —
    the write-side half of the co-located join contract. Bucketing
    metadata lives in the catalog (not the parquet footers), so the
    staging is per-session: names are fingerprinted on the source
    parquet's (mtime_ns, size) like sources._staged_dir, reused within
    a session via tableExists, and written with mode('overwrite') so a
    stale on-disk path from a previous session can never shadow a
    regenerated testdata dir. Two extra properties mirroring the
    _staged_dir contract: the on-disk path is additionally keyed by
    PID (two concurrent sessions — driver sweep + bench, or parallel
    pytest — can never overwrite-race into the same directory), and
    stale dirs from other fingerprints or DEAD pids are evicted so
    testdata regeneration does not leak copies in /tmp forever."""
    import os
    import shutil

    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    fp = f"{st.st_mtime_ns}_{st.st_size}"
    pid = os.getpid()
    docs_t, stats_t = f"docs_bkt_{fp}_{pid}", f"stats_bkt_{fp}_{pid}"
    base = "/tmp/octospark_bucketed"
    if spark.catalog.tableExists(docs_t) and spark.catalog.tableExists(
        stats_t
    ):
        # Trust the cached names only if the backing paths still exist
        # (another session's eviction may have removed them while the
        # catalog entry lives on); otherwise drop and re-stage below.
        if os.path.isdir(os.path.join(base, docs_t)) and os.path.isdir(
            os.path.join(base, stats_t)
        ):
            return docs_t, stats_t
        spark.sql(f"DROP TABLE IF EXISTS {docs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {stats_t}")
    try:  # evict ONLY dirs whose owning pid is dead — never a live
        for d in os.listdir(base):  # owner's dirs, whatever their
            tag = d.rsplit("_", 1)  # fingerprint (a live session may
            # legitimately hold tables staged from a DIFFERENT sf_dir).
            owner = (
                int(tag[-1])
                if len(tag) == 2 and tag[-1].isdigit()
                else -1
            )
            alive = owner == pid or (
                owner > 0 and os.path.exists(f"/proc/{owner}")
            )
            if not alive:
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    except Exception:
        pass
    docs = load_table(spark, sf_dir, "documents")
    (
        docs.select("doc_id", "lang", "n_chars")
        .write.mode("overwrite")
        .option("path", os.path.join(base, docs_t))
        .bucketBy(_BUCKETS, "doc_id")
        .sortBy("doc_id")
        .saveAsTable(docs_t)
    )
    (
        docs.filter(F.col("doc_id") % 3 == 0)
        .select("doc_id", ((F.col("doc_id") * 7) % 100).alias("score"))
        .write.mode("overwrite")
        .option("path", os.path.join(base, stats_t))
        .bucketBy(_BUCKETS, "doc_id")
        .sortBy("doc_id")
        .saveAsTable(stats_t)
    )
    return docs_t, stats_t


@register(
    "join_bucketed_colocated",
    "SELECT doc_id, lang, n_chars, (doc_id * 7) % 100 AS score "
    "FROM documents WHERE doc_id % 3 = 0",
)
def join_bucketed_colocated(spark, sf):
    """Fact-fact join over PRE-BUCKETED tables with zero exchange: both
    sides were written bucketBy(doc_id) into the catalog, so the join
    key's hash layout is already on disk and the SortMergeJoin reads
    bucket i of each table on the same task — no shuffle of either
    side, ever. At 100 TB this is THE standing answer to the repeated
    fact-fact join (pages ⋈ per-doc scores, every training-data
    refresh): pay one bucketed write, then every subsequent join of
    tables sharing the layout is exchange-free, which also sidesteps
    join skew entirely (buckets are fixed at write time).

    The plan is asserted shuffle-free in tests/test_plans.py (broadcast
    disabled so the SMJ path is exercised — at real scale neither side
    broadcasts). The scan stays columnar parquet with pushdown; the
    write side documents the other half of the contract (bucket count
    chosen once per lake, same hash function as the read side).
    Reference analog: R16 per-doc sink + R11 line→region join
    (/root/reference/src/octopy/cli/merge.py) — the merge stage's
    re-pairing of stage outputs by document, done here by layout
    instead of by shuffle."""
    docs_t, stats_t = _stage_bucketed_tables(spark, sf)
    d = spark.table(docs_t)
    s = spark.table(stats_t)
    return d.join(s, "doc_id").select("doc_id", "lang", "n_chars", "score")


# --------------------------------------------------------------------------
# events_funnel_conversion — ordered multi-stage funnel per user
# --------------------------------------------------------------------------

_FUNNEL_SQL = """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS stage_reached
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """


@register("events_funnel_conversion", _FUNNEL_SQL)
def events_funnel_conversion(spark, sf):
    """Ordered conversion funnel (view -> click -> purchase) per user:
    stage N only counts if it happened STRICTLY AFTER the user's
    earliest stage-N-1 event — the sequential-pattern query behind
    every product-analytics funnel report, and (for a crawl corpus)
    the same shape as fetch -> extract -> publish pipeline-latency
    funnels. One row per user who viewed, with the three stage
    timestamps (NULL once the funnel is abandoned) and the stage
    reached.

    Scale shape: three user-keyed aggregations, each joining the
    events stream against the previous stage's (user, ts) table — all
    shuffles share the user_id key so co-partitioning is reused, the
    per-stage tables only shrink (funnel monotonicity), and the
    conditional mins partial-aggregate map-side. No window over the
    full event stream, no per-user sort — at 10^12 events the work is
    three hash aggregations, not a sessionization."""
    e = load_table(spark, sf, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id", "t_view", "t_click", "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), 3)
            .when(F.col("t_click").isNotNull(), 2)
            .otherwise(1)
            .alias("stage_reached"),
        )
    )


# --------------------------------------------------------------------------
# events_retention_cohorts — cohort-by-day retention matrix
# --------------------------------------------------------------------------

_COHORT_SQL = """
    WITH first AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id)
    SELECT f.cohort,
           date_diff('day', f.cohort,
                     CAST(date_trunc('day', e.ts) AS DATE)) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN first f USING (user_id)
    GROUP BY f.cohort, day_offset
    """


@register("events_retention_cohorts", _COHORT_SQL)
def events_retention_cohorts(spark, sf):
    """Cohort retention matrix: users grouped by first-seen day, and
    for every (cohort, day-offset) cell the count of distinct cohort
    members active that day — the classic growth-analytics triangle,
    and for a crawl corpus the re-crawl freshness matrix (first-seen
    crawl vs observed-again crawls). Day arithmetic is integer date
    diffs on date-truncated timestamps, identical in both engines.

    Scale shape: one user-keyed aggregation for the cohort table,
    broadcast/co-partitioned join back onto events on the same key,
    then a groupBy whose output is bounded by days^2/2 cells — the
    distinct-user count inside each cell is the standard two-phase
    partial aggregate. The event stream is never sorted or windowed."""
    e = load_table(spark, sf, "events").select("user_id", "ts")
    first = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort")
    )
    return (
        e.join(first, "user_id")
        .select(
            "user_id", "cohort",
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.col("cohort"),
            ).alias("day_offset"),
        )
        .groupBy("cohort", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# --------------------------------------------------------------------------
# stream_windowed_topk — per-window heavy hitters (batch twin)
# --------------------------------------------------------------------------

def _hourly_type_counts(e: DataFrame) -> DataFrame:
    """Shared hourly (window, event_type) count table used by
    stream_windowed_topk and events_anomaly_hours (single-sourced so
    the window/format logic cannot drift between them; the tumbling
    key keeps its own block because it also folds a decimal sum into
    the same aggregation pass)."""
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss")
            .alias("win_start"),
            "event_type",
            "n",
        )
    )


_HOURLY_COUNTS_CTE = """
      SELECT event_type,
             strftime(date_trunc('hour', ts),
                      '%Y-%m-%d %H:%M:%S') AS win_start,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2"""


_WIN_TOPK = 2

_WIN_TOPK_SQL = f"""
    WITH counts AS ({_HOURLY_COUNTS_CTE})
    SELECT win_start, event_type, n, rnk FROM (
      SELECT win_start, event_type, n,
             row_number() OVER (
               PARTITION BY win_start
               ORDER BY n DESC, event_type ASC) AS rnk
      FROM counts)
    WHERE rnk <= {_WIN_TOPK}
    """


@register("stream_windowed_topk", _WIN_TOPK_SQL)
def stream_windowed_topk(spark, sf):
    """Per-window heavy hitters: the top-k event types inside every
    tumbling hour — the trending-now / hot-hosts query a streaming
    deployment runs per window (batch twin like the other stream keys;
    the streaming form is the same groupBy(window, key) count with the
    rank applied per emitted window). Ties break on the key for
    determinism.

    Scale shape: one partial-aggregated count per (window, key), then
    a row_number window PARTITIONED BY the time window — the rank sort
    touches only the per-window key counts (bounded by the key
    cardinality, not the event volume), never the raw stream."""
    counts = _hourly_type_counts(load_table(spark, sf, "events"))
    w = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _WIN_TOPK)
    )


# --------------------------------------------------------------------------
# corpus_split_assign — content-stable train/val/test assignment
# --------------------------------------------------------------------------

_SPLIT_MULT = 2654435761  # Knuth multiplicative constant
_SPLIT_REDUCE = 100000007  # pre-multiply modulus (keeps product in BIGINT)

_SPLIT_SQL = f"""
    SELECT doc_id,
           ((doc_id % {_SPLIT_REDUCE}) * {_SPLIT_MULT}) % 100 AS bucket,
           CASE WHEN ((doc_id % {_SPLIT_REDUCE}) * {_SPLIT_MULT}) % 100 < 80
                  THEN 'train'
                WHEN ((doc_id % {_SPLIT_REDUCE}) * {_SPLIT_MULT}) % 100 < 90
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@register("corpus_split_assign", _SPLIT_SQL)
def corpus_split_assign(spark, sf):
    """Content-stable train/val/test assignment (80/10/10): split =
    multiplicative hash of the row-unique doc_id into 100 buckets —
    the R20 train/val split (reference src/octopy/train.py:62) as a
    pure projection, so the SAME doc lands in the SAME split on every
    run, at any parallelism, and when the corpus grows (new docs slot
    in without reshuffling old ones — the property randomSplit lacks).
    Hashing the row-unique key, never the feature tuple, is the block
    scorer's (url, block_id) split lesson (duplicate feature rows must
    spread across splits like production duplicates do).

    Scale shape: one map-side projection inside the scan stage — zero
    shuffles, zero Python; downstream stages filter on `split` and the
    predicate pushes down to the scan. The id is reduced mod 1e8+7
    before the multiply so the product never exceeds ~2.7e17 — safe
    for EVERY BIGINT doc_id (the raw product would overflow, and BOTH
    engines throw on BIGINT overflow rather than wrap)."""
    d = load_table(spark, sf, "documents").select("doc_id")
    # reduce mod 1e8+7 BEFORE the multiply: the raw product overflows
    # BIGINT at doc_id >= 2^63/2654435761 ~ 3.47e9 (both engines THROW,
    # neither wraps); the reduced operand keeps the product < 2.7e17
    # for EVERY BIGINT id, and is the identity for ids < 1e8+7
    bucket = ((F.col("doc_id") % _SPLIT_REDUCE) * _SPLIT_MULT) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# agg_mode_most_frequent — per-group mode with deterministic tie-break
# --------------------------------------------------------------------------

_MODE_SQL = """
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source),
    m AS (SELECT lang, max(n) AS mode_count FROM c GROUP BY lang)
    SELECT c.lang, min(c.source) AS mode_source, m.mode_count
    FROM c JOIN m ON c.lang = m.lang AND c.n = m.mode_count
    GROUP BY c.lang, m.mode_count
    """


@register("agg_mode_most_frequent", _MODE_SQL)
def agg_mode_most_frequent(spark, sf):
    """Per-group mode (most frequent value) with a deterministic
    tie-break on the value itself — the dominant-host-per-language /
    dominant-encoding-per-host census shape. Two-phase: exact
    (group, value) counts, then min_by(value, struct(-n, value))
    per group (highest count, lexicographically smallest value on
    ties); both phases partial-aggregate.

    Scale shape: the (lang, source) count table is the only shuffle;
    the mode pick is a tiny second aggregate over it. No window, no
    sort of the doc table."""
    d = load_table(spark, sf, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    return c.groupBy("lang").agg(
        F.expr(
            "min_by(source, struct(-n, source))"
        ).alias("mode_source"),
        F.max("n").alias("mode_count"),
    )


# --------------------------------------------------------------------------
# scalar_bitwise_funcs — bit manipulation coverage
# --------------------------------------------------------------------------

_BITWISE_SQL = """
    SELECT doc_id,
           doc_id & 255 AS band,
           doc_id | 4096 AS bor,
           xor(doc_id, 21845) AS bxor,
           (doc_id & 1152921504606846975) << 3 AS shl,
           doc_id >> 2 AS shr,
           CAST(bit_count(doc_id) AS INTEGER) AS popcount
    FROM documents
    """


@register("scalar_bitwise_funcs", _BITWISE_SQL)
def scalar_bitwise_funcs(spark, sf):
    """Bitwise scalar coverage (AND/OR/XOR/shifts/popcount) — the ops
    every hash/sketch/bitmap key builds on (simhash hamming uses
    bit_count; the Bloom/CMS keys use multiply-mod because DuckDB
    lacks a shared 64-bit hash, but the raw bit ops themselves are
    engine-shared and pinned here). Pure map-side codegen projection,
    zero shuffles."""
    d = load_table(spark, sf, "documents").select("doc_id")
    return d.select(
        "doc_id",
        F.expr("doc_id & 255").alias("band"),
        F.expr("doc_id | 4096").alias("bor"),
        F.expr("doc_id ^ 21845").alias("bxor"),
        # mask to 2^60-1 first: Spark shiftleft silently wraps while
        # DuckDB << throws on overflow — masking pins one semantics
        F.expr("shiftleft(doc_id & 1152921504606846975, 3)")
        .alias("shl"),
        F.expr("shiftright(doc_id, 2)").alias("shr"),
        F.expr("bit_count(doc_id)").alias("popcount"),
    )


# --------------------------------------------------------------------------
# join_asof_next — forward as-of (label) join
# --------------------------------------------------------------------------

_ASOF_NEXT_SQL = """
    SELECT event_id, user_id, ts, next_purchase_ts,
           (next_purchase_ts IS NOT NULL
            AND next_purchase_ts <= ts + INTERVAL 1 DAY) AS converted_24h
    FROM (
      SELECT event_id, user_id, ts, event_type,
             min(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
             ) AS next_purchase_ts
      FROM events)
    WHERE event_type = 'view'
    """


@register("join_asof_next", _ASOF_NEXT_SQL)
def join_asof_next(spark, sf):
    """Forward as-of join — the LABEL join of every supervised web
    pipeline: for each view event, the user's next purchase strictly
    after it (in the (ts, event_id) total order) and a converted-
    within-24h label. join_asof_latest looks backward (latest crawl
    wins); this is its forward twin (what happened next), which is how
    conversion / next-action training targets are materialized.

    Scale shape: ONE user-keyed window over the unioned event stream —
    a running conditional min over the following rows — instead of a
    per-view subquery or a range self-join (which explodes on active
    users); the filter to views happens after the window so each event
    is read once. Same single shuffle as any per-user sessionization.
    Reference analog: R11 line->region resolve, time axis."""
    e = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    ).over(w)
    return (
        e.withColumn("next_purchase_ts", nxt)
        .filter(F.col("event_type") == "view")
        .select(
            "event_id", "user_id", "ts", "next_purchase_ts",
            (
                F.col("next_purchase_ts").isNotNull()
                & (
                    F.col("next_purchase_ts")
                    <= F.col("ts") + F.expr("INTERVAL 1 DAY")
                )
            ).alias("converted_24h"),
        )
    )


# --------------------------------------------------------------------------
# events_anomaly_hours — integer-exact z-score anomaly flags
# --------------------------------------------------------------------------

_ANOMALY_Z = 2  # |z| threshold

_ANOMALY_SQL = f"""
    WITH c AS ({_HOURLY_COUNTS_CTE}),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(n) AS BIGINT) AS sn,
             CAST(sum(n * n) AS BIGINT) AS sq
      FROM c GROUP BY event_type)
    SELECT c.event_type, c.win_start, c.n,
           CASE WHEN s.cnt * s.sq - s.sn * s.sn > 0
                THEN CAST(c.n * s.cnt - s.sn AS DOUBLE)
                  / sqrt(CAST(s.cnt * s.sq - s.sn * s.sn AS DOUBLE))
                ELSE NULL END AS z,
           (c.n * s.cnt - s.sn) * (c.n * s.cnt - s.sn)
             > {_ANOMALY_Z * _ANOMALY_Z} * (s.cnt * s.sq - s.sn * s.sn)
             AS is_anomaly
    FROM c JOIN s USING (event_type)
    """


@register("events_anomaly_hours", _ANOMALY_SQL)
def events_anomaly_hours(spark, sf):
    """Hourly volume anomaly detection per event type — the traffic-
    spike / crawler-trap alarm every ingestion pipeline runs: each
    hour's count is z-scored against that type's distribution and
    flagged at |z| > 2. The FLAG is computed entirely in integers —
    |x-mu| > 2*sigma is squared into (x*c - S)^2 > 4*(c*Q - S^2) over
    exact BIGINT count sums — so the anomaly decision is bit-identical
    at any parallelism and immune to float-order effects; the reported
    z itself is two IEEE ops (one sqrt, one divide) on those exact
    integers, engine-identical per row. Magnitude bound: c*Q fits
    BIGINT while per-window counts stay under ~3e6 per type (beyond
    that, shard windows or lift the sums to decimal(38,0) — the
    trainer-key recipe).

    Scale shape: one partial-aggregated (type, window) count, one tiny
    per-type stats aggregate (rows = #types) broadcast back onto the
    counts — the raw stream is touched once, and nothing about the
    z-test ever sees an individual event."""
    c = _hourly_type_counts(load_table(spark, sf, "events"))
    s = c.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.sum("n").alias("sn"),
        F.sum(F.col("n") * F.col("n")).alias("sq"),
    )
    num = F.col("n") * F.col("cnt") - F.col("sn")
    varn = F.col("cnt") * F.col("sq") - F.col("sn") * F.col("sn")
    return c.join(F.broadcast(s), "event_type").select(
        "event_type", "win_start", "n",
        # explicit zero-variance guard: ANSI Spark THROWS on x/0.0
        # (DuckDB yields NULL) — a type seen in a single window has
        # varn = 0 and must yield NULL, not kill the job
        F.when(
            varn > 0, num.cast("double") / F.sqrt(varn.cast("double"))
        ).alias("z"),
        (num * num > _ANOMALY_Z * _ANOMALY_Z * varn).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# scan_jsonl_corrupt_tolerant — PERMISSIVE scan of a dirty JSONL landing
# --------------------------------------------------------------------------

_CORRUPT_SCAN_SQL = """
    SELECT doc_id, lang, FALSE AS is_corrupt
    FROM documents WHERE doc_id % 17 <> 0
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), TRUE
    FROM documents WHERE doc_id % 17 = 0
    """


@register("scan_jsonl_corrupt_tolerant", _CORRUPT_SCAN_SQL)
def scan_jsonl_corrupt_tolerant(spark, sf):
    """PERMISSIVE scan of a JSONL landing with malformed lines — the
    third-party-crawl-dump reality: every 17th line is truncated
    mid-object, and the scan must recover every parseable row while
    SURFACING (not dropping, not failing on) the corrupt ones via the
    _corrupt_record column. One row per input line, always — the
    source-level never-drop contract (R17 at the scan instead of the
    UDF): is_corrupt=true rows carry NULL fields and feed the
    quarantine/reingest path, and the count of them is the data-quality
    metric lineage tracks per landing.

    Scale shape: JSON line parsing is per-line and splittable; the
    corrupt flag is a projection of the parser's own error channel —
    no second pass, no Python, no shuffle. DROPMALFORMED/FAILFAST are
    one option away but destroy the audit trail; PERMISSIVE is the
    production default for exactly that reason."""
    from octospark.sources import stage_corrupt_jsonl

    dest = stage_corrupt_jsonl(sf)
    df = (
        spark.read.schema("doc_id long, lang string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(dest)
    )
    return df.select(
        "doc_id", "lang",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


# --------------------------------------------------------------------------
# events_markov_transitions — event-type transition matrix
# --------------------------------------------------------------------------

_MARKOV_SQL = """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS next_type
      FROM events),
    c AS (
      SELECT event_type AS cur, next_type AS nxt,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    tot AS (SELECT cur, CAST(sum(n) AS BIGINT) AS row_n FROM c GROUP BY cur)
    SELECT c.cur, c.nxt, c.n,
           CAST(c.n AS DOUBLE) / tot.row_n AS p
    FROM c JOIN tot USING (cur)
    """


@register("events_markov_transitions", _MARKOV_SQL)
def events_markov_transitions(spark, sf):
    """First-order Markov transition matrix over per-user event
    sequences — the session-modeling estimate behind next-action
    prediction and bot detection (bots have near-deterministic rows,
    humans don't): P(next | current) from consecutive-event pairs in
    (ts, event_id) order. The behavioral twin of text_bigram_lm.

    Scale shape: ONE user-keyed window (lead) over the stream — the
    same single shuffle as sessionization, no self-join — then a
    types^2-bounded count aggregate with map-side partials; row totals
    roll up the transition table, not the stream; one IEEE division
    per cell."""
    e = load_table(spark, sf, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = e.withColumn("next_type", F.lead("event_type").over(w))
    c = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("cur"),
            F.col("next_type").alias("nxt"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = c.groupBy("cur").agg(F.sum("n").alias("row_n"))
    return c.join(F.broadcast(tot), "cur").select(
        "cur", "nxt", "n",
        (F.col("n").cast("double") / F.col("row_n")).alias("p"),
    )


# --------------------------------------------------------------------------
# scalar_edit_distance — cross-engine Levenshtein pin
# --------------------------------------------------------------------------

# the substitution char adapts so it ALWAYS differs from the original
# first char — distance 1 holds for any fixture, not just ones whose
# texts avoid 'X'
_EDIT_NOISE_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN
           (CASE WHEN substr(text, 1, 1) = 'X' THEN 'Y' ELSE 'X' END)
             || substr(text, 2)
         WHEN doc_id % 3 = 1 THEN substr(text, 1, length(text) - 1)
         ELSE text || ' extra' END
    """


@register(
    "scalar_edit_distance",
    f"""
    SELECT doc_id,
           CAST(levenshtein(text, {_EDIT_NOISE_SQL}) AS INTEGER)
             AS dist,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE text IS NOT NULL AND length(text) > 1
    """,
)
def scalar_edit_distance(spark, sf):
    """Levenshtein edit distance pinned cross-engine — the
    string-similarity primitive recrawl-drift and OCR-noise
    quantification runs on (how much did this page's text change since
    the last crawl?). Deterministic noisy variants (substitution,
    deletion, append — keyed by doc_id % 3) give known small distances
    over real document text, so both engines' DP implementations are
    compared over thousands of long-string cases, not toy literals.

    Scale shape: a pure map-side projection — but an O(len^2) one, so
    the documented discipline is: gate behind a cheap filter first
    (length delta or hash inequality) and never run it corpus x corpus;
    this key's shape (same-row comparison after a deterministic
    transform) is the bounded use."""
    d = load_table(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 1)
    )
    sub_char = F.when(
        F.expr("substring(text, 1, 1)") == "X", F.lit("Y")
    ).otherwise(F.lit("X"))
    noisy = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(sub_char, F.expr("substring(text, 2)")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.expr("substring(text, 1, length(text) - 1)"),
        )
        .otherwise(F.concat(F.col("text"), F.lit(" extra")))
    )
    return d.select(
        "doc_id",
        F.levenshtein(F.col("text"), noisy).alias("dist"),
        F.length("text").cast("long").alias("n_chars"),
    )


# --------------------------------------------------------------------------
# events_ab_lift_test — integer-exact two-proportion A/B significance
# --------------------------------------------------------------------------

_AB_Z = 2  # |z| threshold (~95%)

_AB_SQL = f"""
    WITH g AS (
      SELECT user_id % 2 AS grp,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS x
      FROM events GROUP BY user_id % 2),
    w AS (
      SELECT max(CASE WHEN grp = 0 THEN n END) AS n_a,
             max(CASE WHEN grp = 0 THEN x END) AS x_a,
             max(CASE WHEN grp = 1 THEN n END) AS n_b,
             max(CASE WHEN grp = 1 THEN x END) AS x_b
      FROM g)
    SELECT n_a, x_a, n_b, x_b,
           CAST(x_a AS DOUBLE) / n_a AS rate_a,
           CAST(x_b AS DOUBLE) / n_b AS rate_b,
           CASE WHEN (x_a + x_b) * (n_a + n_b - x_a - x_b) > 0
                THEN CAST(x_a * n_b - x_b * n_a AS DOUBLE)
                  / sqrt(CAST(n_a * n_b AS DOUBLE)
                         * (x_a + x_b) * (n_a + n_b - x_a - x_b)
                         / (n_a + n_b))
                ELSE NULL END AS z,
           (x_a * n_b - x_b * n_a) * (x_a * n_b - x_b * n_a)
             * (n_a + n_b)
             > {_AB_Z * _AB_Z} * n_a * n_b * (x_a + x_b)
               * (n_a + n_b - x_a - x_b) AS significant
    FROM w
    """


@register("events_ab_lift_test", _AB_SQL)
def events_ab_lift_test(spark, sf):
    """Two-proportion A/B significance test (pooled z-test) — the
    ship/hold gate every experiment platform runs, here over purchase
    share by user-id parity as the assignment. The DECISION is pure
    integer arithmetic: |z| > 2 is squared into
    (x_a*n_b - x_b*n_a)^2 * n > 4 * n_a*n_b*x*(n-x) over exact BIGINT
    counts — bit-identical at any parallelism and immune to libm and
    float-order effects (the events_anomaly_hours recipe for the
    two-sample case); the reported z is a few IEEE ops on the same
    exact integers, NULL-guarded for the degenerate all-or-nothing
    pooled rate. Magnitude bound: products stay in BIGINT while group
    event counts are < ~10^4.5 * sqrt ratio — beyond that lift the
    decision products to decimal(38,0) (trainer recipe).

    Scale shape: one partial-aggregated two-row group count, pivoted
    to a single row — the stream is read once, the test costs nothing
    more at any scale."""
    e = load_table(spark, sf, "events")
    g = e.groupBy((F.col("user_id") % 2).alias("grp")).agg(
        F.count("*").alias("n"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("x"),
    )
    w = g.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("x"))).alias("x_b"),
    )
    num = F.col("x_a") * F.col("n_b") - F.col("x_b") * F.col("n_a")
    x = F.col("x_a") + F.col("x_b")
    n = F.col("n_a") + F.col("n_b")
    nx = n - x
    return w.select(
        "n_a", "x_a", "n_b", "x_b",
        (F.col("x_a").cast("double") / F.col("n_a")).alias("rate_a"),
        (F.col("x_b").cast("double") / F.col("n_b")).alias("rate_b"),
        F.when(
            x * nx > 0,
            num.cast("double")
            / F.sqrt(
                (F.col("n_a") * F.col("n_b")).cast("double") * x * nx / n
            ),
        ).alias("z"),
        (
            num * num * n
            > F.lit(_AB_Z * _AB_Z) * F.col("n_a") * F.col("n_b") * x * nx
        ).alias("significant"),
    )


# --------------------------------------------------------------------------
# densified hourly series — shared by the sequential detectors
# (EWMA, CUSUM, seasonal baseline, Holt forecast): every hour between
# each type's first and last event, zero-filled, so silent hours are
# DATA (they drain a cusum, anchor a seasonal median, decay a forecast)
# instead of invisible gaps.
# --------------------------------------------------------------------------

_DENSE_HOURLY_CTE = """c AS ({hourly}),
    span AS (
      SELECT event_type, min(win_start) AS lo, max(win_start) AS hi
      FROM c GROUP BY 1),
    dense AS (
      SELECT s.event_type,
             strftime(unnest(generate_series(
                 CAST(s.lo AS TIMESTAMP), CAST(s.hi AS TIMESTAMP),
                 INTERVAL 1 HOUR)), '%Y-%m-%d %H:%M:%S') AS win_start
      FROM span s),
    d AS (
      SELECT dense.event_type, dense.win_start,
             COALESCE(c.n, CAST(0 AS BIGINT)) AS n
      FROM dense LEFT JOIN c
        ON c.event_type = dense.event_type
       AND c.win_start = dense.win_start)"""


def _densified_hourly(spark, sf) -> DataFrame:
    """Densified hourly (event_type, win_start, n) count table: the
    hourly rollup left-joined onto each type's full first-to-last hour
    range, zero-filled. One partial-agg shuffle collapses the events
    scan; the densify join runs on the collapsed (types x hours)
    table, never the event stream."""
    c = _hourly_type_counts(load_table(spark, sf, "events"))
    # the rollup feeds TWO plan branches (the span rollup and the
    # densify join) — materialize it once so the 100 TB events table
    # is scanned exactly once, not twice (events_anomaly_mad rule)
    c = materialize(c)
    span = c.groupBy("event_type").agg(
        F.min("win_start").alias("lo"), F.max("win_start").alias("hi")
    )
    hours = span.select(
        "event_type",
        F.explode(
            F.sequence(
                F.to_timestamp("lo"),
                F.to_timestamp("hi"),
                F.expr("interval 1 hour"),
            )
        ).alias("ts_h"),
    )
    return (
        hours.select(
            "event_type",
            F.date_format("ts_h", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
        )
        .join(c, ["event_type", "win_start"], "left")
        .select(
            "event_type",
            "win_start",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# events_ewma_hourly — truncated EWMA smoothing with exact halving
# --------------------------------------------------------------------------

_EWMA_WINDOW = 8  # hours of history folded into the smooth

_EWMA_SQL = f"""
    WITH {_DENSE_HOURLY_CTE},
    w AS (
      SELECT event_type, win_start, n,
             list(CAST(n AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY win_start
               ROWS BETWEEN {_EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
             ) AS hist
      FROM d)
    SELECT event_type, win_start, n,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), hist),
                       (acc, x) -> (acc + x) / 2) AS ewma
    FROM w
    """


@register(
    "events_ewma_hourly", _EWMA_SQL.format(hourly=_HOURLY_COUNTS_CTE)
)
def events_ewma_hourly(spark, sf):
    """Truncated exponential smoothing of hourly volumes per event
    type (alpha = 0.5) — the denoised baseline the anomaly alarm
    (events_anomaly_hours) compares against in a real deployment,
    where raw hourly counts are too jumpy to threshold directly.
    alpha is pinned at 0.5 DELIBERATELY: the recursion
    ewma = (x + ewma_prev) / 2 is one addition (single rounding) and
    one EXACT halving per step, folded over the ordered window
    history from a seed of 0 — identical op sequence in both engines
    (Spark F.aggregate, DuckDB list_reduce with a prepended seed,
    which otherwise seeds from the first element), so the smooth is
    bitwise deterministic; a general alpha would compound libm-free
    but order-sensitive multiplies.

    The hourly series is DENSIFIED first: every hour between each
    type's first and last observed event gets a row (zero-count where
    silent), so multi-hour gaps pull the baseline toward zero instead
    of being smoothed as if adjacent — the behavior an anomaly alarm
    actually needs, and zeros are exact in the halving fold. The
    densifying join's build side is tiny (one sequence row per
    type-hour), so the extra shuffle is over the already-aggregated
    count table, never the raw events.

    Scale shape: the shared hourly count table, a per-type hour-range
    generate + left join to fill gaps, one type-partitioned ordered
    window collecting at most 8 values per row, and a constant-length
    fold."""
    dense = _densified_hourly(spark, sf)
    w = Window.partitionBy("event_type").orderBy("win_start").rowsBetween(
        -(_EWMA_WINDOW - 1), Window.currentRow
    )
    hist = F.collect_list(F.col("n").cast("double")).over(w)
    ewma = F.aggregate(
        hist, F.lit(0.0), lambda acc, x: (acc + x) / 2
    )
    return dense.select(
        "event_type", "win_start", "n", ewma.alias("ewma")
    )


# --------------------------------------------------------------------------
# events_sessionize_gap — batch gap-based sessionization
# --------------------------------------------------------------------------

_SESSION_GAP_US = 1800 * 1_000_000  # 30 min, in epoch microseconds


@register(
    "events_sessionize_gap",
    f"""
    WITH e AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    b AS (
      SELECT user_id, ts,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    s AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM b)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def events_sessionize_gap(spark, sf):
    """Batch sessionization by inactivity gap — the offline twin of
    stream_session_window: a new session starts when a user's gap to
    the previous event exceeds 30 minutes.  lag() flags boundaries,
    a running sum over the SAME (user_id, ts) window numbers the
    sessions, then one groupBy rolls them up — two window passes and
    one aggregation over a single hashpartitioning(user_id) exchange
    (the windows and the groupBy all cluster by user_id, so Catalyst
    reuses the shuffle).  Gap and duration compare in exact epoch
    microseconds (unix_micros / epoch_us), never float seconds.

    Note the running-sum window orders by ts only: is_new is constant
    across an equal-ts run inside one user (lag's (ts, event_id) order
    fixes WHICH row sees the gap, but a running sum over a tie group
    is order-sensitive only if the summand varies within the tie).
    Synthetic events have unique (user_id, ts) pairs anyway; this
    keeps the plan one sort cheaper.

    Reference analog: octopy groups OCR lines into reading-order
    blocks by vertical-gap thresholds (src/octopy/segment.py); this is
    the temporal version over the events table."""
    e = load_table(spark, sf, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # ts is TIMESTAMP_NTZ in the parquet; with the session pinned to
    # UTC the cast to TIMESTAMP is wall-clock-identical, and unix_micros
    # then matches DuckDB's epoch_us over the same naive values.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.unix_micros(F.lag("ts").over(w_ord).cast("timestamp"))
    flagged = e.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("is_new").over(w_run).alias("session_id")
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (
            F.max(ts_us) - F.min(ts_us)
        ).alias("duration_us"),
    )


# --------------------------------------------------------------------------
# table_scd2_history — snapshot stream -> type-2 slowly-changing dimension
# --------------------------------------------------------------------------

@register(
    "table_scd2_history",
    """
    WITH h AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             lag(o_orderstatus) OVER w AS prev_status
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)),
    chg AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      FROM h
      WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER w2 AS valid_to,
           CASE WHEN lead(o_orderdate) OVER w2 IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey)
    """,
)
def table_scd2_history(spark, sf):
    """Type-2 slowly-changing-dimension build: compact each customer's
    order-status timeline into validity intervals — a row per status
    RUN with [valid_from, valid_to) bounds and an is_current flag.
    lag() drops within-run repeats, lead() closes each interval with
    the next change's start; both windows cluster by o_custkey so the
    whole history build is one exchange and two sorts, no join (the
    classic join-snapshot-to-dimension SCD2 merge degenerates to
    windows when the snapshots already live in one table).  Ties on
    o_orderdate are totally ordered by o_orderkey in BOTH engines, so
    the run compaction is deterministic.  At 100 TB this is the
    standard changelog-compaction shape: partial nothing, one shuffle
    on the dimension key, and the output is the small (changes-only)
    table that table_merge_upsert then maintains incrementally.

    Reference analog: octopy's checkpoint chain keeps only epochs where
    the model CHANGED (train.py best-model tracking) — the same
    keep-the-transitions compaction over a versioned history."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    chg = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        F.lag("o_orderstatus").over(w).alias("prev_status"),
    ).filter(
        F.col("prev_status").isNull()
        | (F.col("prev_status") != F.col("o_orderstatus"))
    )
    return chg.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.lead("o_orderdate").over(w).alias("valid_to"),
        F.when(F.lead("o_orderdate").over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_current"),
    )


# --------------------------------------------------------------------------
# events_peak_concurrency — distributed interval sweep (two-level prefix sum)
# --------------------------------------------------------------------------

_CONC_HOLD_S = 300  # each event holds a slot for 5 minutes


@register(
    "events_peak_concurrency",
    f"""
    WITH d AS (
      SELECT event_type, ts, 1 AS delta FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL {_CONC_HOLD_S} SECOND, -1 FROM events),
    r AS (
      SELECT event_type, ts,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY ts, delta DESC
                              ROWS UNBOUNDED PRECEDING) AS run
      FROM d),
    p AS (SELECT event_type, MAX(run) AS peak FROM r GROUP BY event_type)
    SELECT r.event_type, p.peak AS peak_concurrency,
           MIN(r.ts) AS peak_ts
    FROM r JOIN p ON r.event_type = p.event_type AND r.run = p.peak
    GROUP BY r.event_type, p.peak
    """,
)
def events_peak_concurrency(spark, sf):
    """Peak concurrency per event type — the interval-sweep primitive
    (max simultaneously-open 5-minute event windows, the load-sizing /
    rate-limit-budget question every serving and crawl scheduler
    asks).  Classic sweep: each interval emits a +1 at its start and a
    -1 at its end, and the peak is the max of the running sum over
    boundaries in time order (+1 before -1 on ties, so touching
    intervals count as overlapping).

    The naive running sum is ONE window per event_type — a handful of
    single-reducer partitions each dragging the type's entire boundary
    stream through one task (the single-partition-window anti-pattern
    this repo's plan sweep rejects).  The distributed form is the
    textbook two-level prefix sum: a LOCAL running sum inside each
    (event_type, hour) bucket — hashpartitioning(event_type, bucket),
    thousands of parallel slices — plus a per-bucket delta total whose
    OWN running sum over the tiny (type x hour) table provides each
    bucket's carry-in offset; local + previous-buckets offset = the
    exact global running sum, because hour(ts) is monotone in ts so
    bucket order refines time order.  The offset window orders
    bounded-metadata rows (n_types x n_hours), the documented
    small-window exception class (corpus_host_coverage_curve).  The
    oracle replays the single-window form — same values, different
    physical plan, which is the point.

    peak_ts (earliest instant the peak is reached) is deterministic
    even though intra-tie running-sum values are not: within an equal
    (ts, delta=+1) run, interior prefixes are strictly below the run's
    last row, so run == peak only ever selects ts values shared by the
    whole tie group.

    Reference analog: octopy sizes its worker pool from the max number
    of simultaneously-open page parses (reference src/octopy/octopy.py
    process-pool sizing); this is the same high-water-mark question
    asked of the event stream."""
    e = load_table(spark, sf, "events")
    starts = e.select("event_type", "ts", F.lit(1).alias("delta"))
    ends = e.select(
        "event_type",
        F.expr(f"ts + INTERVAL {_CONC_HOLD_S} SECONDS").alias("ts"),
        F.lit(-1).alias("delta"),
    )
    d = starts.unionByName(ends).withColumn(
        "bucket", F.date_trunc("hour", F.col("ts"))
    )
    w_local = (
        Window.partitionBy("event_type", "bucket")
        .orderBy(F.col("ts"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.select(
        "event_type",
        "bucket",
        "ts",
        F.sum("delta").over(w_local).alias("local_run"),
    )
    # carry-in: running sum of bucket totals over the tiny per-type
    # hour table, shifted one bucket back (strictly-previous buckets)
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    totals = (
        d.groupBy("event_type", "bucket")
        .agg(F.sum("delta").alias("btot"))
        .withColumn(
            "offset", F.coalesce(F.sum("btot").over(w_carry), F.lit(0))
        )
        .drop("btot")
    )
    run = local.join(
        F.broadcast(totals), ["event_type", "bucket"]
    ).select(
        "event_type",
        "bucket",
        "ts",
        (F.col("local_run") + F.col("offset")).alias("run"),
    )
    # Per-bucket candidate: (bucket max run, earliest ts achieving it),
    # folded as max(struct(run, -us)) — lexicographic struct max takes
    # the highest run, ties toward the largest -us = the SMALLEST ts.
    # This groupBy clusters on the SAME (event_type, bucket) keys the
    # local window partitioned by, so it adds no exchange, and it
    # replaces the naive max-then-join-back (which would recompute the
    # whole boundary pipeline a second time) with one extra map-side
    # aggregate; the final rollup then sees only bounded
    # (type x hour) candidate rows.
    neg_us = -F.unix_micros(F.col("ts").cast("timestamp"))
    cand = run.groupBy("event_type", "bucket").agg(
        F.max(F.struct(F.col("run").alias("r"), neg_us.alias("nus"))).alias(
            "best"
        )
    )
    return cand.groupBy("event_type").agg(
        F.max("best")["r"].alias("peak_concurrency"),
        F.timestamp_micros(-F.max("best")["nus"])
        .cast("timestamp_ntz")
        .alias("peak_ts"),
    )


# --------------------------------------------------------------------------
# table_compaction_plan — small-file compaction bin assignment
# --------------------------------------------------------------------------

_COMPACT_TARGET_BYTES = 2048

_COMPACTION_SQL = f"""
    WITH files AS (
      SELECT source, doc_id // 100 AS file_id,
             sum(n_chars) AS file_bytes
      FROM documents GROUP BY 1, 2),
    planned AS (
      SELECT source, file_id, file_bytes,
             (sum(file_bytes) OVER (
                PARTITION BY source ORDER BY file_id
                ROWS UNBOUNDED PRECEDING) - file_bytes)
               // {_COMPACT_TARGET_BYTES} AS out_group
      FROM files)
    SELECT source, out_group,
           count(*) AS n_files,
           sum(file_bytes) AS group_bytes,
           min(file_id) AS first_file, max(file_id) AS last_file
    FROM planned GROUP BY 1, 2
    """


@register("table_compaction_plan", _COMPACTION_SQL)
def table_compaction_plan(spark, sf):
    """Small-file compaction planner — the table-maintenance op every
    10^12-row Iceberg/parquet table needs: roll a partition's file
    inventory (here synthesized as per-source shards of the documents
    table, ~5 files each) into rewrite groups of ~target bytes.  A
    file joins the group its cumulative START offset falls in
    (floor(prefix_sum_before / target)), so assignment is a single
    running-sum window over (source ORDER BY file_id) — one exchange on
    the partition key, no join, no driver-side loop; groups respect
    file order, so each rewrite task streams a contiguous range.

    The planner's input at production scale is the MANIFEST (file id +
    byte size — millions of rows, not the data itself), which is why a
    window over it is affordable even when the table is 100 TB; the
    rewrite tasks the plan drives are embarrassingly parallel per
    out_group.  Integer bytes only; the DuckDB oracle replays the same
    prefix-sum bucketing exactly.

    Reference analog: checkpoint consolidation keeps the top-k best
    checkpoints and drops the rest in one pass over metadata, never
    touching tensors (reference src/octopy/cli/train.py:80-87) — the
    same plan-over-manifest, act-per-group shape."""
    docs = load_table(spark, sf, "documents")
    files = docs.groupBy(
        "source", F.expr("doc_id div 100").alias("file_id")
    ).agg(F.sum("n_chars").alias("file_bytes"))
    w = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start_offset = F.sum("file_bytes").over(w) - F.col("file_bytes")
    # byte offsets stay far below 2^53, so the double division is
    # exact and floor() matches DuckDB's BIGINT // exactly
    planned = files.withColumn(
        "out_group",
        F.floor(start_offset / _COMPACT_TARGET_BYTES).cast("long"),
    )
    return planned.groupBy("source", "out_group").agg(
        F.count("*").alias("n_files"),
        F.sum("file_bytes").alias("group_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


# --------------------------------------------------------------------------
# events_bounce_rate — per-landing-type bounce share of gap sessions
# --------------------------------------------------------------------------

@register(
    "events_bounce_rate",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    b AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM b),
    rep AS (
      SELECT user_id, session_id, event_type,
             COUNT(*) OVER (PARTITION BY user_id, session_id) AS n_events,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn
      FROM s)
    SELECT event_type AS landing_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounced,
           SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
             // COUNT(*) AS bounce_micro
    FROM rep WHERE rn = 1
    GROUP BY 1
    """,
)
def events_bounce_rate(spark, sf):
    """Bounce rate by landing event type: sessionize by the 30-minute
    inactivity gap (the events_sessionize_gap rule), call the FIRST
    event of each session its landing, and report what share of
    sessions ended after that single event — the standard engagement
    read on a crawl/web-analytics stream, here as one more consumer of
    the shared sessionization shape.

    The running-sum window orders by (ts, event_id) — unlike
    events_sessionize_gap's ts-only ordering — because the landing row
    is picked by row_number over the same keys, and both engines must
    agree on session numbering within equal-ts runs for the landing
    pick to match.  Bounce share is exact integer micro-units (floor
    division), never a float ratio.

    Scale shape: every window and the session rollup cluster by
    user_id, so the whole thing is ONE hashpartitioning(user_id)
    exchange with three window passes riding it; the final landing-type
    rollup is a partial-agg over (n_event_types) rows.  Reference
    analog: R11-R13 ordered per-unit resolve (segment.py reading
    order) — first-block-of-region picking over the events table."""
    e = load_table(spark, sf, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.unix_micros(F.lag("ts").over(w_ord).cast("timestamp"))
    sess = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1).otherwise(0)
        )
        .over(w_run)
        .alias("session_id"),
    )
    w_sess = Window.partitionBy("user_id", "session_id")
    rep = sess.select(
        "event_type",
        F.count("*").over(w_sess).alias("n_events"),
        F.row_number()
        .over(w_sess.orderBy("ts", "event_id"))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    bounced = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0)
    )
    return rep.groupBy(F.col("event_type").alias("landing_type")).agg(
        F.count("*").alias("n_sessions"),
        bounced.cast("long").alias("n_bounced"),
        F.expr(
            "sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000"
            " div count(*)"
        ).alias("bounce_micro"),
    )


# --------------------------------------------------------------------------
# table_snapshot_cdc — change-data-feed between two snapshot states
# --------------------------------------------------------------------------

_CDC_CUTOFF = "1998-01-01"


@register(
    "table_snapshot_cdc",
    f"""
    WITH st AS (
      SELECT o_custkey,
             (max(struct_pack(d := o_orderdate, k := o_orderkey,
                              s := o_orderstatus))).s AS new_status,
             (max(CASE WHEN o_orderdate < TIMESTAMP '{_CDC_CUTOFF}'
                       THEN struct_pack(d := o_orderdate, k := o_orderkey,
                                        s := o_orderstatus) END)).s
               AS old_status
      FROM orders GROUP BY 1)
    SELECT o_custkey AS custkey,
           CASE WHEN old_status IS NULL THEN 'insert'
                ELSE 'update' END AS change_type,
           old_status, new_status
    FROM st
    WHERE old_status IS NULL OR old_status <> new_status
    """,
)
def table_snapshot_cdc(spark, sf):
    """Change-data-feed between two table snapshots — the Iceberg/Delta
    `table_changes(snapshot_a, snapshot_b)` read, synthesized from the
    orders changelog: snapshot A is each customer's latest status
    BEFORE the pinned cutoff, snapshot B the latest overall; emit one
    row per key that appeared (`insert`) or changed (`update`), with
    old and new values.  Unchanged keys emit nothing, which is the CDC
    contract (the delta is small even when the table is huge).

    Both snapshot states come out of ONE scan and ONE
    hashpartitioning(o_custkey) aggregate — no self-join of two
    snapshot reads: latest-overall and latest-before-cutoff are two
    max(struct(date, key, status)) aggregates (argmax via struct
    ordering, tie-free because (date, key) is unique per customer;
    the conditional max ignores the NULLs outside the cutoff), so the
    map side partially aggregates both states before the shuffle.
    DuckDB replays the same struct-max argmax bitwise.  At 100 TB this
    is the shape you want: CDC cost = one pass over the changelog
    partition range, not two snapshot materializations joined.

    Reference analog: octopy keeps best+last checkpoints and diffs
    epochs by metric change (train.py best-model tracking) — the same
    emit-only-the-transitions contract, here per dimension key."""
    o = load_table(spark, sf, "orders")
    rec = F.struct(
        F.col("o_orderdate").alias("d"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("s"),
    )
    st = o.groupBy("o_custkey").agg(
        F.max(rec).getField("s").alias("new_status"),
        F.max(
            F.when(F.col("o_orderdate") < F.lit(_CDC_CUTOFF), rec)
        )
        .getField("s")
        .alias("old_status"),
    )
    return st.filter(
        F.col("old_status").isNull()
        | (F.col("old_status") != F.col("new_status"))
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.when(F.col("old_status").isNull(), F.lit("insert"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        "old_status",
        "new_status",
    )


# --------------------------------------------------------------------------
# events_attribution — first/last-touch conversion attribution
# --------------------------------------------------------------------------

@register(
    "events_attribution",
    """
    WITH t AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_t,
             first_value(CASE WHEN event_type <> 'purchase'
                              THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_t
      FROM events),
    p AS (
      SELECT coalesce(last_t, 'direct') AS last_t,
             coalesce(first_t, 'direct') AS first_t,
             CAST(floor(value * 1000000) AS BIGINT) AS rev_micro
      FROM t WHERE event_type = 'purchase'),
    u AS (
      SELECT 'last' AS model, last_t AS touch_type, rev_micro FROM p
      UNION ALL
      SELECT 'first' AS model, first_t AS touch_type, rev_micro FROM p)
    SELECT model, touch_type,
           CAST(count(*) AS BIGINT) AS conversions,
           CAST(sum(rev_micro) AS BIGINT) AS revenue_micro
    FROM u GROUP BY 1, 2
    """,
)
def events_attribution(spark, sf):
    """Marketing-style conversion attribution over the event stream:
    each purchase is credited to the LAST non-purchase touch before it
    (last-touch model) and to the FIRST touch of the user's preceding
    journey (first-touch model); purchases with no prior touch fall to
    the 'direct' channel.  Revenue is floor-micro integer units so the
    cross-engine sum is exact regardless of fold order.

    Both attribution picks ride ONE window frame (user timeline,
    unbounded-preceding to 1-preceding, ignore-nulls last/first), so
    the whole key is a single hashpartitioning(user_id) exchange; the
    two models then fan out as an in-row array explode (2 rows per
    conversion, never a second scan) into a tiny partial-agg rollup.
    At 100 TB: windows cluster by user, conversions are a small
    fraction of events, and the final group-by is (2 x n_channels)
    rows.  Reference analog: R7's per-unit ordered resolve
    (/root/reference/src/octopy/segment.py reading order) — the
    attribution pick is 'resolve each conversion against its ordered
    predecessor context'."""
    e = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type") != "purchase", F.col("event_type")
    )
    t = e.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_t"),
        F.first(touch, ignorenulls=True).over(w).alias("first_t"),
    )
    p = t.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_t", F.lit("direct")).alias("last_t"),
        F.coalesce("first_t", F.lit("direct")).alias("first_t"),
        F.floor(F.col("value") * 1000000).cast("long").alias(
            "rev_micro"
        ),
    )
    models = F.explode(
        F.array(
            F.struct(
                F.lit("last").alias("model"),
                F.col("last_t").alias("touch_type"),
            ),
            F.struct(
                F.lit("first").alias("model"),
                F.col("first_t").alias("touch_type"),
            ),
        )
    )
    return (
        p.select(models.alias("mt"), "rev_micro")
        .groupBy(
            F.col("mt.model").alias("model"),
            F.col("mt.touch_type").alias("touch_type"),
        )
        .agg(
            F.count("*").alias("conversions"),
            F.sum("rev_micro").cast("long").alias("revenue_micro"),
        )
    )


# --------------------------------------------------------------------------
# table_manifest_prune — zone-map file skipping over the file manifest
# --------------------------------------------------------------------------

_PRUNE_DOC_LO, _PRUNE_DOC_HI = 120, 360  # doc_id range predicate
_PRUNE_MIN_CHARS = 60                    # n_chars lower-bound predicate

_MANIFEST_PRUNE_SQL = f"""
    WITH manifest AS (
      SELECT source, doc_id // 100 AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             sum(n_chars) AS file_bytes,
             min(doc_id) AS min_doc, max(doc_id) AS max_doc,
             min(n_chars) AS min_chars, max(n_chars) AS max_chars
      FROM documents GROUP BY 1, 2)
    SELECT source, file_id, n_rows, file_bytes,
           min_doc, max_doc, min_chars, max_chars,
           (max_doc >= {_PRUNE_DOC_LO} AND min_doc <= {_PRUNE_DOC_HI}
            AND max_chars >= {_PRUNE_MIN_CHARS}) AS must_scan,
           CASE
             WHEN NOT (max_doc >= {_PRUNE_DOC_LO}
                       AND min_doc <= {_PRUNE_DOC_HI}) THEN 'doc_range'
             WHEN max_chars < {_PRUNE_MIN_CHARS} THEN 'chars_stat'
             ELSE 'scan'
           END AS skip_reason
    FROM manifest
    """


@register("table_manifest_prune", _MANIFEST_PRUNE_SQL)
def table_manifest_prune(spark, sf):
    """Zone-map file skipping over the file MANIFEST — the planning
    step that makes a 100 TB scan affordable: every parquet/Iceberg
    file carries per-column min/max stats, and a range predicate
    (here ``doc_id BETWEEN 120 AND 360 AND n_chars >= 60``) must read
    a file only when the predicate's range intersects the file's
    stats envelope.  The planner touches manifest rows (one per file
    — millions of rows for a 10^12-row table, never the data) and
    emits must_scan + the first stats column that proved skippable,
    so the scan stage enumerates only surviving files.  The no-false-
    skip law (every row matching the predicate lives in a must_scan
    file) is pinned in tests; false POSITIVES (scanned file, zero
    matches) are allowed — that is what zone maps are.

    Scale shape: one partial-agg groupBy over the manifest synthesis
    (at production scale the manifest is already materialized — this
    is a metadata-only pass, the same plan-over-manifest discipline
    as table_compaction_plan); the decision itself is per-row
    arithmetic, no join, no window.  Files written in doc_id order
    have tight doc_id zone maps (the id predicate prunes hard), while
    n_chars is unsorted so its envelope is wide (it rarely prunes) —
    both behaviors are the honest production readout.

    Reference analog: octopy's inspect command reads run METADATA to
    decide what to re-process rather than re-reading page images
    (reference src/octopy/cli/inspect.py)."""
    docs = load_table(spark, sf, "documents")
    manifest = docs.groupBy(
        "source", F.expr("doc_id div 100").alias("file_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("file_bytes"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    doc_hit = (F.col("max_doc") >= _PRUNE_DOC_LO) & (
        F.col("min_doc") <= _PRUNE_DOC_HI
    )
    chars_hit = F.col("max_chars") >= _PRUNE_MIN_CHARS
    return manifest.select(
        "source", "file_id", "n_rows", "file_bytes",
        "min_doc", "max_doc", "min_chars", "max_chars",
        (doc_hit & chars_hit).alias("must_scan"),
        F.when(~doc_hit, F.lit("doc_range"))
        .when(~chars_hit, F.lit("chars_stat"))
        .otherwise(F.lit("scan"))
        .alias("skip_reason"),
    )


# --------------------------------------------------------------------------
# agg_reservoir_sample — fixed-size deterministic corpus sample
# --------------------------------------------------------------------------

_SAMPLE_K = 200

_RESERVOIR_SQL = f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS BIGINT)
             AS rank,
           doc_id, lang, hk
    FROM (
      SELECT doc_id, lang,
             ((doc_id % {_SPLIT_REDUCE}) * {_SPLIT_MULT}) % 4294967296
               AS hk
      FROM documents)
    ORDER BY hk, doc_id LIMIT {_SAMPLE_K}
    """


@register("agg_reservoir_sample", _RESERVOIR_SQL)
def agg_reservoir_sample(spark, sf):
    """Fixed-size-k uniform corpus sample by hash order statistics —
    the distributed equivalent of reservoir sampling: rank every row
    by a keyed Knuth multiplicative hash and keep the k smallest.
    Unlike the Bernoulli draw (corpus_stratified_sample, rate-based,
    size only in expectation) this yields EXACTLY k rows, which is
    what eval holdouts and human-inspection panels need; and unlike
    rand()-based sampling it is reproducible across runs, partition
    counts, and engines (pure int64 arithmetic, ties broken by
    doc_id).

    Scale shape: orderBy+limit plans as TakeOrderedAndProject — each
    partition keeps its local top-k (a k-row heap, one streaming
    pass), and the driver merges num_partitions * k candidate rows,
    never sorting the corpus.  At 10^12 pages with k=200 that merge
    is ~200 * n_partitions rows of metadata — the corpus itself is
    read once and never shuffled.

    Reference analog: octopy's train/val partition takes a fixed
    fraction of pages deterministically rather than shuffling the
    dataset (reference src/octopy/train.py)."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        (
            # reduce mod 1e8+7 BEFORE the multiply (the
            # corpus_split_assign overflow discipline): the raw product
            # exceeds BIGINT at doc_id >= 2^63/_SPLIT_MULT ~ 3.47e9
            ((F.col("doc_id") % _SPLIT_REDUCE)
             * F.lit(_SPLIT_MULT).cast("long"))
            % F.lit(4294967296).cast("long")
        ).alias("hk"),
    )
    top = docs.orderBy("hk", "doc_id").limit(_SAMPLE_K)
    w = Window.orderBy("hk", "doc_id")
    return top.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).select("rank", "doc_id", "lang", "hk")


# --------------------------------------------------------------------------
# events_wilson_ctr — conversion-rate ranking by Wilson lower bound
# --------------------------------------------------------------------------

_WILSON_CONV_VALUE = 100.0  # an event converts when its value exceeds this

_WILSON_SQL = f"""
    WITH agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN value > {_WILSON_CONV_VALUE}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      FROM events GROUP BY event_type)
    SELECT event_type, n_events, n_conv,
           CAST(n_conv AS DOUBLE) / n_events AS ctr,
           ((CAST(n_conv AS DOUBLE) / n_events) + 3.8416 / (2.0 * n_events)
             - 1.96 * sqrt(
                 ((CAST(n_conv AS DOUBLE) / n_events)
                  * (1.0 - CAST(n_conv AS DOUBLE) / n_events)) / n_events
                 + 3.8416 / (4.0 * n_events * n_events)))
             / (1.0 + 3.8416 / n_events) AS wilson_lb
    FROM agg
    """


@register("events_wilson_ctr", _WILSON_SQL)
def events_wilson_ctr(spark, sf):
    """Conversion-rate ranking by the Wilson score lower bound (z =
    1.96, the 'how not to sort by average rating' correction): a
    segment with 3/3 conversions must NOT outrank one with 180/200,
    so rankings sort by the interval's lower bound, which shrinks
    toward zero as n falls.  Counts are exact integers from one
    partial-agg groupBy; the bound itself is one IEEE expression
    written with the identical operation tree on both engines
    (division/sqrt are correctly rounded, so the doubles match
    bitwise).

    Scale shape: a single partial-aggregable groupBy over the event
    stream (map-side combine carries two counters per segment) —
    the estimator adds zero shuffles on top of the count; at 10^12
    events the per-segment math runs on the handful of rollup rows.

    Reference analog: octopy reports per-epoch validation accuracy
    as a raw proportion (reference src/octopy/cli/train.py); the
    Wilson bound is that proportion made safe to RANK by."""
    ev = load_table(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.when(F.col("value") > _WILSON_CONV_VALUE, 1).otherwise(0)
        ).cast("long").alias("n_conv"),
    )
    n = F.col("n_events").cast("double")
    p = F.col("n_conv").cast("double") / n
    lb = (
        p + F.lit(3.8416) / (F.lit(2.0) * n)
        - F.lit(1.96) * F.sqrt(
            (p * (F.lit(1.0) - p)) / n
            + F.lit(3.8416) / (F.lit(4.0) * n * n)
        )
    ) / (F.lit(1.0) + F.lit(3.8416) / n)
    return agg.select(
        "event_type", "n_events", "n_conv",
        p.alias("ctr"), lb.alias("wilson_lb"),
    )


# --------------------------------------------------------------------------
# events_sequence_pattern — MATCH_RECOGNIZE-style per-session regex
# --------------------------------------------------------------------------

_SEQ_CAP = 200  # guard: a bot session never builds an unbounded string

_SEQ_PATTERN = "v.*c.*p"  # view ... click ... purchase, in order

_SEQ_PATTERN_SQL = f"""
    WITH e AS (
      SELECT user_id, ts, event_id, substr(event_type, 1, 1) AS initial,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    b AS (
      SELECT user_id, ts, event_id, initial,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    s AS (
      SELECT user_id, ts, event_id, initial,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM b),
    capped AS (
      SELECT user_id, session_id, ts, event_id, initial,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn
      FROM s)
    SELECT user_id, session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(initial, '' ORDER BY ts, event_id) AS seq,
           regexp_matches(string_agg(initial, '' ORDER BY ts, event_id),
                          '{_SEQ_PATTERN}') AS matched
    FROM capped WHERE rn <= {_SEQ_CAP}
    GROUP BY user_id, session_id
    """


@register("events_sequence_pattern", _SEQ_PATTERN_SQL)
def events_sequence_pattern(spark, sf):
    """Per-session event-sequence pattern matching — the
    MATCH_RECOGNIZE emulation for engines without it: gap-sessionize
    (the events_sessionize_gap rule), render each session's ordered
    event-type initials as a string, and regex-match the journey
    ('v.*c.*p' = view then click then purchase, anything between) —
    subsequence funnels, abandonment shapes, and bot signatures all
    reduce to one regex over this string.  Order inside the collected
    array is made deterministic by sorting (ts, event_id) structs,
    and a per-session cap (200 events) bounds the string so a bot
    session can never blow up a row — the cap is applied identically
    in the oracle via a pre-aggregation row_number filter.

    Scale shape: ONE hashpartitioning(user_id) exchange carries the
    gap window, the session numbering, the cap window, and the
    per-session collect (all cluster by user); the regex is one JVM
    rlike per session row.  At 10^12 events sessions are bounded by
    the 30-minute gap rule + the cap, so collect_list stays O(cap)."""
    ev = load_table(spark, sf, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ: session tz is UTC so the cast is wall-clock-
    # identical (the events_sessionize_gap idiom)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = ts_us - F.unix_micros(
        F.lag("ts", 1).over(wu).cast("timestamp")
    )
    s = ev.select(
        "user_id", "ts", "event_id",
        F.substring("event_type", 1, 1).alias("initial"),
        F.when(
            F.lag("ts", 1).over(wu).isNull()
            | (gap_us > _SESSION_GAP_US),
            1,
        ).otherwise(0).alias("is_new"),
    ).select(
        "user_id", "ts", "event_id", "initial",
        F.sum("is_new")
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    capped = s.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= _SEQ_CAP
    )
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "initial"))
            ),
            lambda x: x.initial,
        ),
        "",
    )
    return (
        capped.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            seq.alias("seq"),
        )
        .select(
            "user_id", "session_id", "n_events", "seq",
            F.col("seq").rlike(_SEQ_PATTERN).alias("matched"),
        )
    )


# --------------------------------------------------------------------------
# events_new_vs_returning — daily growth accounting + cumulative users
# --------------------------------------------------------------------------

_NEW_RET_SQL = """
    WITH ud AS (
      SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d') AS day
      FROM events),
    first_day AS (
      SELECT user_id, min(day) AS day FROM ud GROUP BY user_id),
    act AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS active_users
      FROM ud GROUP BY day),
    nw AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_day GROUP BY day)
    SELECT a.day, a.active_users,
           COALESCE(n.new_users, 0) AS new_users,
           a.active_users - COALESCE(n.new_users, 0) AS returning_users,
           SUM(COALESCE(n.new_users, 0)) OVER (
             ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS cum_users
    FROM act a LEFT JOIN nw n ON a.day = n.day
    """


@register("events_new_vs_returning", _NEW_RET_SQL)
def events_new_vs_returning(spark, sf):
    """Daily new-vs-returning user accounting plus the cumulative
    acquired-users curve — the growth dashboard every event pipeline
    feeds: a user is NEW on the day of their first-ever event and
    RETURNING on every later active day; cum_users is the running sum
    of daily new users (== distinct users ever seen through that
    day).  All exact integer counts; days as formatted strings (the
    house timestamp rule).

    Scale shape: one distinct (user, day) shuffle over the event
    stream (partial-aggregable), one user-keyed min rollup for first
    days, then everything runs on DAY-sized tables — the cumulative
    window is a running sum over the collapsed per-day rollup
    (bounded by the calendar, never the event count), the documented
    global-window exception class of corpus_host_coverage_curve.

    Reference analog: octopy accumulates per-epoch counts over a
    fixed train/val membership (reference src/octopy/train.py) — the
    first-seen-day rollup is the same membership accounting over
    time."""
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("day"))
    act = ud.groupBy("day").agg(F.count("*").alias("active_users"))
    nw = first.groupBy("day").agg(F.count("*").alias("new_users"))
    j = act.join(nw, "day", "left").select(
        "day",
        "active_users",
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "day", "active_users", "new_users",
        (F.col("active_users") - F.col("new_users"))
        .alias("returning_users"),
        F.sum("new_users").over(w).alias("cum_users"),
    )


# --------------------------------------------------------------------------
# table_partition_evolution — planning across two partition specs
# --------------------------------------------------------------------------

_EVOLVE_SRC = "src1"
_EVOLVE_LANG = "en"

_PARTITION_EVOLUTION_SQL = f"""
    WITH spec1 AS (
      SELECT 1 AS spec, source, doc_id // 100 AS file_id,
             CAST(NULL AS VARCHAR) AS lang,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM documents WHERE (doc_id // 100) % 2 = 0
      GROUP BY source, doc_id // 100),
    spec2 AS (
      SELECT 2 AS spec, source, doc_id // 100 AS file_id, lang,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM documents WHERE (doc_id // 100) % 2 = 1
      GROUP BY source, doc_id // 100, lang),
    manifest AS (SELECT * FROM spec1 UNION ALL SELECT * FROM spec2)
    SELECT spec, source, file_id, lang, n_rows,
           (source = '{_EVOLVE_SRC}'
            AND (spec = 1 OR lang = '{_EVOLVE_LANG}')) AS must_scan,
           CASE
             WHEN source <> '{_EVOLVE_SRC}' THEN 'source'
             WHEN spec = 2 AND lang <> '{_EVOLVE_LANG}' THEN 'lang'
             ELSE 'scan'
           END AS prune_reason
    FROM manifest
    """


@register("table_partition_evolution", _PARTITION_EVOLUTION_SQL)
def table_partition_evolution(spark, sf):
    """Scan planning across an EVOLVED partition spec — the Iceberg
    contract that old data is never rewritten when the partitioning
    changes: files written under spec 1 (partitioned by source only)
    coexist with files written under spec 2 (partitioned by
    (source, lang)), and a predicate ``source = X AND lang = Y`` must
    prune per-spec — spec-2 files prune on BOTH keys, spec-1 files
    prune on source but must be scanned for every lang (their lang
    partition value does not exist).  The planner emits must_scan +
    the first partition key that proved skippable, per file, from the
    manifest alone.

    Scale shape: metadata-only, the table_manifest_prune discipline —
    two partial-agg groupBys synthesize the two spec manifests (at
    production scale both already exist as Iceberg manifests), the
    decision is per-row arithmetic, no join, no window.  This is why
    spec evolution is free on a 100 TB table: the old files keep
    their old grouping and only the PLANNER knows two dialects.

    Reference analog: octopy's class-merge remapping lets old labels
    coexist with a new target taxonomy, resolved at read time
    (reference src/octopy/train.py:199-240) — the same
    old-data-under-new-schema contract."""
    docs = load_table(spark, sf, "documents")
    fid = F.expr("doc_id div 100")
    s1 = (
        docs.filter(fid % 2 == 0)
        .groupBy("source", fid.alias("file_id"))
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.lit(1).alias("spec"), "source", "file_id",
            F.lit(None).cast("string").alias("lang"), "n_rows",
        )
    )
    s2 = (
        docs.filter(fid % 2 == 1)
        .groupBy("source", fid.alias("file_id"), "lang")
        .agg(F.count("*").alias("n_rows"))
        .select(
            F.lit(2).alias("spec"), "source", "file_id", "lang", "n_rows"
        )
    )
    m = s1.unionByName(s2)
    must = (F.col("source") == _EVOLVE_SRC) & (
        (F.col("spec") == 1) | (F.col("lang") == _EVOLVE_LANG)
    )
    return m.select(
        "spec", "source", "file_id", "lang", "n_rows",
        must.alias("must_scan"),
        F.when(F.col("source") != _EVOLVE_SRC, F.lit("source"))
        .when(
            (F.col("spec") == 2) & (F.col("lang") != _EVOLVE_LANG),
            F.lit("lang"),
        )
        .otherwise(F.lit("scan"))
        .alias("prune_reason"),
    )


# --------------------------------------------------------------------------
# events_stickiness_dau_wau — DAU/WAU engagement stickiness per day
# --------------------------------------------------------------------------

_STICKINESS_SQL = """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT DISTINCT user_id, cd FROM (
        SELECT user_id, unnest([day + CAST(i AS INTEGER) FOR i IN range(0, 7)]) AS cd
        FROM ud)),
    wau AS (
      SELECT cd AS day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM contrib GROUP BY cd)
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.dau, w.wau,
           d.dau * 1000000 // w.wau AS stickiness_micro
    FROM dau d JOIN wau w ON d.day = w.day
    """


@register("events_stickiness_dau_wau", _STICKINESS_SQL)
def events_stickiness_dau_wau(spark, sf):
    """DAU/WAU engagement stickiness per day — the standard retention
    health ratio: daily actives over trailing-7-day actives
    (stickiness 1e6 micro-units; ~142857 = users show up one day in
    seven, 1e6 = every weekly user is daily).  Distinct-count-over-a-
    sliding-window does NOT partial-aggregate directly, so the scale
    trick is CONTRIBUTION EXPANSION: each (user, active-day) row
    contributes to exactly the 7 calendar days it keeps the user
    'weekly active' for, and WAU(day) becomes a plain distinct count
    per contributed day — turning a windowed COUNT DISTINCT into two
    partial-aggregable shuffles with a bounded 7x row expansion of
    the (user, day) table (NOT of the event stream).

    Scale shape: one distinct (user, day) reduction of the event
    stream, one 7x map-side explode of that far-smaller table, one
    distinct + count per day; output is calendar-sized.  WAU is
    emitted for days with activity (inner join with DAU) — identical
    convention both engines.

    Reference analog: octopy's validation cadence measures model
    health on a sliding schedule (cli/train.py:199-206); this is the
    same trailing-window health readout over users."""
    ev = load_table(spark, sf, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    dau = ud.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("day"), i),
                )
            ).alias("cd"),
        )
        .distinct()
    )
    wau = contrib.groupBy(F.col("cd").alias("day")).agg(
        F.count("*").alias("wau")
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.expr("dau * 1000000 div wau").alias("stickiness_micro"),
        )
    )


# --------------------------------------------------------------------------
# events_rfm_segments — recency/frequency/monetary segmentation rollup
# --------------------------------------------------------------------------

_RFM_SQL = """
    WITH u AS (
      SELECT user_id,
             CAST(max(CAST(ts AS DATE)) AS DATE) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
               AS rev_micro
      FROM events GROUP BY user_id),
    mx AS (SELECT max(last_day) AS corpus_day FROM u),
    ur AS (
      SELECT user_id,
             CAST(datediff('day', last_day, corpus_day) AS BIGINT)
               AS r_days,
             freq, rev_micro
      FROM u, mx),
    cuts AS (
      SELECT quantile_cont(r_days, 0.25) AS r1,
             quantile_cont(r_days, 0.50) AS r2,
             quantile_cont(r_days, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1,
             quantile_cont(freq, 0.50) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(rev_micro, 0.25) AS m1,
             quantile_cont(rev_micro, 0.50) AS m2,
             quantile_cont(rev_micro, 0.75) AS m3
      FROM ur),
    scored AS (
      SELECT user_id, rev_micro,
             4 - (CAST(r_days > r1 AS BIGINT) + CAST(r_days > r2 AS BIGINT)
                  + CAST(r_days > r3 AS BIGINT)) AS r_score,
             1 + CAST(freq > f1 AS BIGINT) + CAST(freq > f2 AS BIGINT)
               + CAST(freq > f3 AS BIGINT) AS f_score,
             1 + CAST(rev_micro > m1 AS BIGINT)
               + CAST(rev_micro > m2 AS BIGINT)
               + CAST(rev_micro > m3 AS BIGINT) AS m_score
      FROM ur, cuts)
    SELECT r_score * 100 + f_score * 10 + m_score AS segment,
           r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(sum(rev_micro) AS BIGINT) AS rev_micro_sum
    FROM scored GROUP BY 1, 2, 3, 4
    """


@register("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark, sf):
    """RFM segmentation (recency / frequency / monetary — the classic
    customer-value rollup): per user, days since last event (relative
    to the corpus's latest day), event count, and floor-micro revenue;
    each dimension quartile-scored against exact percentile cutoffs
    (recency INVERTED — recent is better), segment = r*100+f*10+m.
    Revenue is floor(value*1e6) per event summed in BIGINT (the
    events_attribution micro discipline), so the only doubles anywhere
    are the quartile cutoffs — the agg_quartile_assign parity
    precedent (quantile_cont and Spark's exact percentile share the
    p*(N-1) lerp, bit-identical on integer inputs).

    Scale shape: ONE user-keyed partial-agg shuffle builds the user
    table; cutoffs are a single aggregation over it whose 9 doubles
    broadcast back (no window, no sort — the 10^12-row alternative to
    ntile); the segment rollup is 64-ary. At true scale swap exact
    percentile for percentile_approx, plan shape unchanged.

    Reference analog: R27 class statistics (per-class count rollups,
    reference src/octopy/train.py:99-121) applied to user value."""
    ev = load_table(spark, sf, "events")
    u = materialize(ev.groupBy("user_id").agg(
        F.max(F.col("ts").cast("date")).alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.floor(F.col("value") * 1000000).cast("long"))
        .cast("long")
        .alias("rev_micro"),
        # user-rollup-sized: materialize once so its four consumers
        # (corpus-day scalar, cutoffs, scoring, rollup) never re-scan
        # the event stream — the corpus_token_budget_plan discipline
    ))
    mx = u.agg(F.max("last_day").alias("corpus_day"))
    ur = u.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff("corpus_day", "last_day").cast("long").alias("r_days"),
        "freq",
        "rev_micro",
    )
    cuts = ur.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{p}{i}")
            for c, p in (("r_days", "r"), ("freq", "f"),
                         ("rev_micro", "m"))
            for i, q in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    def _gt(c, p):
        return (F.col(c) > F.col(p)).cast("long")
    scored = ur.crossJoin(F.broadcast(cuts)).select(
        "user_id", "rev_micro",
        (F.lit(4) - (_gt("r_days", "r1") + _gt("r_days", "r2")
                     + _gt("r_days", "r3"))).alias("r_score"),
        (F.lit(1) + _gt("freq", "f1") + _gt("freq", "f2")
         + _gt("freq", "f3")).alias("f_score"),
        (F.lit(1) + _gt("rev_micro", "m1") + _gt("rev_micro", "m2")
         + _gt("rev_micro", "m3")).alias("m_score"),
    )
    return (
        scored.groupBy(
            (F.col("r_score") * 100 + F.col("f_score") * 10
             + F.col("m_score")).alias("segment"),
            "r_score", "f_score", "m_score",
        )
        .agg(
            F.count("*").alias("n_users"),
            F.sum("rev_micro").cast("long").alias("rev_micro_sum"),
        )
    )


# --------------------------------------------------------------------------
# table_vacuum_orphans — orphan-file audit (vacuum planning)
# --------------------------------------------------------------------------

_VACUUM_SQL = """
    WITH manifest AS (
      SELECT source, doc_id // 100 AS file_id, sum(n_chars) AS file_bytes
      FROM documents GROUP BY 1, 2),
    listing AS (
      -- the physical directory listing: every manifest file PLUS the
      -- debris a crashed writer leaves behind (one .tmp per source,
      -- deterministic size so both engines agree)
      SELECT source, file_id, file_bytes, FALSE AS is_tmp FROM manifest
      UNION ALL
      -- file ids are unique WITHIN a source, so the debris id is a
      -- constant (no window, no global sort)
      SELECT source, CAST(9000 AS BIGINT) AS file_id,
             4096 AS file_bytes, TRUE AS is_tmp
      FROM (SELECT DISTINCT source FROM documents) s),
    audit AS (
      SELECT l.source, l.file_id, l.file_bytes, l.is_tmp,
             (m.file_id IS NULL) AS orphan
      FROM listing l LEFT JOIN manifest m
        ON l.source = m.source AND l.file_id = m.file_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans,
           SUM(CASE WHEN orphan THEN file_bytes ELSE 0 END)
             AS reclaim_bytes,
           SUM(CASE WHEN NOT orphan THEN file_bytes ELSE 0 END)
             AS live_bytes
    FROM audit GROUP BY source
    """


@register("table_vacuum_orphans", _VACUUM_SQL)
def table_vacuum_orphans(spark, sf):
    """Orphan-file audit — the VACUUM planning pass that closes the
    table-maintenance family (merge → retention → CDC → compaction →
    zone-map prune → spec evolution → vacuum): anti-join the physical
    directory LISTING against the snapshot MANIFEST; files on disk
    that no snapshot references (crashed-writer .tmp debris, aborted
    compactions) are orphans whose bytes a vacuum reclaims.  The
    listing is synthesized as manifest + one deterministic .tmp per
    source so both engines see identical debris; output is the
    per-source reclaim plan (never delete inline — plan first, act
    per group, the compaction-planner discipline).

    Scale shape: metadata-only — manifest and listing are file-grain
    tables (millions of rows for a 10^12-row table), the orphan check
    is one file-keyed left join, and the rollup partial-aggregates;
    the data itself is never read.  At production scale the listing
    side streams from the object store's LIST pages.

    Reference analog: octopy's checkpoint cleanup drops non-best
    checkpoints by comparing the directory against the tracked top-k
    list (reference src/octopy/cli/train.py:80-87)."""
    docs = load_table(spark, sf, "documents")
    manifest = docs.groupBy(
        "source", F.expr("doc_id div 100").alias("file_id")
    ).agg(F.sum("n_chars").alias("file_bytes"))
    # file ids are unique WITHIN a source, so the debris id is a
    # constant — no window, no global sort
    tmps = (
        docs.select("source").distinct()
        .select(
            "source",
            F.lit(9000).cast("long").alias("file_id"),
            F.lit(4096).cast("long").alias("file_bytes"),
            F.lit(True).alias("is_tmp"),
        )
    )
    listing = manifest.withColumn("is_tmp", F.lit(False)).unionByName(tmps)
    audit = listing.join(
        manifest.select(
            "source", "file_id", F.lit(True).alias("referenced")
        ),
        ["source", "file_id"],
        "left",
    ).select(
        "source", "file_bytes",
        F.col("referenced").isNull().alias("orphan"),
    )
    return audit.groupBy("source").agg(
        F.count("*").alias("n_files"),
        F.sum(F.when(F.col("orphan"), 1).otherwise(0))
        .cast("long")
        .alias("n_orphans"),
        F.sum(F.when(F.col("orphan"), F.col("file_bytes")).otherwise(0))
        .alias("reclaim_bytes"),
        F.sum(F.when(~F.col("orphan"), F.col("file_bytes")).otherwise(0))
        .alias("live_bytes"),
    )


# --------------------------------------------------------------------------
# events_time_to_convert — first-view -> first-purchase latency per user
# --------------------------------------------------------------------------

_TTC_SQL = """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts) END) AS first_view_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts) END) AS first_purchase_us
      FROM events GROUP BY user_id)
    SELECT user_id, first_view_us, first_purchase_us,
           first_purchase_us - first_view_us AS ttc_us
    FROM firsts
    WHERE first_view_us IS NOT NULL
      AND first_purchase_us IS NOT NULL
      AND first_purchase_us >= first_view_us
    """


@register("events_time_to_convert", _TTC_SQL)
def events_time_to_convert(spark, sf):
    """Time-to-convert — per user, the latency from first view to
    first purchase (the activation metric growth teams track next to
    the funnel): both firsts come from ONE conditional-min aggregation
    (min over a CASE, partial-aggregable — never a sort or window),
    emitted only for users who viewed before purchasing.  Exact epoch
    microseconds end-to-end; the session tz is UTC so the NTZ cast is
    wall-clock-identical (the events_sessionize_gap idiom).

    Scale shape: one user-keyed partial-agg shuffle of the event
    stream, map-side combine carries two running mins per user; the
    filter runs on the user-grain rollup.  At 10^12 events this is
    strictly cheaper than the funnel keys (no step ordering to
    resolve — firsts are commutative mins).

    Reference analog: octopy reports per-epoch elapsed training time
    against the validation metric (reference src/octopy/cli/train.py)
    — latency-to-outcome over the same rollup shape."""
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us))
        .alias("first_view_us"),
        F.min(F.when(F.col("event_type") == "purchase", us))
        .alias("first_purchase_us"),
    )
    return firsts.filter(
        F.col("first_view_us").isNotNull()
        & F.col("first_purchase_us").isNotNull()
        & (F.col("first_purchase_us") >= F.col("first_view_us"))
    ).select(
        "user_id", "first_view_us", "first_purchase_us",
        (F.col("first_purchase_us") - F.col("first_view_us"))
        .alias("ttc_us"),
    )


# --------------------------------------------------------------------------
# events_cohort_ltv — cumulative revenue by signup cohort and age
# --------------------------------------------------------------------------

_COHORT_LTV_SQL = """
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id),
    rev AS (
      SELECT f.cohort_day,
             datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS age_days,
             CAST(floor(e.value * 1000000) AS BIGINT) AS rev_micro
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'),
    daily AS (
      SELECT cohort_day, age_days,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(sum(rev_micro) AS BIGINT) AS rev_micro
      FROM rev GROUP BY cohort_day, age_days)
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           age_days, n_purchases, rev_micro,
           -- keep the running sum in exact integer arithmetic: DuckDB's
           -- windowed SUM over BIGINT upcasts through double otherwise
           CAST(SUM(CAST(rev_micro AS HUGEINT)) OVER (
             PARTITION BY cohort_day ORDER BY age_days
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_micro
    FROM daily
    """


@register("events_cohort_ltv", _COHORT_LTV_SQL)
def events_cohort_ltv(spark, sf):
    """Cohort LTV curves — cumulative purchase revenue by signup
    cohort (a user's first-ever event day) and cohort AGE in days:
    the lifetime-value readout growth teams plot cohort-over-cohort
    to see whether newer cohorts monetize faster.  Revenue in
    floor-micro integers (the events_attribution discipline), so the
    curve is engine-exact; days as formatted strings per the house
    timestamp rule.

    Scale shape: one user-keyed first-day rollup, one user-keyed
    join-back onto the purchase stream (both cluster on user_id so
    AQE reuses the partitioning), one (cohort, age) partial-agg
    groupBy; the cumulative window partitions by cohort_day over the
    cohort×age-sized rollup — bounded by the calendar squared, never
    the event count.

    Reference analog: octopy plots per-epoch validation accuracy over
    training age (reference src/octopy/cli/train.py) — the same
    cohort-age accumulation over users."""
    ev = load_table(spark, sf, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("cohort_day")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day"))
            .cast("long")
            .alias("age_days"),
            F.floor(F.col("value") * 1000000).cast("long")
            .alias("rev_micro"),
        )
    )
    daily = rev.groupBy("cohort_day", "age_days").agg(
        F.count("*").alias("n_purchases"),
        F.sum("rev_micro").cast("long").alias("rev_micro"),
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "age_days", "n_purchases", "rev_micro",
        F.sum("rev_micro").over(w).alias("cum_rev_micro"),
    )


# --------------------------------------------------------------------------
# events_power_pareto — traffic-concentration (Pareto) curve over users
# --------------------------------------------------------------------------

_PARETO_SQL = """
    WITH u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id),
    t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM u)
    SELECT u.user_id, u.n_events,
           row_number() OVER (
             ORDER BY u.n_events DESC, u.user_id ASC) AS user_rank,
           CAST(sum(u.n_events) OVER (
             ORDER BY u.n_events DESC, u.user_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_events,
           CAST((sum(u.n_events) OVER (
             ORDER BY u.n_events DESC, u.user_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             * 1000000) // t.total AS BIGINT) AS cum_share_ppm
    FROM u CROSS JOIN t
    """


@register("events_power_pareto", _PARETO_SQL)
def events_power_pareto(spark, sf):
    """Traffic-concentration (Pareto) curve: rank users by event
    volume and emit the cumulative share of all traffic at each rank,
    in exact parts-per-million (floor integer division, so the curve
    is engine-exact with no double drift) — the "top 1% of users
    generate X% of events" readout behind rate-limit tiers, abuse
    heuristics, and per-user quota design; the user-axis twin of
    corpus_host_coverage_curve's host-axis census.

    Scale shape: one user-keyed partial-agg count (map-side combined),
    then a global window over the collapsed USER aggregate only —
    bounded by user cardinality (~10^9 rows max, kilobytes each),
    never the event count; the documented ALLOW_GLOBAL_WINDOW
    exception class (same as corpus_host_coverage_curve). cum * 1e6
    fits a long up to 9.2e12 total events per the overflow note.

    Reference analog: octopy's inspect summaries rank classes by
    frequency (reference src/octopy/cli/inspect.py) — the same
    head-concentration census, applied to users."""
    ev = load_table(spark, sf, "events")
    u = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    t = u.agg(F.sum("n_events").alias("total"))
    wo = Window.orderBy(F.col("n_events").desc(), F.col("user_id").asc())
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.sum("n_events").over(wcum)
    ranked = u.crossJoin(F.broadcast(t)).select(
        "user_id",
        "n_events",
        F.row_number().over(wo).alias("user_rank"),
        cum.alias("cum_events"),
        F.col("total"),
    )
    return ranked.select(
        "user_id", "n_events", "user_rank", "cum_events",
        # integer division (DIV), not double `/` + cast: exact ppm
        F.expr("CAST(cum_events * 1000000L DIV total AS LONG)")
        .alias("cum_share_ppm"),
    )


# --------------------------------------------------------------------------
# events_interarrival_log2 — log2-bucketed gap histogram between events
# --------------------------------------------------------------------------

_INTERARRIVAL_SQL = """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events),
    b AS (
      SELECT user_id,
             CAST(length(printf('%b', greatest(gap_us, 1)))
               AS BIGINT) AS bucket
      FROM g WHERE gap_us IS NOT NULL)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM b GROUP BY bucket
    """


@register("events_interarrival_log2", _INTERARRIVAL_SQL)
def events_interarrival_log2(spark, sf):
    """Interarrival-gap histogram: per-user consecutive-event gaps in
    microseconds, bucketed by BIT LENGTH (bucket b holds gaps in
    [2^(b-1), 2^b) µs) — the burstiness census that picks the
    sessionization gap threshold (events_sessionize_gap's 30-minute
    constant should sit in the valley of this histogram) and sizes
    streaming watermark delays. The bucket is computed as the length
    of the base-2 string representation on BOTH engines (Spark conv(),
    DuckDB printf('%b')) — integer-exact by construction, immune to
    the floor(log2(double)) boundary-rounding hazard.

    Scale shape: one user-partitioned lag window (same shuffle shape
    as the sessionizer, reusable), then a partial-agg groupBy over
    ~45 buckets. No global window, no collect.

    Reference analog: octopy's training loop logs per-step wall-time
    deltas (reference src/octopy/cli/train.py) — the same
    consecutive-gap statistic."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # house µs rule: unix_micros, never float seconds (lossy at µs)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    b = g.select(
        "user_id",
        F.length(F.conv(F.greatest("gap_us", F.lit(1)), 10, 2))
        .cast("long")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_gaps"),
        F.count_distinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# table_zonemap_skip — zone-map (data-skipping) scan planner
# --------------------------------------------------------------------------

_ZONE_ROWS = 500  # rows per zone (stands in for a parquet row group)
_ZONE_PRED_MIN = 95.0  # planner predicate: value >= 95.0

_ZONEMAP_SQL = f"""
    WITH z AS (
      SELECT event_id // {_ZONE_ROWS} AS zone_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             min(value) AS min_value, max(value) AS max_value,
             CAST(sum(CASE WHEN value >= {_ZONE_PRED_MIN}
               THEN 1 ELSE 0 END) AS BIGINT) AS n_match
      FROM events GROUP BY event_id // {_ZONE_ROWS})
    SELECT zone_id, n_rows, min_value, max_value, n_match,
           max_value < {_ZONE_PRED_MIN} AS can_skip
    FROM z
    """


@register("table_zonemap_skip", _ZONEMAP_SQL)
def table_zonemap_skip(spark, sf):
    """Zone-map (data-skipping) scan planner: roll the table into
    fixed-size zones (stand-ins for parquet row groups / Iceberg data
    files), record per-zone min/max column statistics, and flag zones
    the predicate `value >= 95.0` can skip outright — the planning
    layer behind every "read 2% of the files" fast scan. n_match (the
    true per-zone selectivity) ships in the same row, so the output
    itself witnesses the soundness law: can_skip implies n_match = 0
    (pinned in tests). Pairs with table_compaction_plan (file sizing)
    and table_partition_evolution (partition-spec fit): together the
    three cover the physical-layout planning surface.

    Scale shape: one partial-agg groupBy on a derived zone key —
    min/max/count/conditional-count are all map-side combinable, so
    the shuffle carries one row per ZONE, never per row. At 10^12
    rows / 500-row zones that is 2e9 zone rows — aggregate them from
    real parquet footer stats instead when the files exist; this key
    is the planner's logic, exercised on raw rows.

    Reference analog: octopy's inspect -s summarizes per-model-layer
    stat blocks (reference src/octopy/cli/inspect.py) — the same
    precomputed-summary-to-skip-work idea."""
    ev = load_table(spark, sf, "events")
    zid = (F.col("event_id") / _ZONE_ROWS).cast("long")
    z = ev.groupBy(
        F.floor(F.col("event_id") / _ZONE_ROWS).alias("zone_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.sum(
            F.when(F.col("value") >= _ZONE_PRED_MIN, 1).otherwise(0)
        ).cast("long").alias("n_match"),
    )
    return z.select(
        "zone_id", "n_rows", "min_value", "max_value", "n_match",
        (F.col("max_value") < _ZONE_PRED_MIN).alias("can_skip"),
    )


# --------------------------------------------------------------------------
# events_anomaly_mad — robust median/MAD outlier hours (integer-exact)
# --------------------------------------------------------------------------

_MAD_SQL = f"""
    WITH c AS ({_HOURLY_COUNTS_CTE}),
    m AS (
      SELECT event_type, CAST(2 * median(n) AS BIGINT) AS med2
      FROM c GROUP BY event_type),
    d AS (
      SELECT c.event_type, c.win_start, c.n, m.med2,
             CAST(abs(2 * c.n - m.med2) AS BIGINT) AS d2
      FROM c JOIN m USING (event_type)),
    s AS (
      SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad4
      FROM d GROUP BY event_type)
    SELECT d.event_type, d.win_start, d.n, d.med2, s.mad4, d.d2,
           2 * d.d2 > 3 * s.mad4 AS is_anomaly
    FROM d JOIN s USING (event_type)
    """


@register("events_anomaly_mad", _MAD_SQL)
def events_anomaly_mad(spark, sf):
    """Robust (median/MAD) outlier hours per event type — the
    heavy-tail-safe twin of events_anomaly_hours: the mean/stddev
    z-score there is dragged by the very outliers it hunts, while the
    median and the median-absolute-deviation are breakdown-50% robust,
    so one flash-crowd hour cannot mask another. Flags hours where
    |n - median| > 3 * MAD.

    Integer-exactness: a median of BIGINTs is k or k+0.5, both exact
    in a double, so med2 = 2*median(n) and mad4 = 2*median(|2n-med2|)
    round-trip through CAST AS BIGINT losslessly on both engines; the
    flag 2*d2 > 3*mad4 is then pure integer arithmetic — |n-med| >
    3*MAD cross-multiplied by 4 — immune to IEEE drift and
    partitioning order.

    Scale shape: one hourly partial-agg groupBy (the shared
    _HOURLY_COUNTS_CTE shape), then two per-type medians over the
    collapsed HOURLY table only (rows = types x hours, never events)
    joined back via broadcast — event-type cardinality is tiny. No
    global window, no collect.

    Reference analog: octopy's validation-cadence checks flag
    off-trend epochs (reference src/octopy/cli/train.py) — the same
    center-plus-spread alarm, made robust."""
    ev = load_table(spark, sf, "events")
    c = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("win_start"),
    ).agg(F.count("*").alias("n"))
    # the hourly rollup is tiny (types x hours) but feeds FOUR plan
    # branches (m, d, s, and the final join) — materialize it once so
    # the 100 TB events table is scanned exactly once, not four times
    c = materialize(c)
    m = c.groupBy("event_type").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    d = c.join(F.broadcast(m), "event_type").withColumn(
        "d2", F.abs(2 * F.col("n") - F.col("med2")).cast("long")
    )
    s = d.groupBy("event_type").agg(
        (2 * F.median("d2")).cast("long").alias("mad4")
    )
    return d.join(F.broadcast(s), "event_type").select(
        "event_type", "win_start", "n", "med2", "mad4", "d2",
        (2 * F.col("d2") > 3 * F.col("mad4")).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# window_running_distinct — running distinct-type count per user
# --------------------------------------------------------------------------

_RUNDIST_SQL = """
    WITH r AS (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us,
             CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_types_seen
      FROM events)
    SELECT event_id, user_id, ts_us, n_types_seen,
           n_types_seen > coalesce(lag(n_types_seen) OVER (
             PARTITION BY user_id ORDER BY ts_us, event_id), 0)
             AS is_new_type
    FROM r
    """


@register("window_running_distinct", _RUNDIST_SQL)
def window_running_distinct(spark, sf):
    """Running distinct-event-type count per user, plus the
    first-exposure flag (is_new_type) — the feature-adoption /
    breadth-of-use curve behind activation scoring: "after k events,
    how many distinct features has this user touched?". Spark has no
    count(DISTINCT) window, so the running cardinality is
    size(collect_set() OVER w) — exact, bounded by the event-type
    vocabulary (tiny), never the event count; DuckDB's windowed
    DISTINCT aggregate is the oracle twin.

    Scale shape: both windows share the user_id partition key, so the
    plan is ONE user-keyed shuffle + sort reused by the collect_set
    window and the lag; per-user state is the type set (bounded ~10s).
    Ordering key (ts, event_id) is total because event_id is unique —
    the result is partitioning-independent.

    Reference analog: octopy's train loop tracks the growing label
    vocabulary as batches stream (reference src/octopy/cli/train.py:
    dynamic codec growth) — the same running-distinct census."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.size(F.collect_set("event_type").over(w))
        .cast("long")
        .alias("n_types_seen"),
    )
    wl = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return r.select(
        "event_id", "user_id", "ts_us", "n_types_seen",
        (
            F.col("n_types_seen")
            > F.coalesce(
                F.lag("n_types_seen").over(wl), F.lit(0)
            )
        ).alias("is_new_type"),
    )


# --------------------------------------------------------------------------
# events_srm_check — sample-ratio-mismatch gate per segment
# --------------------------------------------------------------------------

_SRM_SQL = """
    WITH g AS (
      SELECT event_type,
             CAST(count(DISTINCT CASE WHEN user_id % 2 = 0
               THEN user_id END) AS BIGINT) AS n_a,
             CAST(count(DISTINCT CASE WHEN user_id % 2 = 1
               THEN user_id END) AS BIGINT) AS n_b
      FROM events GROUP BY event_type)
    SELECT event_type, n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b)
             AS chi2,
           100 * (n_a - n_b) * (n_a - n_b) > 384 * (n_a + n_b) AS srm
    FROM g
    """


@register("events_srm_check", _SRM_SQL)
def events_srm_check(spark, sf):
    """Sample-ratio-mismatch gate — the sanity check every experiment
    platform runs BEFORE reading any lift number: under a 50/50
    user-parity assignment the distinct-user counts per variant should
    be binomially close, and a chi-square that rejects means the
    randomization (or the logging) is broken, invalidating
    events_ab_lift_test's verdict downstream. Segmented per event_type
    so a mismatch confined to one surface (e.g. only purchase events
    under-log variant B) is visible even when the global ratio looks
    healthy.

    Integer-exactness: with two equal-expected cells the chi-square
    collapses to (n_a-n_b)^2/(n_a+n_b); the DECISION srm is the
    cross-multiplied 100*(n_a-n_b)^2 > 384*(n_a+n_b) — the p<0.05
    threshold 3.84 as an exact integer law (the events_ab_lift_test
    recipe) — while the reported chi2 is one IEEE divide over the same
    exact BIGINTs, identical on both engines. Magnitude: products stay
    in BIGINT below ~3e8 distinct users per segment; beyond, lift to
    decimal(38,0) (trainer recipe).

    Scale shape: count(DISTINCT user) per (type, variant) is Spark's
    two-level expand-then-agg — both levels partial-aggregate, the
    final shuffle carries one row per (type, variant), and variant
    pivot + chi-square run on rows = segment count. No window, no
    collect.

    Reference analog: octopy validates split integrity before training
    (reference src/octopy/cli/train.py's deterministic val split) —
    the same assignment-health gate, made a statistical test."""
    e = load_table(spark, sf, "events")
    g = e.groupBy("event_type").agg(
        F.count_distinct(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id"))
        ).alias("n_a"),
        F.count_distinct(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id"))
        ).alias("n_b"),
    )
    d = F.col("n_a") - F.col("n_b")
    t = F.col("n_a") + F.col("n_b")
    return g.select(
        "event_type", "n_a", "n_b",
        ((d * d).cast("double") / t).alias("chi2"),
        (100 * d * d > 384 * t).alias("srm"),
    )


# --------------------------------------------------------------------------
# events_cuped_lift — CUPED variance-reduced A/B lift
# --------------------------------------------------------------------------

_CUPED_SQL = """
    WITH b AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid
      FROM events),
    u AS (
      SELECT user_id, user_id % 2 AS grp,
             CAST(sum(CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
               THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN epoch_us(ts) >= (SELECT mid FROM b)
               THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id),
    p AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DECIMAL(38,0)) AS sx,
             CAST(sum(y) AS DECIMAL(38,0)) AS sy,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
               AS sxx,
             CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
               AS sxy
      FROM u),
    v AS (
      SELECT
        CAST(max(CASE WHEN grp = 0 THEN ng END) AS BIGINT) AS n_a,
        CAST(max(CASE WHEN grp = 0 THEN sxg END) AS BIGINT) AS sx_a,
        CAST(max(CASE WHEN grp = 0 THEN syg END) AS BIGINT) AS sy_a,
        CAST(max(CASE WHEN grp = 1 THEN ng END) AS BIGINT) AS n_b,
        CAST(max(CASE WHEN grp = 1 THEN sxg END) AS BIGINT) AS sx_b,
        CAST(max(CASE WHEN grp = 1 THEN syg END) AS BIGINT) AS sy_b
      FROM (SELECT grp, count(*) AS ng, sum(x) AS sxg, sum(y) AS syg
            FROM u GROUP BY grp) GROUP BY ()),
    th AS (
      SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta
      FROM p)
    SELECT v.n_a, v.sx_a, v.sy_a, v.n_b, v.sx_b, v.sy_b, th.theta,
           CAST(v.sy_a AS DOUBLE) / v.n_a
             - CAST(v.sy_b AS DOUBLE) / v.n_b AS delta_raw,
           (CAST(v.sy_a AS DOUBLE) / v.n_a
             - CAST(v.sy_b AS DOUBLE) / v.n_b)
             - th.theta * (CAST(v.sx_a AS DOUBLE) / v.n_a
                           - CAST(v.sx_b AS DOUBLE) / v.n_b)
             AS delta_cuped
    FROM v, th
    """


@register("events_cuped_lift", _CUPED_SQL)
def events_cuped_lift(spark, sf):
    """CUPED variance-reduced A/B lift (Deng et al., WSDM'13) — the
    standard upgrade over the raw-difference readout: regress each
    user's post-period activity y on their PRE-period activity x
    (theta = cov(x,y)/var(x) pooled over all users), then report the
    lift on the adjusted metric y - theta*x. Pre-period behavior is
    assignment-independent, so the adjustment removes its variance
    without biasing the effect — the same experiment reaches
    significance with a fraction of the traffic.

    Engine-parity discipline: every accumulated quantity (per-user x/y
    counts, pooled n/sx/sy/sxx/sxy, per-variant sums) is an exact
    integer — the cross products are accumulated in decimal(38,0) so a
    100 TB event log cannot overflow them — and the three doubles
    (theta, delta_raw, delta_cuped) are each ONE identically-written
    IEEE expression over those exact integers, so both engines round
    identically. The pre/post boundary is the integer-microsecond midpoint of
    the observed time range.

    Scale shape: pass 1 is a column-pruned min/max of ts (partial-agg,
    vectorized; parquet footer stats serve most of it); pass 2 is ONE
    user-keyed partial-agg groupBy producing the per-user (x, y)
    rollup — rows = users, never events — and the pooled + per-variant
    moments are two tiny aggregations over that rollup joined by
    broadcast single-row crossJoins. No window, no collect, no skew
    (user_id is the unique key).

    Reference analog: octopy's train/val discipline normalizes away
    nuisance variation before comparing runs (reference
    src/octopy/cli/train.py); CUPED is that discipline as an
    estimator."""
    e = load_table(spark, sf, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = e.agg(
        ((F.min(ts_us) + F.max(ts_us)) / F.lit(2))
        .cast("long")
        .alias("mid")
    )
    u = (
        e.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(ts_us < F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(ts_us >= F.col("mid"), 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .withColumn("grp", F.col("user_id") % 2)
    )
    # the per-user rollup (rows = users, 3 small cols) feeds BOTH the
    # pooled-moments and the per-variant branches — materialize it once
    # so the 100 TB events table is scanned twice (bounds + rollup),
    # never four times
    u = materialize(u)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    p = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    v = u.groupBy("grp").agg(
        F.count("*").alias("ng"),
        F.sum("x").alias("sxg"),
        F.sum("y").alias("syg"),
    ).agg(
        F.max(F.when(F.col("grp") == 0, F.col("ng")))
        .cast("long").alias("n_a"),
        F.max(F.when(F.col("grp") == 0, F.col("sxg")))
        .cast("long").alias("sx_a"),
        F.max(F.when(F.col("grp") == 0, F.col("syg")))
        .cast("long").alias("sy_a"),
        F.max(F.when(F.col("grp") == 1, F.col("ng")))
        .cast("long").alias("n_b"),
        F.max(F.when(F.col("grp") == 1, F.col("sxg")))
        .cast("long").alias("sx_b"),
        F.max(F.when(F.col("grp") == 1, F.col("syg")))
        .cast("long").alias("sy_b"),
    )
    th = p.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
        ).alias("theta")
    )
    j = v.crossJoin(F.broadcast(th))
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    d_raw = mean("sy_a", "n_a") - mean("sy_b", "n_b")
    d_pre = mean("sx_a", "n_a") - mean("sx_b", "n_b")
    return j.select(
        "n_a", "sx_a", "sy_a", "n_b", "sx_b", "sy_b", "theta",
        d_raw.alias("delta_raw"),
        (d_raw - F.col("theta") * d_pre).alias("delta_cuped"),
    )


# --------------------------------------------------------------------------
# join_asof_tolerance — staleness-bounded as-of join (feature-store rule)
# --------------------------------------------------------------------------

_ASOF_TOL_US = 3_600_000_000  # 1 hour in microseconds

_ASOF_TOL_SQL = f"""
    WITH r AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
             max(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_purchase_us
      FROM events)
    SELECT event_id, user_id, ts_us,
           CASE WHEN ts_us - last_purchase_us <= {_ASOF_TOL_US}
             THEN last_purchase_us END AS asof_purchase_us,
           coalesce(ts_us - last_purchase_us <= {_ASOF_TOL_US}, FALSE)
             AS fresh
    FROM r
    """


@register("join_asof_tolerance", _ASOF_TOL_SQL)
def join_asof_tolerance(spark, sf):
    """As-of join with a staleness tolerance — the feature-store
    point-in-time rule: each event sees the user's most recent PRIOR
    purchase timestamp, but only if it is at most 1 hour stale;
    otherwise the feature is NULL (a stale feature silently leaking
    into training is worse than a missing one). Completes the as-of
    family: join_asof_latest (unbounded backward), join_asof_next
    (forward), and this bounded-backward form.

    The 1-PRECEDING frame makes the join strictly point-in-time — a
    purchase event never sees ITSELF as its own feature (the classic
    feature-leakage bug). Ordering (ts, event_id) is total, so results
    are partitioning-independent; all comparisons are integer
    microseconds.

    Scale shape: expressed as ONE user-partitioned running-max window
    — no join at all, so there is exactly one user-keyed shuffle+sort
    and per-row O(1) state (the running max), where the naive
    range-join formulation would shuffle twice and explode candidate
    pairs. This is the shape a 100 TB feature backfill wants.

    Reference analog: octopy resumes from the latest checkpoint only
    if it matches the current run's config (reference
    src/octopy/cli/train.py:89-97) — the same freshness-gated
    latest-prior lookup."""
    e = load_table(spark, sf, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = e.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.max(
            F.when(F.col("event_type") == "purchase", ts_us)
        ).over(w).alias("last_purchase_us"),
    )
    gap_ok = (
        F.col("ts_us") - F.col("last_purchase_us") <= _ASOF_TOL_US
    )
    return r.select(
        "event_id", "user_id", "ts_us",
        F.when(gap_ok, F.col("last_purchase_us")).alias(
            "asof_purchase_us"
        ),
        F.coalesce(gap_ok, F.lit(False)).alias("fresh"),
    )


# --------------------------------------------------------------------------
# table_deletion_vectors — lakehouse merge-on-read DV application + rewrite
# planning
# --------------------------------------------------------------------------

_DV_FILE_ROWS = 1000  # orderkeys per synthetic data file

_DV_SQL = f"""
    WITH base AS (
      SELECT o_orderkey, o_orderkey // {_DV_FILE_ROWS} AS file_id,
             CAST(row_number() OVER (
               PARTITION BY o_orderkey // {_DV_FILE_ROWS}
               ORDER BY o_orderkey) AS BIGINT) AS pos
      FROM orders),
    dv AS (
      SELECT file_id, pos, 1 AS dv FROM base WHERE o_orderkey % 13 = 3),
    marked AS (
      SELECT b.file_id, b.o_orderkey, dv.dv
      FROM base b LEFT JOIN dv
        ON b.file_id = dv.file_id AND b.pos = dv.pos)
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(coalesce(sum(dv), 0) AS BIGINT) AS n_deleted,
           CAST(count(*) - coalesce(sum(dv), 0) AS BIGINT) AS n_live,
           CAST(coalesce(sum(CASE WHEN dv IS NULL THEN o_orderkey END),
                         0) AS BIGINT) AS live_key_sum,
           5 * coalesce(sum(dv), 0) >= count(*) AS rewrite
    FROM marked GROUP BY file_id
    """


@register("table_deletion_vectors", _DV_SQL)
def table_deletion_vectors(spark, sf):
    """Merge-on-read deletion-vector application + compaction planning
    — the Iceberg-v2 / Delta DV mechanic: deletes are NOT rewritten
    into data files but recorded as (file_id, position) pairs in a
    side table; readers anti-join the DV to serve live rows, and the
    table service rewrites a file once its dead fraction crosses a
    threshold (here >= 20 %, as the exact integer cross-multiplication
    ``5 * n_deleted >= n_rows``). Output is the per-file audit the
    rewrite planner consumes: row/dead/live counts, the live-key
    checksum (witnesses that the DV join dropped EXACTLY the deleted
    positions, not merely the right number of rows), and the rewrite
    verdict. Complements table_zonemap_skip (read-side skipping) and
    table_compaction_plan (small-file binpacking) with the
    delete-side maintenance loop.

    Synthetic but mechanical: files are fixed key-ranges of orders
    (o_orderkey div 1000), row position is the within-file rank, and
    the DV marks every position whose orderkey = 3 (mod 13) —
    deterministic in both engines, so the oracle rebuilds the exact
    same DV and the value-hash compare proves the positional join
    semantics, not just the counts.

    Scale shape: position assignment is a file_id-partitioned window
    (each file's rows sort independently — no global sort); the DV
    side is tiny relative to base data (deleted fraction of a file),
    so the positional application join broadcasts per-file DV
    partitions; stats are ONE partial-agg groupBy(file_id). The base
    table is materialized once so base and DV branches do not
    recompute the scan+window twice.

    Reference analog: octopy never mutates its input page images;
    corrections live in side files merged at read time
    (reference README.md workflow: segment output JSON feeds
    recognize without touching sources) — the same
    base-plus-overlay read."""
    o = load_table(spark, sf, "orders").select("o_orderkey")
    w = Window.partitionBy("file_id").orderBy("o_orderkey")
    base = materialize(
        o.select(
            "o_orderkey",
            F.expr(f"o_orderkey div {_DV_FILE_ROWS}").alias("file_id"),
        )
        .select(
            "o_orderkey",
            "file_id",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )
    dv = base.filter(F.col("o_orderkey") % 13 == 3).select(
        "file_id", "pos", F.lit(1).alias("dv")
    )
    marked = base.join(dv, ["file_id", "pos"], "left")
    dead = F.coalesce(F.sum("dv"), F.lit(0)).cast("long")
    return marked.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        dead.alias("n_deleted"),
        (F.count("*") - dead).cast("long").alias("n_live"),
        F.coalesce(
            F.sum(F.when(F.col("dv").isNull(), F.col("o_orderkey"))),
            F.lit(0),
        ).cast("long").alias("live_key_sum"),
        (5 * dead >= F.count("*")).alias("rewrite"),
    )


# --------------------------------------------------------------------------
# events_cusum_changepoint — CUSUM drift alarm over the hourly series
# --------------------------------------------------------------------------

_CUSUM_SQL = f"""
    WITH {_DENSE_HOURLY_CTE},
    k AS (
      SELECT event_type, sum(n) // count(*) AS k
      FROM d GROUP BY 1),
    w AS (
      SELECT d.event_type, d.win_start, d.n, k.k,
             list(d.n - k.k) OVER (
               PARTITION BY d.event_type ORDER BY d.win_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS hist
      FROM d JOIN k ON d.event_type = k.event_type)
    SELECT event_type, win_start, n, k,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hist),
                       (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)
             ) AS cusum,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hist),
                       (acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)
             ) > greatest(4 * k, CAST(4 AS BIGINT)) AS alarm
    FROM w
    """


@register(
    "events_cusum_changepoint",
    _CUSUM_SQL.format(hourly=_HOURLY_COUNTS_CTE),
)
def events_cusum_changepoint(spark, sf):
    """CUSUM (cumulative-sum) changepoint alarm over the densified
    hourly series per event type — the sequential-drift detector the
    point alarms miss: events_anomaly_hours / events_anomaly_mad flag
    single outlier HOURS, but a sustained small shift (traffic leak,
    bot ramp, logging regression) never crosses a per-hour threshold.
    CUSUM accumulates evidence: s_i = max(0, s_(i-1) + (n_i - k))
    with reference value k = each type's floored mean hourly count,
    alarming when s exceeds max(4k, 4).

    All integers, so the inherently sequential fold is bit-identical
    in both engines: the per-step op is one add and one max (no
    rounding at all), folded from a seed of 0 over the ordered window
    history (Spark F.aggregate over a collect_list window, DuckDB
    list_reduce with a prepended seed). The series is DENSIFIED first
    (every hour between each type's first and last event, zero-filled)
    exactly like events_ewma_hourly: silent hours must DRAIN the
    cusum (n - k goes negative), otherwise a gap freezes the
    accumulated evidence across it.

    Scale shape: the raw events scan collapses to the shared hourly
    (type, hour) count table via ONE partial-agg groupBy; densify,
    the per-type k rollup, and the ordered fold all operate on that
    collapsed table (rows = types x hours, not events). The
    full-preceding collect_list is O(H^2) per type in the worst case
    but H is the retention horizon in hours (bounded, e.g. 8760/year)
    — at 100 TB the cost lives in the one events scan, not here.
    """
    dense = _densified_hourly(spark, sf)
    k = dense.groupBy("event_type").agg(
        F.expr("sum(n) div count(*)").alias("k")
    )
    j = dense.join(F.broadcast(k), "event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = F.collect_list(F.col("n") - F.col("k")).over(w)
    zero = F.lit(0).cast("long")
    cusum = F.aggregate(
        hist, zero, lambda acc, x: F.greatest(zero, acc + x)
    )
    return j.select(
        "event_type",
        "win_start",
        "n",
        "k",
        cusum.alias("cusum"),
        (cusum > F.greatest(4 * F.col("k"), F.lit(4).cast("long"))).alias(
            "alarm"
        ),
    )


# --------------------------------------------------------------------------
# events_seasonal_baseline — hour-of-day robust seasonal anomaly
# --------------------------------------------------------------------------

_SEASONAL_SQL = f"""
    WITH {_DENSE_HOURLY_CTE},
    h AS (
      SELECT event_type, win_start, n,
             CAST(hour(CAST(win_start AS TIMESTAMP)) AS BIGINT) AS hod
      FROM d),
    m AS (
      SELECT event_type, hod, CAST(2 * median(n) AS BIGINT) AS med2
      FROM h GROUP BY 1, 2),
    dd AS (
      SELECT h.event_type, h.win_start, h.hod, h.n, m.med2,
             CAST(abs(2 * h.n - m.med2) AS BIGINT) AS d2
      FROM h JOIN m ON h.event_type = m.event_type AND h.hod = m.hod),
    s AS (
      SELECT event_type, hod, CAST(2 * median(d2) AS BIGINT) AS mad4
      FROM dd GROUP BY 1, 2)
    SELECT dd.event_type, dd.win_start, dd.hod, dd.n, dd.med2,
           s.mad4, dd.d2,
           2 * dd.d2 > 3 * s.mad4 AS is_anomaly
    FROM dd JOIN s ON dd.event_type = s.event_type AND dd.hod = s.hod
    """


@register(
    "events_seasonal_baseline",
    _SEASONAL_SQL.format(hourly=_HOURLY_COUNTS_CTE),
)
def events_seasonal_baseline(spark, sf):
    """Hour-of-day seasonal anomaly detection — the stratified member
    of the anomaly family: events_anomaly_hours (global z),
    events_anomaly_mad (global robust), events_cusum_changepoint
    (sequential drift) all compare an hour against the WHOLE history,
    so the 3 a.m. quiet trough and the noon rush both read as
    anomalies of the pooled baseline. Here each hour is judged only
    against its own hour-of-day stratum (the diurnal seasonality every
    human-facing traffic series carries): per (type, hour-of-day)
    robust median/MAD baseline over the DENSIFIED hourly series, flag
    when |n - median| > 3 * MAD within the stratum.

    Integer-exactness is the events_anomaly_mad recipe verbatim
    (med2 = 2*median and mad4 = 2*median(2|n|-med2) round-trip BIGINT
    exactly; the flag is the cross-multiplication 2*d2 > 3*mad4), and
    densification is the CUSUM/EWMA rule (a silent 3 a.m. hour is a
    zero COUNT in the 3 a.m. stratum, not a missing row — otherwise
    the quiet-hour baseline is biased high and real outages at night
    are invisible).

    Scale shape: the events scan collapses to the (type, hour)
    rollup via ONE partial-agg shuffle; densify, both median rollups
    (types x 24 strata), and the flag join all run on the collapsed
    table. The stratum rollups are broadcast back. At a year of
    retention this is 8760 rows per type — planning-table sized.

    Reference analog: octopy normalizes each line against its own
    baseline curve before recognition (reference
    src/octopy/segment.py baseline offsets) — judging a sample
    against its local stratum, not the page-global mean."""
    dense = _densified_hourly(spark, sf)
    h = dense.select(
        "event_type",
        "win_start",
        "n",
        F.hour(F.to_timestamp("win_start")).cast("long").alias("hod"),
    )
    # tiny (types x hours) table feeding three plan branches: the two
    # median rollups and the flag join — materialize once so the
    # events table is scanned exactly once (events_anomaly_mad rule)
    h = materialize(h)
    m = h.groupBy("event_type", "hod").agg(
        (2 * F.median("n")).cast("long").alias("med2")
    )
    dd = h.join(F.broadcast(m), ["event_type", "hod"]).withColumn(
        "d2", F.abs(2 * F.col("n") - F.col("med2")).cast("long")
    )
    s = dd.groupBy("event_type", "hod").agg(
        (2 * F.median("d2")).cast("long").alias("mad4")
    )
    return dd.join(F.broadcast(s), ["event_type", "hod"]).select(
        "event_type", "win_start", "hod", "n", "med2", "mad4", "d2",
        (2 * F.col("d2") > 3 * F.col("mad4")).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
# events_forecast_holt — double-EWMA trend forecast (Brown's method)
# --------------------------------------------------------------------------

_HOLT_SQL = f"""
    WITH {_DENSE_HOURLY_CTE},
    w1 AS (
      SELECT event_type, win_start, n,
             list(n) OVER (
               PARTITION BY event_type ORDER BY win_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS hn
      FROM d),
    t1 AS (
      SELECT event_type, win_start, n,
             list_reduce(list_prepend(CAST(0 AS BIGINT), hn),
                         (acc, x) -> CAST(floor((x + 3 * acc) / 4.0)
                                          AS BIGINT)) AS s1
      FROM w1),
    w2 AS (
      SELECT event_type, win_start, n, s1,
             list(s1) OVER (
               PARTITION BY event_type ORDER BY win_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS hs
      FROM t1)
    SELECT event_type, win_start, n, s1,
           list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, x) -> CAST(floor((x + 3 * acc) / 4.0)
                                        AS BIGINT)) AS s2,
           2 * s1 - list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, x) -> CAST(floor((x + 3 * acc) / 4.0)
                                        AS BIGINT)) AS level,
           7 * s1 - 4 * list_reduce(list_prepend(CAST(0 AS BIGINT), hs),
                       (acc, x) -> CAST(floor((x + 3 * acc) / 4.0)
                                        AS BIGINT)) AS forecast_next_x3
    FROM w2
    """


@register(
    "events_forecast_holt",
    _HOLT_SQL.format(hourly=_HOURLY_COUNTS_CTE),
)
def events_forecast_holt(spark, sf):
    """Trend-aware hourly traffic forecast per event type — Brown's
    double exponential smoothing (the linear-trend member of the
    sequential family: EWMA smooths level only, CUSUM detects drift
    only; this one EXTRAPOLATES): s1 = EWMA(n), s2 = EWMA(s1) with
    alpha = 1/4, level = 2*s1 - s2, trend = (s1 - s2) * alpha/(1-alpha),
    one-step forecast = level + trend. Capacity planners feed the
    forecast into autoscaling; the residual n - forecast is the input
    to a forecast-based alarm.

    Integer determinism: with alpha = 1/4 each smoothing step is
    s' = floor((x + 3*s) / 4) — x and s are nonnegative BIGINTs (counts
    and smoothed counts), so the double divide-and-floor is exact and
    identical in IEEE on both engines (values < 2^53), and crucially
    no division ever sees a negative numerator (floor vs truncate
    divergence is unreachable). The trend is reported as the exact
    integer 3*forecast = 7*s1 - 4*s2 (`forecast_next_x3`) so no
    engine ever divides by 3: consumers read forecast pages/hour as
    forecast_next_x3 / 3 at display time.

    The inherently sequential double fold is the CUSUM mechanic run
    twice: collect_list prefix window -> F.aggregate fold for s1,
    then the SAME window spec (one sort, reused) collects the s1
    prefix for s2. Densified series (CUSUM rule): silent hours must
    decay the forecast toward zero.

    Scale shape: events collapse to the (type, hour) rollup in ONE
    partial-agg shuffle; both prefix folds run on the collapsed table
    (O(H^2) per type with H = bounded retention hours — see
    events_cusum_changepoint for why that is the right trade)."""
    dense = _densified_hourly(spark, sf)
    w = (
        Window.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    zero = F.lit(0).cast("long")
    step = lambda acc, x: F.floor((x + 3 * acc) / F.lit(4.0)).cast(
        "long"
    )  # noqa: E731
    s1 = F.aggregate(F.collect_list("n").over(w), zero, step)
    t1 = dense.withColumn("s1", s1)
    s2 = F.aggregate(F.collect_list("s1").over(w), zero, step)
    return t1.select(
        "event_type",
        "win_start",
        "n",
        "s1",
        s2.alias("s2"),
        (2 * F.col("s1") - s2).alias("level"),
        (7 * F.col("s1") - 4 * s2).alias("forecast_next_x3"),
    )


# --------------------------------------------------------------------------
# events_diff_in_diff — pre/post x treat/control causal lift estimate
# --------------------------------------------------------------------------

_DID_CUT = "2024-01-16 00:00:00"

_DID_SQL = f"""
    WITH cell AS (
      SELECT
        count(*) FILTER (user_id % 2 = 1
            AND ts <  TIMESTAMP '{_DID_CUT}') AS n_t_pre,
        count(*) FILTER (user_id % 2 = 1
            AND ts >= TIMESTAMP '{_DID_CUT}') AS n_t_post,
        count(*) FILTER (user_id % 2 = 0
            AND ts <  TIMESTAMP '{_DID_CUT}') AS n_c_pre,
        count(*) FILTER (user_id % 2 = 0
            AND ts >= TIMESTAMP '{_DID_CUT}') AS n_c_post,
        COALESCE(sum(CAST(floor(value * 1000000.0) AS BIGINT))
            FILTER (user_id % 2 = 1
                AND ts <  TIMESTAMP '{_DID_CUT}'), 0) AS sum_t_pre,
        COALESCE(sum(CAST(floor(value * 1000000.0) AS BIGINT))
            FILTER (user_id % 2 = 1
                AND ts >= TIMESTAMP '{_DID_CUT}'), 0) AS sum_t_post,
        COALESCE(sum(CAST(floor(value * 1000000.0) AS BIGINT))
            FILTER (user_id % 2 = 0
                AND ts <  TIMESTAMP '{_DID_CUT}'), 0) AS sum_c_pre,
        COALESCE(sum(CAST(floor(value * 1000000.0) AS BIGINT))
            FILTER (user_id % 2 = 0
                AND ts >= TIMESTAMP '{_DID_CUT}'), 0) AS sum_c_post
      FROM events)
    SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
           sum_t_pre // n_t_pre   AS mean_t_pre,
           sum_t_post // n_t_post AS mean_t_post,
           sum_c_pre // n_c_pre   AS mean_c_pre,
           sum_c_post // n_c_post AS mean_c_post,
           (sum_t_post // n_t_post - sum_t_pre // n_t_pre)
         - (sum_c_post // n_c_post - sum_c_pre // n_c_pre)
           AS did_micros
    FROM cell
    """


@register("events_diff_in_diff", _DID_SQL)
def events_diff_in_diff(spark, sf):
    """Difference-in-differences causal lift — the experimentation
    family's observational workhorse (alongside events_ab_lift_test's
    randomized readout, events_cuped_lift's variance reduction, and
    events_srm_check's assignment gate): when a change ships to the
    treated population at a KNOWN cutoff time rather than by coin
    flip, the naive post-minus-pre delta confounds the change with
    whatever drifted globally; DiD nets out the shared drift by
    subtracting the control group's own pre/post delta:
    DiD = (mean_T_post - mean_T_pre) - (mean_C_post - mean_C_pre).

    Determinism: per-event outcome is value floored to exact micro
    units (floor(value * 1e6), one IEEE multiply both engines share
    bitwise); cell sums are BIGINT; cell means are integer division
    of nonnegative BIGINTs (values are nonnegative by schema, so
    Spark's truncating `div` and DuckDB's flooring `//` agree); the
    DiD estimate is subtraction of those exact means. Parallel-trends
    is the analyst's assumption, not the engine's — this key computes
    the estimator, bit-stable.

    Scale shape: ONE global conditional aggregation — every cell
    count/sum partial-aggregates map-side, the final shuffle carries
    ONE row (8 numbers), nothing else moves. The cheapest possible
    shape for a 10^12-event table: exactly one scan, no join, no
    window, no distinct.

    Reference analog: octopy's train/val split readout compares the
    same metric across two fixed populations (reference
    src/octopy/cli/train.py validation cadence) — a two-group
    compare with the split boundary chosen up front."""
    e = load_table(spark, sf, "events")
    cut = F.lit(_DID_CUT).cast("timestamp")
    treat = F.col("user_id") % 2 == 1
    post = F.col("ts") >= cut
    micro = F.floor(F.col("value") * F.lit(1000000.0)).cast("long")

    def cell(cond, tag):
        return [
            F.count(F.when(cond, 1)).alias(f"n_{tag}"),
            F.coalesce(
                F.sum(F.when(cond, micro)), F.lit(0).cast("long")
            ).alias(f"sum_{tag}"),
        ]

    g = e.agg(
        *cell(treat & ~post, "t_pre"),
        *cell(treat & post, "t_post"),
        *cell(~treat & ~post, "c_pre"),
        *cell(~treat & post, "c_post"),
    )
    m = {
        t: F.expr(f"sum_{t} div n_{t}").alias(f"mean_{t}")
        for t in ("t_pre", "t_post", "c_pre", "c_post")
    }
    return g.select(
        "n_t_pre", "n_t_post", "n_c_pre", "n_c_post",
        m["t_pre"], m["t_post"], m["c_pre"], m["c_post"],
        (
            (F.expr("sum_t_post div n_t_post")
             - F.expr("sum_t_pre div n_t_pre"))
            - (F.expr("sum_c_post div n_c_post")
               - F.expr("sum_c_pre div n_c_pre"))
        ).alias("did_micros"),
    )


# --------------------------------------------------------------------------
# table_bloom_index — per-file Bloom index for point-predicate skipping
# --------------------------------------------------------------------------

_BLOOM_FILE_ROWS = 1000          # file_id = o_orderkey div 1000
_BLOOM_HOT = 490000.0            # index only high-value orders (~2 %)
_BLOOM_BITS = 61                 # bits per word (1<<60 max, sign-safe)
_BLOOM_WORDS = 2                 # 122-bit blocked bloom per file
_BLOOM_M1, _BLOOM_M2A, _BLOOM_M2B = 2654435761, 40503, 17


def _bloom_pos(key: int) -> tuple[tuple[int, int], tuple[int, int]]:
    """(word, bit) positions of a key's two hash functions."""
    g1 = (key * _BLOOM_M1) % (_BLOOM_BITS * _BLOOM_WORDS)
    g2 = (key * _BLOOM_M2A + _BLOOM_M2B) % (_BLOOM_BITS * _BLOOM_WORDS)
    return (
        (g1 // _BLOOM_BITS, g1 % _BLOOM_BITS),
        (g2 // _BLOOM_BITS, g2 % _BLOOM_BITS),
    )


_BLOOM_P1, _BLOOM_P2 = 7, 999983  # present / absent probe custkeys


def _bloom_word_sql(word: int) -> str:
    """SQL: per-row bloom contribution to one word (0 if neither hash
    of this row's custkey lands in the word)."""
    tot = _BLOOM_BITS * _BLOOM_WORDS
    g1 = f"(o_custkey * {_BLOOM_M1}) % {tot}"
    g2 = f"(o_custkey * {_BLOOM_M2A} + {_BLOOM_M2B}) % {tot}"
    return (
        f"(CASE WHEN o_totalprice > {_BLOOM_HOT}"
        f" AND {g1} // {_BLOOM_BITS} = {word}"
        f" THEN (CAST(1 AS BIGINT) << ({g1} % {_BLOOM_BITS}))"
        f" ELSE 0 END"
        f" | CASE WHEN o_totalprice > {_BLOOM_HOT}"
        f" AND {g2} // {_BLOOM_BITS} = {word}"
        f" THEN (CAST(1 AS BIGINT) << ({g2} % {_BLOOM_BITS}))"
        f" ELSE 0 END)"
    )


def _bloom_may_sql(probe: int) -> str:
    (w1, b1), (w2, b2) = _bloom_pos(probe)
    return (
        f"(bloom_w{w1} & {1 << b1}) != 0"
        f" AND (bloom_w{w2} & {1 << b2}) != 0"
    )


_BLOOM_SQL = f"""
    SELECT CAST(o_orderkey // {_BLOOM_FILE_ROWS} AS BIGINT) AS file_id,
           count(*) AS n_rows,
           count(*) FILTER (o_totalprice > {_BLOOM_HOT}) AS n_hot,
           COALESCE(bit_or({_bloom_word_sql(0)}), 0) AS bloom_w0,
           COALESCE(bit_or({_bloom_word_sql(1)}), 0) AS bloom_w1,
           count(*) FILTER (o_totalprice > {_BLOOM_HOT}
               AND o_custkey = {_BLOOM_P1}) > 0 AS has_p1,
           count(*) FILTER (o_totalprice > {_BLOOM_HOT}
               AND o_custkey = {_BLOOM_P2}) > 0 AS has_p2
    FROM orders GROUP BY 1
    """

_BLOOM_WRAP_SQL = f"""
    SELECT file_id, n_rows, n_hot, bloom_w0, bloom_w1,
           {_bloom_may_sql(_BLOOM_P1)} AS may_p1, has_p1,
           {_bloom_may_sql(_BLOOM_P2)} AS may_p2, has_p2
    FROM ({_BLOOM_SQL})
    """


@register("table_bloom_index", _BLOOM_WRAP_SQL)
def table_bloom_index(spark, sf):
    """Per-file blocked Bloom index for POINT-predicate file skipping
    — the equality-lookup complement of the range planners
    (table_zonemap_skip / table_manifest_prune cover `BETWEEN`; a
    min/max envelope is useless for `custkey = X` on an unclustered
    column, which is exactly where Parquet/Iceberg attach bloom
    filters): each file publishes a 122-bit two-hash blocked Bloom
    over the custkeys of its HOT rows (totalprice above a threshold —
    the partial-index pattern: index the 2 % of rows point lookups
    target, keep the filter sparse enough to discriminate), and a
    probe key may skip every file whose filter misses either bit.

    The output carries the audit triple per (file, probe): the filter
    verdict may_pX, and the ground truth has_pX, witnessing the Bloom
    contract in the rows themselves — no-false-negative (has implies
    may, pinned in tests) while false positives are the accepted
    price. Hashes are Knuth multiplicative mod 122 mapped to
    (word, bit); all arithmetic is nonnegative BIGINT multiply/mod/
    shift, bit-identical across engines; 61 bits per word keeps
    1 << bit inside the BIGINT sign bit on both.

    Scale shape: ONE partial-agg groupBy on file_id — bit_or combines
    map-side like any sum, so the shuffle carries two BIGINT words +
    four counters per FILE, never rows. Probe evaluation is a
    constant-folded expression over the manifest-sized result. At
    10^12 rows this is the same metadata-only discipline as the zone
    maps: build once at write time, plan every query against the
    tiny index table.

    Reference analog: octopy's inspect -s per-block stat summaries
    (reference src/octopy/cli/inspect.py) — precomputed per-container
    summaries that answer membership questions without opening the
    container."""
    o = load_table(spark, sf, "orders")
    hot = F.col("o_totalprice") > F.lit(_BLOOM_HOT)
    tot = _BLOOM_BITS * _BLOOM_WORDS

    # per-row word contribution: Spark's F.shiftleft takes a Python
    # int for the shift amount, so column-amount shifts go via expr
    def contrib(w):
        e1 = (
            f"CASE WHEN o_totalprice > {_BLOOM_HOT}"
            f" AND ((o_custkey * {_BLOOM_M1}) % {tot})"
            f" div {_BLOOM_BITS} = {w}"
            f" THEN shiftleft(CAST(1 AS BIGINT),"
            f" CAST(((o_custkey * {_BLOOM_M1}) % {tot})"
            f" % {_BLOOM_BITS} AS INT)) ELSE CAST(0 AS BIGINT) END"
        )
        e2 = (
            f"CASE WHEN o_totalprice > {_BLOOM_HOT}"
            f" AND ((o_custkey * {_BLOOM_M2A} + {_BLOOM_M2B}) % {tot})"
            f" div {_BLOOM_BITS} = {w}"
            f" THEN shiftleft(CAST(1 AS BIGINT),"
            f" CAST(((o_custkey * {_BLOOM_M2A} + {_BLOOM_M2B})"
            f" % {tot}) % {_BLOOM_BITS} AS INT))"
            f" ELSE CAST(0 AS BIGINT) END"
        )
        return F.expr(f"({e1} | {e2})")

    g = o.groupBy(
        F.expr(f"o_orderkey div {_BLOOM_FILE_ROWS}").alias("file_id")
    ).agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(hot, 1)).alias("n_hot"),
        F.coalesce(F.bit_or(contrib(0)), F.lit(0).cast("long")).alias(
            "bloom_w0"
        ),
        F.coalesce(F.bit_or(contrib(1)), F.lit(0).cast("long")).alias(
            "bloom_w1"
        ),
        (
            F.count(
                F.when(hot & (F.col("o_custkey") == _BLOOM_P1), 1)
            ) > 0
        ).alias("has_p1"),
        (
            F.count(
                F.when(hot & (F.col("o_custkey") == _BLOOM_P2), 1)
            ) > 0
        ).alias("has_p2"),
    )

    def may(probe):
        (w1, b1), (w2, b2) = _bloom_pos(probe)
        return (
            F.col(f"bloom_w{w1}").bitwiseAND(F.lit(1 << b1)) != 0
        ) & (F.col(f"bloom_w{w2}").bitwiseAND(F.lit(1 << b2)) != 0)

    return g.select(
        "file_id", "n_rows", "n_hot", "bloom_w0", "bloom_w1",
        may(_BLOOM_P1).alias("may_p1"), "has_p1",
        may(_BLOOM_P2).alias("may_p2"), "has_p2",
    )


# --------------------------------------------------------------------------
# events_alert_debounce — consecutive-hours alarm debouncing
# --------------------------------------------------------------------------

_DEBOUNCE_MIN = 3  # consecutive raw-alarm hours before the alert fires

_DEBOUNCE_SQL = f"""
    WITH {_DENSE_HOURLY_CTE},
    k AS (
      SELECT event_type, sum(n) // count(*) AS k
      FROM d GROUP BY 1),
    r AS (
      SELECT d.event_type, d.win_start, d.n, k.k,
             d.n > 2 * k.k AS raw
      FROM d JOIN k ON d.event_type = k.event_type),
    g AS (
      SELECT event_type, win_start, n, k, raw,
             sum(CASE WHEN raw THEN 0 ELSE 1 END) OVER (
               PARTITION BY event_type ORDER BY win_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS grp
      FROM r)
    SELECT event_type, win_start, n, k, raw,
           sum(CASE WHEN raw THEN 1 ELSE 0 END) OVER (
             PARTITION BY event_type, grp ORDER BY win_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS streak,
           sum(CASE WHEN raw THEN 1 ELSE 0 END) OVER (
             PARTITION BY event_type, grp ORDER BY win_start
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) >= {_DEBOUNCE_MIN} AS alert
    FROM g
    """


@register(
    "events_alert_debounce",
    _DEBOUNCE_SQL.format(hourly=_HOURLY_COUNTS_CTE),
)
def events_alert_debounce(spark, sf):
    """Alarm debouncing (flap suppression) — the paging-hygiene layer
    every detector in the anomaly family needs in front of a pager: a
    single hot hour (raw = n > 2k, k the type's floored mean hourly
    count) is noise; the ALERT fires only after the raw condition
    holds for >= 3 CONSECUTIVE hours. Run-length is computed without
    any sequential fold: a running count of raw=false hours assigns
    each row a streak group (every false hour opens a new group), and
    the within-group running count of raw hours IS the consecutive
    streak — the classic gaps-and-islands reduction, two stacked
    windows, no UDF.

    Densified series (CUSUM rule): a silent hour is raw=false DATA
    that breaks a streak — on the sparse raw rollup a 10-hour gap
    between two hot hours would read as 'consecutive'.

    Integer determinism: counts, k (floor-div of nonnegatives), and
    streaks are all BIGINT; the raw flag is an integer compare.

    Scale shape: events collapse to the (type, hour) rollup in ONE
    partial-agg shuffle; both windows cluster on event_type (the
    second on (event_type, grp), a refinement of the first), so
    Catalyst reuses one hashpartitioning exchange and the collapsed
    table is sorted at most twice. Rows = types x hours, never
    events.

    Reference analog: octopy's per-document tolerance loop
    (reference src/octopy/cli/segment.py try/except per page)
    suppresses one-off failures and only surfaces repeated ones —
    debouncing at the operational layer."""
    dense = _densified_hourly(spark, sf)
    k = dense.groupBy("event_type").agg(
        F.expr("sum(n) div count(*)").alias("k")
    )
    r = dense.join(F.broadcast(k), "event_type").withColumn(
        "raw", F.col("n") > 2 * F.col("k")
    )
    w1 = (
        Window.partitionBy("event_type")
        .orderBy("win_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = r.withColumn(
        "grp",
        F.sum(F.when(F.col("raw"), 0).otherwise(1)).over(w1),
    )
    w2 = (
        Window.partitionBy("event_type", "grp")
        .orderBy("win_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    streak = F.sum(F.when(F.col("raw"), 1).otherwise(0)).over(w2)
    return g.select(
        "event_type",
        "win_start",
        "n",
        "k",
        "raw",
        streak.alias("streak"),
        (streak >= _DEBOUNCE_MIN).alias("alert"),
    )


# --------------------------------------------------------------------------
# table_analyze_histogram — equi-width column histogram (CBO stats)
# --------------------------------------------------------------------------

_HIST_WIDTH = 10.0  # value-bucket width

_HIST_SQL = f"""
    SELECT CAST(floor(value / {_HIST_WIDTH}) AS BIGINT) AS bucket,
           floor(value / {_HIST_WIDTH}) * {_HIST_WIDTH} AS bucket_lo,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2
    """


@register("table_analyze_histogram", _HIST_SQL)
def table_analyze_histogram(spark, sf):
    """Equi-width column histogram — the ANALYZE TABLE ... FOR COLUMNS
    statistic the cost-based optimizer consumes (Spark's own CBO and
    every warehouse keep exactly this shape per column): per-bucket
    row count, distinct-user NDV, and the true min/max inside the
    bucket, so the planner can estimate selectivity of range and
    equality predicates without scanning data. Complements the
    physical-layout planners (zone maps and Bloom filters answer
    "which FILES"; the histogram answers "how MANY rows" — the
    cardinality estimate that picks broadcast vs shuffle joins).

    Determinism: the bucket key is floor of one IEEE divide (identical
    both engines); bucket_lo round-trips the same arithmetic; min/max
    of doubles are order-free; counts and the two-level distinct are
    exact integers.

    Scale shape: ONE partial-agg groupBy on the derived bucket key —
    count/min/max combine map-side, the distinct NDV is Spark's
    expand-then-agg (both levels partial-aggregate), and the shuffle
    carries one row per BUCKET. At 10^12 rows swap the exact NDV for
    approx_count_distinct (agg_approx_count_distinct is the
    registered sketch tier); the histogram frame stays identical.

    Reference analog: octopy's inspect -s per-layer weight stats
    (reference src/octopy/cli/inspect.py) — summary statistics
    precomputed so downstream decisions never touch the raw tensor."""
    e = load_table(spark, sf, "events")
    b = F.floor(F.col("value") / F.lit(_HIST_WIDTH))
    return e.groupBy(
        b.cast("long").alias("bucket"),
        (b * F.lit(_HIST_WIDTH)).alias("bucket_lo"),
    ).agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# table_ivm_merge — incremental materialized-view maintenance witness
# --------------------------------------------------------------------------

_IVM_CUT = "1998-06-01 00:00:00"

_IVM_SQL = f"""
    SELECT o_custkey,
           count(*) FILTER (o_orderdate < TIMESTAMP '{_IVM_CUT}')
             AS n_base,
           COALESCE(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
             FILTER (o_orderdate < TIMESTAMP '{_IVM_CUT}'), 0)
             AS sum_base_cents,
           count(*) FILTER (o_orderdate >= TIMESTAMP '{_IVM_CUT}')
             AS n_delta,
           COALESCE(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
             FILTER (o_orderdate >= TIMESTAMP '{_IVM_CUT}'), 0)
             AS sum_delta_cents,
           count(*) AS n_merged,
           sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
             AS sum_merged_cents,
           CASE WHEN count(*) FILTER (
                    o_orderdate < TIMESTAMP '{_IVM_CUT}') = 0
                THEN 'delta_only'
                WHEN count(*) FILTER (
                    o_orderdate >= TIMESTAMP '{_IVM_CUT}') = 0
                THEN 'base_only'
                ELSE 'both' END AS ivm_status
    FROM orders GROUP BY 1
    """


@register("table_ivm_merge", _IVM_SQL)
def table_ivm_merge(spark, sf):
    """Incremental materialized-view maintenance (IVM) — the refresh
    mechanic behind every warehouse's fast MV REFRESH: a stored
    per-customer revenue aggregate (the BASE, rows before the
    snapshot cutoff) is brought current by combining the DELTA
    (changelog rows since the cutoff) WITHOUT recomputing history —
    legal because count/sum are commutative monoids, so
    merged = base (+) delta key-wise. The output carries base, delta,
    and merged per key plus the ivm_status provenance
    (base_only / delta_only / both), so the rows themselves witness
    the merge law n_merged = n_base + n_delta and
    sum_merged = sum_base + sum_delta (pinned in tests) — the exact
    invariant a production refresh job asserts before swapping the MV
    snapshot (and the mechanics table_merge_upsert applies on the
    key-upsert side).

    Both legs here derive from one orders scan via conditional
    aggregation — ONE shuffle produces base, delta, AND merged, which
    is precisely what makes the witness trustworthy: all three come
    from the same rows, so any divergence is an engine bug, not a
    snapshot race. In production the base leg is a stored table and
    only the delta is scanned; the combine step (a key-wise full
    outer join + monoid merge) is what this key's schema freezes.

    Determinism: revenue in exact floored cents (one IEEE multiply
    shared bitwise); counts/sums BIGINT; status from integer
    emptiness tests.

    Scale shape: one partial-agg groupBy on custkey — every
    base/delta/merged cell combines map-side; the shuffle carries one
    row per customer. Refresh cost at 10^12 rows is driven by the
    DELTA's size only, which is the entire point of IVM.

    Reference analog: octopy resumes training from the last
    checkpoint and folds only NEW batches into the running metrics
    (reference src/octopy/cli/train.py:76-97) — base state plus
    delta, never recompute-from-scratch."""
    o = load_table(spark, sf, "orders")
    cut = F.lit(_IVM_CUT).cast("timestamp")
    base = F.col("o_orderdate") < cut
    cents = F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
    zero = F.lit(0).cast("long")
    n_base = F.count(F.when(base, 1))
    n_delta = F.count(F.when(~base, 1))
    return o.groupBy("o_custkey").agg(
        n_base.alias("n_base"),
        F.coalesce(F.sum(F.when(base, cents)), zero).alias(
            "sum_base_cents"
        ),
        n_delta.alias("n_delta"),
        F.coalesce(F.sum(F.when(~base, cents)), zero).alias(
            "sum_delta_cents"
        ),
        F.count("*").alias("n_merged"),
        F.sum(cents).alias("sum_merged_cents"),
        F.when(n_base == 0, "delta_only")
        .when(n_delta == 0, "base_only")
        .otherwise("both")
        .alias("ivm_status"),
    )


# --------------------------------------------------------------------------
# join_asof_nearest — bidirectional nearest-in-time as-of join
# --------------------------------------------------------------------------

_ASOF_NEAR_SQL = """
    WITH e AS (
      SELECT event_id, user_id, ts, event_type,
             epoch_us(ts) AS us
      FROM events),
    w AS (
      SELECT event_id, user_id, ts, us, event_type,
             max(CASE WHEN event_type = 'purchase' THEN us END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_us,
             min(CASE WHEN event_type = 'purchase' THEN us END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_us
      FROM e)
    SELECT event_id, user_id, us,
           CASE
             WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
             WHEN next_us IS NULL THEN prev_us
             WHEN prev_us IS NULL THEN next_us
             WHEN us - prev_us <= next_us - us THEN prev_us
             ELSE next_us END AS nearest_purchase_us,
           CASE
             WHEN prev_us IS NULL AND next_us IS NULL THEN 'none'
             WHEN next_us IS NULL THEN 'prev'
             WHEN prev_us IS NULL THEN 'next'
             WHEN us - prev_us <= next_us - us THEN 'prev'
             ELSE 'next' END AS direction,
           CASE
             WHEN prev_us IS NULL AND next_us IS NULL THEN NULL
             WHEN next_us IS NULL THEN us - prev_us
             WHEN prev_us IS NULL THEN next_us - us
             WHEN us - prev_us <= next_us - us THEN us - prev_us
             ELSE next_us - us END AS gap_us
    FROM w WHERE event_type = 'view'
    """


@register("join_asof_nearest", _ASOF_NEAR_SQL)
def join_asof_nearest(spark, sf):
    """Bidirectional nearest-in-time as-of join — completes the as-of
    family (latest = backward, next = forward, tolerance = bounded
    backward; this one answers "the CLOSEST match in either
    direction", the sensor-alignment / nearest-label join pandas
    calls merge_asof(direction='nearest')): for each view event, the
    user's nearest purchase by absolute time distance, with the
    deterministic tie-break BACKWARD on equal gaps (pandas' rule),
    plus the chosen direction and the exact gap.

    Mechanics: the union+window kernel of the family run both ways in
    ONE pass — a running conditional max over preceding purchases and
    a running conditional min over following ones, both riding the
    SAME (user, time, event_id) window sort, then a pure-codegen CASE
    picks the closer side. No self-join, no range explosion on active
    users; every event is read once. Times compared in exact epoch
    microseconds (never interval arithmetic), so the pick and the
    gap are integer-identical across engines.

    Scale shape: one user-keyed shuffle + one sort carries both
    window frames; the view filter runs after the windows so the
    purchase stream is seen exactly once.

    Reference analog: R11's line-to-region resolve takes the nearest
    baseline above OR below a line box (reference
    src/octopy/segment.py ordering) — nearest-neighbor matching on
    one axis, exactly this join's geometry."""
    e = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    base = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    is_p = F.when(
        F.col("event_type") == "purchase", F.col("us")
    )
    prev_us = F.max(is_p).over(
        base.rowsBetween(Window.unboundedPreceding, -1)
    )
    next_us = F.min(is_p).over(
        base.rowsBetween(1, Window.unboundedFollowing)
    )
    w = (
        e.withColumn("prev_us", prev_us)
        .withColumn("next_us", next_us)
        .filter(F.col("event_type") == "view")
    )
    both = F.col("prev_us").isNotNull() & F.col("next_us").isNotNull()
    prev_closer = (
        F.col("us") - F.col("prev_us")
        <= F.col("next_us") - F.col("us")
    )
    pick_prev = F.col("next_us").isNull() | (both & prev_closer)
    return w.select(
        "event_id",
        "user_id",
        "us",
        F.when(pick_prev, F.col("prev_us"))
        .otherwise(F.col("next_us"))
        .alias("nearest_purchase_us"),
        F.when(
            F.col("prev_us").isNull() & F.col("next_us").isNull(),
            "none",
        )
        .when(pick_prev, "prev")
        .otherwise("next")
        .alias("direction"),
        F.when(pick_prev, F.col("us") - F.col("prev_us"))
        .otherwise(F.col("next_us") - F.col("us"))
        .alias("gap_us"),
    )


# --------------------------------------------------------------------------
# agg_weighted_median — byte-mass-weighted median document length
# --------------------------------------------------------------------------

_WMED_SQL = """
    WITH c AS (
      SELECT lang, doc_id, n_chars,
             sum(n_chars) OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cumw
      FROM documents),
    t AS (
      SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars
      FROM documents GROUP BY 1)
    SELECT t.lang, t.n_docs, t.total_chars,
           min(c.n_chars) AS wmedian_chars
    FROM c JOIN t ON c.lang = t.lang
    WHERE 2 * c.cumw >= t.total_chars
    GROUP BY 1, 2, 3
    """


@register("agg_weighted_median", _WMED_SQL)
def agg_weighted_median(spark, sf):
    """Byte-mass-weighted median document length per language — the
    planning pivot the UNweighted median gets wrong at web scale: half
    the DOCUMENTS are short, but half the BYTES (= half the storage,
    shuffle, and tokenization cost) live above a much longer length.
    The weighted median (weight = the doc's own byte count) is the
    length below which half the corpus MASS sits — the number that
    sizes split thresholds, packing targets, and per-partition byte
    budgets (corpus_shard_pack / corpus_pack_sequences consume
    exactly this statistic).

    Exact by construction: a lang-keyed cumulative BIGINT sum in the
    deterministic (n_chars, doc_id) order, then the smallest value
    whose cumulative weight crosses half the total — the crossing
    test is the integer cross-multiplication 2*cumw >= total, and
    min() over qualifying rows needs no tie-break (values equal ⇒
    min equal). No interpolation, no floats, identical both engines.

    Scale shape: one lang-keyed window (partitioned — never a global
    sort) + a lang rollup broadcast back; the filter+min collapse is
    partial-aggregable. At 10^12 docs swap the exact crossing scan
    for the approx_percentile weighted sketch if the per-lang sort
    is the bottleneck; the output contract stays identical.

    Reference analog: octopy sizes its batch padding by the char-mass
    distribution of line widths, not line counts (reference
    src/octopy/train.py batch assembly) — mass-weighted, not
    count-weighted."""
    docs = load_table(spark, sf, "documents")
    # running frame and full frame share the same partitioning+sort,
    # so the per-lang totals cost no second scan and no join: one
    # exchange, one sort, three window aggregates
    run = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    full = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
        .rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    c = docs.select(
        "lang",
        "n_chars",
        F.sum("n_chars").over(run).alias("cumw"),
        F.count("*").over(full).alias("n_docs"),
        F.sum("n_chars").over(full).alias("total_chars"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("total_chars"))
        .groupBy("lang", "n_docs", "total_chars")
        .agg(F.min("n_chars").alias("wmedian_chars"))
    )


# --------------------------------------------------------------------------
# scan_csv_malformed_permissive — partial-parse-tolerant CSV landing
# --------------------------------------------------------------------------

_BADCSV_SQL = """
    SELECT doc_id, lang,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END
             AS n_chars,
           doc_id % 13 = 0 AS is_corrupt
    FROM documents
    """


@register("scan_csv_malformed_permissive", _BADCSV_SQL)
def scan_csv_malformed_permissive(spark, sf):
    """Permissive CSV scan with PARTIAL parse recovery — the R2/R17
    never-drop discipline at the FIELD grain (scan_jsonl_corrupt_
    tolerant covers the line grain): a mangled numeric field must not
    cost the row, only the field. Spark's PERMISSIVE mode keeps the
    parseable columns (doc_id, lang), nulls the malformed one
    (n_chars), and preserves the raw line in the corrupt-record
    column — here surfaced as the is_corrupt flag, so downstream can
    route the row to repair instead of losing the document (the WARC
    world's reality: third-party exports mangle numerics constantly,
    and DROPMALFORMED silently deletes data).

    The corruption is deterministic (stage_malformed_csv mangles
    every 13th row), so the oracle reconstructs the exact
    partial-parse outcome from the clean documents view — proving not
    just the row count but WHICH fields survived on WHICH rows.

    Scale shape: scan-only, embarrassingly parallel, one file here
    and many files at a real landing (corruption handling is
    per-line either way); no shuffle at all.

    Reference analog: octopy's per-page try/except keeps a failed
    page's id and error in the output run (reference
    src/octopy/cli/segment.py:134-145) — keep the unit, null the
    damage, never drop."""
    from octospark.sources import stage_malformed_csv

    dest = stage_malformed_csv(sf)
    df = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long,"
            " _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dest)
    )
    return df.select(
        "doc_id",
        "lang",
        "n_chars",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


# --------------------------------------------------------------------------
# events_gini_user_concentration — traffic-inequality scalar per type
# --------------------------------------------------------------------------

_GINI_SQL = """
    WITH u AS (
      SELECT event_type, user_id, count(*) AS x
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, x,
             row_number() OVER (
               PARTITION BY event_type ORDER BY x, user_id
             ) AS i
      FROM u)
    SELECT event_type,
           count(*) AS n_users,
           sum(x) AS total_events,
           1000000 * (2 * sum(i * x) - (count(*) + 1) * sum(x))
             // (count(*) * sum(x)) AS gini_ppm
    FROM r GROUP BY 1
    """


@register("events_gini_user_concentration", _GINI_SQL)
def events_gini_user_concentration(spark, sf):
    """Gini coefficient of per-user traffic per event type — the
    SCALAR the Pareto curve (events_power_pareto) plots: one number
    per surface answering "how concentrated is this activity on few
    users" (0 = perfectly even, →1e6 ppm = one user is everything).
    Capacity planners read it as cache-skew risk; abuse teams read a
    jump as bot concentration; the experimentation keys read it as
    variance inflation (heavy users dominate naive lift estimates —
    the reason events_cuped_lift exists).

    Exact integer form of the rank formula:
    G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over counts
    sorted ascending with the deterministic (x, user_id) tie-break;
    reported as floor-ppm — numerator and denominator are bounded
    BIGINT products (rank <= n_users, so i*x sums stay far under
    2^63 for any real user census), no floats anywhere.

    Scale shape: ONE partial-agg (type, user) rollup collapses the
    event stream; the rank window partitions by type over the
    collapsed user-grain table (never the events); the final rollup
    is type-cardinality-sized. The window sort is the one real cost
    and it runs on users, not events — at 10^9 users per type swap
    in the bucketed-percentile approximation; the contract stays.

    Reference analog: octopy's label_stats (R27) reads class
    imbalance before training — the same one-scalar-per-class
    concentration readout."""
    e = load_table(spark, sf, "events")
    u = e.groupBy("event_type", "user_id").agg(
        F.count("*").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("x").asc(), F.col("user_id").asc()
    )
    r = u.withColumn("i", F.row_number().over(w))
    return r.groupBy("event_type").agg(
        F.count("*").alias("n_users"),
        F.sum("x").alias("total_events"),
        F.expr(
            "1000000 * (2 * sum(i * x) - (count(*) + 1) * sum(x))"
            " div (count(*) * sum(x))"
        ).alias("gini_ppm"),
    )


# --------------------------------------------------------------------------
# events_user_overlap_jaccard — audience overlap matrix between surfaces
# --------------------------------------------------------------------------

_OVERLAP_SQL = """
    WITH d AS (
      SELECT DISTINCT user_id, event_type FROM events),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_inter
      FROM d a JOIN d b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2),
    s AS (
      SELECT event_type, count(*) AS n FROM d GROUP BY 1)
    SELECT p.type_a, p.type_b, p.n_inter,
           sa.n AS n_a, sb.n AS n_b,
           1000000 * p.n_inter
             // (sa.n + sb.n - p.n_inter) AS jaccard_ppm
    FROM p
    JOIN s sa ON p.type_a = sa.event_type
    JOIN s sb ON p.type_b = sb.event_type
    """


@register("events_user_overlap_jaccard", _OVERLAP_SQL)
def events_user_overlap_jaccard(spark, sf):
    """Audience-overlap (Jaccard) matrix between event surfaces — the
    product-analytics readout behind funnel design and cross-sell
    targeting: which surfaces share their users (near-1 overlap means
    one funnel), which are disjoint audiences (separate growth
    loops)? Per unordered type pair: shared users, each side's
    audience, and Jaccard in floor-ppm via inclusion-exclusion on the
    exact distinct counts (|A∪B| = |A|+|B|−|A∩B| — the union is
    never materialized). Pairs no user co-occurs in are omitted
    (their Jaccard is 0 by definition; the output is the sparse
    upper triangle).

    Scale shape: ONE distinct (user, type) shuffle collapses the
    event stream to the user-grain membership table; each user's
    type set (bounded by the type vocabulary, k <= 5 here) expands to
    its k(k-1)/2 pairs MAP-SIDE via a double explode over the
    collected set — never a user-keyed self-join of the membership
    table — and the pair counts partial-aggregate into a
    vocabulary²-sized rollup; audience sizes broadcast back. The
    same shape at 10^9 users: cost = the one distinct shuffle.

    Reference analog: octopy's class-merge planning reads which label
    pairs co-occur on the same pages before merging them (reference
    src/octopy/train.py:199-240) — the co-membership census that
    justifies a merge."""
    e = load_table(spark, sf, "events")
    # ONE user shuffle feeds both the pair expansion and the audience
    # sizes (each user lists a type once, so exploded counts ARE the
    # distinct-user counts) — events scanned exactly once
    u = materialize(e.groupBy("user_id").agg(
        F.collect_set("event_type").alias("ts")
    ))
    pairs = (
        u.select(F.explode("ts").alias("type_a"), "ts")
        .select("type_a", F.explode("ts").alias("type_b"))
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_inter"))
    )
    s = materialize(
        u.select(F.explode("ts").alias("event_type"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        pairs.join(
            F.broadcast(
                s.select(
                    F.col("event_type").alias("type_a"),
                    F.col("n").alias("n_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                s.select(
                    F.col("event_type").alias("type_b"),
                    F.col("n").alias("n_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a", "type_b", "n_inter", "n_a", "n_b",
            F.expr(
                "1000000 * n_inter div (n_a + n_b - n_inter)"
            ).alias("jaccard_ppm"),
        )
    )


# --------------------------------------------------------------------------
# table_gdpr_erasure_plan — right-to-be-forgotten deletion planning
# --------------------------------------------------------------------------

_GDPR_MOD, _GDPR_REM = 50, 7  # erasure cohort: key % 50 == 7

_GDPR_SQL = f"""
    WITH ev AS (
      SELECT 'events' AS table_name,
             event_id // 1000 AS file_id,
             count(*) AS n_delete,
             count(DISTINCT user_id) AS n_subjects
      FROM events WHERE user_id % {_GDPR_MOD} = {_GDPR_REM}
      GROUP BY 1, 2),
    o AS (
      SELECT 'orders' AS table_name,
             o_orderkey // 1000 AS file_id,
             count(*) AS n_delete,
             count(DISTINCT o_custkey) AS n_subjects
      FROM orders WHERE o_custkey % {_GDPR_MOD} = {_GDPR_REM}
      GROUP BY 1, 2)
    SELECT * FROM ev UNION ALL SELECT * FROM o
    """


@register("table_gdpr_erasure_plan", _GDPR_SQL)
def table_gdpr_erasure_plan(spark, sf):
    """Right-to-be-forgotten erasure PLAN across tables — the
    compliance twin of the maintenance family: before any data is
    touched, enumerate per (table, file) how many rows belong to the
    erasure cohort (here the deterministic user/customer cohort
    key % 50 == 7, standing in for the subject list a DSR batch
    carries), so the deletion service can (a) skip untouched files
    entirely, (b) write deletion vectors for lightly-hit files
    (table_deletion_vectors' mechanic), and (c) rewrite heavily-hit
    ones (table_compaction_plan's). n_subjects per file audits blast
    radius. Plan-first-act-later is the same discipline as
    table_vacuum_orphans; the plan is metadata-sized and idempotent,
    so a crashed erasure job re-plans and resumes (R22-R24).

    Scale shape: per table ONE partial-agg groupBy on the derived
    file key over the cohort-filtered scan (the filter pushes to the
    scan; the shuffle carries one row per touched file); the
    cross-table union is planning-sized. At 10^12 rows the subject
    list becomes a broadcast semi-join instead of a modulus — plan
    shape unchanged.

    Reference analog: octopy's inspect enumerates which container
    members a pending operation will touch before running it
    (reference src/octopy/cli/inspect.py) — plan the blast radius
    first."""
    ev = load_table(spark, sf, "events")
    o = load_table(spark, sf, "orders")
    ev_p = (
        ev.filter(F.col("user_id") % _GDPR_MOD == _GDPR_REM)
        .groupBy(F.expr("event_id div 1000").alias("file_id"))
        .agg(
            F.count("*").alias("n_delete"),
            F.count_distinct("user_id").alias("n_subjects"),
        )
        .select(
            F.lit("events").alias("table_name"),
            "file_id",
            "n_delete",
            "n_subjects",
        )
    )
    o_p = (
        o.filter(F.col("o_custkey") % _GDPR_MOD == _GDPR_REM)
        .groupBy(F.expr("o_orderkey div 1000").alias("file_id"))
        .agg(
            F.count("*").alias("n_delete"),
            F.count_distinct("o_custkey").alias("n_subjects"),
        )
        .select(
            F.lit("orders").alias("table_name"),
            "file_id",
            "n_delete",
            "n_subjects",
        )
    )
    return ev_p.unionByName(o_p)


# --------------------------------------------------------------------------
# sql_tpch_q3_like — shipping-priority flagship multi-join query
# --------------------------------------------------------------------------

_Q3_SQL = """
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(8,4)))
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """


@register("sql_tpch_q3_like", _Q3_SQL)
def sql_tpch_q3_like(spark, sf):
    """TPC-H Q3 (shipping priority) — the flagship three-table
    join-aggregate-topk every warehouse is judged on, included as the
    end-to-end witness that the relational core composes: a selective
    dimension filter (market segment), a fact-fact join
    (orders x lineitem), a date anti-window (ordered before the
    cutoff, shipped after), a decimal-exact revenue rollup, and a
    deterministic top-10 (revenue DESC, orderkey tiebreak — TakeOrdered,
    never a global sort).

    Determinism: revenue accumulates in DECIMAL (the agg_hash_groupby
    discipline — float summation order differs between engines) and
    casts to double once; dates compared as timestamps, emitted as
    strings; the tie-broken LIMIT is engine-independent.

    Scale shape: Catalyst broadcasts the filtered customer dimension
    (segment filter cuts it 5x before the join — predicate pushdown
    visible in the scan), shuffles the two facts on their join keys
    once each, partial-aggregates revenue map-side, and top-10 rides
    TakeOrderedAndProject (per-partition heaps + driver merge of
    10 x n_partitions rows). The classic plan a 100 TB warehouse
    wants for exactly this query.

    Reference analog: none single — this is the composition witness
    for R11-R13 (join/order/clamp) at once."""
    c = load_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    j = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, li["l_orderkey"] == o["o_orderkey"])
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (1 - F.col("l_discount")).cast("decimal(8,4)")
    ).cast("double")
    return (
        j.groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias(
                "o_orderdate"
            ),
            "o_orderpriority",
        )
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# join_scd2_asof — facts joined to the SCD2 dimension as-of event time
# --------------------------------------------------------------------------

_SCD2_ASOF_SQL = """
    WITH chg AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             o_orderdate AS ts, o_orderkey AS okey
      FROM (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               lag(o_orderstatus) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) AS prev_status
        FROM orders)
      WHERE prev_status IS NULL OR prev_status != o_orderstatus),
    f AS (
      SELECT o.o_custkey AS custkey, li.l_orderkey, li.l_linenumber,
             li.l_shipdate AS ts
      FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey),
    u AS (
      SELECT custkey, ts, 0 AS kind, okey,
             CAST(NULL AS BIGINT) AS l_orderkey,
             CAST(NULL AS INTEGER) AS l_linenumber, status
      FROM chg
      UNION ALL
      SELECT custkey, ts, 1 AS kind, l_orderkey AS okey,
             l_orderkey, l_linenumber, NULL AS status
      FROM f),
    w AS (
      SELECT custkey, ts, kind, l_orderkey, l_linenumber,
             last_value(status IGNORE NULLS) OVER (
               PARTITION BY custkey
               ORDER BY ts, kind, okey, l_linenumber NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS status_asof
      FROM u)
    SELECT l_orderkey, l_linenumber, custkey,
           strftime(ts, '%Y-%m-%d') AS ship_date, status_asof
    FROM w WHERE kind = 1
    """


@register("join_scd2_asof", _SCD2_ASOF_SQL)
def join_scd2_asof(spark, sf):
    """Join facts to the SCD2 dimension AS-OF fact time — the
    CONSUMER of table_scd2_history (which builds the [valid_from,
    valid_to) timeline but nothing joined against it): each shipment
    line is attributed the customer status that was current when it
    shipped — the late-arriving-fact join every warehouse's
    point-in-time-correct reporting (and every feature store's
    training-data join) runs, where joining today's dimension row
    would leak the future.

    Mechanics: the as-of family's union+window kernel instead of the
    textbook interval range-join — dimension CHANGE rows and fact
    rows interleave in one per-customer (ts, kind, key) total order
    (changes sort before facts at the same instant: a status is
    effective ON its date), and an ignore-nulls last_value carries
    the prevailing status onto every fact row. No interval table is
    materialized and no range join can explode on a hot customer:
    cost is ONE customer-keyed shuffle and sort of changes + facts.
    Facts before the first change surface status_asof = NULL
    (never-drop, visibly unattributed).

    Determinism: the interleave order is total (epoch date, kind,
    orderkey, linenumber), ignore-nulls last_value is
    order-defined; no floats anywhere.

    Scale shape: the change stream is dimension-sized (compacted —
    table_scd2_history's point), facts dominate the one shuffle;
    both windows of the family discipline apply unchanged at 10^12
    fact rows.

    Reference analog: octopy resumes recognition with the model
    checkpoint that was current when the page batch was enqueued
    (reference src/octopy/cli/train.py checkpoint selection) —
    point-in-time correctness against a versioned dimension."""
    # the pruned orders projection feeds TWO branches (the change
    # compaction and the fact custkey lookup) — materialize it once
    # so orders is scanned once (at production scale: the persisted
    # dimension-change table table_scd2_history maintains)
    o = materialize(
        load_table(spark, sf, "orders")
        .select(
            "o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"
        )
    )
    li = load_table(spark, sf, "lineitem")
    wchg = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    chg = (
        o.select(
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "o_orderkey",
            F.lag("o_orderstatus").over(wchg).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("prev_status") != F.col("o_orderstatus"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderdate").alias("ts"),
            F.lit(0).alias("kind"),
            F.col("o_orderkey").alias("okey"),
            F.lit(None).cast("long").alias("l_orderkey"),
            F.lit(None).cast("int").alias("l_linenumber"),
            F.col("o_orderstatus").alias("status"),
        )
    )
    f = li.join(
        o.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == o["o_orderkey"],
    ).select(
        F.col("o_custkey").alias("custkey"),
        F.col("l_shipdate").alias("ts"),
        F.lit(1).alias("kind"),
        F.col("l_orderkey").alias("okey"),
        "l_orderkey",
        "l_linenumber",
        F.lit(None).cast("string").alias("status"),
    )
    u = chg.unionByName(f)
    w = (
        Window.partitionBy("custkey")
        .orderBy(
            F.col("ts").asc(),
            F.col("kind").asc(),
            F.col("okey").asc(),
            F.col("l_linenumber").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn(
        "status_asof", F.last("status", ignorenulls=True).over(w)
    )
    return out.filter(F.col("kind") == 1).select(
        "l_orderkey",
        "l_linenumber",
        "custkey",
        F.date_format("ts", "yyyy-MM-dd").alias("ship_date"),
        "status_asof",
    )


# --------------------------------------------------------------------------
# agg_correlation_pearson — decimal-exact bivariate correlation
# --------------------------------------------------------------------------

_CORR_SQL = """
    WITH s AS (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(28,6)))
                  AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6)))
                  AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS syy,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
           (n * sxy - sx * sy) / (n - 1) / n AS covar_samp_scaled,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS pearson_r
    FROM s
    """


@register("agg_correlation_pearson", _CORR_SQL)
def agg_correlation_pearson(spark, sf):
    """Bivariate Pearson correlation (quantity vs line revenue per
    return flag) — the pairwise statistic CBOs keep as multi-column
    stats (correlated predicates break independent-selectivity
    estimates) and analysts read as effect direction; completes the
    moments family (agg_stats_moments owns the univariate ones).

    Built on the decimal-exact accumulation discipline: all five
    sums (x, y, x², y², xy) accumulate in DECIMAL (shuffle-order
    float addition is engine-divergent; fixed-point inputs make the
    products exact), cast to double ONCE, then the closed-form r is
    a short fixed shape of IEEE ops identical on both engines.
    Spark's built-in corr() is exactly the fold-order trap this
    avoids — documented here rather than used.

    Scale shape: ONE partial-agg groupBy — the five sums and count
    all combine map-side, the shuffle carries one row per flag, the
    closed form runs on the rollup. The cheapest possible bivariate
    statistic at 10^12 rows.

    Reference analog: octopy's train summary correlates per-class
    confidence with sample count before trusting class metrics
    (reference src/octopy/cli/train.py reporting) — same
    paired-moments readout."""
    li = load_table(spark, sf, "lineitem")
    d28 = lambda c: F.col(c).cast("decimal(28,6)")  # noqa: E731
    d18 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(d28("l_quantity")).cast("double").alias("sx"),
        F.sum(d28("l_extendedprice")).cast("double").alias("sy"),
        F.sum(d18("l_quantity") * d18("l_quantity"))
        .cast("double")
        .alias("sxx"),
        F.sum(d18("l_extendedprice") * d18("l_extendedprice"))
        .cast("double")
        .alias("syy"),
        F.sum(d18("l_quantity") * d18("l_extendedprice"))
        .cast("double")
        .alias("sxy"),
    )
    return s.select(
        "l_returnflag",
        "n",
        F.expr("(n * sxy - sx * sy) / (n - 1) / n").alias(
            "covar_samp_scaled"
        ),
        F.expr(
            "(n * sxy - sx * sy)"
            " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
        ).alias("pearson_r"),
    )


# --------------------------------------------------------------------------
# events_dow_hod_heatmap — day-of-week x hour-of-day traffic matrix
# --------------------------------------------------------------------------

_HEATMAP_SQL = """
    WITH c AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             CAST(hour(ts) AS BIGINT) AS hod,
             count(*) AS n
      FROM events GROUP BY 1, 2, 3),
    t AS (
      SELECT event_type, sum(n) AS total FROM c GROUP BY 1)
    SELECT c.event_type, c.dow, c.hod, c.n,
           1000000 * c.n // t.total AS share_ppm
    FROM c JOIN t ON c.event_type = t.event_type
    """


@register("events_dow_hod_heatmap", _HEATMAP_SQL)
def events_dow_hod_heatmap(spark, sf):
    """Day-of-week x hour-of-day traffic heatmap per event type — the
    capacity-planning matrix (the 7x24 grid every on-call dashboard
    opens with), and the weekly-seasonality readout
    events_seasonal_baseline's hour-of-day strata deliberately pool
    away (a Monday 9 a.m. and a Sunday 9 a.m. are different cells
    here). Cell shares in floor-ppm of the type's total.

    Day-of-week is computed ARITHMETICALLY — (epoch_days + 4) % 7
    with 0 = Sunday (1970-01-01 was a Thursday) — instead of each
    engine's dayofweek() function, because their numbering
    conventions differ (Spark 1=Sunday, DuckDB 0=Sunday) and the
    integer form is the one both replay bitwise; hours come from the
    shared truncation.

    Scale shape: ONE partial-agg groupBy on the derived (type, dow,
    hod) key collapses the event stream to at most types x 168
    cells; the per-type totals fold over that rollup and broadcast
    back. Nothing after the first shuffle touches events.

    Reference analog: octopy's inspect -s layer grids (reference
    src/octopy/cli/inspect.py) — the at-a-glance matrix summary."""
    e = load_table(spark, sf, "events")
    c = e.groupBy(
        "event_type",
        (
            (
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    / 86400000000
                ).cast("long")
                + 4
            )
            % 7
        ).alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.count("*").alias("n"))
    c = materialize(c)
    t = c.groupBy("event_type").agg(F.sum("n").alias("total"))
    return c.join(F.broadcast(t), "event_type").select(
        "event_type",
        "dow",
        "hod",
        "n",
        F.expr("1000000 * n div total").alias("share_ppm"),
    )


# --------------------------------------------------------------------------
# join_interval_overlap — binned interval-overlap join
# --------------------------------------------------------------------------

_PROMO_EPOCH = "1995-01-01"
_PROMO_EVERY_D, _PROMO_LEN_D, _PROMO_N = 30, 14, 81
_ORDER_LEN_D = 7
_OVL_BIN_D = 30  # bin width >= max interval length on either side


_OVL_SQL = f"""
    WITH o AS (
      SELECT o_orderkey,
             epoch_us(o_orderdate) // 86400000000 AS lo,
             epoch_us(o_orderdate) // 86400000000
               + {_ORDER_LEN_D} AS hi
      FROM orders),
    p AS (
      SELECT i AS promo_id,
             epoch_us(TIMESTAMP '{_PROMO_EPOCH} 00:00:00')
               // 86400000000 + i * {_PROMO_EVERY_D} AS lo,
             epoch_us(TIMESTAMP '{_PROMO_EPOCH} 00:00:00')
               // 86400000000 + i * {_PROMO_EVERY_D}
               + {_PROMO_LEN_D} AS hi
      FROM unnest(generate_series(0, {_PROMO_N - 1})) AS t(i)),
    ob AS (
      SELECT o.*, unnest([lo // {_OVL_BIN_D}, hi // {_OVL_BIN_D}])
               AS bin
      FROM o),
    pb AS (
      SELECT p.*, unnest([lo // {_OVL_BIN_D}, hi // {_OVL_BIN_D}])
               AS bin
      FROM p)
    SELECT DISTINCT ob.o_orderkey, pb.promo_id,
           least(ob.hi, pb.hi) - greatest(ob.lo, pb.lo)
             AS overlap_days
    FROM ob JOIN pb ON ob.bin = pb.bin
     AND ob.lo < pb.hi AND pb.lo < ob.hi
    """


@register("join_interval_overlap", _OVL_SQL)
def join_interval_overlap(spark, sf):
    """Interval-OVERLAP join — the two-sided generalization of the
    point-in-interval join (join_interval_binned): every order's
    7-day fulfillment window matched to every 14-day promo window it
    intersects, with the exact overlap length. The naive form is a
    range-theta join (quadratic on hot ranges); the scalable form
    used here is the textbook binning reduction: with bin width >=
    the max interval length on EITHER side, an interval touches at
    most 2 bins, so emitting each interval into its endpoint bins
    and equi-joining on bin finds every overlapping pair (a pair
    overlapping anywhere must share the bin of the later start),
    with DISTINCT collapsing the pairs found in both bins.

    All arithmetic in exact epoch DAYS (integer floor-division of
    epoch microseconds); the promo dimension is generated, not
    stored — sequence/generate_series both engines share. The bound
    'at most 2 bins' is structural: expansion is exactly 2x each
    side, never data-dependent.

    Scale shape: one bin-keyed shuffle join of two 2x-expanded
    interval tables; the overlap predicate and length run as codegen
    on join output. At 10^12 intervals the bin key IS the partition
    key, and skew only appears if intervals pile into one bin —
    whereupon the standard salting keys (join_skew_salted) apply
    unchanged.

    Reference analog: R11's line-to-region assignment intersects
    line boxes with region boxes on the vertical axis (reference
    src/octopy/segment.py) — 1-D interval overlap, same reduction."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey",
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            / 86400000000
        ).cast("long").alias("lo"),
    ).withColumn("hi", F.col("lo") + _ORDER_LEN_D)
    epoch_day = F.unix_micros(
        F.lit(f"{_PROMO_EPOCH} 00:00:00").cast("timestamp")
    ).cast("long") / F.lit(86400000000)
    p = spark.range(_PROMO_N).select(
        F.col("id").alias("promo_id"),
        (
            epoch_day.cast("long")
            + F.col("id") * _PROMO_EVERY_D
        ).alias("lo"),
    ).withColumn("hi", F.col("lo") + _PROMO_LEN_D)
    binize = lambda df: df.select(  # noqa: E731
        "*",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"lo div {_OVL_BIN_D}"),
                    F.expr(f"hi div {_OVL_BIN_D}"),
                )
            )
        ).alias("bin"),
    )
    ob = binize(o)
    pb = binize(p).select(
        "bin",
        F.col("promo_id"),
        F.col("lo").alias("plo"),
        F.col("hi").alias("phi"),
    )
    j = ob.join(pb, "bin").filter(
        (F.col("lo") < F.col("phi")) & (F.col("plo") < F.col("hi"))
    )
    return j.select(
        "o_orderkey",
        "promo_id",
        (
            F.least("hi", "phi") - F.greatest("lo", "plo")
        ).alias("overlap_days"),
    ).distinct()


# --------------------------------------------------------------------------
# events_feature_backfill — multi-horizon rolling features per user-day
# --------------------------------------------------------------------------

_FB_SQL = """
    WITH d AS (
      SELECT user_id,
             epoch_us(ts) // 86400000000 AS day,
             count(*) AS n_1d
      FROM events GROUP BY 1, 2)
    SELECT user_id, day, n_1d,
           sum(n_1d) OVER (
             PARTITION BY user_id ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS n_7d,
           sum(n_1d) OVER (
             PARTITION BY user_id ORDER BY day
             RANGE BETWEEN 27 PRECEDING AND CURRENT ROW) AS n_28d
    FROM d
    """


@register("events_feature_backfill", _FB_SQL)
def events_feature_backfill(spark, sf):
    """Multi-horizon rolling-count feature backfill per (user, day) —
    the feature-store materialization job behind every behavioral
    model: daily activity plus its 7-day and 28-day rolling windows,
    computed for every active day at once (the training-set backfill
    shape; join_asof_latest/join_scd2_asof then serve them
    point-in-time-correctly). RANGE frames over the integer day key
    — not ROWS — so gaps in a user's activity shorten the window's
    CONTENTS, not its span: a user active on days 1 and 9 must not
    see day 1 inside the day 9 weekly window, which a ROWS frame
    would get wrong without densification.

    Exact: the day key is integer floor-division of epoch micros;
    counts are BIGINTs; both RANGE frames are value-bounded on the
    same key in both engines.

    Scale shape: ONE partial-agg (user, day) rollup collapses the
    event stream, then BOTH horizon frames ride a single user-keyed
    sort of the collapsed table (Catalyst evaluates same-window-spec
    frames in one Window operator pass). Adding horizons costs one
    aggregate each, never a new shuffle — the property that makes
    50-feature backfills affordable at 10^12 events.

    Reference analog: octopy's train loop folds per-batch metrics
    into running short- and long-horizon averages (reference
    src/octopy/cli/train.py metric smoothing) — same multi-horizon
    rollup, materialized tablewide."""
    e = load_table(spark, sf, "events")
    d = e.groupBy(
        "user_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            / 86400000000
        ).cast("long").alias("day"),
    ).agg(F.count("*").alias("n_1d"))
    w7 = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-6, Window.currentRow)
    )
    w28 = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-27, Window.currentRow)
    )
    return d.select(
        "user_id",
        "day",
        "n_1d",
        F.sum("n_1d").over(w7).alias("n_7d"),
        F.sum("n_1d").over(w28).alias("n_28d"),
    )


# --------------------------------------------------------------------------
# table_expectations_report — data-quality assertion suite as data
# --------------------------------------------------------------------------

_EXP_SQL = """
    WITH row_exps AS (
      SELECT count(*) AS n_checked,
             count(*) FILTER (o_orderkey IS NULL) AS v_null_key,
             count(*) FILTER (o_totalprice <= 0
                              OR o_totalprice > 1000000) AS v_price,
             count(*) FILTER (o_orderdate < TIMESTAMP '1990-01-01'
                              OR o_orderdate >= TIMESTAMP '2030-01-01')
               AS v_date,
             count(*) FILTER (o_orderstatus NOT IN ('O', 'F', 'P'))
               AS v_status
      FROM orders),
    ref AS (
      SELECT count(*) AS v_ref
      FROM orders o
      LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL)
    SELECT e.name, r.n_checked, e.n_violations,
           e.n_violations = 0 AS pass,
           1000000 * e.n_violations // r.n_checked AS viol_ppm
    FROM row_exps r, ref, (
      VALUES ('orderkey_not_null', (SELECT v_null_key FROM row_exps)),
             ('totalprice_in_range', (SELECT v_price FROM row_exps)),
             ('orderdate_in_bounds', (SELECT v_date FROM row_exps)),
             ('status_in_domain', (SELECT v_status FROM row_exps)),
             ('custkey_ref_integrity', (SELECT v_ref FROM ref))
    ) AS e(name, n_violations)
    """


@register("table_expectations_report", _EXP_SQL)
def table_expectations_report(spark, sf):
    """Data-quality expectation suite as a table — the
    Great-Expectations / dbt-test contract check every ingest gate
    runs before publishing a snapshot: not-null keys, value ranges,
    date bounds, categorical domain membership, and referential
    integrity against the dimension, each reported as (checked,
    violations, pass, violation ppm) ROWS so the gate's verdict is
    itself queryable, lineage-recordable (R18), and diffable across
    runs. A failing expectation blocks the manifest commit in the
    same way validation cadence (R25) blocks a bad checkpoint.

    Scale shape: all four row-level expectations fold into ONE
    conditional aggregation over a single orders scan (adding an
    expectation costs one aggregate, not one pass — the property
    that keeps 100-expectation suites one-scan); referential
    integrity is one broadcast anti-join count against the
    dimension. The report itself is expectation-count-sized.

    Reference analog: octopy validates model/container invariants up
    front and refuses to run on violation (reference
    src/octopy/cli/segment.py input checks) — the same
    check-then-proceed contract, materialized as data."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select("c_custkey")
    row = materialize(o.agg(
        F.count("*").alias("n_checked"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias(
            "v_null_key"
        ),
        F.count(
            F.when(
                (F.col("o_totalprice") <= 0)
                | (F.col("o_totalprice") > 1000000),
                1,
            )
        ).alias("v_price"),
        F.count(
            F.when(
                (
                    F.col("o_orderdate")
                    < F.lit("1990-01-01").cast("timestamp")
                )
                | (
                    F.col("o_orderdate")
                    >= F.lit("2030-01-01").cast("timestamp")
                ),
                1,
            )
        ).alias("v_date"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("v_status"),
    ))
    ref = materialize(
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count("*").alias("v_ref"))
    )
    exps = [
        ("orderkey_not_null", "v_null_key", row),
        ("totalprice_in_range", "v_price", row),
        ("orderdate_in_bounds", "v_date", row),
        ("status_in_domain", "v_status", row),
        ("custkey_ref_integrity", "v_ref", ref),
    ]
    out = None
    for name, col, src in exps:
        r = (
            src.crossJoin(row.select("n_checked"))
            if src is ref
            else src
        ).select(
            F.lit(name).alias("name"),
            "n_checked",
            F.col(col).alias("n_violations"),
            (F.col(col) == 0).alias("pass"),
            F.expr(f"1000000 * {col} div n_checked").alias(
                "viol_ppm"
            ),
        )
        out = r if out is None else out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# events_forecast_residual_alarm — forecast-vs-actual anomaly gate
# --------------------------------------------------------------------------

_FRA_SQL = f"""
    WITH h AS ({{holt}}),
    k AS (
      SELECT event_type, sum(n) // count(*) AS k FROM h GROUP BY 1),
    l AS (
      SELECT h.event_type, h.win_start, h.n, k.k,
             lag(h.forecast_next_x3) OVER (
               PARTITION BY h.event_type ORDER BY h.win_start
             ) AS pred_x3
      FROM h JOIN k ON h.event_type = k.event_type)
    SELECT event_type, win_start, n, pred_x3,
           CASE WHEN pred_x3 IS NULL THEN NULL
                ELSE abs(3 * n - pred_x3) END AS resid_x3,
           CASE WHEN pred_x3 IS NULL THEN FALSE
                ELSE abs(3 * n - pred_x3)
                     > 3 * greatest(2 * k, CAST(4 AS BIGINT)) END
             AS alarm
    FROM l
    """


@register(
    "events_forecast_residual_alarm",
    _FRA_SQL.format(holt=_HOLT_SQL.format(hourly=_HOURLY_COUNTS_CTE)),
)
def events_forecast_residual_alarm(spark, sf):
    """Forecast-residual anomaly gate — closes the forecasting loop
    the anomaly family opened: events_forecast_holt EXTRAPOLATES each
    hour's expected volume; this key alarms when the ACTUAL hour
    misses that one-step-ahead prediction by more than a guard band
    (|3n − pred_x3| > 3·max(2k, 4), everything in the x3 integer
    units so nobody divides by 3). Unlike the static baselines
    (z/MAD/seasonal), the forecast adapts to trends, so a steady ramp
    never alarms here while a step change does — the complementary
    failure mode to CUSUM's slow-drift detection.

    Deliberately COMPOSED from the registered events_forecast_holt
    operator (bowtie/recall_eval discipline): the alarm consumes that
    key's exact output plus one lag window, so any drift in the
    underlying double fold fails this oracle too. The first hour of
    each type has no prediction and surfaces alarm = FALSE with NULL
    residual (never-drop, visibly unjudged).

    Scale shape: the Holt fold's cost (see there), plus one lag
    window and the tiny per-type guard rollup on the collapsed
    hourly table — both ride the same event_type clustering.

    Reference analog: octopy's validation cadence compares actual
    vs expected loss trajectory and stops on divergence (reference
    src/octopy/cli/train.py) — forecast-gated alarming."""
    h = materialize(events_forecast_holt(spark, sf))
    k = h.groupBy("event_type").agg(
        F.expr("sum(n) div count(*)").alias("k")
    )
    w = Window.partitionBy("event_type").orderBy("win_start")
    l_ = h.join(F.broadcast(k), "event_type").withColumn(
        "pred_x3", F.lag("forecast_next_x3").over(w)
    )
    resid = F.abs(3 * F.col("n") - F.col("pred_x3"))
    guard = 3 * F.greatest(2 * F.col("k"), F.lit(4).cast("long"))
    return l_.select(
        "event_type",
        "win_start",
        "n",
        "pred_x3",
        F.when(F.col("pred_x3").isNull(), None)
        .otherwise(resid)
        .alias("resid_x3"),
        F.when(F.col("pred_x3").isNull(), F.lit(False))
        .otherwise(resid > guard)
        .alias("alarm"),
    )


# --------------------------------------------------------------------------
# table_analyze_equiheight — equi-height (ntile) histogram stats
# --------------------------------------------------------------------------

_EQH_TILES = 20

_EQH_SQL = f"""
    WITH t AS (
      SELECT value, user_id,
             ntile({_EQH_TILES}) OVER (
               ORDER BY value, event_id) AS tile
      FROM events)
    SELECT tile, count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           min(value) AS min_value, max(value) AS max_value
    FROM t GROUP BY 1
    """


@register("table_analyze_equiheight", _EQH_SQL)
def table_analyze_equiheight(spark, sf):
    """Equi-HEIGHT column histogram — the variant CBOs prefer over
    equi-width (table_analyze_histogram) on skewed columns: every
    bucket holds the same row count, so bucket BOUNDARIES encode the
    distribution and no bucket is starved or flooded; selectivity of
    any range predicate is then (buckets spanned)/k regardless of
    skew. Per tile: count, NDV, and the true [min, max] boundary —
    exactly Spark CBO's / Postgres' equi-height stats row.

    Determinism: ntile over the total order (value, event_id) —
    the unique-key tie-break makes tile assignment engine-exact
    (agg_quartile_assign's discipline, generalized to k=20).

    Scale shape: the ntile window is a GLOBAL sort — the honest cost
    of exact equi-height boundaries, run on the column projection
    only (two columns move). This is the documented
    ALLOW_GLOBAL_WINDOW exception class (stats jobs run offline,
    against samples, at ANALYZE time — not in query paths); at
    10^12 rows production swaps approx_percentile boundaries +
    width_bucket assignment, same output contract, no global sort
    (the corpus_curriculum_order swap, documented there).

    Reference analog: octopy's per-layer weight percentile summaries
    (reference src/octopy/cli/inspect.py -s) — boundary-encoded
    distribution stats."""
    e = load_table(spark, sf, "events").select(
        "value", "user_id", "event_id"
    )
    w = Window.orderBy(F.col("value").asc(), F.col("event_id").asc())
    t = e.withColumn("tile", F.ntile(_EQH_TILES).over(w))
    return t.groupBy("tile").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# --------------------------------------------------------------------------
# events_survival_curve — discrete-time user-lifetime survival table
# --------------------------------------------------------------------------

_HOUR_US = 3600 * 1_000_000


@register(
    "events_survival_curve",
    f"""
    WITH u AS (
      SELECT user_id,
             (max(epoch_us(ts)) - min(epoch_us(ts))) // {_HOUR_US}
               AS lt_hours
      FROM events GROUP BY user_id),
    n AS (SELECT count(*) AS n_total FROM u),
    d AS (SELECT lt_hours, count(*) AS n_churned
          FROM u GROUP BY lt_hours),
    c AS (
      SELECT lt_hours, n_churned,
             sum(n_churned) OVER (ORDER BY lt_hours DESC
                                  ROWS UNBOUNDED PRECEDING) AS n_at_risk
      FROM d)
    SELECT c.lt_hours, c.n_churned, c.n_at_risk,
           1000000 * c.n_churned // c.n_at_risk AS hazard_ppm,
           1000000 * (c.n_at_risk - c.n_churned) // n.n_total AS surv_ppm
    FROM c CROSS JOIN n
    """,
)
def events_survival_curve(spark, sf):
    """Discrete-time survival/hazard table of user lifetimes — the
    churn curve behind every retention model: lifetime = hours
    between a user's first and last event; for each observed
    lifetime k, n_at_risk = users surviving AT LEAST k hours,
    n_churned = users whose lifetime is exactly k, hazard = d/n at
    risk and S(k) = P(lifetime > k).  With no censoring the
    Kaplan-Meier product estimator collapses to the empirical
    survival function, so BOTH curves are single integer ratios —
    no float product fold at all: hazard_ppm = 1e6*d div n_risk and
    surv_ppm = 1e6*(n_risk - d) div N are exact integer division in
    both engines (events_ab_lift_test's ppm discipline).

    Scale shape: one partial-agg groupBy(user_id) collapses the
    event stream to one row per user, a second groupBy(lt_hours)
    collapses users to the lifetime histogram (bounded by the
    observation window in hours — thousands of rows at ANY corpus
    size), and the descending running sum rides that collapsed
    histogram: the documented ALLOW_GLOBAL_WINDOW exception class
    (window input bounded by the calendar, never the event count —
    events_new_vs_returning's discipline).  N_total is a scalar
    broadcast back.

    Reference analog: octopy's training monitor summarizes how long
    runs survive before early exit (reference src/octopy/cli/train.py
    duration accounting) — the same at-risk/exit rollup, per user."""
    e = load_table(spark, sf, "events")
    u = e.groupBy("user_id").agg(
        F.expr(
            f"(max(unix_micros(cast(ts as timestamp)))"
            f" - min(unix_micros(cast(ts as timestamp)))) div {_HOUR_US}"
        ).alias("lt_hours")
    )
    d = u.groupBy("lt_hours").agg(F.count("*").alias("n_churned"))
    w = (
        Window.orderBy(F.col("lt_hours").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("n_at_risk", F.sum("n_churned").over(w))
    n = u.agg(F.count("*").alias("n_total"))
    return c.crossJoin(F.broadcast(n)).select(
        "lt_hours",
        "n_churned",
        "n_at_risk",
        F.expr("1000000 * n_churned div n_at_risk").alias("hazard_ppm"),
        F.expr(
            "1000000 * (n_at_risk - n_churned) div n_total"
        ).alias("surv_ppm"),
    )


# --------------------------------------------------------------------------
# events_gap_fill_locf — densified hourly series with carry-forward
# --------------------------------------------------------------------------

@register(
    "events_gap_fill_locf",
    f"""
    WITH h AS (
      SELECT event_type, epoch_us(ts) // {_HOUR_US} AS hr,
             count(*) AS n, max(value) AS mx
      FROM events GROUP BY 1, 2),
    b AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi
          FROM h GROUP BY 1),
    g AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hr
          FROM b),
    j AS (
      SELECT g.event_type, g.hr,
             coalesce(h.n, 0) AS n, h.mx, h.hr AS obs_hr
      FROM g LEFT JOIN h
        ON g.event_type = h.event_type AND g.hr = h.hr)
    SELECT event_type, hr, n,
           last_value(mx IGNORE NULLS) OVER w AS locf_max_value,
           hr - last_value(obs_hr IGNORE NULLS) OVER w
             AS staleness_hours
    FROM j
    WINDOW w AS (PARTITION BY event_type ORDER BY hr
                 ROWS UNBOUNDED PRECEDING)
    """,
)
def events_gap_fill_locf(spark, sf):
    """Gap-filled hourly feature series with last-observation-carried-
    forward — the feature-STALENESS view the serving layer needs:
    events_ewma_hourly densifies to smooth, events_feature_backfill
    windows over active days, but a model serving "latest max value"
    per type must also know HOW STALE that value is at any hour.
    Every hour in each type's [first, last] range gets a row: the
    hour's count (0 when silent), the carried-forward max value from
    the most recent active hour, and staleness = hours since that
    observation (0 on active hours, monotonically climbing through a
    gap — the alerting signal for a dead upstream).

    Exact by construction: the carried value is COPIED, never
    recombined (no arithmetic on the double at all), the hour key is
    integer epoch-microsecond division, and last_value(... IGNORE
    NULLS) over ROWS UNBOUNDED PRECEDING is the same deterministic
    scan in both engines because the (event_type, hr) order is unique.

    Scale shape: one partial-agg (type, hour) rollup collapses the
    stream, the per-type hour range generates one row per type-hour
    (calendar-bounded), and the LOCF window rides the type-keyed
    sort of the collapsed table — the raw events shuffle once, into
    the rollup.

    Reference analog: octopy's recognizer carries the last confident
    baseline forward across empty line bands (reference
    src/octopy/segment.py gap handling) — LOCF across silent spans."""
    e = load_table(spark, sf, "events")
    h = e.groupBy(
        "event_type",
        F.expr(
            f"unix_micros(cast(ts as timestamp)) div {_HOUR_US}"
        ).alias("hr"),
    ).agg(F.count("*").alias("n_obs"), F.max("value").alias("mx"))
    b = h.groupBy("event_type").agg(
        F.min("hr").alias("lo"), F.max("hr").alias("hi")
    )
    g = b.select(
        "event_type", F.explode(F.sequence("lo", "hi")).alias("hr")
    )
    j = g.join(h, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n"),
        "mx",
        F.when(F.col("n_obs").isNotNull(), F.col("hr")).alias("obs_hr"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "event_type",
        "hr",
        "n",
        F.last("mx", ignorenulls=True).over(w).alias("locf_max_value"),
        (
            F.col("hr") - F.last("obs_hr", ignorenulls=True).over(w)
        ).alias("staleness_hours"),
    )


# --------------------------------------------------------------------------
# events_top_paths — most common session-opening event paths
# --------------------------------------------------------------------------

_PATH_LEN = 3
_PATH_TOPK = 10


@register(
    "events_top_paths",
    f"""
    WITH e AS (
      SELECT user_id, ts, event_id, event_type,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    b AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts)
                       > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e),
    s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_new) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM b),
    r AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rn
      FROM s),
    p AS (
      SELECT user_id, session_id,
             string_agg(event_type, ' > ' ORDER BY rn) AS path
      FROM r WHERE rn <= {_PATH_LEN} GROUP BY 1, 2),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
          FROM p GROUP BY 1)
    SELECT path, n_sessions,
           row_number() OVER (ORDER BY n_sessions DESC, path) AS rank
    FROM c QUALIFY rank <= {_PATH_TOPK}
    """,
)
def events_top_paths(spark, sf):
    """Top session-opening PATHS — the "user journeys" census product
    analytics runs beside the Markov transition matrix
    (events_markov_transitions gives pairwise flow probabilities;
    this gives the most common CONCRETE openings): sessionize by the
    30-minute gap (events_sessionize_gap's exact boundary logic),
    take each session's first 3 event types in time order, join them
    into a path string, count sessions per path, keep the top 10.

    Deterministic end to end: session numbering and within-session
    rank both order by the unique (ts, event_id); the path join
    order is pinned by that rank (string_agg ORDER BY rn / sorted
    struct array); top-k rank ties break on the path string itself.
    Everything is integers and strings — nothing float anywhere.

    Scale shape: the sessionize windows and the first groupBy all
    cluster by user_id, so the raw events shuffle ONCE into
    hashpartitioning(user_id) and every pass reuses it; sessions
    then collapse to a path-census table bounded by |event_types|^3
    rows, and the final top-k window rides THAT collapsed census —
    the documented ALLOW_GLOBAL_WINDOW exception class
    (events_survival_curve's discipline).

    Reference analog: octopy's inspect surface tallies the most
    common block-class sequences per page head (reference
    src/octopy/cli/inspect.py) — a leading-k-gram census over
    ordered segments."""
    e = load_table(spark, sf, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.unix_micros(
        F.lag("ts").over(w_ord).cast("timestamp")
    )
    b = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = w_ord.rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = b.withColumn("session_id", F.sum("is_new").over(w_run))
    w_rn = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    r = s.withColumn("rn", F.row_number().over(w_rn)).filter(
        F.col("rn") <= _PATH_LEN
    )
    p = r.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            " > ",
        ).alias("path")
    )
    c = p.groupBy("path").agg(F.count("*").alias("n_sessions"))
    w_top = Window.orderBy(F.col("n_sessions").desc(), F.col("path"))
    return (
        c.withColumn("rank", F.row_number().over(w_top).cast("long"))
        .filter(F.col("rank") <= _PATH_TOPK)
        .select("path", "n_sessions", "rank")
    )


# --------------------------------------------------------------------------
# events_activity_streaks — gaps-and-islands consecutive-day streaks
# --------------------------------------------------------------------------

_DAY_US = 86400 * 1_000_000


@register(
    "events_activity_streaks",
    f"""
    WITH d AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_DAY_US} AS day
      FROM events),
    r AS (
      SELECT user_id, day,
             day - row_number() OVER (PARTITION BY user_id
                                      ORDER BY day) AS grp
      FROM d),
    s AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len,
             max(day) AS end_day
      FROM r GROUP BY 1, 2)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           max(len) AS longest_streak,
           max(struct_pack(e := end_day, l := len)).l
             AS latest_streak
    FROM s GROUP BY user_id
    """,
)
def events_activity_streaks(spark, sf):
    """Consecutive-day activity STREAKS per user — the engagement
    metric behind every habit loop (longest streak, current-run
    length), and the canonical gaps-and-islands shape: distinct
    active days, island id = day - row_number (constant within a
    consecutive run, strictly changing across a gap), then one
    rollup per island and one per user.  latest_streak picks the
    island with the max end_day via the max(struct) argmax — the
    table_merge_upsert discipline, no second window.

    Exact: the day key is integer epoch-microsecond division; all
    counts/lengths are BIGINT; the argmax struct compares (end_day,
    len) integer pairs — engine-identical.

    Scale shape: distinct + both windows + both groupBys ALL cluster
    by user_id, so the raw events shuffle ONCE into
    hashpartitioning(user_id) and every later pass reuses it
    (events_sessionize_gap's exchange-reuse property); the per-user
    output is bounded by user cardinality.

    Reference analog: octopy's train loop tracks consecutive-epoch
    improvement runs for its patience/early-stop accounting
    (reference src/octopy/cli/train.py) — run-length bookkeeping
    over an ordered activity sequence."""
    e = load_table(spark, sf, "events")
    d = (
        e.select(
            "user_id",
            F.expr(
                f"unix_micros(cast(ts as timestamp)) div {_DAY_US}"
            ).alias("day"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    r = d.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    s = r.groupBy("user_id", "grp").agg(
        F.count("*").cast("long").alias("len"),
        F.max("day").alias("end_day"),
    )
    return s.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
        F.max(
            F.struct(
                F.col("end_day").alias("e"), F.col("len").alias("l")
            )
        )["l"].alias("latest_streak"),
    )


# --------------------------------------------------------------------------
# join_null_safe — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------

@register(
    "join_null_safe",
    """
    WITH f AS (
      SELECT o_orderkey,
             CASE WHEN o_orderpriority LIKE '1-%' THEN NULL
                  ELSE o_orderpriority END AS prio_key
      FROM orders),
    dim AS (
      SELECT DISTINCT
             CASE WHEN o_orderpriority LIKE '1-%' THEN NULL
                  ELSE o_orderpriority END AS prio_key,
             CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent-null'
                  ELSE 'normal' END AS tier
      FROM orders)
    SELECT f.prio_key, d.tier,
           CAST(count(*) AS BIGINT) AS n_orders,
           min(f.o_orderkey) AS min_orderkey
    FROM f JOIN dim d ON f.prio_key IS NOT DISTINCT FROM d.prio_key
    GROUP BY 1, 2
    """,
)
def join_null_safe(spark, sf):
    """NULL-SAFE equality join (Spark's <=>, SQL's IS NOT DISTINCT
    FROM) — the join-semantics corner every dimension-lookup pipeline
    hits once a key column is nullable: plain equality silently DROPS
    every null-keyed fact row (NULL = NULL is NULL), while the
    null-safe operator matches the null bucket like any other value.
    The fixture derives a nullable key (urgent priorities → NULL) on
    both the fact and the dim side; the null-keyed rows surviving
    into the 'urgent-null' tier are exactly the rows a plain
    equi-join would lose — the visible witness of the semantics.

    Scale shape: a null-safe equi-join IS hash-joinable (both engines
    hash the null bucket as a regular key — Spark plans
    BroadcastHashJoin/SMJ on <=>, never a nested loop), so this costs
    the same as the plain join; note the null bucket is a classic
    SKEW key when nulls dominate — at scale it takes the
    join_skew_salted treatment like any hot key.

    Reference analog: octopy's class map sends unknown labels through
    a catch-all bucket rather than dropping them (R8 never-drop,
    reference src/octopy/mappings.py) — the null bucket joined, not
    lost."""
    o = load_table(spark, sf, "orders")
    key = F.when(
        F.col("o_orderpriority").like("1-%"), F.lit(None)
    ).otherwise(F.col("o_orderpriority"))
    f = o.select(
        "o_orderkey", key.alias("prio_key")
    )
    dim = (
        o.select(
            key.alias("dprio_key"),
            F.when(
                F.col("o_orderpriority").like("1-%"), "urgent-null"
            )
            .otherwise("normal")
            .alias("tier"),
        )
        .distinct()
    )
    j = f.join(
        F.broadcast(dim),
        f["prio_key"].eqNullSafe(dim["dprio_key"]),
    )
    return j.groupBy("prio_key", "tier").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min("o_orderkey").alias("min_orderkey"),
    )


# --------------------------------------------------------------------------
# join_exists_flag — mark join (EXISTS as a column, all rows kept)
# --------------------------------------------------------------------------

@register(
    "join_exists_flag",
    """
    SELECT o.o_orderkey, o.o_orderstatus,
           EXISTS (
             SELECT 1 FROM lineitem l
             WHERE l.l_orderkey = o.o_orderkey
               AND l.l_returnflag = 'R'
           ) AS has_return
    FROM orders o
    """,
)
def join_exists_flag(spark, sf):
    """MARK join — EXISTS as a COLUMN with every probe row kept: the
    third member of the semi-join family (left_semi keeps matches,
    left_anti keeps non-matches; the mark join keeps BOTH and says
    which), the shape every feature pipeline uses for boolean
    lookup features ("has a return", "seen in blocklist") because
    dropping rows is not an option mid-featurization (R8 never-drop
    applied to join semantics — DuckDB plans this as its MARK join,
    Spark as ExistenceJoin).

    Expressed as a correlated EXISTS in both engines; Spark compiles
    the same shape from a left join + null-probe flag — here written
    as EXISTS inside when(), which Catalyst plans as an
    ExistenceJoin(exists#) hash join: ONE build of the filtered
    lineitem side, no duplication of probe rows when the build side
    has multiple matches (the bug a naive left-join+distinct flag
    implementation hits), and no second scan.

    Scale shape: one hash join keyed on the order key — the filter
    pushes into the build-side scan; partial-agg-free, no shuffle
    beyond the join's own.  Exact: a boolean per row.

    Reference analog: octopy's segment records WHETHER a region got
    a recognized line rather than dropping silent regions (reference
    src/octopy/segment.py) — presence as a flag, never a filter."""
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    o.createOrReplaceTempView("_mark_orders")
    load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_returnflag"
    ).createOrReplaceTempView("_mark_lineitem")
    return o.sparkSession.sql(
        """
        SELECT o_orderkey, o_orderstatus,
               EXISTS (
                 SELECT 1 FROM _mark_lineitem l
                 WHERE l.l_orderkey = _mark_orders.o_orderkey
                   AND l.l_returnflag = 'R'
               ) AS has_return
        FROM _mark_orders
        """
    )
