"""Relational operator surface (SURVEY §2 Parts B & C, build-plan Phase 3).

The reference's declarative layer is KSQL (comments in
Aggregations.java:71-77 and StreamStreamJoin.java:27-49); a user of the
reference writes SELECT/JOIN/GROUP BY/WINDOW queries. This module
provides the full relational surface Spark-first — every query is a
declarative DataFrame plan so Catalyst does predicate pushdown, column
pruning, join selection and partial aggregation (the reference does all
of these by hand or not at all, SURVEY §4.1).

Each query carries scale notes where the plan shape matters at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table
from streams_prototyping_spark.operators.common import dsum_sql
from streams_prototyping_spark.registry import register

# --------------------------------------------------------------------------
# filters & projection (KSQL WHERE / SELECT surface)
# --------------------------------------------------------------------------

_FILTER_ORACLE = """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
  AND l_quantity > 25
  AND l_returnflag <> 'R'
"""


@register("filter_project", oracle=_FILTER_ORACLE)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone filter + projection (SURVEY §2 Part C: absent in the
    reference code, present in its KSQL surface).

    Scale note: both the timestamp and numeric predicates reach the
    parquet scan as PushedFilters, and ReadSchema carries only the 6
    referenced columns — verified in tests/test_plans.py. At 100 TB
    this is the difference between scanning 4 columns' pages and all 11.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_quantity") > 25)
        & (F.col("l_returnflag") != "R")
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")


# --------------------------------------------------------------------------
# aggregation surface (sums/avg/min/max/distinct, multi-key, having)
# --------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT l_returnflag,
       l_linestatus,
       {dsum_sql('l_quantity')} AS sum_qty,
       {dsum_sql('l_extendedprice')} AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       {dsum_sql('l_quantity')} / count(*) AS avg_qty,
       {dsum_sql('l_extendedprice')} / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: filter -> multi-key groupBy ->
    sums/averages/count. The reference's hand-rolled sums+count fold
    (Aggregations.java:100-129) generalized to real multi-aggregate SQL.

    Scale note: map-side partial aggregation reduces shuffle volume to
    O(groups) = 6 rows regardless of input size; decimal sums keep the
    result deterministic under any partition order (common.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(18,2)")  # noqa: E731
    filtered = li.filter(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp_ntz")
    )
    return (
        filtered.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            # multiply EXACT decimals (price has 2 dp, discount 2 dp) — a
            # double product rounded to decimal would round differently
            # across engines.
            F.sum(dec(F.col("l_extendedprice")) * (1 - dec(F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(dec(F.col("l_extendedprice"))).cast("double") / F.count(F.lit(1))
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_MINMAX_ORACLE = """
SELECT o_orderpriority,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@register("minmax_distinct_agg", oracle=_MINMAX_ORACLE)
def minmax_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/count(DISTINCT) aggregation (SURVEY §2 Part C: absent in
    reference; required relational surface).

    Scale note: count(DISTINCT) expands to a two-phase aggregate in
    Spark (partial distinct per key, then merge) — no driver-side
    collection; min/max piggyback on the same shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


_HAVING_ORACLE = f"""
SELECT o_custkey,
       count(*) AS n_orders,
       {dsum_sql('o_totalprice')} AS total_spent
FROM orders
GROUP BY o_custkey
HAVING count(*) >= 12
"""


@register("having_filter", oracle=_HAVING_ORACLE)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING — post-aggregation predicate."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 12)
    )


# --------------------------------------------------------------------------
# join surface (inner/left/right/full/semi/anti/theta, broadcast)
# --------------------------------------------------------------------------

_BROADCAST_JOIN_ORACLE = f"""
SELECT r.r_name AS region_name,
       count(*) AS n_customers,
       {dsum_sql('c.c_acctbal')} AS total_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@register("join_broadcast_chain", oracle=_BROADCAST_JOIN_ORACLE)
def join_broadcast_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain fact->dim->dim with explicit broadcast
    hints on the dimension tables.

    Scale note: nation (25 rows) and region (5 rows) are broadcast at
    ANY scale factor, so the 100 TB customer scan joins with ZERO
    shuffle — the only shuffle in this plan is the final groupBy, whose
    input is already reduced by map-side partial agg. tests/test_plans.py
    asserts BroadcastHashJoin appears in the physical plan.
    """
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_balance"),
        )
    )


_LEFT_JOIN_ORACLE = f"""
SELECT c.c_custkey,
       c.c_name,
       count(o.o_orderkey) AS n_orders,
       coalesce({dsum_sql('o.o_totalprice')}, 0.0) AS total_spent
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
"""


@register("join_left_outer", oracle=_LEFT_JOIN_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders (the batch
    analog of the reference's only join type, StreamStreamJoin.java:85).
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                F.lit(0.0),
            ).alias("total_spent"),
        )
    )


_FULL_JOIN_ORACLE = """
WITH cust_n AS (
    SELECT c_nationkey AS nationkey, count(*) AS n_cust
    FROM customer GROUP BY c_nationkey
), supp_n AS (
    SELECT s_nationkey AS nationkey, count(*) AS n_supp
    FROM supplier GROUP BY s_nationkey
)
SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
       coalesce(c.n_cust, 0) AS n_cust,
       coalesce(s.n_supp, 0) AS n_supp
FROM cust_n c
FULL OUTER JOIN supp_n s ON c.nationkey = s.nationkey
"""


@register("join_full_outer", oracle=_FULL_JOIN_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of per-nation customer and supplier counts —
    nations present on either side survive."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, c.c_nk == s.s_nk, "full_outer").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
)
"""


@register("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having at least one big order.

    Scale note: semi join stops probing at first match and never
    duplicates left rows — strictly cheaper than join+distinct.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
)
"""


@register("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders at all."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_THETA_ORACLE = """
SELECT l.l_orderkey, l.l_partkey, l.l_extendedprice, p.p_retailprice
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
           AND l.l_extendedprice > 40 * p.p_retailprice
"""


@register("join_theta_residual", oracle=_THETA_ORACLE)
def join_theta_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with a non-equi (theta) residual predicate.

    Scale note: the equi component keys the shuffle; the inequality is
    a post-join filter, NOT a nested-loop — same plan family as the
    time-range join in ctr.py. part is broadcast when small enough
    (AQE decides from runtime stats).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (li.l_partkey == p.p_partkey) & (
        li.l_extendedprice > 40 * p.p_retailprice
    )
    return li.join(p, cond).select(
        "l_orderkey", "l_partkey", "l_extendedprice", "p_retailprice"
    )


# --------------------------------------------------------------------------
# sort / limit / top-k
# --------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 10
"""


@register("sort_limit_topk", oracle=_TOPK_ORACLE)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ... LIMIT k (SURVEY §2 Part C: absent in reference).

    Scale note: Spark plans this as TakeOrderedAndProject — each
    partition keeps its local top-k, the driver merges k*partitions
    rows; no global sort ever materializes. The o_orderkey tie-break
    makes the result deterministic for the oracle compare.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------

_SETOPS_ORACLE = """
WITH cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
     sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
SELECT 'union' AS op, nationkey FROM (SELECT nationkey FROM cn UNION SELECT nationkey FROM sn)
UNION ALL
SELECT 'intersect' AS op, nationkey FROM (SELECT nationkey FROM cn INTERSECT SELECT nationkey FROM sn)
UNION ALL
SELECT 'except' AS op, nationkey FROM (SELECT nationkey FROM cn EXCEPT SELECT nationkey FROM sn)
"""


@register("set_operations", oracle=_SETOPS_ORACLE)
def set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT over customer vs supplier nation sets,
    tagged and unioned into one result (SURVEY §2 Part C)."""
    cn = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "nationkey")  # noqa: E731
    return (
        tag(cn.union(sn).distinct(), "union")
        .unionAll(tag(cn.intersect(sn), "intersect"))
        .unionAll(tag(cn.exceptAll(sn), "except"))
    )


# --------------------------------------------------------------------------
# scalar function surface (string / math / date / conditional)
# --------------------------------------------------------------------------

_SCALAR_ORACLE = """
SELECT p_partkey,
       upper(p_brand) AS brand_upper,
       lower(p_type) AS type_lower,
       substr(p_name, 1, 5) AS name_prefix,
       length(p_name) AS name_len,
       replace(p_brand, '#', '-') AS brand_dashed,
       trim(concat('  ', p_brand, '  ')) AS brand_trimmed,
       (p_name LIKE '%gold%') AS has_gold,
       abs(p_retailprice - 1000.0) AS price_dist,
       round(p_retailprice / 7.0, 2) AS price_seventh,
       CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
       CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
       round(sqrt(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
       round(ln(p_retailprice), 6) AS price_ln,
       (p_partkey % 7) AS key_mod,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class,
       coalesce(nullif(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
FROM part
"""


@register("scalar_functions", oracle=_SCALAR_ORACLE)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar expression surface: string ops, math, modulo, CASE,
    NULL handling (SURVEY §2 Part C — the reference has arithmetic
    only; KSQL users have all of these).

    Scale note: every expression here is a Catalyst expression inside
    whole-stage codegen — a single fused JVM loop over the scan, no
    Python in the row path.
    """
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_brand"), F.lit("#"), F.lit("-")).alias("brand_dashed"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias(
            "brand_trimmed"
        ),
        F.col("p_name").like("%gold%").alias("has_gold"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dist"),
        F.round(F.col("p_retailprice") / 7.0, 2).alias("price_seventh"),
        F.floor("p_retailprice").cast("long").alias("price_floor"),
        F.ceil("p_retailprice").cast("long").alias("price_ceil"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        (F.col("p_partkey") % 7).alias("key_mod"),
        F.when(F.col("p_size") < 10, "small")
        .when(F.col("p_size") < 30, "medium")
        .otherwise("large")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("p_brand"), F.lit("Brand#13")), F.lit("OTHER")).alias(
            "brand_or_other"
        ),
    )


_DATE_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS order_year,
       CAST(month(o_orderdate) AS INTEGER) AS order_month,
       CAST(dayofmonth(o_orderdate) AS INTEGER) AS order_day,
       CAST(hour(o_orderdate) AS INTEGER) AS order_hour,
       CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS day_epoch,
       CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str
FROM orders
"""


@register("date_functions", oracle=_DATE_ORACLE)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time extraction surface (year/month/day/hour, date_trunc,
    formatting) — needed by any time-partitioned 100 TB layout, where
    day_epoch/month_epoch are the partition keys."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.hour("o_orderdate").alias("order_hour"),
        F.date_trunc("day", "o_orderdate").cast("long").alias("day_epoch"),
        F.date_trunc("month", "o_orderdate").cast("long").alias("month_epoch"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
    )


# --------------------------------------------------------------------------
# subqueries
# --------------------------------------------------------------------------

_IN_SUBQ_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
)
"""


@register("subquery_in", oracle=_IN_SUBQ_ORACLE)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) — planned as a left-semi join by Catalyst."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return o.join(c, o.o_custkey == c.c_custkey, "left_semi").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_SCALAR_SUBQ_ORACLE = """
SELECT count(*) AS n_above_avg
FROM lineitem
WHERE l_extendedprice > (SELECT avg(l_extendedprice) FROM lineitem)
"""


@register("subquery_scalar", oracle=_SCALAR_SUBQ_ORACLE)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: rows above the global average.

    The comparison threshold is a float avg computed identically by
    both engines only to ~1e-12 relative — safe here because the count
    changes only if a row sits EXACTLY at the average, which the
    testdata's 2-decimal prices cannot (avg has >2 decimals).

    Scale note: expressed via spark.sql so Catalyst plans the scalar
    subquery as a broadcast exchange of one row — no driver round-trip.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SCALAR_SUBQ_ORACLE)


# --------------------------------------------------------------------------
# grouping sets / rollup, pivot, JSON, explode
# --------------------------------------------------------------------------

_ROLLUP_ORACLE = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_status,
       {dsum_sql('l_quantity')} AS sum_qty,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register("rollup_agg", oracle=_ROLLUP_ORACLE)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP with GROUPING() indicators — subtotal hierarchy
    in one pass (SURVEY §2 Part C: grouping sets absent in reference).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_flag",
            "g_status",
            "sum_qty",
            "n",
        )
    )


_PIVOT_ORACLE = f"""
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       coalesce({dsum_sql("CASE WHEN event_type = 'purchase' THEN value END")}, 0.0)
           AS purchase_value
FROM events
GROUP BY user_id
"""


@register("pivot_event_counts", oracle=_PIVOT_ORACLE)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot-style conditional aggregation (count FILTER / CASE sums) —
    the general form of the reference's clicked-vs-unclicked adder
    (StreamStreamJoin.java:119-127).

    Scale note: expressed as conditional aggs over one groupBy (single
    shuffle) rather than DataFrame.pivot, which needs an extra pass to
    collect the pivot values when they aren't pinned.
    """
    ev = load_table(spark, sf_dir, "events")
    cnt_if = lambda t: F.count(F.when(F.col("event_type") == t, 1))  # noqa: E731
    return ev.groupBy("user_id").agg(
        cnt_if("view").alias("n_view"),
        cnt_if("click").alias("n_click"),
        cnt_if("purchase").alias("n_purchase"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value")).cast(
                    "decimal(18,2)"
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("purchase_value"),
    )


_JSON_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
FROM events
"""


@register("json_extract_props", oracle=_JSON_ORACLE)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props payload column — the
    semi-structured side of the north star's multimodal/props columns.
    get_json_object is a JVM-side expression (no UDF)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


_EXPLODE_ORACLE = """
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
"""


@register("explode_wordcount", oracle=_EXPLODE_ORACLE)
def explode_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (flatMap) + aggregate: word count over documents.
    Covers the UDTF/table-function surface (SURVEY §2 Part C).

    Scale note: explode is pipelined inside codegen (no materialization
    of the exploded set), and partial aggregation collapses the
    per-partition word counts before the shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_UNION_DEDUP_ORACLE = """
SELECT nationkey FROM (
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
)
"""


@register("union_distinct", oracle=_UNION_DEDUP_ORACLE)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) — dedup across unioned inputs."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


_APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       count(*) AS n_events,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


@register("approx_distinct_users", oracle=_APPROX_DISTINCT_ORACLE)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per event_type, made
    oracle-checkable: the output carries the EXACT distinct count (both
    engines compute it identically) plus ``approx_ok`` — a Spark-side
    bound asserting the HLL estimate is within 5% of the exact count.
    The DuckDB twin emits the exact count and literal TRUE, so a sketch
    drifting out of bounds turns the row red.

    Scale note: at 100 TB this replaces the exact two-phase distinct
    with a fixed-size sketch mergeable map-side — the ONLY way
    count-distinct scales to billions of keys without a giant shuffle.
    The exact column here exists for the correctness gate; a production
    run would emit only the estimate.
    """
    ev = load_table(spark, sf_dir, "events")
    # Two explicit phases instead of one mixed distinct/sketch aggregate:
    # Spark's single-distinct rewrite keys the PARTIAL aggregate by
    # (event_type, user_id) and carries the rsd=0.01 HLL++ sketch as
    # ~1640 long columns PER PAIR through the exchange (~13 KB/row —
    # the r11 before-plan is 200 KB of MS[i] column lists). Pre-reducing
    # to distinct pairs first shuffles only (event_type, user_id, c);
    # the sketch is then built over the deduped stream — HLL register
    # updates are idempotent max()es, so the estimate is bit-identical.
    per_pair = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = per_pair.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        # one row per distinct (event_type, user_id): counting non-null
        # user_id rows IS count_distinct(user_id); sum(c) restores the
        # raw event count (null-user events included, as count(*) did)
        F.count("user_id").alias("exact_users"),
        F.sum("c").alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("approx_ok"),
    )


_SETOPS_ALL_ORACLE = """
WITH co AS (SELECT c_nationkey AS nationkey FROM customer),
     so AS (SELECT s_nationkey AS nationkey FROM supplier)
SELECT 'intersect_all' AS op, nationkey FROM (
    SELECT nationkey FROM co INTERSECT ALL SELECT nationkey FROM so)
UNION ALL
SELECT 'except_all' AS op, nationkey FROM (
    SELECT nationkey FROM co EXCEPT ALL SELECT nationkey FROM so)
"""


@register("set_operations_all", oracle=_SETOPS_ALL_ORACLE)
def set_operations_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset (ALL) set operations — INTERSECT ALL / EXCEPT ALL keep
    duplicate multiplicities, the bag-semantics cousins of
    set_operations."""
    co = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    so = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "nationkey")  # noqa: E731
    return tag(co.intersectAll(so), "intersect_all").unionAll(
        tag(co.exceptAll(so), "except_all")
    )


_POSEXPLODE_ORACLE = """
SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, w AS word
FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS w,
           generate_subscripts(string_split(text, ' '), 1) AS i
    FROM documents
)
WHERE i <= 5
"""


@register("posexplode_words", oracle=_POSEXPLODE_ORACLE)
def posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — ordinal-preserving lateral explode (first 5 word
    positions per doc), the indexed variant of explode_wordcount's
    table function."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .filter(F.col("pos") < 5)
    )


# ------------------------------------------------- salted skew join demo

SALT_BUCKETS = 8

_SALTED_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o_orderpriority
"""


@register("salted_skew_join", oracle=_SALTED_ORACLE)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key salting, demonstrated end-to-end: the fact side gets a
    deterministic salt in [0, {SALT_BUCKETS}), the dimension side is
    replicated once per salt value, and the join key becomes
    (key, salt) — splitting any single hot key's rows across
    {SALT_BUCKETS} reducers. The oracle is the UNSALTED join, so the
    hash-match proves salting is result-invariant (the property that
    lets you apply it to any skewed equi-join without re-validating
    semantics).

    Scale note: this is the MANUAL skew remedy for engines/versions
    where AQE skew-join splitting can't engage (e.g. the skewed side
    feeds a downstream partitioning AQE must preserve —
    tests/test_skew.py shows that case). Cost: dimension rows x
    {SALT_BUCKETS} replication, bounded by the dim being the small
    side. Salt derives from xxhash64 of the fact's unique key — no RNG,
    so retries/speculative tasks see identical salts (a nondeterministic
    salt breaks exactly-once under task retry).
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fact = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    dim = o.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(SALT_BUCKETS - 1)))
    ).withColumn("salt", F.col("salt").cast("long"))
    # r12 (guide §2.5): pin the salted exchange's width explicitly —
    # byte-target AQE coalescing (session.py) merged the salted
    # partitions back together at low volumes (isolated A/B: 1.10 s ->
    # 2.09 s), undoing the very split the demo exists to show. Width
    # derives from the fact row count (and never below the salt
    # fan-out), so it grows with data instead of pinning a local
    # constant. Repartitioning both sides on the composite join key
    # means the join reuses these exchanges (no extra shuffle).
    from streams_prototyping_spark.data import fanout_width, table_n

    _parts = max(
        SALT_BUCKETS,
        fanout_width(spark, table_n(spark, sf_dir, "lineitem"), 50_000),
    )
    fact = fact.repartition(_parts, "salt", "l_orderkey")
    dim = dim.repartition(_parts, "salt", "o_orderkey")
    # join ON (salt AND key) so the shuffle partitions on the composite;
    # shuffle_hash hint because salting only has an effect on a SHUFFLE
    # join — at sf0.01 Catalyst would broadcast the replicated dim and
    # silently skip the very exchange the demo exists to split
    # (tests/test_plans.py pins the no-broadcast shape)
    joined = fact.join(
        dim.hint("shuffle_hash"),
        (fact["salt"] == dim["salt"]) & (fact["l_orderkey"] == dim["o_orderkey"]),
        "inner",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )


# -------------------------------------------- point-in-range bucketed join

RANGE_BANDS = 10
RANGE_BUCKET_CENTS = 100_000  # $1000 replication buckets

_RANGE_BANDS_SQL = f"""
dv AS (
    SELECT DISTINCT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
    FROM orders
), ranked AS (
    SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
           count(*) OVER () AS n
    FROM dv
), bands AS (
    SELECT ((rn - 1) * {RANGE_BANDS}) // n AS band,
           min(cents) AS lo, max(cents) AS hi
    FROM ranked GROUP BY 1
)"""

_RANGE_ORACLE = f"""
WITH {_RANGE_BANDS_SQL}
SELECT CAST(b.band AS BIGINT) AS band,
       CAST(b.lo AS BIGINT) AS lo, CAST(b.hi AS BIGINT) AS hi,
       count(*) AS n_items,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_price
FROM lineitem l
JOIN bands b
  ON CAST(round(l.l_extendedprice * 100) AS BIGINT) BETWEEN b.lo AND b.hi
GROUP BY 1, 2, 3
"""


@register(
    "point_in_range_join",
    oracle=_RANGE_ORACLE,
    bounded_window="distinct 2-dp value cents",
)
def point_in_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range join at scale: lineitem prices against ten
    equi-depth, variable-width order-price bands. The naive plan is a
    nested-loop/theta join (every point against every range); the
    scalable plan — used here — REPLICATES each range over the
    fixed-width buckets it covers (explode of a sequence), buckets each
    point once, and equi-joins on the bucket with the BETWEEN as a
    residual. Shuffle is keyed, fan-out is range-width/bucket-width per
    range, and each point meets only ranges sharing its bucket. The
    oracle is the direct BETWEEN join, proving the rewrite exact
    (bands are disjoint, so no post-join dedup is needed).

    The same rewrite serves IP-to-geo ranges, time-interval joins, and
    genomic interval overlap — the general interval-join recipe when
    neither side broadcasts.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dv = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    ).distinct()
    # r12 (guide §2.4, operators/ranks two-level idiom, gated by corpus
    # size): at scale the row_number()/count() pair over
    # Window.orderBy(cents) moves every distinct cent to ONE task
    # twice; above ranks.TWO_LEVEL_MIN_ROWS the rank comes from the
    # two-level bucket prefix on the same $1000 grid the replication
    # join uses, with n as a broadcast scalar (rn = cum with cnt=1 per
    # distinct value — identical band assignment; oracle-verified on
    # both paths). Below the threshold the single-window shape is
    # faster locally (measured 1.33 vs 1.57 s at sf0.1's 150k distinct
    # cents).
    from streams_prototyping_spark.data import table_n
    from streams_prototyping_spark.operators.ranks import TWO_LEVEL_MIN_ROWS

    if table_n(spark, sf_dir, "orders") >= TWO_LEVEL_MIN_ROWS:
        b = dv.withColumn(
            "_bkt", (F.col("cents") / RANGE_BUCKET_CENTS).cast("long")
        )
        bkt = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("bcnt"))
        wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
        boff = bkt.select(
            "_bkt", (F.sum("bcnt").over(wb) - F.col("bcnt")).alias("_boff")
        )
        wv = Window.partitionBy("_bkt").orderBy("cents").rowsBetween(
            Window.unboundedPreceding, 0
        )
        nrow = dv.agg(F.count(F.lit(1)).alias("n"))
        ranked = (
            b.join(F.broadcast(boff), "_bkt")
            .select(
                "cents",
                (F.col("_boff") + F.count(F.lit(1)).over(wv)).alias("rn"),
            )
            .crossJoin(F.broadcast(nrow))
        )
    else:
        ranked = dv.select(
            "cents",
            F.row_number().over(Window.orderBy("cents")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
    bands = ranked.groupBy(
        ((F.col("rn") - 1) * RANGE_BANDS / F.col("n")).cast("long").alias("band")
    ).agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    bands_rep = bands.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                (F.col("lo") / RANGE_BUCKET_CENTS).cast("long"),
                (F.col("hi") / RANGE_BUCKET_CENTS).cast("long"),
            )
        ),
    )
    pts = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price_dec"),
    ).withColumn("bucket", (F.col("v") / RANGE_BUCKET_CENTS).cast("long"))
    joined = pts.join(
        bands_rep,
        (pts["bucket"] == bands_rep["bucket"])
        & (pts["v"] >= bands_rep["lo"])
        & (pts["v"] <= bands_rep["hi"]),
    )
    return joined.groupBy("band", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("price_dec").cast("double").alias("total_price"),
    )
