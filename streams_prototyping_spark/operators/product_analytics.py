"""Product-analytics and remaining TPC-H query shapes.

The query set a reference user actually runs on event streams —
percent-of-total shares, per-window leaders, cohort retention — plus
the two TPC-H shapes with distinctive plans not yet covered (Q14's
conditional-sum ratio, Q2's correlated-min lookup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streams_prototyping_spark.data import load_table
from streams_prototyping_spark.operators.common import dsum_sql
from streams_prototyping_spark.operators.ranks import bucketed_row_cum
from streams_prototyping_spark.registry import register

_Q14_ORACLE = """
SELECT round(
    100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE)
    / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
    6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-sum / total-sum ratio over a
    fact-dim join — the promotion-share metric. Both sums ride the
    same aggregate (one scan, one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", disc)).cast("double")
                / F.sum(disc).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


_Q2_ORACLE = """
SELECT s.s_name, s.s_acctbal, n.n_name, l.l_partkey, l.l_extendedprice
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE l.l_extendedprice = (
    SELECT min(l2.l_extendedprice) FROM lineitem l2
    WHERE l2.l_partkey = l.l_partkey
)
  AND l.l_partkey < 50
"""


@register("q2_min_cost_per_part", oracle=_Q2_ORACLE)
def q2_min_cost_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — rows matching their
    group's minimum, joined out to supplier/nation detail.

    Scale note: Catalyst decorrelates the per-part MIN into one
    aggregate + join (no per-row subquery); nation broadcasts. The
    result can contain ties (several lineitems at the same min price) —
    identical in both engines, so hash-safe.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_Q2_ORACLE)


_PCT_TOTAL_ORACLE = f"""
WITH per_nation AS (
    SELECT n_name,
           {dsum_sql('c_acctbal')} AS balance
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
)
SELECT n_name, balance,
       round(100.0 * balance / sum(balance) OVER (), 6) AS pct_of_total,
       CAST(rank() OVER (ORDER BY balance DESC) AS BIGINT) AS balance_rank
FROM per_nation
"""


@register(
    "pct_of_total",
    oracle=_PCT_TOTAL_ORACLE,
    bounded_window="25 nations",
)
def pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total share: window aggregate OVER () on top of a
    grouped aggregate — the market-share/report-card pattern.

    Scale note: the empty-frame window runs over the ALREADY aggregated
    rows (25 nations), not the raw data; the plan is agg -> single-
    partition window on a trivially small input.
    """
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    per_nation = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("balance")
        )
    )
    w_all = Window.partitionBy()
    return per_nation.select(
        "n_name",
        "balance",
        F.round(100.0 * F.col("balance") / F.sum("balance").over(w_all), 6).alias(
            "pct_of_total"
        ),
        F.rank().over(Window.orderBy(F.col("balance").desc())).cast("long").alias(
            "balance_rank"
        ),
    )


_TOPK_WINDOW_ORACLE = """
WITH daily AS (
    SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day_epoch,
           user_id,
           count(*) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT day_epoch, user_id, n_events FROM (
    SELECT day_epoch, user_id, n_events,
           row_number() OVER (PARTITION BY day_epoch
                              ORDER BY n_events DESC, user_id) AS rn
    FROM daily
) WHERE rn = 1
"""


@register("topk_per_window", oracle=_TOPK_WINDOW_ORACLE)
def topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leader per time window: daily per-user counts -> top user per
    day — time windowing composed with rank-filtering (the 'daily most
    active' leaderboard)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400)
        .cast("long")
        .alias("day_epoch"),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("day_epoch").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    return (
        daily.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


_RETENTION_ORACLE = """
WITH weekly AS (
    SELECT DISTINCT CAST(floor(epoch(ts)/604800) AS BIGINT) AS week, user_id
    FROM events
)
SELECT a.week,
       count(*) AS active_users,
       count(b.user_id) AS retained_next_week,
       round(CAST(count(b.user_id) AS DOUBLE) / count(*), 6) AS retention_rate
FROM weekly a
LEFT JOIN weekly b ON b.user_id = a.user_id AND b.week = a.week + 1
GROUP BY a.week
"""


@register("cohort_retention", oracle=_RETENTION_ORACLE)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention: distinct weekly actives self-joined on
    (user, week+1) — the cohort-analysis staple over event streams.

    Scale note: the self-join runs on the DEDUPLICATED (week, user)
    set, not raw events, and keys on user_id — a uniform key at any
    scale; the distinct is one partial-agg shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        F.floor(F.unix_timestamp("ts") / 604800).cast("long").alias("week"),
        "user_id",
    ).distinct()
    a = weekly.alias("a")
    b = weekly.alias("b")
    return (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.week") == F.col("a.week") + 1),
            "left_outer",
        )
        .groupBy(F.col("a.week").alias("week"))
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.col("b.user_id")).alias("retained_next_week"),
            F.round(
                F.count(F.col("b.user_id")).cast("double") / F.count(F.lit(1)), 6
            ).alias("retention_rate"),
        )
    )


_FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, min(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t_view
    WHERE e.event_type = 'click'
    GROUP BY e.user_id
), p AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t_click
    WHERE e.event_type = 'purchase'
    GROUP BY e.user_id
)
SELECT v.user_id,
       CAST(floor(epoch(v.t_view)) AS BIGINT) AS view_epoch,
       (c.user_id IS NOT NULL) AS reached_click,
       (p.user_id IS NOT NULL) AS reached_purchase
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
"""


@register("funnel_view_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (CEP-lite): first view -> first click
    AFTER it -> first purchase AFTER that, per user. Each stage is an
    aggregate over the events filtered by the previous stage's
    timestamp — strictly ordered event-sequence matching expressed as
    three grouped mins + joins.

    Scale note: every stage keys on user_id (uniform), inputs shrink
    monotonically down the funnel, and the event scan is shared via
    one cached-free re-read per stage — at 100 TB you'd pre-filter the
    three event types in one pass (pivot-style) and self-join the tiny
    per-user stage table, which is exactly this plan's shape after
    Catalyst pushes the event_type filters into the scans.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("vu"), "t_view"),
              (F.col("user_id") == F.col("vu")) & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("cu"), "t_click"),
              (F.col("user_id") == F.col("cu")) & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c.select(F.col("user_id").alias("c_uid")), v.user_id == F.col("c_uid"), "left_outer")
        .join(p.select(F.col("user_id").alias("p_uid")), v.user_id == F.col("p_uid"), "left_outer")
        .select(
            "user_id",
            F.unix_timestamp("t_view").alias("view_epoch"),
            F.col("c_uid").isNotNull().alias("reached_click"),
            F.col("p_uid").isNotNull().alias("reached_purchase"),
        )
    )


_HISTOGRAM_ORACLE = """
SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
       CAST(CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS DOUBLE) AS bucket_low,
       count(*) AS n,
       round(CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM events), 6) AS fraction
FROM events
GROUP BY 1, 2
"""


@register("value_histogram", oracle=_HISTOGRAM_ORACLE)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of the value column with per-bucket
    fractions — the distribution profile every data-quality pass
    computes. One aggregate + a scalar-subquery total."""
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()  # driver-side scalar is fine: it is ONE number
    bucket = F.floor(F.col("value") / 25.0).cast("long")
    return (
        ev.groupBy(bucket.alias("bucket"), (bucket * 25.0).alias("bucket_low"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.count(F.lit(1)).cast("double") / F.lit(total), 6).alias(
                "fraction"
            ),
        )
    )


# --------------------------------------------------- marketing attribution

ATTR_TOUCH_TYPES = ("view", "click")
ATTR_HORIZON_S = 3600  # credit a touch up to 1h before the purchase

_ATTR_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
    FROM events
), touched AS (
    SELECT event_id, user_id, event_type, ts_epoch,
           last_value(CASE WHEN event_type IN ('view', 'click')
                           THEN event_id END IGNORE NULLS)
               OVER w AS touch_event_id,
           last_value(CASE WHEN event_type IN ('view', 'click')
                           THEN ts_epoch END IGNORE NULLS)
               OVER w AS touch_epoch
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id, ts_epoch AS purchase_epoch,
       touch_event_id, touch_epoch,
       ts_epoch - touch_epoch AS gap_s,
       (touch_epoch IS NOT NULL
        AND ts_epoch - touch_epoch <= {ATTR_HORIZON_S}) AS attributed
FROM touched
WHERE event_type = 'purchase'
"""


@register("attribution_last_touch", oracle=_ATTR_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent preceding view/click by the same user within {ATTR_HORIZON_S}s
    (the conversion-credit query behind every CTR/ROAS dashboard; the
    as-of-join shape expressed as one pass of window functions instead
    of a join).

    Determinism: the window orders by (ts, event_id), so same-timestamp
    touches resolve identically in both engines; last(IGNORE NULLS)
    over ROWS ... 1 PRECEDING excludes the purchase itself.

    Scale note: ONE shuffle on user_id and a per-user ordered pass —
    no self-join, no second shuffle; the purchase filter happens after
    the window but prunes before anything else consumes the result.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_epoch", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_touch = F.col("event_type").isin(*ATTR_TOUCH_TYPES)
    touched = e.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_epoch",
        F.last(F.when(is_touch, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("touch_event_id"),
        F.last(F.when(is_touch, F.col("ts_epoch")), ignorenulls=True)
        .over(w)
        .alias("touch_epoch"),
    )
    return touched.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts_epoch").alias("purchase_epoch"),
        "touch_event_id",
        "touch_epoch",
        (F.col("ts_epoch") - F.col("touch_epoch")).alias("gap_s"),
        (
            F.col("touch_epoch").isNotNull()
            & ((F.col("ts_epoch") - F.col("touch_epoch")) <= ATTR_HORIZON_S)
        ).alias("attributed"),
    )


# ---------------------------------------------- cumulative distinct users

_CUMULATIVE_DISTINCT_ORACLE = """
WITH daily AS (
    SELECT CAST(floor(epoch(ts)/86400)*86400 AS BIGINT) AS day_epoch,
           user_id
    FROM events GROUP BY 1, 2
), first_seen AS (
    SELECT user_id, min(day_epoch) AS first_day FROM daily GROUP BY user_id
), per_day AS (
    SELECT d.day_epoch,
           count(*) AS daily_active,
           sum(CASE WHEN f.first_day = d.day_epoch THEN 1 ELSE 0 END) AS new_users
    FROM daily d JOIN first_seen f USING (user_id)
    GROUP BY d.day_epoch
)
SELECT day_epoch, daily_active, new_users,
       sum(new_users) OVER (ORDER BY day_epoch
                            ROWS UNBOUNDED PRECEDING) AS cumulative_users
FROM per_day
"""


@register(
    "cumulative_distinct_users",
    oracle=_CUMULATIVE_DISTINCT_ORACLE,
    bounded_window="calendar days (fixed time span)",
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day via the FIRST-SEEN trick:
    a user contributes to the cumulative line only on their first day,
    so the running total is a running sum of new_users — O(rows)
    instead of the quadratic count(DISTINCT) over an expanding frame
    that the naive formulation plans.

    Scale note: two partial-combined aggregations ((day, user) dedup,
    then user min-day) and a final day-keyed rollup; the running sum
    windows over day-count rows only. No expanding-frame distinct
    anywhere — the pattern that keeps "users to date" dashboards
    feasible on years of events.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            (F.floor(F.unix_timestamp("ts") / 86400) * 86400)
            .cast("long")
            .alias("day_epoch"),
            "user_id",
        )
        .distinct()
    )
    first_seen = daily.groupBy("user_id").agg(F.min("day_epoch").alias("first_day"))
    per_day = (
        daily.join(first_seen, "user_id")
        .groupBy("day_epoch")
        .agg(
            F.count("*").alias("daily_active"),
            F.sum(
                F.when(F.col("first_day") == F.col("day_epoch"), 1).otherwise(0)
            ).alias("new_users"),
        )
    )
    w = Window.orderBy("day_epoch").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "day_epoch",
        "daily_active",
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


# ---------------------------------------------- incremental agg maintenance

_INC_CUTOFF_DAYS = 3  # base = first 3 days, delta = the rest

_INC_MERGE_ORACLE = f"""
WITH cut AS (
    SELECT CAST(floor(min(epoch(ts))/86400)*86400
                + {_INC_CUTOFF_DAYS}*86400 AS BIGINT) AS cutoff
    FROM events
)
SELECT user_id,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE), 6)
           AS total_value,
       (min(CAST(floor(epoch(ts)) AS BIGINT)) < cut.cutoff) AS had_base,
       (max(CAST(floor(epoch(ts)) AS BIGINT)) >= cut.cutoff) AS had_delta
FROM events CROSS JOIN cut
GROUP BY user_id, cut.cutoff
"""


@register("incremental_agg_merge", oracle=_INC_MERGE_ORACLE)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the per-user aggregate is
    computed as BASE (first {_INC_CUTOFF_DAYS} days) merged with DELTA
    (the rest) via a full outer join and algebraic merge (counts add,
    decimal sums add) — while the ORACLE computes the same aggregate
    directly in one pass. Their hash-equality PROVES the merge is
    lossless, which is the property incremental view maintenance /
    nightly-rollup-plus-today pipelines depend on.

    Scale note: each side is a partial-combined groupBy; the merge
    joins aggregate-sized rows, not events. At production scale BASE is
    a stored table and only DELTA is computed — this query is that
    pipeline with both sides derived from the same scan. Decimal sums
    make the merge bit-exact (double addition would not even be
    associative).
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("ts_epoch"),
        F.col("value").cast("decimal(25,10)").alias("v"),
    )
    cut = e.agg(
        (
            F.floor(F.min("ts_epoch") / 86400) * 86400
            + _INC_CUTOFF_DAYS * 86400
        ).cast("long").alias("cutoff")
    )
    e = e.join(F.broadcast(cut))

    def side(pred, tag: str) -> DataFrame:
        return (
            e.filter(pred)
            .groupBy("user_id")
            .agg(
                F.count("*").alias(f"n_{tag}"),
                F.sum("v").alias(f"s_{tag}"),
            )
        )

    base = side(F.col("ts_epoch") < F.col("cutoff"), "base")
    delta = side(F.col("ts_epoch") >= F.col("cutoff"), "delta")
    zero = F.lit(0).cast("decimal(35,10)")
    merged = base.join(delta, "user_id", "full_outer")
    return merged.select(
        "user_id",
        (
            F.coalesce(F.col("n_base"), F.lit(0))
            + F.coalesce(F.col("n_delta"), F.lit(0))
        ).alias("n_events"),
        F.round(
            (
                F.coalesce(F.col("s_base"), zero)
                + F.coalesce(F.col("s_delta"), zero)
            ).cast("double"),
            6,
        ).alias("total_value"),
        F.col("n_base").isNotNull().alias("had_base"),
        F.col("n_delta").isNotNull().alias("had_delta"),
    )


# ------------------------------------------------- market-basket lift

MIN_CO_COUNT = 3  # pair must co-occur in >= 3 orders to be reported

_COPURCHASE_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), n AS (
    SELECT count(DISTINCT l_orderkey) AS n_orders FROM baskets
), item AS (
    SELECT l_partkey, count(*) AS n_item FROM baskets GROUP BY l_partkey
), pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS co_count
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING count(*) >= {MIN_CO_COUNT}
)
SELECT p.part_a, p.part_b, p.co_count,
       ia.n_item AS n_a, ib.n_item AS n_b,
       round(CAST(p.co_count * n.n_orders AS DOUBLE)
             / CAST(ia.n_item * ib.n_item AS DOUBLE), 6) AS lift
FROM pairs p
JOIN item ia ON ia.l_partkey = p.part_a
JOIN item ib ON ib.l_partkey = p.part_b
CROSS JOIN n
"""


@register("copurchase_lift", oracle=_COPURCHASE_ORACLE)
def copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order
    >= {MIN_CO_COUNT} times, scored by lift = P(a,b) / (P(a)P(b)) —
    the association-rule primitive behind co-view/co-purchase
    recommenders and feature-co-occurrence audits.

    Scale note: the pair generator is a self-join keyed on the order
    key, so fan-out is sum(basket_size^2) — bounded by real basket
    sizes, never a catalog cross product (production caps or samples
    pathological baskets first). Pair counts partial-combine; the
    per-item counts and the 1-row order total are broadcast lookups.
    Lift arithmetic is exact-integer products in one IEEE division.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # r11: one order-keyed aggregate replaces distinct + self-join. The
    # old shape shuffled the basket stream three times (the (order,
    # part) distinct, then both self-join sides by order key); baskets
    # as a sorted per-order set needs ONE shuffle, dedups for free
    # (collect_set), and generates the same a<b pairs map-side from the
    # sorted array — fan-out is still sum(basket_size^2), unchanged.
    # r12 (guide §2.5): pin the basket shuffle's width from the row
    # count — the (orderkey, partkey) map bytes are ~10 MB at sf0.1, so
    # byte-target AQE coalescing (session.py) put the whole
    # sum(basket²) pair explode + partial pair agg on ONE task
    # (isolated A/B: 1.72 s -> 2.66 s). Rows-derived width keeps every
    # core on the fan-out stage and grows with the data.
    from streams_prototyping_spark.data import fanout_width, table_n

    parts_n = fanout_width(spark, table_n(spark, sf_dir, "lineitem"), 50_000)
    bl = li.repartition(parts_n, "l_orderkey").groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    n = bl.agg(F.count(F.lit(1)).alias("n_orders"))
    item = bl.select(F.explode("parts").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count("*").alias("n_item"))
    pair_struct = F.explode(
        F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts) - i - 1), "
            "y -> struct(x AS part_a, y AS part_b))))"
        )
    ).alias("p")
    # r12 (the tfidf fold-width fix): the pair aggregate's exchange
    # carries ~29 MB of partial counts, so byte-target coalescing ran
    # the final fold on ~1 task — reuse the rows-derived width.
    pairs = (
        bl.select(pair_struct)
        .select(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .repartition(parts_n, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("co_count"))
        .filter(F.col("co_count") >= MIN_CO_COUNT)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "co_count",
            "n_a",
            "n_b",
            F.round(
                (F.col("co_count") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"),
                6,
            ).alias("lift"),
        )
    )


# -------------------------------------------- priority transition matrix

_TRANSITION_ORACLE = """
WITH seq AS (
    SELECT o_custkey, o_orderpriority,
           lag(o_orderpriority) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS prev_priority
    FROM orders
), t AS (
    SELECT prev_priority AS from_priority, o_orderpriority AS to_priority,
           count(*) AS n_transitions
    FROM seq WHERE prev_priority IS NOT NULL
    GROUP BY prev_priority, o_orderpriority
), tot AS (
    SELECT sum(n_transitions) AS n_total FROM t
)
SELECT from_priority, to_priority, n_transitions,
       round(CAST(n_transitions AS DOUBLE) / tot.n_total, 6) AS frac
FROM t CROSS JOIN tot
"""


@register("priority_transition_matrix", oracle=_TRANSITION_ORACLE)
def priority_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive order
    priorities per customer (ordered by date, order-key tiebreak) —
    the sequence-analytics primitive behind state-machine audits
    ("do rush customers stay rush").

    Scale note: one customer-keyed window pass (lag), then a
    partial-combined aggregate over the tiny (from, to) key space and
    a broadcast 1-row total — raw orders shuffle once.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_orderpriority",
        F.lag("o_orderpriority").over(w).alias("prev_priority"),
    )
    t = (
        seq.filter(F.col("prev_priority").isNotNull())
        .groupBy(
            F.col("prev_priority").alias("from_priority"),
            F.col("o_orderpriority").alias("to_priority"),
        )
        .agg(F.count("*").alias("n_transitions"))
    )
    tot = t.agg(F.sum("n_transitions").alias("n_total"))
    return t.crossJoin(F.broadcast(tot)).select(
        "from_priority",
        "to_priority",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double") / F.col("n_total"), 6
        ).alias("frac"),
    )


# ------------------------------------------- inter-event gap statistics

_GAP_STATS_ORACLE = """
WITH seq AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                     PARTITION BY user_id, event_type
                     ORDER BY ts, event_id) AS gap_s
    FROM events
), g AS (
    SELECT event_type, gap_s FROM seq WHERE gap_s IS NOT NULL
)
SELECT event_type,
       count(*) AS n_gaps,
       round(CAST(sum(CAST(gap_s AS DECIMAL(38,0))) AS DOUBLE) / count(*), 6)
           AS mean_gap_s,
       round(sqrt(CAST(sum(CAST(gap_s * gap_s AS DECIMAL(38,0))) AS DOUBLE)
                  / count(*)
                  - (CAST(sum(CAST(gap_s AS DECIMAL(38,0))) AS DOUBLE)
                     / count(*))
                    * (CAST(sum(CAST(gap_s AS DECIMAL(38,0))) AS DOUBLE)
                       / count(*))), 6) AS std_gap_s,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
       round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s
FROM g GROUP BY event_type
"""


@register("inter_event_gap_stats", oracle=_GAP_STATS_ORACLE)
def inter_event_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type cadence profile: the time between a user's
    consecutive events of the same type (mean, population std, exact
    interpolated p50/p90, max) — the arrival-process statistics behind
    session-gap tuning, watermark sizing, and bot detection (inhumanly
    regular gaps).

    Scale note: one (user, type)-keyed window pass produces integer-
    second gaps; all moments come from exact decimal integer sums, so
    partial-agg order cannot fork engines; percentiles are exact
    interpolation (Spark percentile == DuckDB quantile_cont) over the
    per-type gap sets.
    """
    ev = load_table(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", (epoch - F.lag(epoch).over(w)).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    s = F.sum(F.col("gap_s").cast("decimal(38,0)")).cast("double")
    sq = F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(38,0)")).cast("double")
    n = F.count(F.lit(1))
    mean = s / n
    return seq.groupBy("event_type").agg(
        n.alias("n_gaps"),
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(F.sqrt(sq / n - mean * mean), 6).alias("std_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        F.max("gap_s").cast("long").alias("max_gap_s"),
    )


# ---------------------------------------------- negative sampling (recsys)

NEG_BUCKETS = 20      # candidate pool = parts in the customer's hash bucket
NEG_PER_CUST = 3      # negatives per customer
NEG_CUST_LIMIT = 200  # bound the demo output: customers with custkey < 200

_NEG_SAMPLE_ORACLE = f"""
WITH purchased AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), cand AS (
    SELECT c.c_custkey, pt.p_partkey
    FROM customer c JOIN part pt
      ON pt.p_partkey % {NEG_BUCKETS} = c.c_custkey % {NEG_BUCKETS}
    WHERE c.c_custkey < {NEG_CUST_LIMIT}
), neg AS (
    SELECT cd.c_custkey, cd.p_partkey
    FROM cand cd LEFT JOIN purchased pu
      ON pu.c = cd.c_custkey AND pu.p = cd.p_partkey
    WHERE pu.c IS NULL
)
SELECT c_custkey, p_partkey, rnk FROM (
    SELECT c_custkey, p_partkey,
           CAST(row_number() OVER (
               PARTITION BY c_custkey
               ORDER BY md5('neg:' || c_custkey || ':' || p_partkey),
                        p_partkey) AS BIGINT) AS rnk
    FROM neg
) WHERE rnk <= {NEG_PER_CUST}
"""


@register("negative_sample_parts", oracle=_NEG_SAMPLE_ORACLE)
def negative_sample_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for implicit-feedback training:
    per customer, {NEG_PER_CUST} parts they never ordered, drawn from
    their hash-bucket candidate pool and ranked by md5 — reproducible
    negatives with no RNG state, the recommender counterpart of
    hard_negative_mining.

    Scale note: the full complement is quadratic and untouchable; the
    hash-bucket equi-join bounds candidates to pool_size = parts /
    {NEG_BUCKETS} per customer while staying a keyed join (never a
    cross product), the purchased anti-join is keyed on (customer,
    part), and rank<=k collapses to WindowGroupLimit. Pool coverage
    tunes with the bucket count — a constant, not a plan change.
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") < NEG_CUST_LIMIT
    ).select("c_custkey", (F.col("c_custkey") % NEG_BUCKETS).alias("bucket"))
    pt = load_table(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_partkey") % NEG_BUCKETS).alias("bucket")
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    purchased = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("pc"), F.col("l_partkey").alias("pp"))
        .distinct()
    )
    cand = c.join(pt, "bucket").select("c_custkey", "p_partkey")
    neg = cand.join(
        purchased,
        (F.col("c_custkey") == F.col("pc")) & (F.col("p_partkey") == F.col("pp")),
        "left_anti",
    )
    key = F.md5(
        F.concat(
            F.lit("neg:"), F.col("c_custkey"), F.lit(":"), F.col("p_partkey")
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(key, F.col("p_partkey"))
    return (
        neg.select(
            "c_custkey",
            "p_partkey",
            F.row_number().over(w).cast("long").alias("rnk"),
        )
        .filter(F.col("rnk") <= NEG_PER_CUST)
    )


# --------------------------------------------------- RFM segmentation

RFM_TILES = 5

_RFM_ORACLE = f"""
WITH base AS (
    SELECT o_custkey,
           CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS last_epoch,
           count(*) AS frequency,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
    FROM orders GROUP BY o_custkey
), anchored AS (
    SELECT b.*, (SELECT CAST(floor(epoch(max(o_orderdate))) AS BIGINT)
                 FROM orders) AS anchor
    FROM base b
), vals AS (
    SELECT o_custkey,
           (anchor - last_epoch) // 86400 AS recency_days,
           frequency,
           round(monetary, 6) AS monetary
    FROM anchored
), rfm AS (
    -- cume_dist-based value tiles: tile = ceil(cum * T / n) in pure
    -- integer arithmetic; ties share a tile (value-deterministic, no
    -- custkey tiebreak needed)
    SELECT o_custkey, recency_days, frequency, monetary,
           count(*) OVER () AS n,
           count(*) OVER (ORDER BY recency_days ASC
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
           count(*) OVER (ORDER BY frequency DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cf,
           count(*) OVER (ORDER BY monetary DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
    FROM vals
)
SELECT o_custkey, recency_days, frequency, monetary,
       CAST((cr * {RFM_TILES} + n - 1) // n AS BIGINT) AS r_score,
       CAST((cf * {RFM_TILES} + n - 1) // n AS BIGINT) AS f_score,
       CAST((cm * {RFM_TILES} + n - 1) // n AS BIGINT) AS m_score,
       ((cr * {RFM_TILES} + n - 1) // n) || '-' ||
       ((cf * {RFM_TILES} + n - 1) // n) || '-' ||
       ((cm * {RFM_TILES} + n - 1) // n) AS segment
FROM rfm
"""


@register(
    "customer_rfm_segments",
    oracle=_RFM_ORACLE,
    bounded_window="value-range buckets of the two-level prefix sum",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order,
    anchored at the corpus max date), frequency and decimal-exact
    monetary value, each scored into RFM_TILES cume_dist-based value
    tiles (tile = ceil(cum * T / n), integer arithmetic; customers
    tied on a dimension share its tile) and concatenated into the
    classic segment code.

    Scale design (round-5 verdict item 1): one customer-keyed
    aggregate, a broadcast 1-row anchor, then per-dimension inclusive
    cumulative counts via operators/ranks.bucketed_row_cum — bucket
    offsets cumulate on the tiny bucket table, interiors run under
    PARTITION BY bucket RANGE frames. No single-partition sort of the
    customer table anywhere (the old ntile design serialized all
    customers through one task three times).

    Residual bound (ADVICE r6, honest version of the claim): the fixed
    grids here are COARSE on narrow domains — frequency/8 is ~6
    occupied buckets on TPC-H order counts — so each bucket interior is
    still one task holding O(n_customers / occupied_buckets) rows. That
    is a constant-factor parallelism improvement plus removal of the
    single-partition EXCHANGE (rows no longer all move to one machine),
    not an unconditional per-task O(1). At a scale where a bucket
    interior outgrows a task, narrow the widths (the ranks.py knob) or
    derive them from the observed span; the frequency dimension's
    domain (orders per customer) grows ~log with SF, so the fixed grid
    holds far past sf10 (measured: SCALING_SF10.md).
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.unix_timestamp(F.max("o_orderdate")).alias("last_epoch"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "monetary"
        ),
    )
    anchor = o.agg(F.unix_timestamp(F.max("o_orderdate")).alias("anchor"))
    rec = ((F.col("anchor") - F.col("last_epoch")) / F.lit(86400)).cast("long")
    anchored = base.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        rec.alias("recency_days"),
        "frequency",
        F.round("monetary", 6).alias("monetary"),
    )
    cum = bucketed_row_cum(
        anchored, "recency_days", lambda v: F.floor(v / 64), "cr", ascending=True
    )
    cum = bucketed_row_cum(
        cum, "frequency", lambda v: F.floor(v / 8), "cf", ascending=False
    )
    cum = bucketed_row_cum(
        cum, "monetary", lambda v: F.floor(v / 65536.0), "cm", ascending=False
    )
    n_tot = anchored.agg(F.count(F.lit(1)).alias("n"))
    tile = lambda c: F.expr(f"({c} * {RFM_TILES} + n - 1) div n").cast("long")
    scored = cum.crossJoin(F.broadcast(n_tot)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        tile("cr").alias("r_score"),
        tile("cf").alias("f_score"),
        tile("cm").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", F.col("r_score"), F.col("f_score"), F.col("m_score")),
    )


# ------------------------------------------------- winsorization summary

WINSOR_LO = 0.05
WINSOR_HI = 0.95

_WINSOR_ORACLE = f"""
WITH cuts AS (
    SELECT event_type,
           round(quantile_cont(value, {WINSOR_LO}), 6) AS lo_cut,
           round(quantile_cont(value, {WINSOR_HI}), 6) AS hi_cut
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       count(*) AS n_values,
       c.lo_cut, c.hi_cut,
       sum(CASE WHEN e.value < c.lo_cut THEN 1 ELSE 0 END) AS n_clipped_low,
       sum(CASE WHEN e.value > c.hi_cut THEN 1 ELSE 0 END) AS n_clipped_high,
       round(CAST(sum(CAST(round(
           CASE WHEN e.value < c.lo_cut THEN c.lo_cut
                WHEN e.value > c.hi_cut THEN c.hi_cut
                ELSE e.value END, 6) AS DECIMAL(28,6))) AS DOUBLE)
             / count(*), 6) AS winsorized_mean
FROM events e JOIN cuts c ON c.event_type = e.event_type
GROUP BY e.event_type, c.lo_cut, c.hi_cut
"""


@register("value_winsorize_summary", oracle=_WINSOR_ORACLE)
def value_winsorize_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile winsorization audit per event type: exact p05/p95
    cut points, how many values each tail clips, and the decimal-exact
    winsorized mean — the clip-don't-drop robust preprocessing twin of
    the MAD outlier gate (which drops); a pipeline compares the two
    summaries before choosing a policy.

    Scale note: cut points come from one exact-percentile aggregate
    over each (bounded-cardinality) type group and broadcast back;
    the clip pass is a narrow projection + partial-combined aggregate.
    Unbounded groups would switch the cut computation to
    approx_percentile — a one-function change.
    """
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(WINSOR_LO)), 6).alias("lo_cut"),
        F.round(F.percentile("value", F.lit(WINSOR_HI)), 6).alias("hi_cut"),
    )
    j = ev.join(F.broadcast(cuts), "event_type")
    clipped = (
        F.when(F.col("value") < F.col("lo_cut"), F.col("lo_cut"))
        .when(F.col("value") > F.col("hi_cut"), F.col("hi_cut"))
        .otherwise(F.col("value"))
    )
    return j.groupBy("event_type", "lo_cut", "hi_cut").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.when(F.col("value") < F.col("lo_cut"), 1).otherwise(0)).alias(
            "n_clipped_low"
        ),
        F.sum(F.when(F.col("value") > F.col("hi_cut"), 1).otherwise(0)).alias(
            "n_clipped_high"
        ),
        F.round(
            F.sum(F.round(clipped, 6).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("winsorized_mean"),
    ).select(
        "event_type", "n_values", "lo_cut", "hi_cut",
        "n_clipped_low", "n_clipped_high", "winsorized_mean",
    )


# --------------------------------------------- interval concurrency count

_INFLIGHT_ORACLE = """
WITH span AS (
    SELECT o.o_orderkey,
           CAST(floor(epoch(date_trunc('day', o.o_orderdate))) AS BIGINT)
               AS start_day,
           CAST(floor(epoch(date_trunc('day', s.last_ship))) AS BIGINT) + 86400
               AS end_day
    FROM orders o
    JOIN (SELECT l_orderkey, max(l_shipdate) AS last_ship
          FROM lineitem GROUP BY l_orderkey) s
      ON s.l_orderkey = o.o_orderkey
), deltas AS (
    SELECT start_day AS day_epoch, 1 AS delta FROM span
    UNION ALL
    SELECT end_day, -1 FROM span
), net AS (
    SELECT day_epoch, sum(delta) AS net_change FROM deltas GROUP BY day_epoch
)
SELECT day_epoch, net_change,
       sum(net_change) OVER (ORDER BY day_epoch
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS open_orders
FROM net
"""


@register(
    "orders_in_flight",
    oracle=_INFLIGHT_ORACLE,
    bounded_window="calendar days (fixed time span)",
)
def orders_in_flight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval concurrency via boundary counting: each order is open
    from its order date until the day after its last shipment; the
    per-day open-order count is the running sum of +1/-1 boundary
    events — the interval-overlap pattern that answers "how many X
    were active at time T" WITHOUT a time-spine join or an
    interval-vs-interval range join (the quadratic formulations).

    Scale note: boundary extraction is one keyed aggregate + a union
    of two narrow projections; the net-change table is O(distinct
    days), so the running-sum window sorts thousands of rows no
    matter how many billions of intervals fed it. This is the
    boundary-event trick every interval-analytics pipeline should
    compile to.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    span = o.join(last_ship, o.o_orderkey == last_ship.l_orderkey).select(
        F.unix_timestamp(F.date_trunc("day", "o_orderdate")).alias("start_day"),
        (F.unix_timestamp(F.date_trunc("day", "last_ship")) + 86400).alias("end_day"),
    )
    deltas = span.select(
        F.col("start_day").alias("day_epoch"), F.lit(1).alias("delta")
    ).unionByName(
        span.select(F.col("end_day").alias("day_epoch"), F.lit(-1).alias("delta"))
    )
    net = deltas.groupBy("day_epoch").agg(F.sum("delta").alias("net_change"))
    w = Window.orderBy("day_epoch").rowsBetween(Window.unboundedPreceding, 0)
    return net.select(
        "day_epoch", "net_change", F.sum("net_change").over(w).alias("open_orders")
    )


# -------------------------------------------- Markov removal attribution

ATTR_CONV = "purchase"
ATTR_CHANNELS = ("click", "error", "signup", "view")  # non-converting states
ATTR_ITERS = 12  # value-iteration rounds (fixed; the documented contract)

# Transition construction: per-user journeys ordered by (ts, event_id),
# truncated at the FIRST conversion; START precedes the first event;
# journeys without a conversion end in an implicit NULL sink. Transition
# probabilities use the FULL outgoing denominator (including the NULL
# mass), then NULL rows are dropped — an absent row contributes exactly
# the 0 the sink would.
_ATTR_TRANS_SQL = f"""
seq AS (
    SELECT user_id, event_type, ts, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), firstconv AS (
    SELECT user_id, min(rn) AS conv_rn FROM seq
    WHERE event_type = '{ATTR_CONV}' GROUP BY user_id
), bounded AS (
    SELECT s.user_id, s.rn,
           CASE WHEN s.event_type = '{ATTR_CONV}' THEN 'CONV'
                ELSE s.event_type END AS state
    FROM seq s LEFT JOIN firstconv f ON f.user_id = s.user_id
    WHERE f.conv_rn IS NULL OR s.rn <= f.conv_rn
), steps AS (
    SELECT user_id, rn, state,
           lead(state) OVER (PARTITION BY user_id ORDER BY rn) AS next_state
    FROM bounded
), trans AS (
    SELECT 'START' AS src, state AS dst, count(*) AS n
    FROM bounded WHERE rn = 1 GROUP BY 2
    UNION ALL
    SELECT state AS src, coalesce(next_state, 'NULL') AS dst, count(*) AS n
    FROM steps WHERE state <> 'CONV' GROUP BY 1, 2
), outsum AS (
    SELECT src, sum(n) AS total FROM trans GROUP BY src
), probs AS MATERIALIZED (
    -- MATERIALIZED: the value-iteration chains below reference probs
    -- ~80x; DuckDB inlines plain CTEs, re-running the corpus-sized
    -- window fold per reference (observed: >80 GB of spill at sf1)
    SELECT t.src, t.dst,
           round(CAST(t.n AS DOUBLE) / o.total, 8) AS p
    FROM trans t JOIN outsum o ON o.src = t.src
    WHERE t.dst <> 'NULL'
)"""


def _attr_chain_ctes(tag: str, removed: str | None) -> str:
    """Value-iteration CTE chain x0..x{ATTR_ITERS} for the chain with
    `removed` excluded (None = full chain)."""
    if removed is None:
        pr = f"pr_{tag} AS (SELECT src, dst, p FROM probs)"
    else:
        pr = (
            f"pr_{tag} AS (SELECT src, dst, p FROM probs "
            f"WHERE src <> '{removed}' AND dst <> '{removed}')"
        )
    parts = [pr, f"x_{tag}_0 AS (SELECT 'CONV' AS state, 1.0 AS val)"]
    for t in range(1, ATTR_ITERS + 1):
        parts.append(
            f"""x_{tag}_{t} AS (
    SELECT p.src AS state,
           round(CAST(sum(CAST(round(p.p * x.val, 12) AS DECIMAL(28,12)))
                      AS DOUBLE), 10) AS val
    FROM pr_{tag} p JOIN x_{tag}_{t - 1} x ON x.state = p.dst
    GROUP BY p.src
    UNION ALL SELECT 'CONV', 1.0
)"""
        )
    return ",\n".join(parts)


def _attr_conv_select(tag: str) -> str:
    return (
        f"(SELECT coalesce(max(val), 0.0) FROM x_{tag}_{ATTR_ITERS} "
        f"WHERE state = 'START')"
    )


_ATTR_ORACLE = (
    f"WITH {_ATTR_TRANS_SQL},\n"
    + _attr_chain_ctes("full", None)
    + ",\n"
    + ",\n".join(_attr_chain_ctes(f"rm{i}", c) for i, c in enumerate(ATTR_CHANNELS))
    + "\n"
    + "\nUNION ALL\n".join(
        f"""SELECT '{c}' AS channel,
       {_attr_conv_select('full')} AS p_conv,
       {_attr_conv_select(f'rm{i}')} AS p_conv_removed,
       CASE WHEN {_attr_conv_select('full')} = 0.0 THEN 0.0
            ELSE round(({_attr_conv_select('full')} - {_attr_conv_select(f'rm{i}')})
                       / {_attr_conv_select('full')}, 6) END AS removal_effect"""
        for i, c in enumerate(ATTR_CHANNELS)
    )
)


@register("markov_attribution_removal", oracle=_ATTR_ORACLE)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution: per-user journeys
    truncated at first conversion become a first-order chain
    (START -> channels -> CONV, unconverted journeys to an implicit
    NULL sink); each channel's credit is how much the START->CONV
    absorption probability DROPS when that channel's node is removed
    (its mass falls to the sink, unrenormalized — the Anderl et al.
    formulation). Absorption solved by {ATTR_ITERS} fixed
    value-iteration rounds with decimal-rounded products — the same
    deterministic fixed-point recipe as pagerank_parts, so the whole
    attribution is bit-identical cross-engine. The data-driven upgrade
    of attribution_last_touch.

    Scale note: the corpus-sized work is ONE windowed pass per user
    (sequence + lead) folding into a states² transition table; value
    iteration then runs on <= (|channels|+2)² rows per chain, once per
    channel — constant-size work after the fold, exactly the
    train-small/score-big shape of the other model operators.
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(w_seq).alias("rn")
    )
    firstconv = (
        seq.where(F.col("event_type") == ATTR_CONV)
        .groupBy("user_id")
        .agg(F.min("rn").alias("conv_rn"))
    )
    bounded = (
        seq.join(firstconv, "user_id", "left")
        .where(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == ATTR_CONV, "CONV")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    w_next = Window.partitionBy("user_id").orderBy("rn")
    steps = bounded.select(
        "state", F.lead("state").over(w_next).alias("next_state")
    )
    trans = (
        bounded.where(F.col("rn") == 1)
        .groupBy(F.col("state").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("START").alias("src"), "dst", "n")
        .union(
            steps.where(F.col("state") != "CONV")
            .groupBy(
                F.col("state").alias("src"),
                F.coalesce(F.col("next_state"), F.lit("NULL")).alias("dst"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
    )
    outsum = trans.groupBy("src").agg(F.sum("n").alias("total"))
    probs = (
        trans.join(outsum, "src")
        .where(F.col("dst") != "NULL")
        .select(
            "src",
            "dst",
            F.round(F.col("n").cast("double") / F.col("total"), 8).alias("p"),
        )
    )

    # The transition model is <= (|channels|+2)^2 rows; the absorbing-
    # chain solve runs on the DRIVER over that collected table (the
    # stated production shape — distributed fold, driver-side solve;
    # a DF-loop formulation spent ~27 s on 60 micro-job round-trips for
    # sub-40-row joins). Arithmetic replicates the oracle's SQL exactly:
    # IEEE double products, HALF_UP rounds at 12 dp, exact decimal sums,
    # HALF_UP at 10 dp — see _value_iteration.
    model = [(r.src, r.dst, r.p) for r in probs.collect()]

    full_p = _value_iteration(model)
    out_rows = []
    for c in ATTR_CHANNELS:
        rm_p = _value_iteration(
            [(s_, d_, p_) for (s_, d_, p_) in model if s_ != c and d_ != c]
        )
        # A conversion-free window yields full_p == 0: removal effect is
        # defined as 0.0 for every channel (oracle CASE mirrors this)
        # instead of crashing on 0/0.
        effect = (
            0.0 if full_p == 0.0 else _round_half_up((full_p - rm_p) / full_p, 6)
        )
        out_rows.append((c, full_p, rm_p, effect))
    return spark.createDataFrame(
        out_rows,
        "channel string, p_conv double, p_conv_removed double, "
        "removal_effect double",
    )


def _round_half_up(x: float, nd: int) -> float:
    """SQL ROUND semantics (HALF_UP on the shortest decimal repr of the
    double — what Spark's BigDecimal.valueOf path and DuckDB's round
    both produce on these values)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def _value_iteration(model: list) -> float:
    """{ATTR_ITERS} rounds of x = P x with CONV pinned to 1 — the same
    fold the oracle's CTE chain runs: per-term HALF_UP round at 12 dp,
    EXACT decimal summation (order-free), HALF_UP at 10 dp per state."""
    from decimal import ROUND_HALF_UP, Decimal

    q12 = Decimal(1).scaleb(-12)
    val = {"CONV": 1.0}
    for _ in range(ATTR_ITERS):
        acc: dict = {}
        for src, dst, p in model:
            term = Decimal(repr(p * val.get(dst, 0.0))).quantize(q12, ROUND_HALF_UP)
            acc[src] = acc.get(src, Decimal(0)) + term
        val = {s: _round_half_up(float(a), 10) for s, a in acc.items()}
        val["CONV"] = 1.0
    return val.get("START", 0.0)


# ------------------------------------------------ Shapley attribution

# Exact Shapley over the 2^|channels| coalition lattice: the
# characteristic function v(S) counts conversions from journeys whose
# (pre-conversion) channel set fits inside coalition S. With 4 channels
# all 16 subsets enumerate, so credit is EXACT — no sampling, and the
# whole computation is integer counts + one literal rational-weight
# fold (|S|! (n-|S|-1)! / n! = 6,2,2,6 / 24 at n=4).

_SHAP_N = len(ATTR_CHANNELS)
_SHAP_FACT = {0: 6, 1: 2, 2: 2, 3: 6}  # k!(n-k-1)! for n=4
_SHAP_DEN = 24


def _shap_v_expr(s_bits: int) -> str:
    """SQL aggregate: conversions whose channel mask fits inside S."""
    notS = (2**_SHAP_N - 1) ^ s_bits
    return f"sum(CASE WHEN (mask & {notS}) = 0 THEN conv ELSE 0 END)"


def _shap_phi_expr(ci: int) -> str:
    """SQL expression for channel ci's Shapley value over the v columns."""
    terms = []
    others = [i for i in range(_SHAP_N) if i != ci]
    for r in range(_SHAP_N):
        import itertools

        for sub in itertools.combinations(others, r):
            s_bits = sum(1 << i for i in sub)
            w = _SHAP_FACT[r]
            terms.append(f"{w} * (v{s_bits | (1 << ci)} - v{s_bits})")
    return "CAST(" + " + ".join(terms) + f" AS DOUBLE) / {_SHAP_DEN}"


_SHAP_MASK_BITS = " + ".join(
    f"CASE WHEN max(CASE WHEN state = '{c}' THEN 1 ELSE 0 END) = 1 "
    f"THEN {1 << i} ELSE 0 END"
    for i, c in enumerate(ATTR_CHANNELS)
)

_SHAP_V_COLS = ", ".join(
    f"{_shap_v_expr(s)} AS v{s}" for s in range(2**_SHAP_N)
)

_SHAP_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), firstconv AS (
    SELECT user_id, min(rn) AS conv_rn FROM seq
    WHERE event_type = '{ATTR_CONV}' GROUP BY user_id
), pre AS (
    SELECT s.user_id, s.event_type AS state,
           (f.conv_rn IS NOT NULL) AS converted
    FROM seq s LEFT JOIN firstconv f ON f.user_id = s.user_id
    WHERE f.conv_rn IS NULL OR s.rn < f.conv_rn
), per_user AS (
    SELECT user_id,
           CAST({_SHAP_MASK_BITS} AS BIGINT) AS mask,
           CAST(max(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS conv
    FROM pre GROUP BY user_id
), vv AS (
    SELECT {_SHAP_V_COLS} FROM per_user
)
"""
_SHAP_ORACLE += "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS channel,
       round({_shap_phi_expr(i)}, 6) AS shapley_conversions,
       CAST(v{2**_SHAP_N - 1} AS BIGINT) AS reachable_conversions,
       round(({_shap_phi_expr(i)}) / CAST(v{2**_SHAP_N - 1} AS DOUBLE), 6) AS share
FROM vv"""
    for i, c in enumerate(ATTR_CHANNELS)
)


@register("shapley_attribution", oracle=_SHAP_ORACLE)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over channel coalitions: each
    converting journey contributes its pre-conversion channel SET; the
    characteristic function v(S) counts conversions whose set fits in
    coalition S, and each channel's credit is the factorially-weighted
    marginal sum over all 2^(n-1) coalitions — enumerated fully (no
    Monte-Carlo sampling) since n = {_SHAP_N}. Zero-touch conversions
    (first event IS the purchase) have no assignable credit and cancel
    out of every marginal, so they are excluded and the efficiency
    axiom reads: credits sum to reachable_conversions exactly
    (pinned by tests/test_round3_ops.py). The game-theoretic
    complement to markov_attribution_removal: removal effects measure
    chain-flow damage, Shapley splits credit axiomatically
    (efficiency: the shares sum to v(all) - v(none)).

    Scale note: the journeys fold to ONE row per user (bitmask +
    converted flag), then to 2^n coalition counts inside a single
    partial-combined aggregate — corpus-sized work is one windowed
    pass + one groupBy; the factorial-weight fold is a literal
    expression over the 16 v columns. Exact enumeration is O(2^n);
    past ~12 channels you switch to permutation sampling (the
    documented cliff).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", F.col("event_type").alias("state"),
        F.row_number().over(w_seq).alias("rn"),
    )
    firstconv = (
        seq.where(F.col("state") == ATTR_CONV)
        .groupBy("user_id")
        .agg(F.min("rn").alias("conv_rn"))
    )
    pre = (
        seq.join(firstconv, "user_id", "left")
        .where(F.col("conv_rn").isNull() | (F.col("rn") < F.col("conv_rn")))
        .select("user_id", "state", F.col("conv_rn").isNotNull().alias("converted"))
    )
    mask_bits = None
    for i, c in enumerate(ATTR_CHANNELS):
        bit = F.when(
            F.max(F.when(F.col("state") == c, 1).otherwise(0)) == 1, 1 << i
        ).otherwise(0)
        mask_bits = bit if mask_bits is None else mask_bits + bit
    per_user = pre.groupBy("user_id").agg(
        mask_bits.cast("long").alias("mask"),
        F.max(F.when(F.col("converted"), 1).otherwise(0)).cast("long").alias("conv"),
    )
    vv = per_user.agg(
        *[F.expr(_shap_v_expr(s)).alias(f"v{s}") for s in range(2**_SHAP_N)]
    )
    # one stack over the single aggregate row — a per-channel UNION
    # would re-execute the corpus fold once per branch
    full = 2**_SHAP_N - 1
    stack_args = ", ".join(
        f"'{c}', round({_shap_phi_expr(i)}, 6), CAST(v{full} AS BIGINT), "
        f"round(({_shap_phi_expr(i)}) / CAST(v{full} AS DOUBLE), 6)"
        for i, c in enumerate(ATTR_CHANNELS)
    )
    return vv.selectExpr(
        f"stack({_SHAP_N}, {stack_args}) AS "
        "(channel, shapley_conversions, reachable_conversions, share)"
    )


# ------------------------------------------------ Kaplan-Meier survival

_KM_ORACLE = f"""
WITH per_user AS (
    SELECT user_id,
           min(ts) AS t0,
           min(CASE WHEN event_type = '{ATTR_CONV}' THEN ts END) AS t_event,
           max(ts) AS t_last
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
), dur AS (
    SELECT user_id,
           CAST((CAST(floor(epoch(coalesce(t_event, t_last))) AS BIGINT)
                 - CAST(floor(epoch(t0)) AS BIGINT)) // 86400 AS BIGINT)
               AS duration_days,
           (t_event IS NOT NULL) AS observed
    FROM per_user
), steps AS (
    SELECT duration_days,
           CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS d_events,
           count(*) AS n_ending
    FROM dur GROUP BY duration_days
), risked AS (
    SELECT duration_days, d_events,
           (SELECT count(*) FROM dur)
             - coalesce(sum(n_ending) OVER (ORDER BY duration_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
    FROM steps
)
SELECT duration_days, CAST(n_risk AS BIGINT) AS n_risk, d_events,
       round(CAST(d_events AS DOUBLE) / n_risk, 8) AS hazard,
       round(exp(sum(CASE WHEN d_events = n_risk THEN -1000000000.0
                          ELSE round(ln(1.0 - CAST(d_events AS DOUBLE) / n_risk), 10)
                     END)
                 OVER (ORDER BY duration_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
           AS survival
FROM risked
WHERE d_events > 0
"""


@register(
    "kaplan_meier_survival",
    oracle=_KM_ORACLE,
    bounded_window="distinct day-granular durations (fixed time span)",
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve with right censoring:
    duration = days from a user's first event to first purchase, or to
    their last event (censored) when they never convert — the survival
    estimate S(d) = prod over steps (1 - d_events/n_risk) that retention
    and time-to-value dashboards are built on, with censoring handled
    correctly (naive conversion-time averages silently drop
    non-converters and bias early).

    Determinism: risk sets and event counts are exact integers from
    one per-user fold + one per-duration fold; the product runs as
    exp(cumulative-sum of ln terms rounded at 10 dp) in duration order
    — identical ordering in both engines, output rounded at 6 dp (the
    dp_noise/weighted-sample ln precedent).

    Scale note: corpus work is two partial-combined folds; the curve
    itself is O(distinct durations) rows, and the cumulative window
    over it is duration-ordered on that tiny table (single-partition
    by nature, not by accident).
    """
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == ATTR_CONV, F.col("ts"))).alias("t_event"),
        F.max("ts").alias("t_last"),
    )
    end = F.coalesce(F.col("t_event"), F.col("t_last"))
    dur = per_user.select(
        (
            (F.unix_timestamp(end) - F.unix_timestamp(F.col("t0")))
            / F.lit(86400)
        )
        .cast("long")
        .alias("duration_days"),
        F.col("t_event").isNotNull().alias("observed"),
    )
    steps = dur.groupBy("duration_days").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).cast("long").alias("d_events"),
        F.count(F.lit(1)).alias("n_ending"),
    )
    total = dur.agg(F.count(F.lit(1)).alias("n_total"))
    w_prev = (
        Window.orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.orderBy("duration_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risked = steps.crossJoin(F.broadcast(total)).select(
        "duration_days",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_ending").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    hazard = F.col("d_events").cast("double") / F.col("n_risk")
    return risked.select(
        "duration_days",
        F.col("n_risk").cast("long").alias("n_risk"),
        "d_events",
        F.round(hazard, 8).alias("hazard"),
        F.round(
            F.exp(
                F.sum(
                    # the terminal step (everyone at risk converts) has
                    # ln(0): DuckDB raises, Spark yields -inf — pin an
                    # explicit sentinel whose exp is exactly 0.0 in both
                    F.when(
                        F.col("d_events") == F.col("n_risk"), F.lit(-1e9)
                    ).otherwise(F.round(F.log(F.lit(1.0) - hazard), 10))
                ).over(w_cum)
            ),
            6,
        ).alias("survival"),
    ).where(F.col("d_events") > 0)
