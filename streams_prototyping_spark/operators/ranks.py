"""Scalable exact rank location — the repo-wide replacement for
``row_number().over(Window.orderBy(...))`` with an empty partition
spec.

Spark plans a window with no PARTITION BY as ``Exchange
SinglePartition`` + one sorting task: every input row moves to ONE
core, a parallelism ceiling that correctness tests and scaling alphas
cannot see on a 32-thread box (the sort still scales in *time*, it
just stops scaling in *machines*). Round-5 verdict flagged five such
plans; this module is the fix for the class.

The trick (already used by ks_test_two_sample / roc_auc /
equidepth_value_histogram): an exact type-1 quantile or k-th order
statistic never needs per-ROW ranks — only cumulative COUNTS over the
DISTINCT value domain. ``value_cum_counts`` collapses the input with
one keyed aggregate and cumulates counts over distinct values; the
value at rank k is the unique row with ``cum_before < k <= cum``.

Two shapes:

- ``value_cum_counts(df, col)`` — single-level. The remaining global
  window runs over the distinct-value table *ordered by its own
  grouping key*, so its size is the value DOMAIN (2-dp money, integer
  seconds, 6-dp residuals), not the corpus. Use when the domain is
  bounded by value semantics.
- ``bucketed_cum_counts(df, col, bucket_of)`` — two-level distributed
  prefix sum for UNBOUNDED domains (e.g. per-customer monetary sums):
  per-bucket subtotals cumulate on the tiny bucket table (global
  window over an aggregate of buckets), then each bucket's interior
  cumulates under ``Window.partitionBy(bucket)`` — fully parallel; no
  operator anywhere touches more than one bucket per task.
  ``bucket_of`` must be monotone non-decreasing in the value.

Both return ``(value_col, cnt, cum, cum_before)`` with ``cum`` =
number of rows with value <= v (ascending order). Descending-order
ranks derive algebraically: ``cum_desc(v) = n - cum_before(v)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# r12: row-count threshold above which the stats-audit family switches
# its cumulative passes from the single global-window shape to the
# two-level bucket prefix. Measured at sf0.1 (583k distinct prices):
# the two-level machinery's extra stages (bucket agg + broadcast +
# join) cost MORE than the ~0.4 s single task they replace —
# equidepth 1.37 -> 1.86 s, psi 1.50 -> 2.16 s — while at sf100-scale
# domains (millions of distinct values) the single task is the
# asymptotic bottleneck the round-5 verdict flagged. Both shapes are
# oracle-verified (setting this to 0 forces the two-level path at any
# SF; the full-registry contract was run green both ways at sf0.01).
TWO_LEVEL_MIN_ROWS = 4_000_000


def value_cum_counts(df: DataFrame, value_col: str) -> DataFrame:
    """Distinct-value cumulative counts, single-level.

    The global window is over the aggregate's own grouping key — the
    shape the plan lint (plans/introspect.unbounded_global_windows)
    recognizes as domain-bounded.
    """
    per = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(value_col).rowsBetween(Window.unboundedPreceding, 0)
    cum = F.sum("cnt").over(w)
    return per.select(
        value_col,
        "cnt",
        cum.alias("cum"),
        (cum - F.col("cnt")).alias("cum_before"),
    )


def bucketed_cum_counts(
    df: DataFrame, value_col: str, bucket_of: Callable[[Column], Column]
) -> DataFrame:
    """Two-level distributed prefix sum over distinct values.

    ``bucket_of(value)`` coarsens the value into a monotone bucket id;
    bucket offsets cumulate on the O(buckets) table, interiors under a
    PARTITION BY bucket window. Exactly equivalent to
    ``value_cum_counts`` output, but no single task ever sees more
    than one bucket's distinct values.
    """
    per = (
        df.groupBy(value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_bkt", bucket_of(F.col(value_col)))
    )
    bkt = per.groupBy("_bkt").agg(F.sum("cnt").alias("bcnt"))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    boff = bkt.select(
        "_bkt", (F.sum("bcnt").over(wb) - F.col("bcnt")).alias("_boff")
    )
    wv = Window.partitionBy("_bkt").orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = F.col("_boff") + F.sum("cnt").over(wv)
    return per.join(F.broadcast(boff), "_bkt").select(
        value_col,
        "cnt",
        cum.alias("cum"),
        (cum - F.col("cnt")).alias("cum_before"),
    )


def bucketed_row_cum(
    df: DataFrame,
    value_col: str,
    bucket_of: Callable[[Column], Column],
    out_col: str,
    ascending: bool = True,
) -> DataFrame:
    """Per-ROW inclusive cumulative count — the cume_dist numerator
    (rows whose value sorts <= this row's, ties included), computed
    bucket-parallel with no single-partition exchange.

    Same two-level construction as ``bucketed_cum_counts`` but applied
    at row granularity: bucket offsets cumulate on the O(buckets)
    aggregate, each bucket's interior uses a RANGE frame under
    ``Window.partitionBy(bucket)`` (RANGE so ties share the count —
    exactly DuckDB's ``count(*) OVER (ORDER BY v RANGE UNBOUNDED
    PRECEDING)``). ``ascending=False`` counts rows with value >= this
    row's instead. ``bucket_of`` must be monotone non-decreasing.
    """
    order = F.col(value_col).asc() if ascending else F.col(value_col).desc()
    b = df.withColumn("_bkt", bucket_of(F.col(value_col)))
    bkt = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("bcnt"))
    wb = Window.orderBy(
        F.col("_bkt").asc() if ascending else F.col("_bkt").desc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    boff = bkt.select(
        "_bkt", (F.sum("bcnt").over(wb) - F.col("bcnt")).alias("_boff")
    )
    wv = Window.partitionBy("_bkt").orderBy(order).rangeBetween(
        Window.unboundedPreceding, 0
    )
    return (
        b.join(F.broadcast(boff), "_bkt")
        .withColumn(out_col, F.col("_boff") + F.count(F.lit(1)).over(wv))
        .drop("_bkt", "_boff")
    )


def bucketed_running_sums(
    df: DataFrame,
    bucket: Column,
    order: list[Column],
    measures: dict[str, Column],
) -> DataFrame:
    """Row-level INCLUSIVE running sums over a total order, computed
    bucket-parallel — the scalable form of ``sum(x) OVER (ORDER BY ...
    ROWS UNBOUNDED PRECEDING)`` (and of ``row_number`` via a lit(1)
    measure).

    ``bucket`` must be monotone NON-DECREASING along ``order`` (for a
    descending leading key, negate it into the bucket). Per-bucket
    subtotals cumulate on the O(buckets) table — the only remaining
    global window, over an aggregate the plan lint accepts under a
    bounded_window annotation — then each bucket's interior cumulates
    under ``Window.partitionBy(bucket)``. ROWS frame: the order must be
    a TOTAL order (tie-broken), as all call sites tie-break on a key.

    At 1000x, bucket width is the knob: buckets/task stays O(rows /
    width); the offset table is rows/width long (recurse to a third
    level before that ever exceeds one task's memory).
    """
    b = df.withColumn("_bkt", bucket)
    bkt = b.groupBy("_bkt").agg(
        *[F.sum(src).alias(f"_b_{out}") for out, src in measures.items()]
    )
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    off = bkt.select(
        "_bkt",
        *[
            (F.sum(f"_b_{out}").over(wb) - F.col(f"_b_{out}")).alias(f"_o_{out}")
            for out in measures
        ],
    )
    wv = Window.partitionBy("_bkt").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    res = b.join(F.broadcast(off), "_bkt")
    for out, src in measures.items():
        res = res.withColumn(out, F.col(f"_o_{out}") + F.sum(src).over(wv))
    return res.drop("_bkt", *[f"_o_{out}" for out in measures])


def value_at_rank(rank: Column) -> Column:
    """Predicate (over a *_cum_counts frame) selecting the row holding
    the rank-th value (1-based, ascending): ``cum_before < rank <= cum``."""
    return (F.col("cum") >= rank) & (F.col("cum_before") < rank)
