"""Distribution-drift constraints: KL divergence / PSI over histograms
(SURVEY.md §2.6).

The heavy pass is one ``groupBy(bucket).count()`` per metric (partial+final
hash agg).  The resulting histograms are tiny (hundreds of buckets), so the
comparison with the baseline is a reduction over their union, in one
partition: one aggregate matches buckets, a second gathers each rule's
bucket list with its totals, and higher-order functions sum the PSI/KL
terms over that list.  No join, no cross join, no exchange, no second
scan, no driver-side math; every drift rule of a plan shares the same two
aggregates.

PSI = Σ (p_i − q_i) · ln(p_i / q_i)   (current p vs baseline q)
KL  = Σ p_i · ln(p_i / q_i)
with Laplace-style smoothing so empty buckets don't produce infinities.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def text_len_bucket(col: Column, width: int = 50) -> Column:
    """Fixed-width bucketing of a length metric."""
    return F.floor(F.coalesce(F.length(col), F.lit(-1)) / width).cast("long")


def ts_day_bucket(col: Column) -> Column:
    """Day-index bucketing of a timestamp."""
    return F.floor(col.cast("long") / 86400).cast("long")


def histogram(df: DataFrame, bucket: Column) -> DataFrame:
    """(bucket, cnt) histogram — one partial+final hash aggregation."""
    return df.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def divergences_by_rule(current: DataFrame, baseline: DataFrame,
                        n_rules: int, eps: float = 1e-6) -> DataFrame:
    """One row per rule in ``range(n_rules)``: rule, psi, kl, n_current,
    n_baseline.

    Both inputs are (rule, bucket, cnt) histograms tagged with an int rule
    index; a bucket occurs at most once per rule and side, as
    :func:`histogram` produces it.  Buckets match as in
    ``FULL OUTER JOIN USING (bucket)``: a NULL bucket never matches the
    other side.  A rule with no bucket on either side still gets its row,
    with NULL psi/kl/n_current/n_baseline.
    """
    def side(h: DataFrame, s: int) -> DataFrame:
        return h.select("rule", "bucket", F.lit(s).alias("side"), "cnt")

    def cnt_on(s: int) -> Column:
        return F.coalesce(F.sum(F.when(F.col("side") == s, F.col("cnt"))),
                          F.lit(0))

    # the histograms are tiny: each aggregate below reads ONE partition,
    # so neither needs an exchange
    tagged = side(current, 0).unionByName(side(baseline, 1)).coalesce(1)
    per_bucket = tagged.groupBy(
        "rule", "bucket",
        # a NULL bucket keys on its side, so it never meets the other's
        F.when(F.col("bucket").isNull(), F.col("side")).alias("null_side"),
    ).agg(
        cnt_on(0).alias("cnt_p"), cnt_on(1).alias("cnt_q"),
    ).select("rule", "cnt_p", "cnt_q")
    # one bucket-less row per rule, so every rule reaches the groupBy below
    seeds = current.sparkSession.range(n_rules).select(
        F.col("id").cast("int").alias("rule"),
        F.lit(None).cast("long").alias("cnt_p"),
        F.lit(None).cast("long").alias("cnt_q"),
    )
    totals = per_bucket.unionByName(seeds).coalesce(1).groupBy("rule").agg(
        F.sum("cnt_p").alias("np"),
        F.sum("cnt_q").alias("nq"),
        F.count("cnt_p").alias("k"),
        # sorted, so the float sums below do not depend on row order
        F.array_sort(F.collect_list(F.when(
            F.col("cnt_p").isNotNull(), F.struct("cnt_p", "cnt_q"),
        ))).alias("buckets"),
    )

    def total(term) -> Column:
        def add(acc: Column, b: Column) -> Column:
            p = (b["cnt_p"] + F.lit(eps)) / (F.col("np") + F.col("k") * eps)
            q = (b["cnt_q"] + F.lit(eps)) / (F.col("nq") + F.col("k") * eps)
            return acc + term(p, q)
        return F.when(F.col("k") > 0,
                      F.aggregate("buckets", F.lit(0.0), add))

    return totals.select(
        "rule",
        total(lambda p, q: (p - q) * F.log(p / q)).alias("psi"),
        total(lambda p, q: p * F.log(p / q)).alias("kl"),
        F.col("np").alias("n_current"),
        F.col("nq").alias("n_baseline"),
    )


def divergences(current: DataFrame, baseline: DataFrame,
                eps: float = 1e-6) -> DataFrame:
    """One row: psi, kl, n_current, n_baseline.

    Both inputs are (bucket, cnt) histograms; the one-rule case of
    :func:`divergences_by_rule`.
    """
    def one(h: DataFrame) -> DataFrame:
        return h.select(F.lit(0).alias("rule"), "bucket", "cnt")

    return divergences_by_rule(one(current), one(baseline), 1,
                               eps).drop("rule")
