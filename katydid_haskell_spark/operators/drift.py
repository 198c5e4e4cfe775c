"""Distribution-drift constraints: KL divergence / PSI over histograms
(SURVEY.md §2.6).

The heavy pass is one ``groupBy(bucket).count()`` per metric (partial+final
hash agg).  The resulting histogram is tiny (hundreds of buckets), so the
baseline comparison is a full-outer join of two tiny histograms (a sort-merge
join: Spark cannot broadcast either side of a full outer join) + Column
arithmetic — no second scan, no driver-side math.

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


def divergences(current: DataFrame, baseline: DataFrame,
                eps: float = 1e-6) -> DataFrame:
    """One row: psi, kl, n_current, n_baseline.

    Both inputs are (bucket, cnt) histograms.
    """
    cur = current.select("bucket", F.col("cnt").alias("cnt_p"))
    base = baseline.select("bucket", F.col("cnt").alias("cnt_q"))
    joined = cur.join(base, "bucket", "full_outer").select(
        F.coalesce("cnt_p", F.lit(0)).alias("cnt_p"),
        F.coalesce("cnt_q", F.lit(0)).alias("cnt_q"),
    )
    tot = joined.agg(
        F.sum("cnt_p").alias("np"), F.sum("cnt_q").alias("nq"),
        F.count(F.lit(1)).alias("k"),
    )
    withp = joined.crossJoin(F.broadcast(tot)).select(
        ((F.col("cnt_p") + F.lit(eps)) / (F.col("np") + F.col("k") * eps)).alias("p"),
        ((F.col("cnt_q") + F.lit(eps)) / (F.col("nq") + F.col("k") * eps)).alias("q"),
        "np", "nq",
    )
    return withp.agg(
        F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"),
        F.sum(F.col("p") * F.log(F.col("p") / F.col("q"))).alias("kl"),
        F.first("np").alias("n_current"),
        F.first("nq").alias("n_baseline"),
    )


def drift_verdict(current_hist: DataFrame, baseline_hist: DataFrame,
                  rule_id: str, max_psi: float = 0.2,
                  metric: str = "psi") -> DataFrame:
    d = divergences(current_hist, baseline_hist)
    m = F.col(metric)
    return d.select(
        F.lit(rule_id).alias("rule_id"),
        F.lit("table").alias("scope"),
        (m <= F.lit(max_psi)).alias("pass"),
        m.cast("double").alias("metric"),
        F.concat(
            F.lit(f"{metric}="), F.round(m, 6).cast("string"),
            F.lit(f" threshold={max_psi} n_cur="), F.col("n_current"),
            F.lit(" n_base="), F.col("n_baseline"),
        ).alias("detail"),
    )
