"""Per-column statistics constraints (SURVEY.md §2.6).

Stat rules are evaluated by the fused CheckPlan
(:func:`..plans.checkplan.run_plan_fused`): mergeable metrics ride its
per-bucket rollup — Catalyst gives partial+final hash aggregation for free,
so at 10^12 rows this is one scan + a tiny all-to-one reduce of
pre-aggregated values.  Distinct counts use per-bucket HLL sketches
(``hll_sketch_agg``), mergeable across buckets and runs.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class StatRule:
    """A threshold check over a column statistic.

    metric: one of null_rate, min, max, count, mean, approx_distinct,
    distinct, pNN (exact percentile) or approx_pNN (KLL sketch)
    op: one of le, ge, lt, gt, eq, between
    """

    rule_id: str
    column: str
    metric: str
    op: str
    value: object
    value_hi: object = None


def _metric_col(metric: str, c: str) -> Column:
    """The exact, non-mergeable metrics — ``distinct`` and exact ``pNN``
    — which the fused plan evaluates in its one extra global pass."""
    if metric == "distinct":
        # exact distinct — a full shuffle at scale; prefer approx_distinct
        # (HLL, mergeable) unless exact parity with an external oracle is
        # required.
        return F.count_distinct(F.col(c))
    p = _parse_percentile_metric(metric)
    if p is not None and p[0] == "percentile":
        return F.expr(f"percentile(`{c}`, {p[1]!r})")
    raise ValueError(f"unknown stat metric: {metric}")


def _parse_percentile_metric(metric: str):
    """``p95`` / ``p99.9`` → exact percentile; ``approx_p95`` → the
    mergeable KLL sketch path (tag ``"kll"``).  Returns (tag, prob) or
    None."""
    fn = "percentile"
    if metric.startswith("approx_p"):
        fn, metric = "kll", metric[len("approx_"):]
    if not metric.startswith("p"):
        return None
    try:
        q = float(metric[1:]) / 100.0
    except ValueError:
        return None
    if not 0.0 <= q <= 1.0:
        return None
    return fn, q


def _check(op: str, m: Column, v, v_hi=None) -> Column:
    if not isinstance(v, Column):
        v = F.lit(v)
    if v_hi is not None and not isinstance(v_hi, Column):
        v_hi = F.lit(v_hi)
    if op == "le":
        return m <= v
    if op == "ge":
        return m >= v
    if op == "lt":
        return m < v
    if op == "gt":
        return m > v
    if op == "eq":
        return m == v
    if op == "between":
        return (m >= v) & (m <= v_hi)
    raise ValueError(f"unknown stat op: {op}")


def hll_bucket_sketches(df: DataFrame, column: str,
                        bucket_col: str = "bucket") -> DataFrame:
    """Per-bucket HLL sketches — mergeable distinct-count state for
    incremental / resumable rollup (Spark >= 3.5 hll_sketch_agg)."""
    return df.groupBy(bucket_col).agg(
        F.hll_sketch_agg(column).alias("sketch"),
        F.count(F.lit(1)).alias("rows"),
    )


def hll_merge_estimate(sketches: DataFrame) -> DataFrame:
    """Union per-bucket sketches → one global distinct estimate."""
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("distinct_estimate"),
        F.sum("rows").alias("rows"),
    )


def percentile_profile(df: DataFrame, key_cols: Sequence[str], column: str,
                       probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
                       exact: bool = True) -> DataFrame:
    """Per-group percentiles of a numeric column → one row per group with
    (keys, n, p25, p50, ...) scalar double columns.

    ``exact=True`` uses Spark ``percentile`` (type-7 linear interpolation
    — verified bit-identical to DuckDB ``quantile_cont``); exact
    percentiles sort each group, so at crawl scale prefer
    ``exact=False`` → ``approx_percentile`` (Greenwald-Khanna sketch,
    mergeable, bounded memory).  Both modes share one schema: the
    p-columns are cast to DOUBLE (``approx_percentile`` otherwise
    returns the input column's type — BIGINT on long columns, a
    pandas/value-hash hazard), though the approx VALUES still differ
    from exact and are never oracle-gated.
    """
    fn = "percentile" if exact else "approx_percentile"
    arr = ", ".join(repr(float(p)) for p in probs)
    pcol = F.expr(f"{fn}(`{column}`, array({arr}))")
    # label p25 / p50 / p99_9 (fractional percentiles keep their digits —
    # int(round(...)) would collapse 0.999 into p100)
    label = lambda p: "p" + ("%g" % (p * 100)).replace(".", "_")
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.element_at(pcol, i + 1).cast("double").alias(label(p))
        for i, p in enumerate(probs)
    ]
    return df.groupBy(*key_cols).agg(*aggs)
