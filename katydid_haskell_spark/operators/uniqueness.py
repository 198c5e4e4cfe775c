"""Uniqueness constraints (SURVEY.md §2.6).

Duplicate detection is a hash-aggregate shuffle on the key.  At 10^12 rows
the aggregate is partial+final (map-side combine shrinks the shuffle to one
row per distinct key per task); AQE splits skewed reducers.  Violations are
produced directly from the aggregate — no join back to the fact table is
needed for (key, count) reporting.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keys appearing more than once → (keys..., dup_count)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )
