"""Referential-integrity constraints (SURVEY.md §2.6).

Foreign-key containment via **broadcast left-anti join**: the dimension side
(e.g. ~180 ISO-639 codes) broadcasts to every executor, so the check is a
map-only pass over the fact table — zero shuffle at any scale.

When the dimension itself is too large to broadcast raw (10^9 surrogate
keys ≈ 8 GB), :func:`orphan_rows_bloom` is the scale path: a Bloom
filter over the dimension keys (~10 bits/key, built DISTRIBUTED — the
build shuffles one int64 word per bucket, never the keys) probes the
fact map-side and yields DEFINITE orphans.  Present keys always pass a
Bloom filter, so every reported orphan is real; the trade is that a
false-positive fraction ε of true orphans is missed — the analogue of
the approx heavy-hitter mode (skew.py): a one-sided bound, never to be
swapped into an exactly-oracled query.
"""

from __future__ import annotations

import math
from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_rows(fact: DataFrame, fk: str, dim: DataFrame,
                dim_key: str) -> DataFrame:
    """Fact rows whose fk has no match in the dimension (NULL fk counts as
    an orphan, matching strict FK semantics for required references)."""
    matched = fact.join(
        F.broadcast(dim.select(F.col(dim_key).alias(fk)).distinct()),
        on=fk,
        how="left_anti",
    )
    return matched


_BLOOM_SALT = "kh-bloom-h2"


def _bloom_hashes(col: F.Column) -> Tuple[F.Column, F.Column]:
    """Double-hashing pair (h1, h2) as JVM xxhash64 columns — probe and
    build MUST use the same hash family, so both sides derive positions
    from these two columns (position i = h1 + i*h2, as uint64)."""
    return F.xxhash64(col), F.xxhash64(F.lit(_BLOOM_SALT), col)


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, k: int,
                     m: int) -> np.ndarray:
    """k bit positions per key by double hashing, in uint64 (wrapping —
    Spark's ANSI mode would raise on the same arithmetic as int64, which
    is why BOTH build and probe compute positions through this one
    numpy routine).  Shape (k, n)."""
    a = h1.astype(np.uint64)
    c = h2.astype(np.uint64) | np.uint64(1)  # odd stride: full cycle
    mm = np.uint64(m)
    return np.stack([(a + np.uint64(i) * c) % mm for i in range(k)])


def build_key_bloom(dim: DataFrame, dim_key: str,
                    bits_per_key: int = 10,
                    n_hashes: int = 5) -> Tuple[np.ndarray, int, int]:
    """Distributed Bloom filter over the dimension keys.

    m = 2^b bits sized from a cheap count (``bits_per_key`` ≈ 10 with
    k = 5 hashes → ε ≈ 1%).  The build maps each key to its k word
    positions (Arrow batch) and merges with ``groupBy(word >> 6)
    .agg(bit_or)`` — the shuffle carries at most m/64 one-long rows per
    map task, never the keys, and the driver collects exactly the m/64
    words (8 MB at m = 2^26).  Returns (words uint64[m/64], b, k).
    """
    n = dim.select(dim_key).distinct().count()
    b = max(10, math.ceil(math.log2(max(n, 1) * bits_per_key)))
    m = 1 << b
    k = n_hashes

    @F.pandas_udf("array<long>")
    def key_positions(h1: pd.Series, h2: pd.Series) -> pd.Series:
        pos = _bloom_positions(h1.to_numpy(dtype=np.int64),
                               h2.to_numpy(dtype=np.int64), k, m)
        return pd.Series(list(pos.astype(np.int64).T))

    h1, h2 = _bloom_hashes(F.col(dim_key))
    words = (
        dim.select(F.explode(key_positions(h1, h2)).alias("p"))
        .select(F.shiftrightunsigned("p", 6).alias("w"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"))
        .groupBy("w").agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    arr = np.zeros(m >> 6, dtype=np.uint64)
    for r in words:
        arr[r["w"]] = np.uint64(r["word"] & ((1 << 64) - 1))
    return arr, b, n_hashes


def orphan_rows_bloom(fact: DataFrame, fk: str, dim: DataFrame,
                      dim_key: str, bits_per_key: int = 10,
                      n_hashes: int = 5) -> DataFrame:
    """DEFINITE orphans via a Bloom pre-filter — zero fact shuffle, no
    dimension broadcast beyond the ~m/64-long word array in the UDF
    closure (10× smaller than the raw keys).

    One-sided: every returned row is a true orphan (present keys cannot
    fail a Bloom probe); a false-positive fraction ε of true orphans is
    missed.  NULL fks are orphans by strict-FK fiat (their hash is a
    constant that could collide with a set bit, so they are forced
    rather than probed).
    """
    arr, b, k = build_key_bloom(dim, dim_key, bits_per_key, n_hashes)
    m = np.uint64(1 << b)

    @F.pandas_udf("boolean")
    def bloom_miss(h1: pd.Series, h2: pd.Series) -> pd.Series:
        pos = _bloom_positions(h1.to_numpy(dtype=np.int64),
                               h2.to_numpy(dtype=np.int64), k, int(m))
        hit = np.ones(pos.shape[1], dtype=bool)
        for i in range(k):
            p = pos[i]
            w = arr[(p >> np.uint64(6)).astype(np.int64)]
            bit = np.uint64(1) << (p & np.uint64(63))
            hit &= (w & bit) != 0
        return pd.Series(~hit)

    h1, h2 = _bloom_hashes(F.col(fk))
    return fact.filter(
        F.col(fk).isNull() | bloom_miss(h1, h2))
