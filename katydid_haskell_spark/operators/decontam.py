"""Benchmark decontamination for training-data pipelines.

Flags training documents that share word n-grams with an evaluation /
benchmark set (the GPT-3 appendix-C / Dolma-style 13-gram collision
check, parameterized n).  The 100-TB shape: the benchmark side is tiny
(thousands of eval documents) versus the corpus, so its distinct n-grams
are BROADCAST and the corpus side is a map-side explode + broadcast hash
join — the only shuffle is the final per-doc_id partial-aggregated
count, never the raw text.

Both sides use the shared word split from ``textops`` so the DuckDB
oracle can re-derive the identical gram sets in SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from katydid_haskell_spark.operators.textops import _WORD_SPLIT


def distinct_ngrams_udf(n: int, short_fallback: bool = False):
    """Arrow-vectorized distinct word n-grams per document.

    One Python pass per batch.  The Catalyst formulation
    (``transform(sequence(...), i -> element_at(ws, i+j)...)``) is the
    slow path here: array HOFs evaluate interpreted (no codegen, no
    common-subexpression elimination), so every ``element_at`` re-runs
    the full lower/split/filter word pipeline — measured 41s per 5000
    docs at sf0.1 vs milliseconds for this UDF.  Same word split as
    textops.words / the SQL oracle.

    ``short_fallback=True`` gives documents shorter than n words one
    whole-text shingle (the space-joined word list) instead of no grams —
    used by the jaccard path, whose oracle mirrors it.
    """
    import re

    from pyspark.sql.functions import pandas_udf

    word_re = re.compile(_WORD_SPLIT)

    @pandas_udf("array<string>")
    def grams(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = [w for w in word_re.split((t or "").lower()) if w]
            if len(ws) < n:
                out.append([" ".join(ws)] if short_fallback else [])
            else:
                out.append(sorted({" ".join(ws[i:i + n])
                                   for i in range(len(ws) - n + 1)}))
        return pd.Series(out)

    # asNondeterministic: the optimizer otherwise pushes derived
    # predicates (size(grams) > 0 / isnotnull from the explode) below
    # the projection and re-evaluates the UDF once per reference — the
    # r9 corpus_curation_full plan showed TWO stacked ArrowEvalPython
    # grams nodes.  The fn is pure; only reorder/duplicate freedom is
    # removed (guide-§4.4 pattern).
    return grams.asNondeterministic()


def _distinct_grams(df: DataFrame, id_col: str, text_col: str,
                    n: int, out_id: str) -> DataFrame:
    """(out_id, gram) rows: distinct word n-grams per document.

    Documents with fewer than n words contribute no grams (they cannot
    collide at length n) — mirrored exactly in the SQL oracle.
    """
    return (
        df.select(F.col(id_col).alias(out_id),
                  distinct_ngrams_udf(n)(F.col(text_col)).alias("grams"))
        .select(out_id, F.explode("grams").alias("gram"))
    )


#: Eval-gram count above which the benchmark side is no longer broadcast.
#: ~1M grams ≈ 60-100 MB serialized — comfortably under executor memory
#: here but the right order of magnitude for a per-executor broadcast
#: budget on a shared cluster; a million-DOC eval suite at n=4 word-grams
#: blows far past it and must shuffle instead.
BROADCAST_MAX_GRAMS = 1_000_000


def _semi_join_guarded(probe: DataFrame, build: DataFrame, key: str,
                       how: str, max_grams: int) -> DataFrame:
    """LEFT SEMI / inner join with a counted broadcast guard.

    Broadcasting the benchmark gram set is only correct-by-default while
    it is executor-memory small.  One early-exit count (LIMIT k+1, so a
    huge eval side never pays a full count) decides: under the threshold
    → explicit broadcast hash join (map-side, no shuffle of the corpus
    grams); over it → plain shuffle join, where Catalyst/AQE pick the
    strategy for two genuinely large sides.  The guard counts BUILD ROWS
    — the actual broadcast payload — which on the left-semi path (build
    already collapsed to DISTINCT grams) equals the distinct gram count,
    and on the inner path ((gram, eval_id) rows) is the conservative
    upper bound on it.

    COMPUTE-ONCE discipline (round 7): the build side is persisted for
    the probe, and the under-threshold branch pulls the (guard-bounded,
    <= max_grams rows) gram set to the driver via Arrow and broadcasts
    a LOCAL copy — the driver hop is exactly what BroadcastExchange does
    anyway, so this costs nothing extra while letting the cache be
    dropped before returning.  The r6 fix for the session-lifetime cache
    leak dropped the persist entirely, which re-ran the eval gram
    pipeline once for the probe and again for the join — a measured,
    frozen-commit-attributed +35% on decontam_overlap (BENCH/HISTORY).
    The over-threshold branch recomputes the (genuinely large) build in
    the shuffle join rather than leaking the cache, as before.
    """
    build = build.persist()
    try:
        # one job, not two (r9): the guard-bounded LIMIT k+1 Arrow pull
        # IS the probe — k+1 rows back means over-threshold; <= k rows
        # back is already the complete gram set to broadcast
        pdf = build.limit(max_grams + 1).toPandas()
        if len(pdf) <= max_grams:
            local = probe.sparkSession.createDataFrame(
                pdf, schema=build.schema)
            return probe.join(F.broadcast(local), key, how)
        return probe.join(build, key, how)
    finally:
        build.unpersist()


def ngram_overlap(train: DataFrame, eval_set: DataFrame, id_col: str,
                  text_col: str, n: int = 13,
                  count_eval_docs: bool = False,
                  broadcast_max_grams: int = BROADCAST_MAX_GRAMS
                  ) -> DataFrame:
    """Per training document: overlap with the benchmark n-gram set.

    Default output (id_col, n_hit_grams): distinct training-doc n-grams
    that appear in ANY eval doc.  The eval side is collapsed to a
    DISTINCT gram set and the probe is a LEFT SEMI join — broadcast
    while the gram set stays under ``broadcast_max_grams`` (counted
    guard, see :func:`_semi_join_guarded`), shuffle past it — so the
    join output is bounded by the training gram count no matter how
    many eval docs share a gram.

    ``count_eval_docs=True`` adds ``n_eval_docs`` (distinct eval docs
    sharing >=1 gram) — this REQUIRES the full (train-gram x eval-gram)
    pair join, whose output is sum over grams of |train| x |eval|
    multiplicity: quadratic on high-collision vocabularies (measured
    124s vs ~1s at sf0.1 on the synthetic corpus).  Keep it for small
    targeted audits, never the corpus-wide pass.
    """
    tg = _distinct_grams(train, id_col, text_col, n, id_col)
    eg = _distinct_grams(eval_set, id_col, text_col, n, "eval_id")
    if count_eval_docs:
        hits = _semi_join_guarded(tg, eg, "gram", "inner",
                                  broadcast_max_grams)
        return (
            hits.groupBy(id_col)
            .agg(
                F.countDistinct("gram").alias("n_hit_grams"),
                F.countDistinct("eval_id").alias("n_eval_docs"),
            )
        )
    eset = eg.select("gram").distinct()
    hits = _semi_join_guarded(tg, eset, "gram", "left_semi",
                              broadcast_max_grams)
    # tg is distinct per (doc, gram) already -> plain count == distinct
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_hit_grams"))


def decontaminate(train: DataFrame, eval_set: DataFrame, id_col: str,
                  text_col: str, n: int = 13,
                  min_hits: int = 1,
                  broadcast_max_grams: int = BROADCAST_MAX_GRAMS
                  ) -> DataFrame:
    """Training rows with fewer than ``min_hits`` benchmark n-gram
    collisions — the kept (clean) corpus, original columns preserved.
    Uses the bounded semi-join overlap (never the pair join)."""
    dirty = (
        ngram_overlap(train, eval_set, id_col, text_col, n,
                      broadcast_max_grams=broadcast_max_grams)
        .filter(F.col("n_hit_grams") >= min_hits)
        .select(id_col)
    )
    return train.join(dirty, id_col, "left_anti")
