"""Deduplication operators for training-data pipelines.

Five families, each designed around Spark's shuffle model:

- **exact**: hash-groupBy on a normalized-content fingerprint (one shuffle
  of (hash, id) pairs — the map side emits 64-bit keys, not documents).
- **MinHash + LSH**: shingle → n minhashes → b bands; candidate pairs come
  from a self-join *within band buckets* (shuffle keyed by (band, bucket
  hash), so only colliding docs meet); verified with exact Jaccard.
- **SimHash**: 64-bit signature, split into 4×16-bit bands; near-dups =
  pairs agreeing on ≥1 band with Hamming distance ≤ k (bit ops, JVM-side).
- **n-gram Jaccard**: exact verification on candidate pairs only.
- **embedding cosine**: see :mod:`.similarity` (near-dup = cosine ≥ τ).
- **clustering**: :func:`connected_components` turns verified pairs into
  dedup groups (min-label propagation; canonical = min doc id).

MinHash signatures use the classic ``(a*x + b) mod p`` permutations over
md5-derived word/shingle hashes (md5 so the DuckDB oracle can re-derive
the identical signatures), computed as Arrow-batched numpy.
"""

from __future__ import annotations

import re
from functools import lru_cache
from hashlib import md5

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .textops import fingerprint

# Mersenne prime 2^31-1: (a*h+b) stays under 2^62, so the permutation
# arithmetic cannot overflow a long even under ANSI mode (Spark 4 default).
_MERSENNE = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int = 7):
    """Deterministic (a, b) pairs via splitmix-like mixing."""
    out = []
    x = seed
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        a = (x >> 3) % _MERSENNE or 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        b = (x >> 3) % _MERSENNE
        out.append((a, b))
    return out


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str,
                           max_ids: int = 100) -> DataFrame:
    """Groups of exact (normalized) duplicates: (fp, n_docs, doc_ids).

    ``doc_ids`` holds at most ``max_ids`` example ids (the smallest, in
    order) — a degenerate fingerprint group at crawl scale (millions of
    empty/boilerplate docs sharing one fp) must not materialize an
    unbounded array in a single aggregation buffer.  The cap is applied
    BEFORE aggregation via a row_number window over the same fp key, so
    the window sort and the groupBy share one hash partitioning (single
    shuffle) and the agg buffer is bounded at ``max_ids`` entries.
    """
    from pyspark.sql.window import Window

    base = df.select(F.col(id_col).alias("doc_id"),
                     fingerprint(F.col(text_col)).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    ranked = base.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # collect_list drops nulls → only the first max_ids ids per
            # group ever enter the buffer
            F.sort_array(
                F.collect_list(
                    F.when(F.col("__rn") <= max_ids, F.col("doc_id"))
                )
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (min id) per exact-duplicate group.

    Single shuffle on the fingerprint; survivors anti-derived without a
    second scan via a window min.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(fingerprint(F.col(text_col)))
    return (
        df.withColumn("__keep", F.col(id_col) == F.min(id_col).over(w))
        .filter("__keep")
        .drop("__keep")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Signatures are Arrow-batched numpy over record batches (~0.05 ms/doc):
# Spark evaluates the higher-order array functions a Catalyst formulation
# would need in *interpreted* mode (no whole-stage codegen; measured
# ~24 ms/doc for a 32-permutation signature), which makes vectorized
# Arrow batches the sanctioned fast path here (SURVEY.md §2.3).  The
# DuckDB oracles (:mod:`..oracles`) re-derive the same signatures.

_WORD_RE = re.compile(r"[^a-zA-Z0-9']+")


@lru_cache(maxsize=1 << 20)
def _md5_word_hash(w: str) -> int:
    """Word hash = lower 8 md5 digest bytes (little-endian) mod 2^31-1.

    Chosen because it is exactly reproducible in the DuckDB oracle as
    ``md5_number_lower(w) % 2147483647`` — the oracle for the MinHash /
    SimHash pipelines re-derives the full signature math in SQL.  The md5
    C implementation + per-word cache keeps this off the per-token path.
    """
    return int.from_bytes(md5(w.encode("utf-8")).digest()[8:16], "little") % _MERSENNE


def _word_hashes(text: str) -> np.ndarray:
    ws = [w for w in _WORD_RE.split(text.lower()) if w]
    if not ws:
        return np.zeros(1, dtype=np.int64)
    return np.array([_md5_word_hash(w) for w in ws], dtype=np.int64)


def _shingle_hash_arr(text: str, k: int) -> np.ndarray:
    wh = _word_hashes(text)
    n = len(wh)
    if n < k:
        acc = 0
        for h in wh.tolist():
            acc = (acc * 31 + h) % _MERSENNE
        return np.array([acc], dtype=np.int64)
    out = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        out += wh[j : n - k + 1 + j] * (pow(31, j, _MERSENNE) % (1 << 20))
    return out % _MERSENNE


def minhash_features_udf(num_hashes: int = 64, shingle_k: int = 5):
    """pandas UDF: text → struct<hh: array<long>, sig: array<long>>."""
    perms = _perm_params(num_hashes)
    a = np.array([p[0] for p in perms], dtype=np.int64)
    b = np.array([p[1] for p in perms], dtype=np.int64)

    @pandas_udf("struct<hh: array<long>, sig: array<long>>")
    def feats(texts: pd.Series) -> pd.DataFrame:
        hhs, sigs = [], []
        for t in texts:
            hh = _shingle_hash_arr(t or "", shingle_k)
            # (n_shingles × num_hashes) permutation matrix, min per column
            m = (hh[:, None] * a[None, :] + b[None, :]) % _MERSENNE
            sigs.append(m.min(axis=0).tolist())
            hhs.append(hh.tolist())
        return pd.DataFrame({"hh": hhs, "sig": sigs})

    return feats


def winnow_fingerprints_udf(shingle_k: int = 5, window: int = 4):
    """pandas UDF: text → sorted distinct window-min shingle hashes — the
    winnowing document sketch (Schleimer et al., SIGMOD 2003 / MOSS).

    Guarantee: any shared word run of ≥ window+shingle_k-1 words between
    two documents yields at least one shared fingerprint, while the
    sketch keeps only ~1/window of the shingle hashes — the
    local-sampling property plain min-hash lacks.  Uses the md5 word
    hashes so the DuckDB oracle re-derives identical sketches.
    """
    from numpy.lib.stride_tricks import sliding_window_view

    @pandas_udf("array<long>")
    def fps(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hh = _shingle_hash_arr(t or "", shingle_k)
            if len(hh) <= window:
                out.append([int(hh.min())])
            else:
                mins = sliding_window_view(hh, window).min(axis=1)
                out.append(sorted(set(mins.tolist())))
        return pd.Series(out)

    # asNondeterministic: without it the derived explode predicates
    # (size > 0 / isnotnull) are pushed below the udf_parallelize
    # exchange and the sketch UDF runs TWICE — once single-split under
    # the repartition, once above it (r9 winnow plan, two stacked
    # ArrowEvalPython fps nodes).  Pure fn; values unchanged.
    return fps.asNondeterministic()


def winnow_fingerprint_table(df: DataFrame, id_col: str, text_col: str,
                             shingle_k: int = 5,
                             window: int = 4) -> DataFrame:
    """(doc_id, fp) rows: the exploded winnowing sketch — the join-ready
    staged table for substring-level dedup (two docs sharing a ≥
    window+shingle_k-1-word run are guaranteed ≥1 common fp, so a
    groupBy(fp) finds them with one shuffle of (fp, id) pairs, never
    text)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            winnow_fingerprints_udf(shingle_k, window)(
                F.col(text_col)).alias("fps"),
        )
        .select("doc_id", F.explode("fps").alias("fp"))
    )


def simhash_udf(bits: int = 64, shingle_k: int = 2):
    """pandas UDF: text → 64-bit SimHash (vectorized sign-sum)."""
    shifts = np.arange(bits, dtype=np.uint64)

    @pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hh = _shingle_hash_arr(t or "", shingle_k).astype(np.uint64)
            # widen the 31-bit shingle hashes to 64 bits deterministically
            h64 = hh * np.uint64(0x9E3779B97F4A7C15)
            bitsm = ((h64[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                np.int64
            ) * 2 - 1
            counts = bitsm.sum(axis=0)
            # vectorized bit packing: positive-count bits shifted into
            # place and OR-summed (disjoint bits, so sum == OR)
            packed = int(
                ((counts > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            )
            if packed >= 1 << 63:  # two's-complement into a signed long
                packed -= 1 << 64
            out.append(packed)
        return pd.Series(out, dtype="int64")

    return sh


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Array<struct<band:int, key:long>> — one bucket key per band."""
    out = []
    for b in range(bands):
        band_slice = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.array_join(
                    F.transform(band_slice, lambda v: v.cast("string")), ","
                )).alias("key"),
            )
        )
    return F.array(*out)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (distinct semantics)."""
    return jaccard_distinct(F.array_distinct(a), F.array_distinct(b))


def jaccard_distinct(ad: Column, bd: Column) -> Column:
    """Jaccard over arrays ALREADY deduplicated.  Pair-join callers
    should apply a per-document ``array_distinct`` BEFORE the join — the
    naive form re-distincts both sides once per PAIR (strictly wasted
    work, material when inputs carry many duplicates; word-shingle
    arrays are near-distinct already, where the per-pair
    ``array_intersect`` dominates instead)."""
    inter = F.size(F.array_intersect(ad, bd))
    union = F.size(ad) + F.size(bd) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_features(df: DataFrame, id_col: str, text_col: str,
                     num_hashes: int = 64, shingle_k: int = 5) -> DataFrame:
    """(doc_id, hh, sig) — the staged feature table for MinHash LSH.

    ONE Arrow-vectorized pass computes shingle hashes + signature.  At scale
    this is the stage boundary: write it to a table (it is consumed by both
    the banding explode and the verification join), then call
    :func:`minhash_lsh_pairs` with ``features=`` pointing at the saved table.
    """
    return df.select(
        F.col(id_col).alias("doc_id"),
        minhash_features_udf(num_hashes, shingle_k)(F.col(text_col)).alias("f"),
    ).select("doc_id", F.col("f.hh").alias("hh"), F.col("f.sig").alias("sig"))


def _lsh_candidates(feats: DataFrame, bands: int, rows_per_band: int,
                    max_bucket: int) -> DataFrame:
    """(id_a < id_b) candidate pairs from banded-LSH bucketing.

    Only (doc_id, band, key) travels through the LSH shuffle — the
    signatures and shingle sets stay behind.  Each (band, key) bucket is
    capped to its first ``max_bucket`` members in doc-id order
    (deterministic), bounding the self-join at max_bucket² per bucket
    no matter how degenerate the key distribution gets at crawl scale.
    """
    from pyspark.sql.window import Window

    banded = feats.select(
        "doc_id",
        F.explode(lsh_bands(F.col("sig"), bands, rows_per_band)).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    w = Window.partitionBy("band", "key").orderBy("doc_id")
    banded = (
        banded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket)
        .drop("__rn")
    )
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 5,
                      min_jaccard: float = 0.5,
                      features: DataFrame | None = None,
                      max_bucket: int = 512) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard) via banded LSH.

    Plan shape: one scan computing signatures + shingles → explode bands
    (×bands rows of small (band,key,id)) → self-join on (band,key)
    (shuffle keyed by bucket; only colliding candidates meet) →
    dedup pairs → exact Jaccard verification on the candidates only.

    The candidate-pair set is data-dependent and unbounded (a near-dup-heavy
    corpus yields millions of pairs), so the verification join is a plain
    shuffle join on doc_id — never a broadcast.  The feature projection is
    persisted for the duration of the job when computed inline; at 10^12
    docs pass ``features=`` from a materialized table instead (one text
    scan total, no executor cache footprint).

    Scale bound: a degenerate band key — empty-text docs, boilerplate
    pages, a hash pileup — makes one bucket's candidate set quadratic at
    crawl scale, so each (band, key) bucket is capped to its first
    ``max_bucket`` members in doc-id order (deterministic; same
    discipline as :func:`simhash_pairs`).  Join cost per bucket is then
    bounded at max_bucket² regardless of corpus size.  Recall tradeoff:
    members beyond the cap lose only THIS band's bucket — they can still
    pair through any of the other ``bands-1`` bands — and every surviving
    candidate is exact-Jaccard-verified, so precision is unaffected.
    """
    feats = features
    if feats is None:
        feats = minhash_features(df, id_col, text_col, num_hashes, shingle_k
                                 ).persist()
    cand = _lsh_candidates(feats, bands, num_hashes // bands, max_bucket)
    # Verification: shuffle-join the candidates back for exact Jaccard over
    # shingle-hash sets.  Both joins key on a doc id, so the shingle side
    # shuffles once per side regardless of how many pairs the corpus
    # yields.  Distinct applied per DOC before the join — a candidate-rich
    # corpus would otherwise re-distinct each doc's set once per pair.
    sh = feats.select("doc_id", F.array_distinct("hh").alias("hh"))
    pairs = (
        sh.join(cand, sh.doc_id == cand.id_a)
        .select("id_a", "id_b", F.col("hh").alias("hh_a"))
        .join(sh.alias("s2"), F.col("id_b") == F.col("s2.doc_id"))
        .select("id_a", "id_b", "hh_a", F.col("s2.hh").alias("hh_b"))
    )
    return (
        pairs.select(
            "id_a", "id_b",
            jaccard_distinct(F.col("hh_a"), F.col("hh_b")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 6, shingle_k: int = 2,
                  max_bucket: int = 512) -> DataFrame:
    """Near-dup pairs by SimHash banding (4×16-bit bands → candidates →
    Hamming verification).

    Scale bound: a 16-bit band key yields at most 65,536 buckets per band,
    so at 10^9+ docs an uncapped in-bucket self-join is O(bucket²) —
    quadratic in corpus size.  ``max_bucket`` caps each (band, key) bucket
    to its first ``max_bucket`` members in doc-id order (deterministic), so
    join cost per bucket is bounded at max_bucket² candidates regardless of
    corpus size.  The cap trades recall for a hard cost ceiling: members
    beyond the cap can still pair via one of the other 3 bands (they only
    lose THIS band's bucket).  At web scale prefer recall via wider keys:
    SimHash banding is inherently 4×16 here, so the honest lever is the cap
    plus downstream exact verification — the candidates that survive are
    always Hamming-verified, so precision is unaffected.
    """
    from pyspark.sql.window import Window

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        simhash_udf(64, shingle_k)(F.col(text_col)).alias("sh"),
    )
    banded = sh.select(
        "doc_id", "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftright(F.col("sh"), 16 * b)
                    .bitwiseAND(F.lit(0xFFFF)).alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.band", "bk.key")
    w = Window.partitionBy("band", "key").orderBy("doc_id")
    capped = (
        banded.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket)
        .drop("__rn")
    )
    l, r = capped.alias("l"), capped.alias("r")
    return (
        l.join(r, ["band", "key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            hamming64(F.col("l.sh"), F.col("r.sh")).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (direct, for verification / small candidate sets)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, min_jaccard: float = 0.8,
                        group_col: Column | None = None,
                        allow_cross_join: bool = False) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs within a blocking key.

    ``group_col`` restricts the self-join to a blocking key — REQUIRED:
    without one this is a full O(n²) cross join, which is never the right
    plan at scale (use minhash_lsh_pairs for candidate generation, or pass
    e.g. a length-bucket/lang key).  Small exact runs (tests, verification
    of a bounded candidate set) may opt in with ``allow_cross_join=True``.
    """
    if group_col is None and not allow_cross_join:
        raise ValueError(
            "ngram_jaccard_pairs without group_col is a full cross join; "
            "pass a blocking key, or allow_cross_join=True for small exact "
            "runs"
        )
    from .decontam import distinct_ngrams_udf

    sh = df.select(
        F.col(id_col).alias("doc_id"),
        # distinct ONCE per document, before the pair join fans out;
        # Arrow UDF, not a Catalyst n-gram array — interpreted array HOFs
        # re-evaluate the embedded word split per element (no CSE), ~8ms
        # per doc.  short_fallback keeps the whole word list as the one
        # shingle of a doc under k words (the SQL oracle's ELSE branch).
        distinct_ngrams_udf(k, short_fallback=True)(
            F.col(text_col)).alias("sh"),
        (group_col if group_col is not None else F.lit(0)).alias("grp"),
    )
    l, r = sh.alias("l"), sh.alias("r")
    return (
        l.join(r, "grp")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            jaccard_distinct(F.col("l.sh"), F.col("r.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def minhash_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 64, bands: int = 16,
                           shingle_k: int = 5, k: int = 3,
                           min_jaccard: float = 0.5,
                           max_bucket: int = 512) -> DataFrame:
    """The production dedup recipe END-TO-END: banded-MinHash candidate
    generation → exact word-``k``-gram Jaccard verification, one plan.

    minhash_lsh_pairs verifies on shingle-HASH sets (cheap, already
    shipped with the signatures); this composition re-verifies on the
    actual word k-grams — the higher-precision final arbiter — while
    still touching only LSH candidates, never all pairs.  Plan shape:
    one text scan for signatures, the capped (band, key) bucket
    self-join (see :func:`_lsh_candidates`), then ONE more text scan for
    the verification gram sets joined to candidates by doc id — both
    joins key on ids, so raw text never crosses the candidate shuffle.
    """
    from .decontam import distinct_ngrams_udf

    feats = minhash_features(df, id_col, text_col, num_hashes, shingle_k
                             ).persist()
    cand = _lsh_candidates(feats, bands, num_hashes // bands, max_bucket)
    gr = df.select(
        F.col(id_col).alias("doc_id"),
        distinct_ngrams_udf(k, short_fallback=True)(
            F.col(text_col)).alias("sh"),
    )
    pairs = (
        gr.join(cand, gr.doc_id == cand.id_a)
        .select("id_a", "id_b", F.col("sh").alias("sh_a"))
        .join(gr.alias("g2"), F.col("id_b") == F.col("g2.doc_id"))
        .select("id_a", "id_b", "sh_a", F.col("g2.sh").alias("sh_b"))
    )
    return (
        pairs.select(
            "id_a", "id_b",
            jaccard_distinct(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# near-dup clustering: pairs → connected components → dedup groups
# ---------------------------------------------------------------------------


class ConvergenceError(RuntimeError):
    """A CC engine exceeded its round budget without reaching a fixpoint.

    Distinct from generic RuntimeError so that ``algorithm='auto'`` can
    fall back to star-contraction ONLY on genuine non-convergence —
    PySpark job failures (PySparkRuntimeError is a RuntimeError subclass)
    must propagate, not trigger a silent expensive re-run that masks the
    real error.
    """


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         algorithm: str = "auto",
                         label_rounds_before_switch: int = 4) -> DataFrame:
    """(doc_id, cluster_id) for every doc in the pair graph; cluster_id =
    min doc id reachable (the canonical representative).

    ``algorithm`` picks the fixpoint strategy — all three produce the
    IDENTICAL labeling (cluster_id = component minimum):

    - ``"label"`` — min-label propagation: per round, one shuffle join of
      labels to the symmetrized edge list + a per-node min.  Converges in
      O(component diameter) rounds: ideal for near-dup graphs, whose
      components are quasi-cliques (diameter 2-3), pathological for
      long chains (a 10^6-node chain = 10^6 sequential Spark jobs).
    - ``"star"`` — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): per round two join+agg passes over the edge set; edge
      count never grows and rounds are O(log n) regardless of diameter.
      The scale-safe choice for adversarial graph shapes.
    - ``"auto"`` (default) — min-label for up to
      ``label_rounds_before_switch`` rounds (the quasi-clique common case
      converges there, keeping the cheapest plan), then restarts with
      star-contraction if the diameter turns out to be larger.  Worst
      case pays a few wasted label rounds before the O(log n) guarantee
      kicks in.

    Both engines refuse to return silent non-fixpoints: exceeding
    ``max_iter`` raises rather than yielding wrong clusters.

    Input pairs are expected distinct.  Duplicates give the same
    labeling, but min-label propagation does not deduplicate the edge
    list, so every duplicate edge is joined again in every round.
    """
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    if algorithm == "label":
        return _cc_min_label(edges, max_iter)
    if algorithm == "star":
        return _cc_star(edges, max_iter)
    if algorithm == "auto":
        # cache the edge frame across the two attempts: the fallback must
        # not re-run the (potentially expensive) upstream pair pipeline
        # that the label rounds already scanned
        cached = edges.persist()
        try:
            try:
                # label result is localCheckpoint'd → safe to release in
                # the finally on every path
                return _cc_min_label(
                    cached, min(label_rounds_before_switch, max_iter))
            except ConvergenceError:
                # star's final labeling joins `nodes` (derived from the
                # raw edges) — checkpoint eagerly so the cache release in
                # the finally cannot force an upstream re-run
                return _cc_star(cached, max_iter).localCheckpoint(eager=True)
        finally:
            cached.unpersist()
    raise ValueError(
        f"algorithm must be 'label', 'star' or 'auto', got {algorithm!r}")


def _cc_min_label(edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation (see :func:`connected_components`)."""
    # persist the symmetrized edge list: every propagation round joins it,
    # and without this each round would RE-RUN the upstream pair pipeline
    # (minhash + verification) — measured 4.7s -> ~1s for the bench query.
    # No .distinct(): duplicate edges are harmless here (the node set is
    # distinct'd below and neighbor labels are MIN-aggregated), and the
    # upstream pair generators emit distinct canonical pairs anyway — the
    # dedup only added a full shuffle of the edge list before the first
    # round.  Locally that shuffle is overhead-bound (~0.2s of a ~1.1s
    # init at sf1, isolated 6-rep median); the removal is for the scale
    # shape, where it grows with the full edge count.
    sym = edges.union(edges.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))).persist()
    # per-round labels are localCheckpoint'd, not just persisted: each
    # round's plan references the previous round's labels TWICE (the
    # neighbor-min join and the changed-count join), so without lineage
    # truncation the LOGICAL plan doubles per round and Catalyst analysis
    # goes exponential in the round count (measured: analyzer OOM at ~8
    # rounds).  Quasi-clique dup graphs converge in 2-3 rounds and never
    # noticed; deep graphs hit it before they hit max_iter.
    changed = -1
    try:
        labels = (sym.select(F.col("a").alias("id"))
                  .distinct()
                  .withColumn("label", F.col("id"))
                  .localCheckpoint(eager=True))
        for _ in range(max_iter):
            neighbor_min = (
                sym.join(labels, sym.b == labels.id)
                .groupBy("a").agg(F.min("label").alias("nmin"))
            )
            # the changed flag rides the checkpointed frame so the
            # convergence check below is a plain scan of the checkpoint —
            # not a per-round join of the new labels back to the old ones
            # (r9: saved one join job per round)
            # old label read through `labels`, not by name: the same
            # select aliases the NEW label as "label"
            old = labels["label"]
            nlabel = F.least(old, F.coalesce(F.col("nmin"), old))
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
                .select(
                    "id",
                    nlabel.alias("label"),
                    (nlabel != old).alias("chg"),
                )
                .localCheckpoint(eager=True)
            )
            changed = new_labels.where("chg").count()
            labels = new_labels.select("id", "label")
            if changed == 0:
                break
    finally:
        # labels are localCheckpoint'd (independent of sym), so releasing
        # the cached edge block here is safe on both success and the
        # auto-mode fallback path (where _cc_star rebuilds its own edges)
        sym.unpersist()
    if changed != 0:
        # a silent non-fixpoint would return WRONG clusters — refuse
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter or use "
            "algorithm='star' for long-chain graphs"
        )
    # NOTE: the returned frame references the final checkpointed label
    # block; materialize/write the result promptly — two slim long columns.
    return labels.select(F.col("id").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge set in canonical big→small direction, no self
    loops, deduplicated."""
    return (edges.select(F.greatest("a", "b").alias("a"),
                         F.least("a", "b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct())


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star pass: every node u attaches each strictly-LARGER
    neighbor v to m = min(N(u) ∪ {u}).  In/out: canonical (a > b)."""
    sym = edges.union(edges.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    mins = sym.groupBy("a").agg(F.min("b").alias("mn"))
    return (sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"),
                    F.least(F.col("a"), F.col("mn")).alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star pass: every node a attaches itself and all its
    (smaller) neighbors to their minimum.  In/out: canonical (a > b)."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    nbrs = (edges.join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b")))
    selfs = mins.select(F.col("a"), F.col("m").alias("b"))
    return (nbrs.union(selfs)
            .where(F.col("a") != F.col("b"))
            .distinct())


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star contraction (see
    :func:`connected_components`).

    Each round = one large-star + one small-star pass (two join+agg
    shuffles over the slim (a, b) long-pair edge set) plus an EXACT
    convergence check (``exceptAll`` against the previous round — a third
    slim shuffle; chosen over hash signatures because a false "converged"
    would return wrong clusters).  At the fixpoint the edge set is exactly
    the star {(v, min(C)) : v ∈ C, v ≠ min(C)} for every component C.
    """
    # localCheckpoint each round: materializes AND truncates lineage.
    # persist alone is not enough here — each round's plan references the
    # previous round's twice (join back + exceptAll), so the LOGICAL plan
    # doubles per round and Catalyst analysis goes exponential after ~8
    # rounds (measured: analyzer hang).  On a real cluster swap in
    # reliable checkpoint() if executor loss during the loop must be
    # survivable.
    # nodes come from the RAW edge set, before self-loop removal: a node
    # appearing only in self-pairs (a==a) must still surface as a
    # singleton cluster, exactly as the label engine reports it — the
    # three algorithms contract to produce IDENTICAL labelings
    nodes = (edges.select("a")
             .union(edges.select(F.col("b").alias("a")))
             .distinct())
    curr = _canonical_edges(edges).localCheckpoint(eager=True)
    converged = False
    prev_count = curr.count()
    for _ in range(max_iter):
        new = _small_star(_large_star(curr)).localCheckpoint(eager=True)
        # exact convergence, cheapest-check-first: a changed edge COUNT
        # (one job over checkpointed data) proves non-convergence without
        # paying the two exceptAll shuffles; equal counts then get the
        # full multiset equality check — still exact, a false "converged"
        # would return wrong clusters
        new_count = new.count()
        same = (new_count == prev_count
                and new.exceptAll(curr).isEmpty()
                and curr.exceptAll(new).isEmpty())
        if same:
            converged = True
            break
        curr = new
        prev_count = new_count
    if not converged:
        raise ConvergenceError(
            f"star-contraction did not converge in {max_iter} rounds — "
            "this exceeds the O(log n) bound and indicates a bug or an "
            "edge set mutating under the loop; refusing to return "
            "possibly-wrong clusters"
        )
    star = curr.alias("s")
    out = (nodes.alias("n")
           .join(star, F.col("n.a") == F.col("s.a"), "left")
           .select(F.col("n.a").alias("doc_id"),
                   F.coalesce(F.col("s.b"), F.col("n.a"))
                   .alias("cluster_id")))
    # NOTE: `out` references the final persisted edge block — as with the
    # label engine, materialize/write promptly (two slim long columns).
    return out


# ---------------------------------------------------------------------------
# Incremental crawl dedup: index the existing corpus once, probe each
# new batch against it
# ---------------------------------------------------------------------------


def minhash_index(df: DataFrame, id_col: str, text_col: str,
                  num_hashes: int = 64, bands: int = 16,
                  shingle_k: int = 5,
                  features: DataFrame | None = None) -> DataFrame:
    """(corpus_id, band, key) — the banded-LSH probe index over the
    EXISTING corpus.

    Production shape: materialize this (and the
    :func:`minhash_features` table) ONCE; each day's crawl increment
    then probes the stored index without re-scanning corpus text —
    the corpus-side cost of incremental dedup is a key-only table
    join, amortized over every future batch.
    """
    feats = features if features is not None else minhash_features(
        df, id_col, text_col, num_hashes, shingle_k)
    return feats.select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(lsh_bands(F.col("sig"), bands,
                            num_hashes // bands)).alias("bk"),
    ).select("corpus_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))


def minhash_lookup(batch: DataFrame, corpus: DataFrame, id_col: str,
                   text_col: str, num_hashes: int = 64,
                   bands: int = 16, shingle_k: int = 5,
                   min_jaccard: float = 0.5,
                   max_bucket: int = 512,
                   index: DataFrame | None = None,
                   corpus_features: DataFrame | None = None
                   ) -> DataFrame:
    """Near-dups of a NEW batch against the existing corpus:
    (new_id, corpus_id, jaccard >= min_jaccard).

    The index side is capped per (band, key) bucket at ``max_bucket``
    members in corpus-id order (deterministic — the
    :func:`minhash_lsh_pairs` discipline: a degenerate boilerplate
    bucket stays bounded at any corpus size; a capped-out member can
    still match through its other bands).  The probe side is never
    capped — every new document gets its full probe.  Only
    (id, band, key) crosses the candidate shuffle; exact-Jaccard
    verification joins the shingle sets by id afterwards.  Pass
    ``index=`` / ``corpus_features=`` from materialized tables to skip
    the corpus text scan entirely.
    """
    from pyspark.sql.window import Window

    cf = corpus_features if corpus_features is not None else \
        minhash_features(corpus, id_col, text_col, num_hashes,
                         shingle_k).persist()
    idx = index if index is not None else minhash_index(
        corpus, id_col, text_col, num_hashes, bands, shingle_k,
        features=cf)
    w = Window.partitionBy("band", "key").orderBy("corpus_id")
    idx = (idx.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= max_bucket).drop("__rn"))
    bf = minhash_features(batch, id_col, text_col, num_hashes,
                          shingle_k).persist()
    probe = bf.select(
        F.col("doc_id").alias("new_id"),
        F.explode(lsh_bands(F.col("sig"), bands,
                            num_hashes // bands)).alias("bk"),
    ).select("new_id", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    cand = (probe.join(idx, ["band", "key"])
            .select("new_id", "corpus_id")
            .dropDuplicates(["new_id", "corpus_id"]))
    sh_new = bf.select(F.col("doc_id").alias("new_id"),
                       F.array_distinct("hh").alias("hh_a"))
    sh_old = cf.select(F.col("doc_id").alias("corpus_id"),
                       F.array_distinct("hh").alias("hh_b"))
    pairs = cand.join(sh_new, "new_id").join(sh_old, "corpus_id")
    return (pairs.select(
        "new_id", "corpus_id",
        jaccard_distinct(F.col("hh_a"), F.col("hh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard))


def triangle_count(pairs: DataFrame, id_a: str = "id_a",
                   id_b: str = "id_b") -> DataFrame:
    """(node, n_triangles) per node, plus the graph total under node -1.

    The degree-ordering trick that makes triangle counting feasible at
    graph scale: orient every undirected edge from the lower-degree
    endpoint to the higher (ties by id), so each wedge is enumerated
    exactly once at its lowest-degree corner and the heaviest join side
    is bounded by sum(min-degree) — skewed hubs never self-join.  Two
    hash joins on node ids, everything integer; the oracle counts the
    same triangles with a direct three-way join."""
    e = (pairs.select(F.col(id_a).cast("long").alias("a"),
                      F.col(id_b).cast("long").alias("b"))
         .where(F.col("a") != F.col("b"))
         .select(F.least("a", "b").alias("a"),
                 F.greatest("a", "b").alias("b"))
         .distinct())
    deg = (e.select(F.col("a").alias("n"))
           .unionAll(e.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    # orient low-degree -> high-degree (ties: lower id first)
    oriented = (e.join(da, "a").join(db, "b")
                .select(F.when((F.col("da") < F.col("db"))
                               | ((F.col("da") == F.col("db"))
                                  & (F.col("a") < F.col("b"))),
                               F.struct(F.col("a").alias("src"),
                                        F.col("b").alias("dst")))
                .otherwise(F.struct(F.col("b").alias("src"),
                                    F.col("a").alias("dst")))
                .alias("e"))
                .select("e.src", "e.dst"))
    w1 = oriented.select(F.col("src").alias("p"), F.col("dst").alias("x"))
    w2 = oriented.select(F.col("src").alias("p"), F.col("dst").alias("y"))
    wedges = (w1.join(w2, "p").where(F.col("x") < F.col("y")))
    closing = oriented.select(F.least("src", "dst").alias("x"),
                              F.greatest("src", "dst").alias("y"))
    tri = (wedges.join(closing, ["x", "y"])
           .select("p", "x", "y"))
    per_node = (tri.select(F.explode(F.array("p", "x", "y")).alias("node"))
                .groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")))
    total = tri.agg(F.count(F.lit(1)).alias("n_triangles")).select(
        F.lit(-1).cast("long").alias("node"), "n_triangles")
    return per_node.unionByName(total)


def label_propagation(pairs: DataFrame, iters: int = 3,
                      id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """(node, label) after ``iters`` SYNCHRONOUS label-propagation
    rounds: every node starts as its own label; each round it adopts
    the most frequent label among its neighbors, ties to the SMALLEST
    label — fully deterministic integers, so a fixed iteration count is
    oracle-expressible as unrolled SQL (unlike classic asynchronous
    LPA, whose result depends on visit order).  Each round is one
    shuffle of (node, neighbor_label) pairs + a count + ``max_by``
    argmax — labels-only traffic (the connected_components
    discipline), and NO window: a hub node's distinct neighbor-label
    set never funnels through one task's sort; the argmax rides the
    partial-mergeable aggregate.

    Edges canonicalize as least/greatest pairs before distinct (the
    triangle_count discipline), so input containing both (a, b) and
    (b, a) counts that neighbor's label ONCE — matching the unrolled
    oracle's edge semantics on arbitrary input, not just graphs that
    never emit reversed duplicates."""
    e = (pairs.select(
            F.least(F.col(id_a).cast("long"),
                    F.col(id_b).cast("long")).alias("a"),
            F.greatest(F.col(id_a).cast("long"),
                       F.col(id_b).cast("long")).alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    both = (e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(e.select(F.col("b").alias("src"),
                               F.col("a").alias("dst"))))
    labels = (both.select(F.col("src").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    for _ in range(iters):
        labels = _lpa_round(both, labels).localCheckpoint(eager=True)
    return labels


def _lpa_round(both: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round (pre-checkpoint, so tests can
    plan-guard it): count neighbor labels per node, argmax via the
    mergeable ``max_by`` aggregate — (cnt, -label) is unique per
    (dst, label) row, so it is deterministic (most frequent label,
    ties to the SMALLEST) and no window ever sorts a hub node's
    label set in one task."""
    msgs = (both.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy("dst", "label").agg(F.count(F.lit(1)).alias("cnt")))
    return (msgs.groupBy("dst")
            .agg(F.max_by(
                "label",
                F.struct(F.col("cnt"), (-F.col("label")).alias("nl")))
                .alias("label"))
            .select(F.col("dst").alias("node"), "label"))
