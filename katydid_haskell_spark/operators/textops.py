"""Text analysis for large-scale training-data pipelines.

Token counting and fingerprinting are built-in Catalyst expressions (JVM
regexp_count / xxhash64, whole-stage codegen).  Language-ID, quality
scoring and the Gopher repetition signals are Arrow-batched pandas UDFs:
Spark evaluates their ``array_intersect``-over-words / n-gram higher-order
function formulations *interpreted* (~0.4 ms/doc measured), so profile
intersection and n-gram counting are the text ops where vectorized Python
wins.  Their reference is the DuckDB oracle SQL of the queries that run
them (``doc_lang_id``, ``doc_quality``, ``gopher_quality``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword heuristic.
# (Deterministic toy lists; a production system would load real profiles.)
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "von", "mit", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "pour", "que", "une"],
    "es": ["el", "la", "de", "que", "y", "los", "del", "las", "por", "con"],
    "it": ["il", "di", "che", "la", "per", "con", "del", "una", "non", "sono"],
}

_WORD_SPLIT = r"[^a-zA-Z0-9']+"

# Whitespace, spelled out.  ``\s`` means three different things across the
# engines that must agree bit-for-bit: Java (Spark regexp_*) \s =
# [ \t\n\x0B\f\r]; RE2 (DuckDB oracles) \s drops \x0B; Python adds the
# whole Unicode space set.  Every normalization under the value-hash gate
# therefore uses these EXPLICIT classes — the same literal pattern text is
# valid in all three dialects (oracles embed the constants via f-strings).
WS_RE = r"[ \t\n\x0B\f\r]+"
# Per-line trim set (lines are produced by splitting on \n, so \n itself
# is excluded; \r covers CRLF crawls, \t covers tab padding).
LINE_TRIM_RE = r"^[ \t\x0B\f\r]+|[ \t\x0B\f\r]+$"
LINE_STRIP_CHARS = " \t\x0B\f\r"
# "Punctuation" = not word-char, not whitespace — explicit on both axes
# (Python \w is Unicode-aware, Java/RE2 are ASCII; \s as above).
PUNCT_RE = r"[^A-Za-z0-9_ \t\n\x0B\f\r]"

# BPE-ish tokenizer regex: words, numbers, punctuation runs — a cheap
# approximation of byte-pair-style token counts.
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"

STOPWORDS_EN = LANG_PROFILES["en"] + ["it", "on", "as", "are", "was", "be"]


def words(col: Column) -> Column:
    """Canonical word array — maximal runs of ``[a-zA-Z0-9']`` in the
    lowered text, in order.

    Implementation note (r9): this is SEMANTICALLY
    ``filter(split(lower(col), _WORD_SPLIT), w -> w != '')`` — the form
    the DuckDB oracles mirror via ``_WORDS_SQL`` — but expressed as the
    positive-class ``regexp_extract_all``, which produces the identical
    array (splitting on non-word runs and dropping empties IS
    enumerating the word runs; pinned by
    test_words_positive_class_parity).  The negated-class split was a
    measured pathology on this JVM: ~36 µs/doc with a hot path whose
    throughput does not scale past one core (8x rows, 32 tasks, same
    wall); the positive-class extract runs 6x cheaper and scales
    linearly."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-zA-Z0-9']+"), 0)


def n_words(col: Column) -> Column:
    """Canonical word COUNT: == ``F.size(words(col))`` by construction
    (the number of non-empty segments left by splitting on
    ``[^a-zA-Z0-9']+`` is exactly the number of maximal runs of
    ``[a-zA-Z0-9']`` characters).  It counts on ``lower(col)``, as
    ``words`` does: ``lower()`` does NOT map the class onto itself.
    KELVIN SIGN U+212A lowers to ``k`` and ``İ`` to ``i`` + U+0307, so
    on the raw text the Kelvin sign alone counts 0 words instead of 1
    and "İstanbul" 1 instead of 2.

    Exists because the split form is a measured r9 pathology: the
    NEGATED char class costs ~36 µs/doc in java.util.regex on this JVM
    and its cost is concurrency-invariant (32 tasks burn 32 cores at
    1/32 the throughput each — a serialized hot path), while the
    positive-class ``regexp_count`` runs 5x cheaper AND scales
    linearly (measured: 8x the rows, same wall).  Parity with
    ``size(words(.))`` verified row-by-row on every shipped SF.  Use
    this wherever only the COUNT is needed; fall back to ``words()``
    when the word list itself is consumed."""
    return F.coalesce(
        F.regexp_count(F.lower(col), F.lit("[a-zA-Z0-9']+")),
        F.lit(0))


def line_array(col: Column) -> Column:
    """Trimmed non-empty lines in original order, as ONE array column.

    The canonical line semantics shared by the Gopher repetition
    features, boilerplate removal and their DuckDB oracles: split on
    ``\\n``, trim each line with the explicit set (NOT ``F.trim``, which
    is space-only — CRLF and tab-padded crawl text must trim identically
    here, in the Arrow UDF ``str.strip(LINE_STRIP_CHARS)`` and in the
    oracle SQL), drop empties.  Null text yields an empty array.
    """
    return F.filter(
        F.transform(F.split(F.coalesce(col, F.lit("")), "\n"),
                    lambda l: F.regexp_replace(l, LINE_TRIM_RE, "")),
        lambda l: l != "",
    )


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(F.filter(F.split(col, WS_RE), lambda w: w != ""))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish regex token count (JVM regexp_count — no UDF)."""
    return F.regexp_count(col, F.lit(BPE_ISH))


def quality_features_udf():
    """Struct of quality signals per document: n_chars, n_words,
    avg_word_len, punct_ratio, digit_ratio, stopword_ratio (distinct
    ``STOPWORDS_EN`` hits over words), upper_ratio — int/int double
    ratios, 0.0 on a zero denominator.

    Arrow-batched: one Python pass per batch.  Spark evaluates the
    ``array_intersect``-over-words formulation as interpreted array HOFs
    (no codegen; measured ~0.4 ms/doc).  The ``doc_quality`` oracle
    re-derives the words, ratios and stopword hits in DuckDB."""
    import re

    from pyspark.sql.functions import pandas_udf

    word_re = re.compile(_WORD_SPLIT)
    punct_re = re.compile(PUNCT_RE)
    digit_re = re.compile(r"[0-9]")
    upper_re = re.compile(r"[A-Z]")
    stop = frozenset(STOPWORDS_EN)

    @pandas_udf("struct<n_chars:int, n_words:int, avg_word_len:double, "
                "punct_ratio:double, digit_ratio:double, "
                "stopword_ratio:double, upper_ratio:double>")
    def feats(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for t in texts:
            t = t or ""
            ws = [w for w in word_re.split(t.lower()) if w]
            n_chars, n_words = len(t), len(ws)
            n_stop = len(stop.intersection(ws))
            sc = (lambda num, den: num / den if den > 0 else 0.0)
            rows.append((
                n_chars, n_words, sc(n_chars, n_words),
                sc(len(punct_re.findall(t)), n_chars),
                sc(len(digit_re.findall(t)), n_chars),
                sc(n_stop, n_words),
                sc(len(upper_re.findall(t)), n_chars),
            ))
        return pd.DataFrame(rows, columns=[
            "n_chars", "n_words", "avg_word_len", "punct_ratio",
            "digit_ratio", "stopword_ratio", "upper_ratio"])

    return feats


def lang_id_udf():
    """Argmax language over the ``LANG_PROFILES`` stopword profiles by
    distinct word hits; 'und' when nothing hits.  Ties break
    alphabetically (min over (-hits, lang)), as the ``doc_lang_id``
    oracle's ``ORDER BY h DESC, lang`` does."""
    import re

    from pyspark.sql.functions import pandas_udf

    word_re = re.compile(_WORD_SPLIT)
    profiles = [(lang, frozenset(prof)) for lang, prof in
                sorted(LANG_PROFILES.items())]

    @pandas_udf("string")
    def lid(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            ws = set(w for w in word_re.split((t or "").lower()) if w)
            best = min(((-len(p & ws), lang) for lang, p in profiles))
            out.append(best[1] if -best[0] > 0 else "und")
        return pd.Series(out)

    return lid


def repetition_features_udf():
    """Gopher-style repetition/format signals as a struct (Rae et al.
    2021 §A1.1), one map-side pass, no shuffle.

    Columns: n_lines, dup_line_frac (1 - distinct/total over trimmed
    non-empty lines, the :func:`line_array` semantics), bullet_ratio
    (lines starting ``-``/``*``/bullet), ellipsis_ratio (lines ending
    ``...``/ellipsis), top_bigram_frac (fraction of word bigrams equal
    to the most frequent bigram), dup_trigram_frac (1 - distinct/total
    over word trigrams) — int/int double ratios, 0.0 on a zero
    denominator.

    Arrow-batched: the array-HOF formulation runs interpreted without
    common-subexpression elimination (measured ~8 ms/doc).  The
    ``gopher_quality`` oracle re-derives every field it reports."""
    import re
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    word_re = re.compile(_WORD_SPLIT)
    bullet_re = re.compile(r"^[-*•]")
    ellipsis_re = re.compile(r"(\.\.\.|…)$")

    @pandas_udf(
        "struct<n_lines:int, dup_line_frac:double, bullet_ratio:double, "
        "ellipsis_ratio:double, top_bigram_frac:double, "
        "dup_trigram_frac:double>"
    )
    def feats(texts: pd.Series) -> pd.DataFrame:
        rows = []
        sc = lambda num, den: num / den if den > 0 else 0.0
        for t in texts:
            t = t or ""
            lines = [s for s in (l.strip(LINE_STRIP_CHARS)
                                 for l in t.split("\n")) if s]
            nl = len(lines)
            ws = [w for w in word_re.split(t.lower()) if w]
            bi = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
            tri = [f"{a} {b} {c}" for a, b, c in zip(ws, ws[1:], ws[2:])]
            top_bi = max(Counter(bi).values()) if bi else 0
            rows.append((
                nl,
                sc(nl - len(set(lines)), nl),
                sc(sum(1 for l in lines if bullet_re.match(l)), nl),
                sc(sum(1 for l in lines if ellipsis_re.search(l)), nl),
                sc(top_bi, len(bi)),
                sc(len(tri) - len(set(tri)), len(tri)),
            ))
        return pd.DataFrame(rows, columns=[
            "n_lines", "dup_line_frac", "bullet_ratio", "ellipsis_ratio",
            "top_bigram_frac", "dup_trigram_frac"])

    # asNondeterministic stops the optimizer pushing a filter that
    # references this UDF below an upstream exchange (guide §4.4-style
    # freedom removal): without it the repetition-flag filter — and the
    # whole Arrow pass with it — sinks BELOW the udf_parallelize
    # repartition, serializing the heaviest per-row stage on the single
    # scan split (r9 corpus_curation_full plan: ArrowEvalPython under
    # Exchange).  Values are unchanged — the fn is pure; only optimizer
    # reordering freedom is removed.
    return feats.asNondeterministic()


def repetition_flag(rep: Column) -> Column:
    """Gopher-style repetition rejection flag over a
    :func:`repetition_features_udf` struct column (fixed thresholds; the
    ``gopher_quality`` oracle SQL spells the same three).

    Pass a column that PROJECTS the struct, not the raw UDF call: each
    field reference on the nondeterministic call would become its own
    ArrowEvalPython eval."""
    return (
        (rep.getField("dup_line_frac") > 0.30)
        | (rep.getField("top_bigram_frac") > 0.20)
        | (rep.getField("dup_trigram_frac") > 0.30)
    )


def normalize_ws(col: Column) -> Column:
    """Case-fold + collapse runs of whitespace to one space + strip edges.

    The canonical pre-fingerprint normalization — shared by every dedup
    fingerprint AND re-derived verbatim in the DuckDB oracles (same
    explicit ``WS_RE`` class, so Java and RE2 agree on \\x0B).  Pure
    regex, no ``trim()``: Spark's trim strips ASCII space only while
    DuckDB's strips Unicode spaces (NBSP included) — a third dialect
    divergence.  After collapsing, edges hold at most one space, so
    ``^ | $`` finishes the job identically everywhere."""
    collapsed = F.regexp_replace(F.lower(col), WS_RE, " ")
    return F.regexp_replace(collapsed, "^ | $", "")


def fingerprint(col: Column) -> Column:
    """Exact content fingerprint: 64-bit hash of whitespace/case-normalized
    text (xxhash64, JVM-side)."""
    return F.xxhash64(normalize_ws(col))


# ---------------------------------------------------------------------------
# CCNet-style line-level boilerplate removal
# ---------------------------------------------------------------------------


def _doc_lines(df: DataFrame, id_col: str, text_col: str,
               group_col: str) -> DataFrame:
    """(grp, doc_id, pos, line): trimmed non-empty lines with their
    original position.  Explicit trim set (LINE_TRIM_RE) so the DuckDB
    oracle re-derives the identical lines on CRLF/tab text."""
    return (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), "\n"))
            .alias("pos", "raw"),
        )
        .select(
            "grp", "doc_id", "pos",
            F.regexp_replace(F.col("raw"), LINE_TRIM_RE, "").alias("line"))
        .filter(F.col("line") != "")
    )


def boilerplate_lines(df: DataFrame, id_col: str, text_col: str,
                      group_col: str, min_docs: int = 3) -> DataFrame:
    """Lines appearing in ≥ ``min_docs`` DISTINCT documents within a
    group — the CCNet-style boilerplate signal (nav menus, cookie
    banners, footers repeat across a host's pages; real content doesn't).

    Returns (grp, line, n_docs).  Plan: explode lines → per-(doc, grp,
    line) distinct → one count shuffle keyed (grp, line).  The group
    column is the blocking key (host at crawl scale); nothing compares
    lines ACROSS groups, so the shuffle partitions by (grp, line) and
    hot boilerplate cannot concentrate a single reducer beyond one
    line's count rows.
    """
    lines = _doc_lines(df, id_col, text_col, group_col)
    return (
        lines.select("grp", "doc_id", "line").distinct()
        .groupBy("grp", "line")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


#: Boilerplate (grp, line-hash) rows above which the per-group hash
#: arrays fall back from broadcast to a shuffle join in
#: :func:`remove_boilerplate` — same guarded-broadcast discipline as
#: ``decontam.BROADCAST_MAX_GRAMS`` (~2M 8-byte hashes + group keys is
#: tens of MB, comfortably inside a per-executor broadcast budget).
BP_BROADCAST_MAX = 2_000_000


def remove_boilerplate(df: DataFrame, id_col: str, text_col: str,
                       group_col: str, min_docs: int = 3,
                       broadcast_max: int = BP_BROADCAST_MAX) -> DataFrame:
    """Per document: text with the group's boilerplate lines removed.

    Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input
    document (a fully-boilerplate document keeps an empty clean_text).
    clean_text is normalized to trimmed non-empty lines joined by \\n in
    original order — the same line semantics as the Gopher repetition
    features (shared :func:`line_array`).

    Plan — NO text-bearing shuffle (the curation-family invariant):

    1. Count on ``xxhash64(line)`` (8 bytes), never line text: per-doc
       distinct hashes map-side (``array_distinct``), then ONE shuffle
       keyed (grp, h) with map-side partial counts → the boilerplate
       set, ``localCheckpoint``-ed (it is small — only lines repeated
       ≥ min_docs survive — and the checkpoint makes the broadcast
       guard's count free instead of a second corpus pass).
    2. Collapse to one (grp, array<hash>) row per group — bounded by
       distinct repeated lines per group — and join it back to the
       documents: broadcast under ``broadcast_max`` total (grp, h) rows
       (the common case; guarded count decides), else one shuffle join
       on grp where the per-group array, not exploded lines, is the
       joined payload.
    3. Rebuild MAP-SIDE: re-split the text in place and drop lines
       whose hash is in the group's array — document text never crosses
       an exchange in either branch.

    A 64-bit hash collision between a boilerplate and a content line
    within one group would drop the content line; at 10^12 docs the
    within-group birthday bound (groups are hosts, ≤~10^6 distinct
    lines) keeps the per-group collision odds < 10^-7.
    """
    lines_arr = line_array(F.col(text_col))
    hashes = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.array_distinct(
                    F.transform(lines_arr, lambda l: F.xxhash64(l)))
            ).alias("h"),
        )
        .groupBy("grp", "h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("grp", "h")
    ).localCheckpoint(eager=True)
    bp_by_grp = hashes.groupBy("grp").agg(
        F.collect_list("h").alias("_bp_hs"))
    if hashes.count() <= broadcast_max:
        bp_by_grp = F.broadcast(bp_by_grp)
    joined = df.join(
        bp_by_grp, F.col(group_col) == bp_by_grp["grp"], "left")
    keep = lambda l: (  # noqa: E731 — HOF predicate, shared below
        F.col("_bp_hs").isNull()
        | ~F.array_contains(F.col("_bp_hs"), F.xxhash64(l)))
    kept_arr = F.filter(lines_arr, keep)
    return joined.select(
        F.col(id_col).alias("doc_id"),
        F.concat_ws("\n", kept_arr).alias("clean_text"),
        F.size(kept_arr).cast("long").alias("n_kept"),
        (F.size(lines_arr) - F.size(kept_arr)).cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# C4-style line/page cleaning (Raffel et al. 2020 heuristics)
# ---------------------------------------------------------------------------


def c4_quality(df: DataFrame, id_col: str, text_col: str,
               min_line_words: int = 5,
               min_kept_lines: int = 3) -> DataFrame:
    """C4's cleaning heuristics, re-expressed map-side: keep lines that
    end in terminal punctuation (``. ! ? "``), carry at least
    ``min_line_words`` whitespace tokens and don't mention javascript;
    flag pages containing "lorem ipsum" or a curly brace, or retaining
    fewer than ``min_kept_lines`` lines.

    Returns (doc_id, n_lines, n_kept, kept_words, n_js_lines,
    has_lorem, has_brace, flagged, clean_text).  Pure Catalyst
    higher-order functions over the canonical trimmed line array —
    zero Python, ZERO exchanges: the whole operator is a projection of
    the scan, embarrassingly parallel at any corpus size.  Line trim
    and word split use the explicit whitespace classes, so the DuckDB
    oracle re-derives identical verdicts.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = line_array(t)

    def line_wc(l):
        return F.size(F.filter(F.split(l, WS_RE), lambda w: w != ""))

    def is_js(l):
        return F.lower(l).contains("javascript")

    def keep(l):
        return (l.substr(-1, 1).isin(".", "!", "?", '"')
                & (line_wc(l) >= min_line_words)
                & ~is_js(l))

    kept = F.filter(lines, keep)
    clean_text = F.concat_ws("\n", kept)
    kept_words = F.size(
        F.filter(F.split(clean_text, WS_RE), lambda w: w != ""))
    has_lorem = F.lower(t).contains("lorem ipsum")
    has_brace = t.contains("{")
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        kept_words.cast("long").alias("kept_words"),
        F.size(F.filter(lines, is_js)).cast("long").alias("n_js_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (has_lorem | has_brace | (n_kept < min_kept_lines))
        .alias("flagged"),
        clean_text.alias("clean_text"),
    )


def dedupe_doc_lines(df: DataFrame, id_col: str,
                     text_col: str) -> DataFrame:
    """Order-preserving WITHIN-document duplicate-line removal: drop
    every line whose whitespace/case-normalized form already appeared
    earlier in the same document (repeated nav/promo paragraphs), keep
    the first occurrence in its original spelling.

    Returns (id, n_lines, n_kept, n_removed, clean_text).  Pure
    Catalyst higher-order functions — zero Python, ZERO exchanges; the
    kept-set decision is a closed-form index predicate (no earlier
    position holds the same normalized form), so the DuckDB oracle
    re-derives it exactly.  Quadratic in a document's LINE count —
    map-side and cheap at crawl line counts (the cross-document
    analogue is :func:`remove_boilerplate`, which this composes with).
    """
    lines = line_array(F.col(text_col))
    d = df.select(F.col(id_col), lines.alias("_ls"))
    d = d.withColumn(
        "_ln", F.transform("_ls", lambda l: normalize_ws(l)))
    kept = F.filter(
        F.col("_ls"),
        lambda x, i: ~F.array_contains(
            F.slice(F.col("_ln"), F.lit(1), i),
            F.element_at(F.col("_ln"), i + F.lit(1))))
    return d.select(
        F.col(id_col),
        F.size("_ls").cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size("_ls") - F.size(kept)).cast("long").alias("n_removed"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )


def vocab_topk(df: DataFrame, text_col: str, k: int = 100) -> DataFrame:
    """Tokenizer-vocabulary induction: the ``k`` most frequent BPE-ish
    tokens over the case-folded corpus, with a deterministic total
    order (count desc, then token asc).

    Returns (token, n, rank).  100-TB shape: tokens are extracted
    map-side (JVM regexp, whole-stage codegen), the count is one
    partially-aggregated shuffle over the token key, and the top-k is
    ``orderBy(...).limit(k)`` — Catalyst compiles that to
    TakeOrderedAndProject (per-partition top-k, then a k·P-row merge on
    the driver side), so NO task ever sorts the whole vocabulary.  Web
    vocabulary grows ~N^0.5 (Heaps' law) — at crawl scale it is 10^9+
    distinct tokens, which is why the previous global no-partition
    row_number window (single-task full-vocab sort) was replaced; the
    rank window now runs over the k surviving rows only.
    """
    toks = F.explode(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            F.lit(BPE_ISH), F.lit(0)))
    counts = (df.select(toks.alias("token"))
              .groupBy("token").agg(F.count(F.lit(1)).alias("n")))
    topk = counts.orderBy(F.col("n").desc(), F.col("token")).limit(k)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return (topk
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select("token", F.col("n").cast("long").alias("n"), "rank"))


def tfidf_topterms(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Per-document distinctive terms: top-``k`` terms by
    df-normalized term frequency (score = tf / docfreq), the tf-idf
    family with an EXACT cross-engine score — int/int double division
    on identical integers (the jaccard discipline) instead of a
    transcendental log-idf whose last-ulp can flip top-k membership
    between engines.  Ties break term asc, so the cut is deterministic.

    100-TB shape: term extraction is map-side; the (doc, term) tf
    count is one partially-aggregated shuffle; docfreq is a second agg
    over the already-distinct (doc, term) table; the probe join is
    term-keyed (model side = one row per term; hot terms are AQE's
    skew-join case).  The rank window partitions by DOCUMENT — its
    input is one doc's term set (bounded by doc length), never a
    corpus-scale partition, so there is no single-task sort hazard.
    Docs with no words yield no rows.
    """
    ws = words(F.coalesce(F.col(text_col), F.lit("")))
    terms = df.select(F.col(id_col), F.explode(ws).alias("term"))
    # persist() is load-bearing (the _doc_bigram_counts discipline):
    # tf feeds both the docfreq aggregate and the probe join, and the
    # docfreq branch plans as a BroadcastExchange whose child is NOT
    # exchange-reusable — without the cache the corpus text scan +
    # term explode + count run TWICE (r9 plan: two Scan parquet nodes).
    # The cached table is (id, term, tf) counts only — text never
    # cached, spillable MEMORY_AND_DISK.
    tf = (terms.groupBy(id_col, "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf"))
          .persist())
    docfreq = (tf.groupBy("term")
               .agg(F.count(F.lit(1)).cast("long").alias("docfreq")))
    scored = (tf.join(docfreq, "term")
              .withColumn("score", F.col("tf") / F.col("docfreq")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term"))
    return (scored
            .withColumn("trank", F.row_number().over(w).cast("long"))
            .filter(F.col("trank") <= k)
            .select(id_col, "term", "tf", "docfreq", "score", "trank"))


def corpus_report(df: DataFrame, group_col: str,
                  text_col: str) -> DataFrame:
    """Per-group corpus statistics: document count, total canonical
    words, total characters, and the words-per-document ratio.

    ``avg_words`` is an int/int double division computed from the same
    aggregated integers on both engines — bit-identical by construction
    (the jaccard discipline), deliberately NOT rounded.  One map-side
    partially-aggregated shuffle on the group key.
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    return (df
            .select(F.col(group_col),
                    n_words(t).cast("long").alias("_w"),
                    F.length(t).cast("long").alias("_c"))
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("_w").cast("long").alias("total_words"),
                 F.sum("_c").cast("long").alias("total_chars"))
            .withColumn("avg_words",
                        F.col("total_words") / F.col("n_docs")))


# ---------------------------------------------------------------------------
# Compressed text payloads (WARC-style gzip members)
# ---------------------------------------------------------------------------


def gzip_encode_udf():
    """string -> binary: deterministic gzip member (mtime pinned to 0 so
    identical text yields identical bytes — reproducible fixtures)."""
    import gzip

    @F.pandas_udf("binary")
    def enc(texts: pd.Series) -> pd.Series:
        return pd.Series([
            gzip.compress((t or "").encode("utf-8"), mtime=0)
            for t in texts
        ])

    return enc


def gzip_decode_udf():
    """binary -> string: decode a gzip member back to text (the
    crawl-ingest step for WARC-style compressed payloads).  Arrow-
    batched stdlib inflate — a corrupt stream raises, it does not
    silently yield garbage."""
    import gzip

    @F.pandas_udf("string")
    def dec(payloads: pd.Series) -> pd.Series:
        return pd.Series([
            gzip.decompress(bytes(p)).decode("utf-8")
            for p in payloads
        ])

    return dec


#: sentence chunking class — a run of non-terminators plus its trailing
#: terminator run; explicit (no lookaround: RE2 has none), identical in
#: Java regex, RE2 and Python re.  Shared with the oracle via f-string.
SENT_RE = r"[^.!?]+[.!?]*"


def sentence_split(df, text_col: str = "text",
                   id_col: str = "doc_id"):
    """(id, text) → (doc_id, sidx, sentence, n_words): rule-based
    sentence segmentation — terminator-run chunking (``SENT_RE``), each
    chunk canonicalized by the SHARED :func:`normalize_ws` (lower +
    collapse + edge-strip — the fingerprint normalization, so sentence
    text is oracle-exact), empties dropped, position preserved.

    ``n_words`` counts single-space splits of the normalized sentence —
    exact on both engines by construction (normalization guarantees
    single internal spaces, no edges).

    100-TB shape: one map-side projection + posexplode; text reaches
    the explode but sentence rows are what downstream consumes — no
    exchange in the operator itself (the no-text-shuffle seam is the
    caller's, as with every curation sweep)."""
    chunks = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(SENT_RE), 0)
    ss = F.filter(F.transform(chunks, normalize_ws), lambda s: s != "")
    return (df.select(F.col(id_col), F.posexplode(ss)
                      .alias("sidx", "sentence"))
            .select(id_col, F.col("sidx").cast("int").alias("sidx"),
                    "sentence",
                    F.size(F.split(F.col("sentence"), " ", -1))
                    .cast("long").alias("n_words")))


#: HTML extraction chain — explicit, lookaround-free patterns valid in
#: Java regex, RE2 and Python re.  ORDER IS LOAD-BEARING: blocks before
#: tags (a stripped <script> tag would orphan its body), entities after
#: tags, and '&amp;' LAST among entities so '&amp;lt;' decodes ONCE to
#: '&lt;' (never double-decodes to '<') — the single-pass rule both
#: engines must share.
HTML_SCRIPT_RE = r"(?s)<script[^>]*>.*?</script>"
HTML_STYLE_RE = r"(?s)<style[^>]*>.*?</style>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"<[^>]*>"
HTML_ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                 ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")]


def html_text(col: Column) -> Column:
    """Visible text of an HTML payload: script/style/comment blocks →
    space, tags → space, the six common entities decoded in ONE pass
    (fixed order, ``&amp;`` last), then the shared
    :func:`normalize_ws` canonicalization.  Pure Catalyst (regexp
    chain + literal replaces, whole-stage codegen) — the boilerplate
    removal family's upstream stage, usable at crawl scale with zero
    Python."""
    out = F.coalesce(col, F.lit(""))
    for pat in (HTML_SCRIPT_RE, HTML_STYLE_RE, HTML_COMMENT_RE,
                HTML_TAG_RE):
        out = F.regexp_replace(out, pat, " ")
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return normalize_ws(out)
