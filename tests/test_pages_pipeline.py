"""End-to-end constraint pipeline over the synthetic pages corpus."""

import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.plans.pages_plan import default_pages_plan, pages_baselines
from katydid_haskell_spark.plans.runner import run_plan, run_resumable, read_verdicts
from katydid_haskell_spark.sources.pages import (
    extract_text,
    lang_dim_df,
    pages_df,
    with_bucket,
)

N = 4000


@pytest.fixture(scope="module")
def pages(spark):
    return with_bucket(pages_df(spark, N, partitions=8)).cache()


@pytest.fixture(scope="module")
def result(spark, pages):
    plan = default_pages_plan(expect_rows=N)
    dims = {"lang_dim": lang_dim_df(spark)}
    baselines = pages_baselines(spark, pages_df(spark, N, drifted=False))
    r = run_plan(pages, plan, dims, baselines, snapshot="test1")
    verdicts = {
        (row["bucket_id"], row["rule_id"]): row
        for row in r.verdicts.collect()
    }
    violations = r.violations.collect()
    return verdicts, violations


def table_verdict(verdicts, rule_id):
    return verdicts[(-1, rule_id)]


def test_text_invariant(pages):
    rows = pages.select("html", "text").collect()
    assert all(r["text"] == extract_text(bytes(r["html"])) for r in rows)


def test_uniqueness_fails_by_construction(result):
    verdicts, violations = result
    v = table_verdict(verdicts, "unique_url")
    assert v["pass"] is False
    dup_urls = [x for x in violations if x["rule_id"] == "unique_url"]
    assert len(dup_urls) == int(v["metric"])
    assert all("duplicate count=" in x["detail"] for x in dup_urls)


def test_referential_fails_by_construction(result):
    verdicts, violations = result
    v = table_verdict(verdicts, "lang_in_iso639")
    assert v["pass"] is False
    orphans = [x for x in violations if x["rule_id"] == "lang_in_iso639"]
    assert len(orphans) == int(v["metric"])
    assert all("not in dimension" in x["detail"] for x in orphans)


def test_row_rules_per_bucket(result):
    verdicts, violations = result
    # url rules pass everywhere
    buckets = {b for (b, r) in verdicts if r == "url_scheme"}
    assert buckets and all(
        verdicts[(b, "url_scheme")]["pass"] for b in buckets
    )
    total_checked = sum(
        verdicts[(b, "url_scheme")]["rows_checked"] for b in buckets
    )
    assert total_checked == N
    # lang_shape fails for ""/None rows
    lang_viols = [x for x in violations if x["rule_id"] == "lang_shape"]
    assert lang_viols
    assert any(not verdicts[(b, "lang_shape")]["pass"] for b in buckets)


def test_stats_pass(result):
    verdicts, _ = result
    for rid in ("text_null_rate", "lang_null_rate", "ts_min_in_window",
                "ts_max_in_window", "url_distinct"):
        assert table_verdict(verdicts, rid)["pass"] is True, rid


def test_drift_detected(result):
    verdicts, _ = result
    psi = table_verdict(verdicts, "text_len_drift")
    assert psi["pass"] is False  # drifted cohort planted
    assert psi["metric"] > 0.2
    kl = table_verdict(verdicts, "warc_ts_drift")
    assert kl["metric"] > 0.0


def test_drift_self_is_zero(spark, pages):
    from katydid_haskell_spark.operators import drift as d

    hist = d.histogram(pages, d.text_len_bucket(F.col("text"), 50))
    row = d.divergences(hist, hist).collect()[0]
    assert abs(row["psi"]) < 1e-9
    assert abs(row["kl"]) < 1e-9


def test_resumable(spark, pages, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    plan = default_pages_plan()
    dims = {"lang_dim": lang_dim_df(spark)}
    baselines = pages_baselines(spark, pages_df(spark, N, drifted=False))
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
    v1 = read_verdicts(spark, ckpt)
    n_first = v1.count()
    assert v1.where("bucket_id >= 0").count() > 0
    # resume: all buckets done → row pass adds nothing for snapshot s1
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
    v2 = read_verdicts(spark, ckpt)
    row_v1 = v1.where("bucket_id >= 0").count()
    row_v2 = v2.where("bucket_id >= 0").count()
    assert row_v2 == row_v1  # no bucket re-processed
    # table-scope rules are once-per-snapshot too: a resume must not append
    # duplicate bucket_id=-1 verdicts (ADVICE r1)
    assert v2.count() == n_first
    t2 = (v2.where("bucket_id = -1")
          .groupBy("rule_id").count().where("count > 1").count())
    assert t2 == 0


def test_fused_plan_matches_unfused(spark, pages):
    """run_plan(fused=True) — 4 full-table passes — must produce the same
    verdicts and violations as the rule-class-per-pass path (the only
    allowed delta: approx_distinct estimates, HLL++ vs merged
    DataSketches)."""
    plan = default_pages_plan(expect_rows=N)
    dims = {"lang_dim": lang_dim_df(spark)}
    baselines = pages_baselines(spark, pages_df(spark, N, drifted=False))
    a = run_plan(pages, plan, dims, baselines, snapshot="s", fused=True)
    b = run_plan(pages, plan, dims, baselines, snapshot="s", fused=False)

    def vkey(rows):
        out = {}
        for r in rows:
            out[(r.bucket_id, r.rule_id)] = (
                r["pass"], round(r.metric, 9) if r.metric is not None else None,
                r.rows_checked)
        return out

    va, vb = vkey(a.verdicts.collect()), vkey(b.verdicts.collect())
    assert set(va) == set(vb)
    for k in va:
        if k[1] == "url_distinct":  # approx estimator may differ slightly
            assert abs(va[k][1] - vb[k][1]) / max(vb[k][1], 1) < 0.05
            continue
        assert va[k] == vb[k], f"{k}: fused={va[k]} unfused={vb[k]}"
    sa = sorted((r.url, r.rule_id, r.detail) for r in a.violations.collect())
    sb = sorted((r.url, r.rule_id, r.detail) for r in b.violations.collect())
    assert sa == sb


def test_fused_plan_prunes_unused_columns(spark, tmp_path):
    """Column pruning must reach the scan: the fused plan reads
    url/warc_ts/text/lang/bucket — never the html payload (which is most
    of the bytes at web scale)."""
    path = str(tmp_path / "pages_pq")
    with_bucket(pages_df(spark, 500)).write.parquet(path)
    pages = spark.read.parquet(path)
    plan = default_pages_plan(expect_rows=500)
    dims = {"lang_dim": lang_dim_df(spark)}
    baselines = pages_baselines(spark, pages_df(spark, 500, drifted=False))
    r = run_plan(pages, plan, dims, baselines, snapshot="s")
    for df in (r.verdicts, r.violations):
        explained = df._jdf.queryExecution().executedPlan().toString()
        for rs in [l for l in explained.splitlines() if "ReadSchema" in l]:
            assert "html" not in rs, rs


def test_fused_skew_salt_matches_plain(spark, pages):
    """North-star 'salted for skewed hosts': the heavy-hitter-driven
    salted uniqueness pass must be verdict- and violation-identical to
    the plain aggregate on a Zipf-skewed fixture (one hot duplicated url
    holding >10% of rows, plus the normal corpus)."""
    from katydid_haskell_spark.plans.checkplan import SkewSalt

    hot = (spark.range(600)
           .select(F.lit("https://hot.example.com/dup").alias("url"))
           .join(pages.limit(1).drop("url")))
    skewed = pages.unionByName(hot.select(*pages.columns)).cache()
    plan = default_pages_plan(expect_rows=N)
    dims = {"lang_dim": lang_dim_df(spark)}
    baselines = pages_baselines(spark, pages_df(spark, N, drifted=False))
    a = run_plan(skewed, plan, dims, baselines, snapshot="s",
                 skew=SkewSalt(min_fraction=0.05, n_salts=4))
    b = run_plan(skewed, plan, dims, baselines, snapshot="s")

    def uniq_rows(res):
        v = [(r.bucket_id, r.rule_id, r["pass"], r.metric)
             for r in res.verdicts.collect() if r.rule_id == "unique_url"]
        viol = sorted((r.url, r.detail) for r in res.violations.collect()
                      if r.rule_id == "unique_url")
        return v, viol

    va, viola = uniq_rows(a)
    vb, violb = uniq_rows(b)
    assert va == vb
    assert viola == violb
    # the hot url is detected with its exact count
    assert ("https://hot.example.com/dup", "duplicate count=600") in viola


def test_percentile_stat_rules_fused_parity(spark):
    """Percentile StatRules (p50 / p99 / approx_p95): valid in both
    engines, identical verdicts fused vs unfused, and the fused plan
    folds ALL non-mergeable metrics (exact distinct + percentiles) into
    ONE extra global pass."""
    from katydid_haskell_spark.operators.stats import StatRule
    from katydid_haskell_spark.plans.checkplan import CheckPlan
    from katydid_haskell_spark.plans.runner import run_plan

    df = with_bucket(pages_df(spark, 800)).withColumn(
        "text_len", F.length("text"))
    plan = CheckPlan(
        row_rules=[],
        stat_rules=[
            StatRule("len_p50_floor", "text_len", "p50", "ge", 1.0),
            StatRule("len_p99_cap", "text_len", "p99", "le", 1e7),
            StatRule("len_p95_approx", "text_len", "approx_p95", "le", 1e7),
            StatRule("url_exact_distinct", "url", "distinct", "ge", 1),
        ],
        unique_rules=[], ref_rules=[], drift_rules=[],
    )
    a = run_plan(df, plan, {}, {}, snapshot="s", fused=True)
    b = run_plan(df, plan, {}, {}, snapshot="s", fused=False)
    va = {(r.bucket_id, r.rule_id): (r["pass"], r.metric)
          for r in a.verdicts.collect()}
    vb = {(r.bucket_id, r.rule_id): (r["pass"], r.metric)
          for r in b.verdicts.collect()}
    assert set(va) == set(vb)
    # KLL's guarantee is RANK-space (~1.65% normalized rank error at the
    # default k), NOT value-space: where the value distribution jumps,
    # a within-spec rank wobble moves the VALUE arbitrarily far, so a
    # relative-value tolerance here flakes by design (observed in-suite;
    # KLL compaction is also randomized run-to-run).  Gate each engine's
    # estimate by its empirical rank instead.
    lens = sorted(r[0] for r in df.select("text_len").collect())

    def _rank(v):
        import bisect
        return bisect.bisect_right(lens, v) / len(lens)

    for k in va:
        if k[1] == "len_p95_approx":
            # approx_p* is the second allowed estimator delta (after
            # approx_distinct): fused merges per-bucket KLL partials,
            # unfused builds one sketch — both must land within rank
            # error of the true 0.95, but not necessarily on the same
            # value
            for est in (va[k][1], vb[k][1]):
                assert abs(_rank(est) - 0.95) < 0.05, (
                    f"rank({est}) = {_rank(est)}")
            continue
        assert va[k] == vb[k], f"{k}: fused={va[k]} unfused={vb[k]}"
    assert all(p for p, _ in va.values())
    # exact p50 really is the median of the column
    med = df.agg(F.expr("percentile(text_len, 0.5)")).collect()[0][0]
    assert va[(-1, "len_p50_floor")][1] == med
    # KLL estimate lands within rank error of the exact p95: the
    # empirical rank of the returned value stays inside [0.90, 1.0]
    kll_v = va[(-1, "len_p95_approx")][1]
    n_tot = df.count()
    rank = df.where(F.col("text_len") <= kll_v).count() / n_tot
    assert 0.90 <= rank <= 1.0, (kll_v, rank)


def test_fused_plan_reads_rewritten_input_not_a_stale_cache(spark, tmp_path):
    """Failure injection: the input directory is rewritten between two
    runs of the same plan.  The second run must see the new rows — a
    DataFrame persisted by the first run, never released, would match
    the identical plan and replay the old verdict — and no run may leave
    anything in Spark's cache manager."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from katydid_haskell_spark.plans.checkplan import (
        CheckPlan,
        UniqueRule,
        run_plan_fused,
    )

    spark.catalog.clearCache()
    path = str(tmp_path / "urls")
    plan = CheckPlan(unique_rules=[UniqueRule("unique_url", "url")])

    def unique_verdict(urls):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        (tmp_path / "urls").mkdir()
        pq.write_table(pa.table({"url": urls, "bucket": [0] * len(urls)}),
                       path + "/part-0.parquet")
        df = spark.read.parquet(path)
        assert df.count() == len(urls)
        verdicts, _ = run_plan_fused(df, plan, {}, {})
        (row,) = verdicts.where(F.col("rule_id") == "unique_url").collect()
        return row["pass"], row["metric"]

    assert unique_verdict(["a", "b", "c"]) == (True, 0.0)
    assert unique_verdict(["a", "a", "b", "b"]) == (False, 2.0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
