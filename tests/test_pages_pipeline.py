"""End-to-end constraint pipeline over the synthetic pages corpus.

The fused plan's verdicts on the 2000-row corpus are gated by the DuckDB
``pages_verdicts`` oracle (``oracles.pages_verdicts_sql``, run by
tests/test_entry_contract.py::test_query_matches_oracle); its violations by
``test_violations_match_duckdb_rederivation`` below.
"""

import json
import os
import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from katydid_haskell_spark.plans.pages_plan import default_pages_plan, pages_baselines
from katydid_haskell_spark.plans.runner import (
    committed_snapshots,
    read_verdicts,
    read_violations,
    run_plan,
    run_resumable,
)
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


def test_violations_match_duckdb_rederivation(spark):
    """The violations sink equals an independent DuckDB re-derivation
    (``oracles.pages_violations_sql``) over the Spark-free fixture of the
    same corpus: the (url, rule_id, detail) multiset of the six row rules,
    the lang_in_iso639 orphans and the unique_url duplicate counts."""
    import duckdb

    from katydid_haskell_spark.oracles import pages_violations_sql

    n = 2000
    pages = with_bucket(pages_df(spark, n))
    plan = default_pages_plan(expect_rows=n, exact_distinct=True)
    baselines = pages_baselines(spark, pages_df(spark, n, drifted=False))
    res = run_plan(pages, plan, {"lang_dim": lang_dim_df(spark)}, baselines,
                   snapshot="s")
    got = Counter((r.url, r.rule_id, r.detail)
                  for r in res.violations.collect())
    con = duckdb.connect()
    try:
        want = Counter(map(tuple, con.execute(
            pages_violations_sql(n, 42, 16)).fetchall()))
    finally:
        con.close()
    # every violation-producing rule class is exercised by the corpus
    assert {"lang_shape", "lang_in_iso639", "unique_url"} <= {
        rid for _, rid, _ in want}
    assert got == want


def test_topk_violations_bounds_each_rule(spark):
    """topk_violations keeps at most k rows per rule_id, the first k by
    (url, detail): a tie on url at the cut is decided by detail, and a
    rule with fewer than k violations is kept whole."""
    from katydid_haskell_spark.plans.checkplan import topk_violations

    rows = [("u1", "a", "d3"), ("u9", "a", "c"), ("u1", "a", "d1"),
            ("u0", "a", "z"), ("u1", "a", "d2"),
            ("u5", "b", "x"), ("u4", "b", "y")]
    v = spark.createDataFrame(rows,
                              "url string, rule_id string, detail string")
    out = topk_violations(v, k=3)
    assert out.columns == ["url", "rule_id", "detail"]
    got = {}
    for r in out.collect():
        got.setdefault(r.rule_id, []).append((r.url, r.detail))
    assert {rid: sorted(x) for rid, x in got.items()} == {
        "a": [("u0", "z"), ("u1", "d1"), ("u1", "d2")],
        "b": [("u4", "y"), ("u5", "x")],
    }


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


def test_percentile_stat_rules_exact_references(spark):
    """Percentile StatRules (p50 / p99 / approx_p95) and exact distinct
    in the fused plan: exact metrics equal numpy's type-7 percentile and
    a Python set over the collected column; the KLL estimate lands within
    rank error; an unknown metric raises at plan-build time."""
    from katydid_haskell_spark.operators.stats import StatRule
    from katydid_haskell_spark.plans.checkplan import CheckPlan, run_plan_fused

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
    got = {(r.bucket_id, r.rule_id): (r["pass"], r.metric)
           for r in run_plan(df, plan, {}, {}, snapshot="s")
           .verdicts.collect()}
    assert set(got) == {(-1, r.rule_id) for r in plan.stat_rules}
    assert all(p for p, _ in got.values())

    rows = df.select("text_len", "url").collect()
    lens = np.array([r.text_len for r in rows if r.text_len is not None],
                    dtype=np.float64)
    assert got[(-1, "len_p50_floor")][1] == pytest.approx(
        np.percentile(lens, 50), rel=1e-12)
    assert got[(-1, "len_p99_cap")][1] == pytest.approx(
        np.percentile(lens, 99), rel=1e-12)
    assert got[(-1, "url_exact_distinct")][1] == len(
        {r.url for r in rows if r.url is not None})

    # KLL's guarantee is RANK-space (~1.65% normalized rank error at the
    # default k), NOT value-space: where the value distribution jumps,
    # a within-spec rank wobble moves the VALUE arbitrarily far, so a
    # relative-value tolerance here flakes by design (KLL compaction is
    # also randomized run-to-run).  Gate the estimate by its empirical
    # rank instead.
    kll_v = got[(-1, "len_p95_approx")][1]
    rank = np.count_nonzero(lens <= kll_v) / len(lens)
    assert abs(rank - 0.95) < 0.05, (kll_v, rank)

    for metric in ("p150", "median"):
        bad = CheckPlan(stat_rules=[StatRule("bad", "text_len", metric,
                                             "le", 1.0)])
        with pytest.raises(ValueError, match="unknown stat metric"):
            run_plan_fused(df, bad, {}, {})


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


# ---------------------------------------------------------------------------
# Checkpoint sinks: failure injection
# ---------------------------------------------------------------------------


def _suite(spark):
    return (default_pages_plan(), {"lang_dim": lang_dim_df(spark)},
            pages_baselines(spark, pages_df(spark, N, drifted=False)))


def _rows(frame):
    return sorted(map(tuple, frame.collect()), key=repr)


@pytest.mark.parametrize("crash", ["manifest_lost", "commit_raises"])
def test_rerun_after_crash_before_commit_writes_one_copy(
        spark, pages, tmp_path, monkeypatch, crash):
    """A crash after the sink write but before the manifest commit leaves
    the snapshot uncommitted; the re-run must replace the snapshot's rows,
    not append a second copy."""
    from katydid_haskell_spark.plans import runner

    ckpt = str(tmp_path / "ckpt")
    plan, dims, baselines = _suite(spark)
    expected = run_plan(pages, plan, dims, baselines, snapshot="s1")
    n_verdicts = expected.verdicts.count()
    n_violations = expected.violations.count()
    if crash == "manifest_lost":
        run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
        os.remove(os.path.join(ckpt, "manifest.json"))
    else:
        def boom(*args):
            raise RuntimeError("injected crash before commit")

        with monkeypatch.context() as m:
            m.setattr(runner, "_commit_snapshot", boom)
            with pytest.raises(RuntimeError, match="injected"):
                run_resumable(pages, plan, ckpt, dims, baselines,
                              snapshot="s1")
    assert read_verdicts(spark, ckpt).count() == n_verdicts
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
    assert read_verdicts(spark, ckpt).count() == n_verdicts
    assert read_violations(spark, ckpt).count() == n_violations
    assert list(committed_snapshots(ckpt)) == ["s1"]


def test_crash_mid_commit_keeps_previous_manifest(spark, pages, tmp_path,
                                                  monkeypatch):
    """``os.replace`` failing inside the commit leaves the previous
    manifest whole and parseable; the re-run completes the snapshot."""
    ckpt = str(tmp_path / "ckpt")
    plan, dims, baselines = _suite(spark)
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")

    def boom(*args):
        raise OSError("injected crash in os.replace")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", boom)
        with pytest.raises(OSError, match="injected"):
            run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s2")
    with open(os.path.join(ckpt, "manifest.json")) as f:
        assert list(json.load(f)["snapshots"]) == ["s1"]
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s2")
    assert sorted(committed_snapshots(ckpt)) == ["s1", "s2"]
    v = read_verdicts(spark, ckpt)
    assert (v.where("snapshot = 's2'").count()
            == v.where("snapshot = 's1'").count() > 0)


def test_committed_snapshot_rerun_starts_no_spark_job(spark, pages, tmp_path):
    """Re-running a committed snapshot returns from the manifest alone."""
    ckpt = str(tmp_path / "ckpt")
    plan, dims, baselines = _suite(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("first-run", "fresh snapshot")
        run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
        sc.setJobGroup("committed-rerun", "re-run of a committed snapshot")
        run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert tracker.getJobIdsForGroup("first-run")  # the probe sees jobs
    assert tracker.getJobIdsForGroup("committed-rerun") == []


def test_second_snapshot_leaves_first_untouched(spark, pages, tmp_path):
    """Writing snapshot s2 into the same checkpoint replaces only its own
    partition: every s1 verdict and violation row is unchanged."""
    ckpt = str(tmp_path / "ckpt")
    plan, dims, baselines = _suite(spark)
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="s1")
    v1 = _rows(read_verdicts(spark, ckpt))
    viol1 = _rows(read_violations(spark, ckpt))
    run_resumable(pages.where("bucket < 8"), plan, ckpt, dims, baselines,
                  snapshot="s2")
    v = read_verdicts(spark, ckpt)
    viol = read_violations(spark, ckpt)
    assert _rows(v.where("snapshot = 's1'")) == v1
    assert _rows(viol.where("snapshot = 's1'")) == viol1
    assert v.where("snapshot = 's2'").count() > 0
    assert viol.where("snapshot = 's2'").count() > 0


def test_sink_reads_keep_a_numeric_snapshot_a_string(spark, pages, tmp_path):
    """Partition inference would read snapshot=2024 back as an integer;
    the typed sink reads keep the declared string column."""
    ckpt = str(tmp_path / "ckpt")
    plan, dims, baselines = _suite(spark)
    run_resumable(pages, plan, ckpt, dims, baselines, snapshot="2024")
    for frame in (read_verdicts(spark, ckpt), read_violations(spark, ckpt)):
        assert dict(frame.dtypes)["snapshot"] == "string"
        assert [r.snapshot for r in frame.select("snapshot").distinct()
                .collect()] == ["2024"]
        assert frame.where(F.col("snapshot") == "2024").count() > 0


def test_submit_validation_resumes_without_doubling(spark, tmp_path,
                                                     monkeypatch):
    """scripts/submit_validation.py run twice with the same --checkpoint
    and --snapshot writes the snapshot's verdicts once."""
    import importlib.util

    path = (Path(__file__).resolve().parents[1]
            / "scripts" / "submit_validation.py")
    spec = importlib.util.spec_from_file_location("submit_validation", path)
    submit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit)
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(sys, "argv", [
        "submit_validation.py", "--n-synthetic", "500",
        "--checkpoint", ckpt, "--snapshot", "snap-001"])
    submit.main()
    n_first = read_verdicts(spark, ckpt).count()
    submit.main()
    assert read_verdicts(spark, ckpt).count() == n_first > 0
