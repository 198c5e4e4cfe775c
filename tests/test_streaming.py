"""Streaming validation tests (file source, availableNow trigger, memory sink)."""

import json
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from katydid_haskell_spark.plans.checkplan import CheckPlan, RowRule
from katydid_haskell_spark.streaming.stream_checks import (
    monotonic_check,
    stream_violations,
    windowed_verdicts,
)

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("seq", T.LongType()),
    T.StructField("user", T.LongType()),
])

ROWS = [
    ("https://a/1", "2025-01-01 00:00:01", "en", 1, 1),
    ("https://a/2", "2025-01-01 00:00:30", "Z9", 2, 1),
    ("http://b/3", "2025-01-01 00:01:10", "de", 3, 1),
    ("https://a/4", "2025-01-01 00:01:40", "en", 2, 1),  # seq regression
    ("https://a/5", "2025-01-01 00:02:30", "", 5, 2),
]


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    df = spark.createDataFrame(
        ROWS, "url string, ts string, lang string, seq long, user long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "data"))
    return str(d / "data")


def _run_to_memory(sdf, name, output_mode="append"):
    q = (
        sdf.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ckpt-{name}-{time.time_ns()}")
        .start()
    )
    q.awaitTermination(120)
    return q


PLAN = CheckPlan(row_rules=[
    RowRule("url_https", '.url ^= "https://"'),
    RowRule("lang_shape", '.lang ~= "^[a-z]{2}$"'),
])


def test_stream_violations(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = stream_violations(stream, PLAN, key_col="url")
    _run_to_memory(out, "viol")
    got = spark.sql("select * from viol").collect()
    rows = {(r["url"], r["rule_id"]) for r in got}
    assert ("http://b/3", "url_https") in rows
    assert ("https://a/2", "lang_shape") in rows
    assert ("https://a/5", "lang_shape") in rows
    assert len(rows) == 3
    # detail as the batch violations sink writes it: the rule's detail,
    # else its spec
    assert {(r["rule_id"], r["detail"]) for r in got} == {
        ("url_https", '.url ^= "https://"'),
        ("lang_shape", '.lang ~= "^[a-z]{2}$"'),
    }


def test_windowed_verdicts(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = windowed_verdicts(stream, PLAN, "ts", "1 minute", "2 minutes")
    # append mode only emits watermark-finalized windows; with a one-shot
    # availableNow run nothing finalizes — use complete mode for the test
    _run_to_memory(out, "wv", output_mode="complete")
    rows = spark.sql("select * from wv order by window_start").collect()
    assert len(rows) == 3  # three 1-minute windows
    first = rows[0]
    assert first["rows_checked"] == 2
    assert first["pass_url_https"] == 2
    assert first["pass_lang_shape"] == 1


def test_monotonic_state(spark, stream_dir):
    stream = spark.readStream.schema(SCHEMA).parquet(stream_dir)
    out = monotonic_check(stream, "user", "seq", "ts")
    _run_to_memory(out, "mono")
    rows = [tuple(r) for r in spark.sql("select * from mono").collect()]
    assert rows == [(1, 3, 2)]


def test_stream_dedup(spark, stream_dir, tmp_path):
    from katydid_haskell_spark.streaming.stream_checks import stream_dedup

    # duplicate one url within the watermark horizon
    dup = spark.createDataFrame(
        [("https://a/1", "2025-01-01 00:00:05", "en", 9, 3)],
        "url string, ts string, lang string, seq long, user long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    d2 = str(tmp_path / "dedup_in")
    spark.read.parquet(stream_dir).unionByName(dup).coalesce(1) \
        .write.parquet(d2)
    stream = spark.readStream.schema(SCHEMA).parquet(d2)
    out = stream_dedup(stream, ["url"], "ts", watermark="10 minutes")
    _run_to_memory(out, "dedup_t")
    rows = spark.sql("SELECT url FROM dedup_t").collect()
    urls = [r.url for r in rows]
    assert len(urls) == len(set(urls)) == 5  # 6 inputs, 1 dup dropped


def test_foreach_batch_plan(spark, stream_dir, tmp_path):
    from katydid_haskell_spark.plans.checkplan import UniqueRule
    from katydid_haskell_spark.streaming.stream_checks import (
        foreach_batch_plan,
    )

    plan = CheckPlan(
        row_rules=PLAN.row_rules,
        unique_rules=[UniqueRule("unique_url", "url")],
    )
    out_dir = str(tmp_path / "plan_out")
    stream = (
        spark.readStream.schema(SCHEMA).parquet(stream_dir)
        .withColumn("bucket",
                    F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    q = (
        stream.writeStream
        .foreachBatch(foreach_batch_plan(plan, {}, {}, out_dir))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    v = spark.read.parquet(f"{out_dir}/verdicts")
    assert v.where("rule_id = 'url_https'").count() > 0
    assert v.where("bucket_id = -1 AND rule_id = 'unique_url'").count() == 1
    assert v.select("snapshot").distinct().collect()[0][0].startswith("batch-")
    viol = spark.read.parquet(f"{out_dir}/violations")
    assert viol.where("rule_id = 'url_https'").count() == 1  # http://b/3


def test_foreach_batch_replay_idempotent(spark, stream_dir, tmp_path):
    """Structured Streaming may re-invoke foreachBatch for the same
    batch_id after a failure; the dynamic partition overwrite must make the
    replay a no-op (same rows, no duplicates)."""
    from katydid_haskell_spark.streaming.stream_checks import (
        foreach_batch_plan,
    )

    out_dir = str(tmp_path / "replay_out")
    batch = (
        spark.read.parquet(stream_dir)
        .withColumn("bucket",
                    F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
    )
    run = foreach_batch_plan(PLAN, {}, {}, out_dir)
    run(batch, 0)
    v1 = spark.read.parquet(f"{out_dir}/verdicts").collect()
    viol1 = spark.read.parquet(f"{out_dir}/violations").collect()
    run(batch, 0)  # simulated retry of the SAME batch
    v2 = spark.read.parquet(f"{out_dir}/verdicts").collect()
    viol2 = spark.read.parquet(f"{out_dir}/violations").collect()
    assert sorted(map(tuple, v1)) == sorted(map(tuple, v2))
    assert sorted(map(tuple, viol1)) == sorted(map(tuple, viol2))
    # a DIFFERENT batch appends its own partition without touching batch-0
    run(batch.limit(2), 1)
    v3 = spark.read.parquet(f"{out_dir}/verdicts")
    assert v3.where("snapshot = 'batch-0'").count() == len(v1)
    assert v3.where("snapshot = 'batch-1'").count() > 0


def test_stream_restart_no_loss_no_dup(spark, tmp_path):
    """Kill/restart semantics end-to-end: process part 1, stop, add part 2,
    restart from the SAME checkpoint — verdicts are neither lost (part 2
    processed) nor duplicated (part 1 not re-emitted as a new batch)."""
    from katydid_haskell_spark.streaming.stream_checks import (
        foreach_batch_plan,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_part(rows, name):
        df = spark.createDataFrame(
            rows, "url string, ts string, lang string, seq long, user long"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        df.coalesce(1).write.mode("append").parquet(in_dir)

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMA).parquet(in_dir)
            .withColumn("bucket",
                        F.pmod(F.xxhash64("url"), F.lit(4)).cast("int"))
        )
        q = (
            stream.writeStream
            .foreachBatch(foreach_batch_plan(PLAN, {}, {}, out_dir))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination(120)

    write_part(ROWS[:3], "p1")
    run_once()
    v1 = spark.read.parquet(f"{out_dir}/verdicts")
    checked1 = (v1.where("rule_id = 'url_https'")
                .agg(F.sum("rows_checked")).collect()[0][0])
    assert checked1 == 3

    write_part(ROWS[3:], "p2")
    run_once()  # restart from the same checkpoint
    v2 = spark.read.parquet(f"{out_dir}/verdicts")
    checked2 = (v2.where("rule_id = 'url_https'")
                .agg(F.sum("rows_checked")).collect()[0][0])
    # all 5 rows checked exactly once across the two batches
    assert checked2 == 5
    assert v2.select("snapshot").distinct().count() == 2
    viol = spark.read.parquet(f"{out_dir}/violations")
    # exactly one http:// violation total (from part 1, not re-emitted)
    assert viol.where("rule_id = 'url_https'").count() == 1


def test_stream_dedup_normalized(spark, tmp_path):
    from katydid_haskell_spark.streaming.stream_checks import (
        stream_dedup_normalized,
    )

    rows = [
        ("a1", "2025-01-01 00:00:01", "The Quick Fox"),
        ("a2", "2025-01-01 00:00:02", "the  quick   fox "),  # norm dup of a1
        ("a3", "2025-01-01 00:00:03", "something else"),
        ("a4", "2025-01-01 00:00:04", "THE QUICK FOX"),      # norm dup of a1
    ]
    d = str(tmp_path / "nd_in")
    df = spark.createDataFrame(rows, "id string, ts string, text string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.parquet(d)
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("text", T.StringType()),
    ])
    stream = spark.readStream.schema(schema).parquet(d)
    out = stream_dedup_normalized(stream, "text", "ts",
                                  watermark="10 minutes")
    _run_to_memory(out, "nd_t")
    kept = {r.id for r in spark.sql("SELECT id FROM nd_t").collect()}
    assert len(kept) == 2
    assert "a3" in kept
    assert len(kept & {"a1", "a2", "a4"}) == 1  # one survivor of the trio


def test_stream_route_matches_batch(spark, tmp_path):
    """Streaming routing == batch split/shard assignment, row for row
    (both are pure functions of (seed, id))."""
    from katydid_haskell_spark.operators import mixing as mx
    from katydid_haskell_spark.streaming.stream_checks import stream_route

    df = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    d = tmp_path / "route_data"
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema("doc_id long").parquet(str(d))
    out = stream_route(stream, "doc_id", seed="s", n_shards=8,
                       shard_seed="sh")
    _run_to_memory(out, "route_parity")
    got = {r["doc_id"]: (r["bucket"], r["split"], r["shard"])
           for r in spark.table("route_parity").collect()}
    want_split = {r["doc_id"]: (r["bucket"], r["split"]) for r in
                  mx.split_assign(df, "doc_id", seed="s").collect()}
    want_shard = {r["id"] if "id" in r else r["doc_id"]: r["shard"]
                  for r in mx.shard_shuffle(df, "doc_id", seed="sh",
                                            n_shards=8).collect()}
    assert len(got) == 300
    for i, (b, s, sh) in got.items():
        assert (b, s) == want_split[i]
        assert sh == want_shard[i]


def test_table_stream_link_follows_the_table(spark, tmp_path, monkeypatch):
    """The entry's file-stream source keys its symlink directory on the
    table's absolute path, so a relative sf_dir from any cwd shares it,
    and it repoints a link found there that names another file."""
    import glob
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e

    sf = tmp_path / "sf"
    sf.mkdir()
    src = str(sf / "documents.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), src)
    monkeypatch.chdir(tmp_path)
    e._table_stream(spark, "sf", "documents")
    links = [p for p in glob.glob(os.path.join(
        tempfile.gettempdir(), "spark_graft_stream_*", "documents.parquet"))
        if os.readlink(p) == src]
    assert len(links) == 1
    try:
        os.remove(links[0])
        os.symlink(str(tmp_path / "elsewhere.parquet"), links[0])
        monkeypatch.chdir(sf)
        out = e._drain(e._table_stream(spark, "../sf", "documents"),
                       "table_stream_link")
        assert os.readlink(links[0]) == src
        assert sorted(r.doc_id for r in out.collect()) == [1, 2, 3]
    finally:
        shutil.rmtree(os.path.dirname(links[0]))


def test_streaming_query_reruns_replace_their_sink(spark, tmp_path):
    """Re-running one streaming entry query in a session replaces its own
    memory sink table instead of registering one more per run, and a
    frame returned by the first run still collects its rows after the
    third — also under a session-wide streaming checkpoint location,
    where a fixed query name would otherwise resume the first run's
    checkpoint."""
    import __spark_entry__ as e

    def sinks():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("spark_graft_sink_")}

    before = sinks()
    run = e.queries()["stream_route"]
    spark.conf.set("spark.sql.streaming.checkpointLocation", str(tmp_path))
    try:
        first = run(spark, "/root/testdata/sf0.001")
        want = sorted(tuple(r) for r in first.collect())
        assert want
        run(spark, "/root/testdata/sf0.001")
        third = run(spark, "/root/testdata/sf0.001")
    finally:
        spark.conf.unset("spark.sql.streaming.checkpointLocation")
    after = sinks()
    assert len(after - before) <= 1, after - before
    assert "spark_graft_sink_stream_route" in after
    assert sorted(tuple(r) for r in first.collect()) == want
    assert sorted(tuple(r) for r in third.collect()) == want
