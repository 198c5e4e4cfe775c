"""Streaming validation: the same compiled CheckPlan over a stream.

The row-rule Columns compiled by :mod:`..plans.checkplan` are ordinary
Catalyst expressions, so they apply unchanged to a streaming DataFrame —
the compile-once/run-anywhere property of driver-side spec compilation.

- :func:`stream_violations` — per-record violations stream (append mode).
- :func:`windowed_verdicts` — pass-rate rollups per event-time window with
  a watermark for late data (update/append mode).

Custom stateful checks beyond windowed aggregation (e.g. per-key monotonic
sequence validation) use ``applyInPandasWithState`` — see
:func:`monotonic_check`.
"""

from __future__ import annotations

from typing import List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.checkplan import (
    CheckPlan,
    explode_violations,
    row_violation_structs,
)


def _rule_cols(df: DataFrame, plan: CheckPlan):
    cols = plan.compile_row_columns(df.schema)
    return [(r.rule_id, cols[r.rule_id]) for r in plan.row_rules]


def stream_violations(stream: DataFrame, plan: CheckPlan,
                      key_col: str = "url") -> DataFrame:
    """Append-mode violations stream: (url, rule_id, detail), the rows
    the batch violations sink writes for the same row rules."""
    oks = [ok for _, ok in _rule_cols(stream, plan)]
    return explode_violations(
        stream, key_col, row_violation_structs(plan.row_rules, oks))


def windowed_verdicts(stream: DataFrame, plan: CheckPlan, ts_col: str,
                      window: str = "1 minute",
                      watermark: str = "2 minutes") -> DataFrame:
    """Per event-time window: rows_checked + pass count per rule."""
    pairs = _rule_cols(stream, plan)
    aggs = [F.count(F.lit(1)).alias("rows_checked")]
    for rid, ok in pairs:
        aggs.append(F.sum(ok.cast("long")).alias(f"pass_{rid}"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(*aggs)
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "*")
        .drop("w")
    )


def monotonic_check(stream: DataFrame, key_col: str, seq_col: str,
                    ts_col: str, watermark: str = "2 minutes",
                    sort_within_batch: bool = False) -> DataFrame:
    """Custom stateful rule: per key, seq values must be non-decreasing.

    Emits one row per violation (key, prev_seq, seq) where prev_seq is
    the running maximum seen so far.  State = last seen max per key,
    managed by applyInPandasWithState.

    ``sort_within_batch=True`` orders each micro-batch's group rows by
    (ts, seq) before scanning — arrival order within a group is not
    deterministic across runs, so this is what makes the check
    REPLAYABLE (and, for a single availableNow batch, exactly
    batch-equal to a running-max window over (ts, seq) order — the
    DuckDB-oracled form).  It materializes one group's micro-batch rows
    at a time; state across batches stays one long per key either way.
    """
    out_schema = f"{key_col} long, prev_seq long, seq long"
    state_schema = "last long"

    def fn(key, pdfs, state: GroupState):
        last = state.get[0] if state.exists else None
        rows = []
        if sort_within_batch:
            pdf = pd.concat(list(pdfs), ignore_index=True)
            chunks = [pdf.sort_values([ts_col, seq_col])]
        else:
            chunks = pdfs
        for pdf in chunks:
            for s in pdf[seq_col].tolist():
                if last is not None and s < last:
                    rows.append((key[0], last, s))
                last = max(last, s) if last is not None else s
        state.update((last,))
        if rows:
            yield pd.DataFrame(rows, columns=[key_col, "prev_seq", "seq"])

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup(stream: DataFrame, key_cols: List[str], ts_col: str,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first record per key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state is
    bounded by the watermark, unlike plain dropDuplicates whose state
    grows forever on an unbounded key space)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(key_cols)
    )


def stream_dedup_normalized(stream: DataFrame, text_col: str, ts_col: str,
                            watermark: str = "10 minutes",
                            fp_col: str = "__fp") -> DataFrame:
    """Streaming NORMALIZED dedup: keep the first record per text
    fingerprint (lowercased, whitespace-collapsed xxhash64 — the same
    ``textops.fingerprint`` the batch dedup uses) within the watermark
    horizon.  Catches the case/whitespace near-dups that exact key dedup
    misses, at identical state cost (one fingerprint per kept record,
    bounded by the watermark)."""
    from ..operators.textops import fingerprint

    out = (
        stream.withColumn(fp_col, fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([fp_col])
    )
    return out.drop(fp_col)


def foreach_batch_plan(plan: CheckPlan, dims, baselines, out_dir: str,
                       key_col: str = "url", bucket_col: str = "bucket"):
    """foreachBatch bridge: run the fused CheckPlan on every micro-batch
    and write verdicts/violations parquet partitioned by snapshot
    (= batch id).

    This is the streaming shape of the batch runner: the same compiled
    plan and the same sink writer (:func:`..plans.runner.write_snapshot`),
    with per-micro-batch lineage via the snapshot partition.  Idempotent
    on retries: Structured Streaming can re-invoke foreachBatch for the
    same batch_id after a failure, and the writer's dynamic partition
    overwrite of only the ``snapshot=batch-{id}`` partition makes a
    replayed batch replace its own rows instead of appending duplicates,
    leaving other batches' partitions untouched."""
    from ..plans.runner import run_plan, write_snapshot

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        snap = f"batch-{batch_id}"
        res = run_plan(batch_df, plan, dims, baselines,
                       key_col=key_col, bucket_col=bucket_col,
                       snapshot=snap)
        write_snapshot(res, out_dir, snap)

    return run


def stream_route(stream: DataFrame, id_col: str,
                 fractions=None, seed: str = "split-v1",
                 n_shards: int = 16,
                 shard_seed: str = "shuffle-v1") -> DataFrame:
    """Streaming ingest ROUTING: assign every arriving record its
    train/val/test split and its training shard, map-side on the
    stream.

    Both assignments are the batch operators' closed forms
    (:func:`mixing.split_assign` buckets, :func:`mixing.shard_shuffle`
    hex-prefix shards) — pure functions of (seed, id), so the streaming
    and batch paths route every record IDENTICALLY (parity-tested), a
    restart re-routes identically, and the oracle re-derives the
    assignment from the raw table.  Stateless: a projection of the
    stream, no watermark, no state store — this is the firehose-side
    half of the training-prep pipeline."""
    from katydid_haskell_spark.operators.mixing import (_SEP,
                                                        shard_expr,
                                                        split_assign)
    routed = split_assign(stream, id_col, fractions, seed)
    h = F.md5(F.concat_ws(_SEP, F.lit(shard_seed),
                          F.col(id_col).cast("string")))
    return (routed.withColumn("__sh", h)
            .withColumn("shard",
                        shard_expr("__sh", n_shards).cast("long"))
            .drop("__sh"))


def stream_warc_records(stream: DataFrame,
                        payload_col: str = "payload",
                        id_col: str = "doc_id") -> DataFrame:
    """SIXTH streaming surface: stateless crawl-container ingest — the
    REAL WARC/1.0 demux (operators/warc.py: gzip members,
    Content-Length framing, HTTP splitting) applied to a stream of
    binary payloads as an Arrow-batched projection.  One row per
    record, no watermark, no state store: a restart re-parses
    identically and the batch oracle stays valid verbatim (the
    stream_route discipline).  The crawl firehose shape: fetchers
    append WARC files; this side turns them into typed record rows
    without the bytes ever crossing an exchange."""
    from katydid_haskell_spark.operators.warc import warc_records

    return warc_records(stream, payload_col=payload_col, id_col=id_col)


def stream_semantic_route(stream: DataFrame,
                          centroids: list, dim: int,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_shards: int = 16,
                          shard_seed: str = "shuffle-v1") -> DataFrame:
    """SEVENTH streaming surface: semantic ingest routing — every
    arriving embedding is assigned its coarse semantic cell (the
    pre-trained k-means quantizer, broadcast into the stream as
    closure constants — the offline-index/online-route split of a
    production vector pipeline) and its training shard, map-side.

    Pure projection of the stream (Arrow cell assignment +
    the shard_shuffle hex-prefix closed form): no watermark, no state
    store — a restart routes identically and the batch oracle stays
    valid verbatim (the stream_route discipline).  Embeddings never
    cross an exchange; the output is (id, cell, shard) rows."""
    from ..operators.mixing import _SEP, shard_expr
    from ..operators.similarity import cell_assign_udf

    h = F.md5(F.concat_ws(_SEP, F.lit(shard_seed),
                          F.col(id_col).cast("string")))
    return (stream
            .withColumn("cell",
                        cell_assign_udf(centroids, dim)(F.col(vec_col)))
            .withColumn("__sh", h)
            .withColumn("shard",
                        shard_expr("__sh", n_shards).cast("long"))
            .select(id_col, "cell", "shard"))
