"""Runner: execute a CheckPlan, write sinks, resume from checkpoint.

Every run is the fused four-pass plan (:func:`.checkplan.run_plan_fused`).
Resumability (BASELINE.json:north_rule) is per snapshot, the unit a run
commits:

  - both sinks are partitioned by ``snapshot``; :func:`write_snapshot`
    replaces only the ``snapshot=<s>`` partition (dynamic partition
    overwrite), so writing a snapshot twice leaves one copy of its rows
    and other snapshots untouched;
  - ``manifest.json`` lists the committed snapshots and is replaced
    atomically (temp file + ``os.replace``) after both sinks are written;
    a committed snapshot is skipped without starting a Spark job.

Per-partition lineage stays in the verdict sink: ``rows_checked`` per
``bucket_id`` per snapshot.  (The Iceberg-snapshot variant of the same
contract plugs in by swapping the manifest for a snapshot id — parquet +
manifest keeps the semantics without an Iceberg catalog on the classpath,
SURVEY.md §7.3.7.)
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkplan import CheckPlan, run_plan_fused

VERDICT_SCHEMA = (
    "bucket_id int, rule_id string, pass boolean, metric double, "
    "rows_checked long, snapshot string"
)
VIOLATION_SCHEMA = "url string, rule_id string, detail string"


@dataclass
class RunResult:
    verdicts: DataFrame
    violations: DataFrame


def run_plan(df: DataFrame, plan: CheckPlan,
             dims: Optional[Dict[str, DataFrame]] = None,
             baselines: Optional[Dict[str, DataFrame]] = None,
             key_col: str = "url", bucket_col: str = "bucket",
             snapshot: str = "na", skew=None) -> RunResult:
    """Run the fused four-pass plan; returns lazily-evaluated sink frames.

    ``skew`` (a checkplan.SkewSalt) enables heavy-hitter-driven salting of
    the uniqueness pass.
    """
    spark = df.sparkSession
    verdicts, violations = run_plan_fused(
        df, plan, dims or {}, baselines or {}, key_col, bucket_col,
        snapshot, skew=skew)
    if verdicts is None:
        verdicts = spark.createDataFrame([], VERDICT_SCHEMA)
    if violations is None:
        violations = spark.createDataFrame([], VIOLATION_SCHEMA)
    return RunResult(verdicts=verdicts, violations=violations)


def write_snapshot(res: RunResult, out_dir: str, snapshot: str) -> None:
    """Write both sinks under ``out_dir`` partitioned by ``snapshot``.

    Each write is a dynamic partition overwrite of only the
    ``snapshot=<snapshot>`` partition: writing the same snapshot again
    replaces its rows instead of appending a second copy, and every other
    snapshot's partition is untouched.  Violations carry no snapshot
    column in the plan's contract (url, rule_id, detail); one is stamped
    on here.
    """
    sinks = (("verdicts", res.verdicts),
             ("violations",
              res.violations.withColumn("snapshot", F.lit(snapshot))))
    for name, frame in sinks:
        (frame.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("snapshot")
         .parquet(os.path.join(out_dir, name)))


# ---------------------------------------------------------------------------
# Checkpoint / resume
# ---------------------------------------------------------------------------


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest.json")


def _load_manifest(checkpoint_dir: str) -> dict:
    path = _manifest_path(checkpoint_dir)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def committed_snapshots(checkpoint_dir: str) -> Dict[str, dict]:
    """Snapshots whose sinks are complete → ``{"committed_at": ts}``."""
    return _load_manifest(checkpoint_dir).get("snapshots", {})


def _commit_snapshot(checkpoint_dir: str, snapshot: str) -> None:
    m = _load_manifest(checkpoint_dir)
    m.setdefault("snapshots", {})[snapshot] = {"committed_at": time.time()}
    path = _manifest_path(checkpoint_dir)
    tmp = f"{path}.tmp.{os.getpid()}"  # unique per writer; replace is atomic
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def run_resumable(df: DataFrame, plan: CheckPlan, checkpoint_dir: str,
                  dims: Optional[Dict[str, DataFrame]] = None,
                  baselines: Optional[Dict[str, DataFrame]] = None,
                  key_col: str = "url", bucket_col: str = "bucket",
                  snapshot: str = "na", skew=None) -> None:
    """Run the plan for one snapshot into ``checkpoint_dir``, once.

    A snapshot the manifest records as committed returns at once, without
    a Spark job.  Otherwise the fused plan runs, :func:`write_snapshot`
    replaces the snapshot's partition of both sinks, and the snapshot is
    committed to the manifest.  A crash anywhere before the commit leaves
    the snapshot uncommitted; the re-run overwrites its partial rows.

    Checkpoint directories written by the earlier ``bucket_id``-partitioned
    layout (verdicts appended per bucket, a per-bucket manifest) are not
    migrated: start a new checkpoint directory.
    """
    if snapshot in committed_snapshots(checkpoint_dir):
        return
    res = run_plan(df, plan, dims, baselines, key_col, bucket_col,
                   snapshot, skew=skew)
    write_snapshot(res, checkpoint_dir, snapshot)
    _commit_snapshot(checkpoint_dir, snapshot)


def read_verdicts(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return (spark.read.schema(VERDICT_SCHEMA)
            .parquet(os.path.join(checkpoint_dir, "verdicts")))


def read_violations(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    return (spark.read.schema(f"{VIOLATION_SCHEMA}, snapshot string")
            .parquet(os.path.join(checkpoint_dir, "violations")))
