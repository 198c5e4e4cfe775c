#!/usr/bin/env python
"""spark-submit entry point for the pages validation job.

Usage (the north-rule launch shape):

    spark-submit --master <cluster> --py-files katydid_haskell_spark.zip \\
        scripts/submit_validation.py \\
        --input /path/to/pages_parquet --checkpoint /path/ckpt \\
        --snapshot snap-001 [--n-synthetic 1000000]

Build the zip with ``python scripts/submit_validation.py --make-zip``.
Resumable: re-running with the same --checkpoint and --snapshot returns
without a Spark job once the snapshot is committed to the checkpoint's
manifest; a run that crashed before its commit rewrites the snapshot's
sink partition instead of appending to it.
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile


def make_zip(out: str = "katydid_haskell_spark.zip") -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "katydid_haskell_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, root))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--make-zip", action="store_true")
    ap.add_argument("--input", help="pages parquet path (bucketed layout)")
    ap.add_argument("--checkpoint", default="/tmp/katydid-ckpt")
    ap.add_argument("--snapshot", default="manual")
    ap.add_argument("--n-synthetic", type=int, default=0,
                    help="generate a synthetic corpus of this size instead "
                         "of reading --input")
    args = ap.parse_args()

    if args.make_zip:
        print(make_zip())
        return

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("katydid-validation").getOrCreate()

    from katydid_haskell_spark.plans.pages_plan import (
        default_pages_plan,
        pages_baselines,
    )
    from katydid_haskell_spark.plans.runner import run_resumable
    from katydid_haskell_spark.sources.pages import (
        lang_dim_df,
        pages_df,
        with_bucket,
    )

    if args.n_synthetic:
        pages = with_bucket(pages_df(spark, args.n_synthetic))
        baseline_src = pages_df(spark, max(args.n_synthetic // 10, 1000),
                                drifted=False)
    else:
        pages = spark.read.parquet(args.input)
        if "bucket" not in pages.columns:
            pages = with_bucket(pages)
        baseline_src = pages  # self-baseline unless a stored one is supplied

    plan = default_pages_plan()
    run_resumable(
        pages, plan, args.checkpoint,
        dims={"lang_dim": lang_dim_df(spark)},
        baselines=pages_baselines(spark, baseline_src),
        snapshot=args.snapshot,
    )
    print(f"verdicts + violations written under {args.checkpoint}")


if __name__ == "__main__":
    main()
