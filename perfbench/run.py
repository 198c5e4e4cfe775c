"""Relapse validation benchmark: one closed-loop client, one workload.

    python3 perfbench/run.py --workload json_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One driver process starts a Spark session
at ``local[nproc]`` through ``session.get_spark`` with its shipped defaults,
sets up the workload's seeded inputs, then submits validation jobs back to
back for ``--seconds`` seconds and checks every job's output.  The last line
of standard output is one JSON object; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer metrics (spans, executed plans and a
trace file under ``.perfbench_out/``).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def set_environment(out: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let executor Python workers import the package."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + " " + jvm).strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM the Python gateway launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out = os.path.join(ROOT, ".perfbench_out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    set_environment(out)
    sys.path.insert(0, ROOT)
    try:
        import workloads as W
        from katydid_haskell_spark.session import get_spark
        from spans import PlanListener, Tracer
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    tracer = Tracer(trace)

    with tracer.span("setup", job="setup"):
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark(cores=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = W.WORKLOADS[args.workload](spark, out, args.seed, tracer)
        setup_times, setup_parts = [], []
        for rep in range(SETUP_REPS):
            with tracer.span("setup", job=f"setup{rep}"):
                t = time.perf_counter()
                setup_parts.append(wl.setup())
                setup_times.append(time.perf_counter() - t)
        with tracer.span("perfbench.prepare_check", job="setup"):
            wl.prepare_check()
        listener = PlanListener(spark) if trace else None

        attempted = failed = 0
        traced_times, untraced_times = [], []
        plan_queries = []

        def one_job(j, traced):
            nonlocal attempted, failed
            tracer.enabled = traced
            attach = listener.attached() if traced and j else nullcontext()
            attempted += 1
            t = time.perf_counter()
            try:
                with tracer.span("job", job=j), attach:
                    res = wl.job(j)
                dt = time.perf_counter() - t
                ok = wl.check(res)
                wl.clean(res)
            except Exception:  # a job error is a counted failure
                dt = time.perf_counter() - t
                print(f"perfbench: job {j} failed", file=sys.stderr)
                traceback.print_exc()
                ok = False
            failed += not ok
            return dt

        first_job_s = one_job(0, trace)
        # The second job still runs well above the steady state (JIT,
        # Python worker pool), so it is a warm-up and is not measured.
        warmup_s = one_job(1, False)
        deadline = time.perf_counter() + args.seconds
        min_warm = 4 if trace else 2
        n = 0
        while n < min_warm or time.perf_counter() < deadline:
            # the traced run interleaves untraced and traced jobs (U T T U),
            # so the tracing overhead is measured in one process and the
            # warm-up trend falls on both sides alike
            traced = trace and n % 4 in (1, 2)
            dt = one_job(n + 2, traced)
            (traced_times if traced else untraced_times).append(dt)
            if traced:
                plan_queries = list(listener.queries)
            n += 1
        tracer.enabled = trace
        docs_per_s = wl.docs / median(untraced_times)

        result = {"correct": failed == 0 and wl.crosscheck_ok,
                  "attempted": attempted, "failed": failed}
        print(f"workload {args.workload} seed {args.seed}: "
              f"{json.dumps(wl.properties)}")
        if trace:
            # a layer the workload's job never calls reads 0
            layers = dict.fromkeys(UNITS, 0)
            layers.update(wl.layers(setup_parts, untraced_times))
            layers.update({f"checkplan.{k}": v for k, v in
                           PlanListener.sum_stats(plan_queries).items()})
            layers["trace.docs_per_s_ratio"] = (median(untraced_times)
                                                / median(traced_times))
            with open(os.path.join(out, "plans.txt"), "w") as f:
                for q in plan_queries:
                    f.write(f"== {q['action']} ({q.get('ms', 0):.1f} ms) ==\n"
                            f"{q.get('plan', q.get('failed'))}\n\n")
            tracer.write(os.path.join(out, "trace.json"), {
                "workload": args.workload, "seed": args.seed,
                "properties": wl.properties, "layers": layers})
            print("self time (s): " + json.dumps(
                {k: round(v, 4) for k, v in tracer.self_times().items()}))
            result["metrics"] = {k: {"value": v, "unit": UNITS[k]}
                                 for k, v in layers.items()}
        else:
            print(f"docs_per_s: {wl.docs} docs per job, median of "
                  f"{len(untraced_times)} warm jobs "
                  f"{[round(t, 3) for t in untraced_times]} s "
                  f"(warm-up job {warmup_s:.3f} s); "
                  f"error_rate {failed / attempted} (failed/attempted)")
            result["metrics"] = {
                "setup_s": {"value": session_s + median(setup_times),
                            "unit": "s"},
                "docs_per_s": {"value": docs_per_s, "unit": "1/s"},
                "first_job_s": {"value": first_job_s, "unit": "s"},
            }
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


UNITS = {
    "parser.parse_ms": "ms", "smart.compile_ms": "ms",
    "lower.compile_ms": "ms", "lower.catalyst_rules": "count",
    "vpa.docs_per_s": "1/s", "vpa.cold_batch_ms": "ms",
    "vpa.states": "count", "vpa.call_transitions": "count",
    "vpa.return_transitions": "count",
    "derive.docs_per_s": "1/s", "derive.fresh_docs_per_s": "1/s",
    "xml_source.decode_per_s": "1/s", "protobuf_source.decode_per_s": "1/s",
    "automaton.arrow_floor_s": "s",
    "checkplan.verdicts_s": "s", "checkplan.violations_s": "s",
    "checkplan.scans": "count", "checkplan.exchanges": "count",
    "checkplan.shuffle_bytes": "bytes", "checkplan.python_evals": "count",
    "runner.sink_overhead_s": "s", "runner.sink_bytes": "bytes",
    "pages.write_s": "s", "drift.baselines_s": "s", "pages.scan_s": "s",
    "trace.docs_per_s_ratio": "ratio",
}

if __name__ == "__main__":
    sys.exit(main())
