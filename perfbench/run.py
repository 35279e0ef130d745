"""Benchmark entry point.

    python3 perfbench/run.py --workload feature_job --seed 1 --seconds 2 --trace 0

Runs one workload of ``workloads.py`` from the root of a checkout as a
closed loop with one client: every call starts after the previous one
returns. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics of ``tracing.py``, read from Spark's event log of a traced
session that follows an untraced one. Everything the run writes goes under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

SETUP_REPS = 3
MIN_WARM_ACTIONS = 3
PHASE_PROPERTY = "perfbench.phase"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor; below 1 only for the benchmark's own tests")
    return p.parse_args(argv)


class JvmPeak:
    """Peak RSS of the driver JVM over a phase, from /proc (VmHWM), reset
    at the start of each phase through clear_refs."""

    def __init__(self, spark):
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self.pid = proc.pid if proc is not None else None

    def reset(self) -> None:
        if self.pid is not None:
            with open(f"/proc/{self.pid}/clear_refs", "w") as f:
                f.write("5")

    def mb(self) -> float:
        if self.pid is None:
            return 0.0
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def measure(spark, wl, args, work, *, setup_reps, check=True):
    """One session's pass over a workload: set-up, the cold job, the rest
    of the job, the warm loop and, when ``check``, the output checks.
    Returns the raw measurements."""
    from workloads import Steps, force, release

    sc = spark.sparkContext
    jvm = JvmPeak(spark)
    r = {"setups": [], "warm_s": [], "failures": []}
    sc.setLocalProperty(PHASE_PROPERTY, "setup")
    inp = None
    for _ in range(setup_reps):
        if inp is not None:
            release(inp)
        t0 = time.perf_counter()
        inp = wl.setup(spark, args.seed, args.scale)
        r["setups"].append(time.perf_counter() - t0)
    steps = Steps(spark)
    sc.setLocalProperty(PHASE_PROPERTY, "cold")
    jvm.reset()
    t0 = time.perf_counter()
    job = wl.cold(spark, inp, steps, str(work))
    r["cold_s"] = time.perf_counter() - t0
    r["jvm_cold_mb"] = jvm.mb()
    r.update(steps=steps, job=job, inp=inp, ops=1)
    sc.setLocalProperty(PHASE_PROPERTY, "finish")
    wl.finish(spark, inp, job, steps)
    r["ops"] += int("resume" in steps.seconds)
    sc.setLocalProperty(PHASE_PROPERTY, "warmup")
    for df in job.outputs:  # the first repeat still compiles; it is not timed
        force(df)
    r["ops"] += 1
    sc.setLocalProperty(PHASE_PROPERTY, "warm")
    jvm.reset()
    deadline = time.perf_counter() + args.seconds
    while len(r["warm_s"]) < MIN_WARM_ACTIONS or time.perf_counter() < deadline:
        t0 = time.perf_counter()
        for df in job.outputs:
            force(df)
        r["warm_s"].append(time.perf_counter() - t0)
    r["jvm_warm_mb"] = jvm.mb()
    r["ops"] += len(r["warm_s"])
    r["driver_peak_rss_mb"] = driver_peak_rss_mb()
    if not check:
        sc.setLocalProperty(PHASE_PROPERTY, None)
        return r
    sc.setLocalProperty(PHASE_PROPERTY, "check")
    t_check = time.perf_counter()
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        r["failures"] = wl.check(spark, inp, job, args.seed)
    except Exception as e:  # a crash while checking is a failed output
        r["failures"] = [f"check raised {type(e).__name__}: {e}"]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.pyspark.enabled")
        sc.setLocalProperty(PHASE_PROPERTY, None)
    r["check_s"] = time.perf_counter() - t_check
    return r


def outcome(r) -> dict:
    failed = r["ops"] if r["failures"] else 0
    return {"correct": not r["failures"], "attempted": r["ops"], "failed": failed}


def end_to_end(r, session_s) -> dict:
    warm = statistics.median(r["warm_s"])
    return {
        "setup_s": (session_s + statistics.median(r["setups"]), "s"),
        "cold_s": (r["cold_s"], "s"),
        "warm_s": (warm, "s"),
        "rows_per_s": (r["inp"]["rows"] / warm, "1/s"),
        "driver_peak_rss_mb": (r["driver_peak_rss_mb"], "MB"),
    }


def run_plain(wl, args, box_, work):
    from box import start_session

    spark, session_s = start_session(box_)
    try:
        r = measure(spark, wl, args, work, setup_reps=SETUP_REPS)
    finally:
        spark.stop()
    r["session_s"] = session_s
    return outcome(r), end_to_end(r, session_s), r


def run_traced(wl, args, box_, work):
    """An untraced pass, then a traced pass, in one process. The trace
    overhead compares their warm medians: cold times in one process fall
    from pass to pass as the JVM warms up, which would swamp it."""
    import tracing
    from box import start_session

    spark, _ = start_session(box_)
    try:
        untraced = measure(spark, wl, args, work, setup_reps=1, check=False)
    finally:
        spark.stop()
    log_dir = os.path.join(work, "eventlog")
    spark, _ = start_session(box_, event_log_dir=log_dir)
    try:
        r = measure(spark, wl, args, work, setup_reps=1)
        spark.sparkContext.setLocalProperty(PHASE_PROPERTY, "trace")
        shapes = tracing.plan_shapes(r["job"].outputs[0])
        extra = wl.trace_counts(r["inp"])
    finally:
        spark.stop()
    metrics = tracing.per_layer(r, tracing.EventLog.read_dir(log_dir), shapes, extra)
    base = statistics.median(untraced["warm_s"])
    metrics["trace.overhead_share"] = ((statistics.median(r["warm_s"]) - base) / base, "ratio")
    return outcome(r), metrics, r


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kamae_spark" / "__init__.py").is_file():
        print(f"perfbench: no kamae_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import box
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
    box.pin_process_env(str(work / "tmp"))
    box_ = box.Box.detect(str(work))
    try:
        run = run_traced if args.trace else run_plain
        result, metrics, r = run(WORKLOADS[args.workload], args, box_, work)
    finally:
        box.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    for failure in r["failures"]:
        print(f"perfbench: {args.workload}: {failure}", file=sys.stderr)
    print(json.dumps({"settings": box_.settings(), "setups_s": r["setups"],
                      "steps_s": r["steps"].seconds, "warm_s": r["warm_s"],
                      "check_s": r.get("check_s"), "session_s": r.get("session_s")}))
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
