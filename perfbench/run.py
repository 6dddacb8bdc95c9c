#!/usr/bin/env python3
"""CPG engine benchmark: one workload per run, one JSON line of results.

    python3 perfbench/run.py --workload scan|stream|graph --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository.  The run pins its
environment (cores, driver memory, Spark local dirs, worker PYTHONPATH),
starts one local[nproc] session, writes the inputs three times (the
median counts), warms up once untimed, measures the timed phase, checks
the engine's output against an in-process or batch reference, and prints
as the last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1.  Everything it writes goes under .perfbench_run/ in the
checkout and is removed at exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
DRIVER_MEM = "4g"
PASS_SAMPLE = 16


def pin_environment(work: str, nproc: int) -> None:
    """Must run before the JVM starts: the session reads these."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
    )


def start_session(work: str):
    from joern_spark.session import get_spark
    java_opts = ("-Dio.netty.tryReflectionSetAccessible=true -Xlog:disable "
                 f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp")
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def batch_tail(samples) -> dict:
    """The tail of the batch samples by the ten-beyond rule, 0 when the
    run has too few samples to support one."""
    from perfbench import observe
    try:
        pct, value = observe.tail_percentile(samples)
    except ValueError:
        pct = value = 0.0
    return {"batch.samples": len(samples), "batch.tail_percentile": pct,
            "batch.tail_ms": value}


def environment(nproc: int) -> dict:
    import pyspark

    from perfbench import observe
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    return {"commit": commit or "unknown", "pyspark": pyspark.__version__,
            "python": sys.version.split()[0], "cpus": nproc,
            "driver_mem": DRIVER_MEM, "host": observe.host_state()}


def measure(args, work: str, nproc: int) -> dict:
    from perfbench import metrics, observe
    from perfbench.passes import time_passes
    from perfbench.workloads import WORKLOADS, Mismatch, Scan

    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                      nproc)
        gen_s = []
        for r in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(work, f"input-{r}"))
            gen_s.append(time.perf_counter() - t0)
        for r in range(1, SETUP_REPS):
            shutil.rmtree(os.path.join(work, f"input-{r}"))
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0

        with observe.RssSampler() as rss:
            attempted, failed = wl.run()
        ui = observe.SparkUI(spark)
        wall_s = wl.window_s("timed")
        batches = wl.batch_ms(ui)
        e2e = {
            "setup_s": session_s + observe.median(gen_s) + warm_s,
            "wall_s": wall_s,
            "docs_per_s": attempted / wall_s,
            "batch_p50_ms": observe.median(batches),
        }
        try:
            wl.check()
            correct = True
        except Mismatch as e:
            print(f"correctness check failed: {e}", file=sys.stderr)
            correct = False
        if failed is None:
            failed = getattr(wl, "failed", 0)
        print(json.dumps({"workload": wl.name, "batch_samples": len(batches),
                          "peak_rss_mb": rss.peak_mb, **e2e}),
              file=sys.stderr)
        if args.trace:
            # per-pass times always over scan pages: unique scripts of
            # mixed sizes, whichever workload ran
            passes = time_passes(Scan(spark, work, args.seed, args.seconds,
                                      nproc).sample_pages(PASS_SAMPLE))
            if passes["missing"]:
                print(f"missing passes: {passes['missing']}", file=sys.stderr)
            wl.release()
            extra = {
                "cached_frames_left": observe.cached_frames(spark),
                "peak_rss_mb": rss.peak_mb,
                "failed_frac": failed / attempted,
                **batch_tail(batches),
                "setup.session_s": session_s,
                "setup.inputs_s": observe.median(gen_s),
                "setup.warmup_s": warm_s,
                **{f"traced.{k}": v for k, v in e2e.items()},
            }
            values = metrics.per_layer(wl, ui, passes, extra)
            units = metrics.PER_LAYER
        else:
            wl.release()
            values, units = e2e, metrics.END_TO_END
    finally:
        stop_session(spark)
    return {
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in values.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("scan", "stream", "graph"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "joern_spark")):
        print(f"no engine sources (joern_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    pin_environment(work, nproc)
    sys.path.insert(0, ROOT)
    try:
        print(json.dumps({"environment": environment(nproc)}),
              file=sys.stderr)
        result = measure(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
