#!/usr/bin/env python
"""Round-8 optimization harness (bench.py is FROZEN for measurement; this
file holds the guide-§1 instrumentation: noop-sink isolation per query,
`.explain("formatted")` capture, and per-query repetition timing).

Usage:
  python bench_extra.py explain <query>[,<query>...] <outdir>   # plans only
  python bench_extra.py time <query>[,<query>...] [reps]        # isolated timing,
                                                  # cache cleared between reps

Reads $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS like bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from joern_spark.session import get_spark  # noqa: E402


def vmstat_columns(out: str) -> dict:
    """{column: value} of the last sample in `vmstat` output, read by the
    header row's names: procps-ng 4.x appends a `gu` column after `st`,
    so positions from the right are not stable."""
    lines = out.strip().splitlines()
    header = next(ln.split() for ln in lines if ln.split()[:2] == ["r", "b"])
    return dict(zip(header, map(int, lines[-1].split())))


def hoststate() -> dict:
    """Steal/load evidence for a measurement window (VERDICT r7 item 2:
    the graded bench JSON is frozen, so the host-state record rides this
    side artifact instead): vmstat steal%, loadavg, and a ~1 s pure-CPU
    control (single-core busy-loop iterations) comparable across runs."""
    import subprocess

    vm = vmstat_columns(subprocess.run(["vmstat", "1", "3"],
                                       capture_output=True, text=True).stdout)
    t0 = time.perf_counter()
    n = 0
    x = 0
    while time.perf_counter() - t0 < 1.0:
        for _ in range(10000):
            x = (x * 1103515245 + 12345) % 2147483648
        n += 10000
    return {
        "vmstat_idle_pct": vm["id"],
        "vmstat_steal_pct": vm["st"],
        "loadavg": open("/proc/loadavg").read().split()[:3],
        "cpu_control_iters_per_sec": n,
    }


def main() -> None:
    mode = sys.argv[1]
    if mode == "hoststate":
        print(json.dumps(hoststate()))
        return
    names = sys.argv[2].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="joern-spark-bench-extra")
    spark.sparkContext.setLogLevel("ERROR")
    qmap = entrymod.queries()
    if names == ["all"]:
        names = list(qmap)

    if mode == "explain":
        outdir = sys.argv[3]
        suffix = sys.argv[4] if len(sys.argv) > 4 else ""
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = qmap[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(outdir, f"{name}{suffix}.txt"), "w") as f:
                f.write(plan)
            df.unpersist(blocking=False)
            print(name, "ok", file=sys.stderr)
        return

    if mode == "time":
        # Leak-neutral: after each rep releases its returned frame, the
        # persistent RDDs still registered are counted ("left") and the
        # session cache is cleared, so no rep times a cache hit on a
        # frame an earlier rep left behind.
        reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        out = {}
        for name in names:
            ts, left = [], []
            for _ in range(reps):
                spark.sparkContext.setJobDescription(f"iso:{name}")
                t0 = time.perf_counter()
                df = qmap[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                ts.append(round(time.perf_counter() - t0, 3))
                df.unpersist(blocking=False)
                left.append(spark.sparkContext._jsc.getPersistentRDDs().size())
                spark.catalog.clearCache()
            out[name] = {"s": ts, "left": left}
            print(name, ts, "left", left, file=sys.stderr)
        print(json.dumps(out))
        return

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
