"""Benchmark of the production rollup pipeline (see README.md).

    python3 perfbench/run.py --workload cold_build --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Prints one JSON object as the last line
of stdout: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics, with the names and units it
gives. Exits non-zero, printing no result, when the program under test
is not in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cold_build", "range_reads")


def pin_environment(work: str) -> dict:
    """Environment for the benchmark's own Spark session, set before
    pyspark starts: all cores, a driver heap sized from MemTotal, a
    private SPARK_LOCAL_DIRS/TMPDIR, and PYTHONPATH so Python workers
    import the checkout's package from any cwd."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_mb = min(2048, mem_kb // 1024 // 8)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update(
        SPARK_DRIVER_MEM=f"{heap_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_DRIVER_JAVA_OPTS=f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "driver_heap_mb": heap_mb,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "spartan2_spark", "plans", "pipeline.py")):
        print(f"perfbench: no spartan2_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # SIGTERM unwinds like an exception, so the Spark session is stopped
    # and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        import workloads

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        key = "per_layer" if args.trace else "end_to_end"
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(HERE, "_out"), env, {m["name"]: m["unit"] for m in spec[key]},
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
