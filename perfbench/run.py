"""Repository benchmark: backlog ingest, tip freshness and lake/catalog reads.

Usage (from the repository root):

    python3 perfbench/run.py --workload backlog_query --seed 1 --seconds 16 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The line before it is a JSON detail record (sample counts, the metrics under
their design names, output-check problems).
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "substreams_sink_parquet_spark"
WORKLOADS = ("backlog_query", "ingest_tip")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Runs before pyspark is imported. The Python workers Spark forks for
    mapInPandas see only the environment, not this process's sys.path, so
    the checkout root goes on PYTHONPATH; the core count is pinned to the
    cores this process may use (the session otherwise asks for 32). Every
    other session setting is the program's default; Spark's scratch and
    temporary files go under the run's work directory."""
    cpus = len(os.sched_getaffinity(0))
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    for knob in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY", "SPARK_PREFER_SMJ"):
        env.pop(knob, None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        prepare_environment(work)
        import workloads

        return workloads.run(args, work, T_START)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
