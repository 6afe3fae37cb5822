#!/usr/bin/env python
"""Per-task Python worker overhead of the `session.get_spark` session.

Prints the median wall time of identity `mapInPandas` jobs with 1, 4 and
16 tasks next to a plain-scan floor (the same range scan without the
Python stage), so a regression in worker start-up or per-task set-up shows
without running the full benchmark:

    python tools/worker_overhead.py [--master local[4]] [--reps 5]
"""

import argparse
import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TASKS = (1, 4, 16)


def _identity(batches):
    yield from batches


def _median_s(job, reps: int) -> float:
    job()  # warm-up: JVM codegen and, for the Python stage, worker spawn
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        job()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--master", default=None, help="default: get_spark's")
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from spardaqus_spark.session import get_spark

    spark = get_spark(app="worker_overhead", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    def run(n: int, python: bool):
        df = spark.range(n, numPartitions=n)
        if python:
            df = df.mapInPandas(_identity, df.schema)
        return lambda: df.write.format("noop").mode("overwrite").save()

    out = {
        "master": spark.sparkContext.master,
        "daemon": spark.conf.get("spark.python.daemon.module", "pyspark.daemon"),
        "reps": args.reps,
        "scan_floor_s": round(_median_s(run(max(TASKS), False), args.reps), 3),
    }
    for n in TASKS:
        out[f"map_in_pandas_{n}_tasks_s"] = round(_median_s(run(n, True), args.reps), 3)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
