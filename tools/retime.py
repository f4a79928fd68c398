"""Re-time selected registry queries with repetitions — the bench-drift
settling tool (PERF_NOTES). Runs each named query R times in one session
(after one untimed warmup of the first query to absorb session/codegen
startup) and prints min/median/max. Each run forces the query through the
noop sink, as bench.py does: ``count()`` lets the optimizer prune columns
and skip work the registry face would do.

Usage: python tools/retime.py [-r REPS] [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    if args and args[0] == "-r":
        reps = int(args[1])
        args = args[2:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    def run(name: str) -> None:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()

    # warmup: absorb first-query session costs outside the timings
    run(names[0])
    for name in names:
        times = []
        for _ in range(reps):
            t0 = time.time()
            run(name)
            times.append(time.time() - t0)
        print(
            f"{name}: min={min(times):.2f}s med={statistics.median(times):.2f}s"
            f" max={max(times):.2f}s reps={reps}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
