"""Job-level profiler for declared queries (optimization guide §1).

Runs one or more ``__spark_entry__.queries()`` faces in a bench-shaped
session with the Spark event log enabled, then parses the log to report
per-query wall time split into driver-side plan construction vs action
time, and the per-JOB timeline (submission→completion, description) so
the expensive job inside a multi-job build face is identifiable without
the UI.

Usage: python tools/profile_query.py <query> [query ...] [--sf DIR] [--runs N]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    runs = 1
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    evdir = tempfile.mkdtemp(prefix="spark-events-")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for n in names:
        if n not in qs:
            print(f"unknown query: {n}", file=sys.stderr)
            return 2

    # bench-shaped warmup
    from pyspark.sql import functions as _F
    from pyspark.sql.functions import pandas_udf as _pudf

    for _t in ("lineitem", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{sf_dir}/{_t}.parquet").limit(1000).count()
        except Exception:
            pass

    @_pudf("string")
    def _warm(s):
        return s

    spark.range(100).select(
        _warm(_F.col("id").cast("string"))
    ).write.mode("overwrite").format("noop").save()

    windows = []  # (name, run, t_start_ms, t_built_ms, t_end_ms)
    for name in names:
        for r in range(runs):
            spark.sparkContext.setJobDescription(f"{name}#run{r}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            spark.sparkContext.setJobDescription(None)
            windows.append(
                (name, r, t0 * 1000.0, t1 * 1000.0, t2 * 1000.0)
            )
            print(
                f"{name} run{r}: total {t2 - t0:6.2f}s  "
                f"(build {t1 - t0:5.2f}s, action {t2 - t1:5.2f}s)"
            )

    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse event log: job start/end with description. Spark 4 writes a
    # rolling dir eventlog_v2_<appId>/events_*; older versions one file.
    log_paths = []
    for f in sorted(os.listdir(evdir)):
        p = os.path.join(evdir, f)
        if os.path.isdir(p) and app_id in f:
            log_paths += [
                os.path.join(p, g)
                for g in sorted(os.listdir(p))
                if g.startswith("events")
            ]
        elif f.startswith(app_id):
            log_paths.append(p)
    jobs = {}
    for log_path in log_paths:
        with open(log_path) as fh:
            for ln in fh:
                try:
                    ev = json.loads(ln)
                except Exception:
                    continue
                if ev.get("Event") == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "start": ev["Submission Time"],
                        "desc": props.get("spark.job.description", ""),
                        "n_stages": len(ev.get("Stage IDs", [])),
                    }
                elif ev.get("Event") == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in jobs:
                        jobs[jid]["end"] = ev["Completion Time"]

    for name, r, t0, t1, t2 in windows:
        print(f"\n=== {name} run{r}: jobs in window ===")
        prev_end = t0
        for jid in sorted(jobs):
            j = jobs[jid]
            if j["start"] < t0 - 50 or j["start"] > t2 + 50:
                continue
            end = j.get("end", j["start"])
            dur = (end - j["start"]) / 1000.0
            # prev_end is the latest end so far, so a gap is idle time
            # outside the union of job intervals (perfbench/spans.py's
            # accounting); a job overlapping an earlier one has none
            gap = max(0, j["start"] - prev_end) / 1000.0
            prev_end = max(prev_end, end)
            print(
                f"  job {jid:4d}  +gap {gap:6.2f}s  dur {dur:6.2f}s  "
                f"stages={j['n_stages']}  {j['desc'][:60]}"
            )
        tail = (t2 - prev_end) / 1000.0
        print(f"  (driver tail after last job: {tail:.2f}s)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
