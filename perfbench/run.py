"""Harmonization benchmark: one closed-loop client per process.

Usage, from the repository root::

    python3 perfbench/run.py --workload harmonize_gdc --seed 1 --seconds 10 --trace 0

A run generates its inputs from ``--seed``, times the set-up (JVM and session
start, standard load) as ``setup_s`` and one cold pass as ``first_pass_s``,
then runs passes back to back until ``--seconds`` have passed and at least
two warm passes are done. Every pass is checked against a DuckDB oracle
outside the timed region; a wrong pass counts as failed and is never
reported as a timing. ``--trace 1`` adds per-layer spans and prints the
per-layer metrics instead of the end-to-end ones. See perfbench/README.md.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context


# the run itself is a child process. The parent is its child subreaper
# (Linux prctl), so every process the run starts (multiprocessing's resource
# tracker, the gateway JVM, Python workers) becomes the parent's child when
# its own parent exits; the parent reaps them all, so no process started by
# a run outlives it
CHILD_ENV = "PERFBENCH_CHILD"
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 10


def _children() -> list:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the list was read
            continue
        if int(fields[1]) == os.getpid():  # fields[1] is the parent's pid
            pids.append(int(entry))
    return pids


def reap_all() -> None:
    """Reap every child; after REAP_GRACE_S, kill those still running."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:  # no child is left
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in _children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(command: list) -> int:
    """Run ``command`` as a child, then reap every process it leaves behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    child = subprocess.Popen(command, env={**os.environ, CHILD_ENV: "1"})
    signal.signal(signal.SIGTERM, lambda *_: child.terminate())
    try:
        return child.wait()
    finally:
        child.terminate()  # a no-op once the child has been reaped
        reap_all()


if __name__ == "__main__" and os.environ.get(CHILD_ENV) != "1":
    raise SystemExit(supervise([sys.executable, *sys.argv]))


ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the package and __spark_entry__ live there

from spans import PER_LAYER_UNITS, Tracer, per_layer_report, read_event_logs  # noqa: E402
from workloads import WORKLOADS, prepare  # noqa: E402

import biomedical_data_integration_spark as bdi  # noqa: E402

# a run keeps going past --seconds until two warm passes are in, so the
# median never rests on the first warm pass alone, which still runs partly
# cold (JIT)
MIN_WARM_PASSES = 2
END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s_p50": "s",
    "rows_per_s": "1/s",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str, trace: bool):
    """The benchmark's one session config, sized from the host's cores."""
    from pyspark.sql import SparkSession

    cores = _cores()
    config = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{max(2, cores) * 768}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.crossJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
    )
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        config = (
            config.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{events}")
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = config.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def run(workload, args, work: str, pool) -> dict:
    tracer = Tracer(enabled=bool(args.trace))
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    prepared = pool.submit(prepare, workload.name, args.seed, inputs).result()
    inputs_s = time.perf_counter() - t0

    # one cold set-up: a second one in the same process would find the JVM
    # warm and the standard cached (it measured under 0.15 s), so it would
    # no longer measure set-up
    tracer.scope = "setup"
    t0 = time.perf_counter()
    with tracer.span("session", "start"):
        spark = build_session(work, tracer.enabled)
        tracer.bind()
    if workload.standard:
        with tracer.span("sources.standards", "get_standard"):
            bdi.get_standard(workload.standard)
    setup_s = time.perf_counter() - t0

    # pass0 is the cold first pass; warm passes follow until --seconds pass
    attempted = failed = 0
    passes = []  # (scope, seconds) of the correct passes
    deadline = None
    while (deadline is None or time.perf_counter() < deadline
           or attempted <= MIN_WARM_PASSES):
        tracer.scope = scope = f"pass{attempted}"
        attempted += 1
        try:
            with tracer.span("pass"):
                t0 = time.perf_counter()
                out = workload.run_pass(tracer, spark, inputs, prepared)
                seconds = time.perf_counter() - t0
            ok = workload.check(out, prepared, pool)
        except Exception:  # a failing pass is counted and the loop goes on
            traceback.print_exc()
            ok = False
        if ok:
            passes.append((scope, seconds))
        else:
            failed += 1
        if deadline is None:
            deadline = time.perf_counter() + args.seconds

    spark.stop()
    if len(passes) < 2 or passes[0][0] != "pass0":
        raise SystemExit(f"{workload.name}: the cold pass or every warm pass failed")
    warm = [s for _, s in passes[1:]]
    p50 = statistics.median(warm)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": passes[0][1],
        "pass_s_p50": p50,
        "rows_per_s": prepared["rows"] / p50,
    }

    print(f"workload {workload.name}  seed {args.seed}  trace {args.trace}  "
          f"input {workload.input_desc}  local[{_cores()}]")
    print(f"inputs_s {inputs_s:.3f} s (generation and oracle in a child process, not in setup_s)")
    print(f"setup_s {setup_s:.3f} s (JVM and session start, standard load)")
    print(f"first_pass_s {e2e['first_pass_s']:.3f} s")
    n = len(warm)
    high = [q for q in (99, 95, 90, 75) if n * (100 - q) / 100 >= 10]
    tail = (f"p{high[0]} {statistics.quantiles(warm, n=100)[high[0] - 1]:.3f} s"
            if high else "no higher percentile has 10 samples beyond it")
    print(f"pass_s_p50 {p50:.3f} s over {n} warm passes ("
          + ", ".join(f"{s:.3f}" for s in warm) + f"); {tail}")
    print(f"rows_per_s {e2e['rows_per_s']:.1f} 1/s at {workload.input_desc}")
    print(f"error_rate {failed}/{attempted} = {failed / attempted:.3f}")

    if args.trace:
        timed = [scope for scope, _ in passes[1:]]
        report = per_layer_report(tracer.spans, read_event_logs(os.path.join(work, "events")),
                                  timed, passes[0][0])
        metrics = {k: {"value": report[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
        print("spans " + json.dumps(tracer.dump()))
        for scope in timed:
            mine = [s for s in tracer.spans if s.scope == scope]
            total = next(s.wall for s in mine if s.layer == "pass")
            layers = sum(s.wall for s in mine if s.layer != "pass")
            print(f"{scope}: wall {total:.3f} s = layer self_s {layers:.3f} s"
                  f" + unattributed {total - layers:.3f} s")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    # everything the run writes (inputs, Spark scratch, event logs, JVM and
    # Python temp files) goes under one directory removed at exit
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    try:
        with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
            result = run(WORKLOADS[args.workload], args, work, pool)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
