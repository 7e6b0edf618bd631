"""WebLogHunter benchmark: seeded workloads, checked outputs, one JSON line.

    python3 perfbench/run.py --workload hunt --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. A workload (see workloads.py) runs in
one process on a `local[<cores>]` session, one driver thread, a closed
loop of one client: each operation starts after the previous one ends.
Set-up starts the session and runs the workload's untimed warm-up; then
whole rounds of operations run until `--seconds` have passed and at
least the workload's `min_rounds` have run.

`--trace 0` prints the end-to-end metrics named in BENCHMARK.json:
  op_cpu_s   CPU seconds (user + system) of this process and every
             process under it (JVM, Spark's Python workers) per timed
             operation, over all timed operations
  setup_s    wall time of session start (JVM launch included) plus the
             warm-up, without input generation and oracle computation
It also prints, on the line before, the sample count, the wall-time
median and 75th percentile of one operation, operations per second, the
CPU seconds of set-up and the driver JVM's resident-set high-water mark
(read after the session stops), and every operation's wall and CPU time
to stderr.

`--trace 1` runs one traced pass over the triage pipeline, the hunt
queries and curate, whatever `--workload` says (see tracing.py), prints
the per-layer metrics named in BENCHMARK.json and writes every span and
counter to perfbench/_work/trace/trace.json.

The last stdout line is {"correct", "attempted", "failed", "metrics"}.
Spark's own log goes to perfbench/_work/<workload>/spark.log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Input sizes: log lines behind the hunt store, base documents of the
# 4x curate fixture.
LOG_LINES = 12_000
CURATE_BASE_DOCS = 100


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workload(name: str, work_dir: str, seed: int):
    from workloads import Curate, Hunt

    if name == "hunt":
        return Hunt(work_dir, seed, LOG_LINES)
    if name == "curate":
        return Curate(work_dir, seed, CURATE_BASE_DOCS)
    raise ValueError(f"unknown workload {name!r}")


def start_session(work_dir: str):
    """get_spark with a quiet console: no progress bar, and Spark's log
    in a file under `work_dir`."""
    from webloghunter_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    java_opts = " ".join([
        f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH_DIR, 'log4j2.properties')}",
        f"-Dperfbench.log={os.path.join(work_dir, 'spark.log')}",
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    ])
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_session(spark) -> float:
    """Stop Spark and its JVM, wait for it to exit; return the JVM's
    peak resident set in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    spark.stop()
    with open(f"/proc/{proc.pid}/status") as fp:
        hwm_kb = next(int(ln.split()[1]) for ln in fp if ln.startswith("VmHWM:"))
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm_kb / 1024.0


def prepare_env(work_dir: str) -> None:
    """Keep every file the run writes under `work_dir`, and let Spark's
    Python workers import the library and the benchmark."""
    shutil.rmtree(work_dir, ignore_errors=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, BENCH_DIR, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def run_untraced(name: str, seed: int, seconds: float, work_dir: str) -> tuple[dict, int, int]:
    from workloads import OpClock

    w = make_workload(name, os.path.join(work_dir, "input"), seed)
    w.prepare()

    with OpClock() as start:
        spark = start_session(work_dir)
    walls, cpus, attempted, failed = [], [], 0, 0
    try:
        with OpClock() as warm:
            oracle = w.warm_up(spark)
        setup_s = start.wall_s + warm.wall_s - oracle.wall_s
        setup_cpu_s = start.cpu_s + warm.cpu_s - oracle.cpu_s
        t_start, rounds = time.perf_counter(), 0
        while rounds < w.min_rounds or time.perf_counter() - t_start < seconds:
            rounds += 1
            for _ in range(w.round_ops):
                attempted += 1
                try:
                    res = w.op(spark)
                except Exception as e:  # a failed operation is counted, not fatal
                    failed += 1
                    print(f"operation failed: {type(e).__name__}: {e}"[:2000], file=sys.stderr)
                    continue
                walls.append(res.wall_s)
                cpus.append(res.cpu_s)
                if not res.ok:
                    failed += 1
                    print(f"output check failed: {res.problems}", file=sys.stderr)
        window_s = time.perf_counter() - t_start
    finally:
        peak_rss_mb = stop_session(spark)
    if not walls:
        raise RuntimeError("no operation completed")
    print("operation walls (s): " + " ".join(f"{x:.3f}" for x in walls), file=sys.stderr)
    print("operation CPU (s): " + " ".join(f"{x:.2f}" for x in cpus), file=sys.stderr)
    p50, p75 = (statistics.quantiles(walls, n=4, method="inclusive")[1:]
                if len(walls) > 1 else (walls[0], walls[0]))
    print(f"{name}: {len(walls)} timed operations, wall p50 {p50:.3f} s, p75 {p75:.3f} s, "
          f"{len(walls) / window_s:.3f} ops/s; set-up CPU {setup_cpu_s:.1f} s; "
          f"JVM peak RSS {peak_rss_mb:.0f} MB")
    metrics = {
        "op_cpu_s": sum(cpus) / len(cpus),
        "setup_s": setup_s,
    }
    return metrics, attempted, failed


def run_traced(seed: int, work_dir: str) -> tuple[dict, int, int]:
    from tracing import Tracer, trace_curate, trace_hunt, trace_triage

    hunt = make_workload("hunt", os.path.join(work_dir, "hunt"), seed)
    curate = make_workload("curate", os.path.join(work_dir, "curate"), seed)
    hunt.prepare()
    curate.prepare()
    spark = start_session(work_dir)
    try:
        tr = Tracer(spark, cores())
        metrics: dict = {}
        metrics.update(trace_triage(tr, hunt.triage))  # also writes the hunt store
        metrics.update(trace_hunt(tr, hunt))
        metrics.update(trace_curate(tr, curate))
        tr.write(os.path.join(work_dir, "trace.json"), metrics)
    finally:
        stop_session(spark)
    return metrics, 3, 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["hunt", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    work_dir = os.path.join(BENCH_DIR, "_work", "trace" if args.trace else args.workload)
    prepare_env(work_dir)
    import webloghunter_spark  # noqa: F401  (fail before any work when absent)

    if args.trace:
        measured, attempted, failed = run_traced(args.seed, work_dir)
        wanted = spec["per_layer"]
    else:
        measured, attempted, failed = run_untraced(args.workload, args.seed, args.seconds, work_dir)
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted}
    sys.stdout.flush()
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
