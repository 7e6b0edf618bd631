"""Python-worker fixed costs: the CPU of a trivial pandas-UDF task, and
the Python tasks and Python-worker CPU of a warm curate op.

    python tools/pyworker_probe.py [--ops 3] [--seed 76]

Runs on a local[4] session from `get_spark`. Python-worker CPU is the
user plus system time, reaped children included, of the Python
processes under the Spark JVM (the daemon and the workers it forks),
read from /proc. A Python task is one "Times: total" line that Spark's
Python runners log at INFO on the JVM's stderr, so the probe runs
itself as a child with stderr piped and counts those lines between
markers. The curate op is the benchmark's (`perfbench/workloads.py`,
`Curate`: the 4x 100-document fixture, checked against its oracle).
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARK = "@@probe"
_TICKS = os.sysconf("SC_CLK_TCK")


def python_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes under `jvm_pid`."""
    parent, ticks, python = {}, {}, set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fp:
                f = fp.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as fp:
                if b"python" in fp.read():
                    python.add(int(pid))
        except OSError:  # the process ended while we looked
            continue
        parent[int(pid)] = int(f[1])
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, list(children.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        total += ticks[pid] if pid in python else 0
        todo.extend(children.get(pid, ()))
    return total / _TICKS


def child(ops: int, seed: int) -> None:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    os.environ["PYTHONPATH"] = os.pathsep.join(sys.path[:2])
    from pyspark import SparkContext
    from pyspark.sql import functions as F
    from workloads import Curate

    from webloghunter_spark.session import get_spark

    work = tempfile.mkdtemp(prefix="pyworker-probe-")
    curate = Curate(work, seed, 100)
    curate.prepare()
    spark = get_spark(app_name="pyworker-probe", master="local[4]", shuffle_partitions=4)
    jvm, pid = spark.sparkContext._jvm, SparkContext._gateway.proc.pid
    for logger in ("org.apache.spark.sql.execution.python", "org.apache.spark.api.python"):
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            logger, jvm.org.apache.logging.log4j.Level.INFO)

    def timed(label: str, run) -> float:
        print(f"{MARK} {label} start", file=sys.stderr, flush=True)
        cpu0 = python_cpu_s(pid)
        run()
        time.sleep(1)  # let the runners' last log lines land first
        print(f"{MARK} {label} end", file=sys.stderr, flush=True)
        return python_cpu_s(pid) - cpu0

    @F.pandas_udf("long")
    def plus1(s):
        return s + 1

    def trivial():
        # a new frame per run: collect() again on one frame reuses its
        # finished shuffle stage and runs no Python
        spark.range(0, 4000, 1, 4).select(plus1("id").alias("x")).agg(F.sum("x")).collect()

    trivial()  # start the daemon and its workers
    reps = 5
    cpu = timed("trivial", lambda: [trivial() for _ in range(reps)])
    print(f"trivial pandas UDF: {cpu / (4 * reps):.3f} Python-worker CPU-s per task "
          f"({4 * reps} tasks)", flush=True)
    curate.warm_up(spark)
    for i in range(ops):
        res = []
        cpu = timed(f"curate{i}", lambda: res.append(curate.op(spark)))
        print(f"curate op {i}: correct={res[0].ok} wall {res[0].wall_s:.2f} s, "
              f"process-tree CPU {res[0].cpu_s:.2f} s, Python-worker CPU {cpu:.2f} s",
              flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--ops", type=int, default=3)
    ap.add_argument("--seed", type=int, default=76)
    ap.add_argument("--child", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child:
        child(args.ops, args.seed)
        return 0
    proc = subprocess.Popen([sys.executable, __file__, "--child", *sys.argv[1:]],
                            stderr=subprocess.PIPE, text=True, errors="replace")
    tasks: dict[str, int] = {}
    label, tail = None, collections.deque(maxlen=40)
    for line in proc.stderr:
        tail.append(line)
        if line.startswith(MARK):
            _, name, edge = line.split()
            label = name if edge == "start" else None
            tasks.setdefault(name, 0)
        elif label and "Times: total" in line:
            tasks[label] += 1
    for name, n in tasks.items():
        print(f"{name}: {n} Python tasks")
    rc = proc.wait()
    if rc:
        sys.stderr.writelines(tail)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
