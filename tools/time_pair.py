"""Time registry queries at two sf dirs (default sf0.1 vs the 32x
fixture) and print every run, the per-side median and the median
ratio — the SCALING.md row generator.

Usage: python tools/time_pair.py q1 [q2 ...] [--a /root/testdata/sf0.1]
                                 [--b /tmp/sf0.1_x32] [--repeats 2]

Each run prints one JSON line as it finishes (so a long run that is
stopped early still leaves its completed timings); each query then
prints its summary line and the last line is the summary of all.
"""

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webloghunter_spark.benchqueries import run_noop
from webloghunter_spark.session import get_spark


def run(spark, name, sf_dir, repeats, side):
    times = []
    for i in range(repeats):
        times.append(round(run_noop(spark, name, sf_dir), 2))
        print(json.dumps({"query": name, "side": side, "run": i,
                          "s": times[-1]}), flush=True)
    return times


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--a", default="/root/testdata/sf0.1")
    ap.add_argument("--b", default="/tmp/sf0.1_x32")
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark(app_name="time-pair")
    spark.read.parquet(f"{args.a}/region.parquet").count()
    out = {}
    for name in args.queries:
        ta = run(spark, name, args.a, args.repeats, "a")
        tb = run(spark, name, args.b, args.repeats, "b")
        ma, mb = statistics.median(ta), statistics.median(tb)
        out[name] = {"a_runs": ta, "b_runs": tb,
                     "a_median": round(ma, 2), "b_median": round(mb, 2),
                     "ratio": round(mb / ma, 2)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
