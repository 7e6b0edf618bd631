"""Dump normalized .explain("formatted") plans of registry queries, one
file each.

Usage: python tools/dump_plans.py OUT_DIR [sf_dir] [query ...]

Run-specific counters are stripped (expression ids `#12`, `plan_id=`,
RDD ids, lambda-variable counters `x_97`, query-stage ids), so
`diff -r` of two dumps is the "plans identical" check for a change
that must not move a plan. Queries that EXECUTE during construction
(settled funnels, iterative driver loops) run their stages here; this
is a plan dump, not a timing harness.

Dumps that can differ between two runs of the same code:
- contam_matrix: its collect_set + countDistinct aggregate plans an
  `Expand` whose distinct-group order swaps between JVM runs;
- perplexity_filter: it executes while it is built, so its dump is an
  AQE final plan whose join sides follow runtime sizes;
- dataset_diff: its two funnel replays are built on two driver
  threads, so the order of their near_dedup persist() calls (and of
  the lambda counters they draw) follows the threads.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from webloghunter_spark.benchqueries import QUERIES
from webloghunter_spark.session import get_spark, materialized_scope

_RUN_SPECIFIC = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\b(lambda [a-z]+_)\d+"), r"\1"),
    (re.compile(r"(QueryStage \(\d+\)\nOutput \[\d+\]: .*\nArguments: )\d+"), r"\1"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _RUN_SPECIFIC:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> int:
    out_dir = Path(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            with materialized_scope():
                df = fn(spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {type(e).__name__}: {e}"
        (out_dir / f"{name}.txt").write_text(normalize(plan))
        print(name, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
