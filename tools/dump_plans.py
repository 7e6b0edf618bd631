"""Dump normalized .explain("formatted") plans of registry queries, one
file each.

Usage: python tools/dump_plans.py OUT_DIR [sf_dir] [query ...]

Run-specific counters are stripped (expression ids `#12`, `plan_id=`,
RDD ids, lambda-variable counters `x_97`, query-stage ids), so
`diff -r` of two dumps is the "plans identical" check for a change
that must not move a plan. Queries that EXECUTE during construction
(settled funnels, iterative driver loops) run their stages here; this
is a plan dump, not a timing harness.

An `Expand` that feeds distinct aggregates lists its distinct groups
in an order that follows expression-id hashes, so it swaps between JVM
runs (contam_matrix's two count-distincts); `normalize` puts the
groups in name order and renumbers their group ids to match.

Dumps that can still differ between two runs of the same code:
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


_EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[([^\[\]]*)\]$", re.M)
_ITEM = re.compile(r"^(?:[\w#]+|null|\d+)$")


def _canonical_expand(plan: str, match: re.Match) -> str:
    """`plan` with one distinct-aggregate Expand's groups in name order:
    its projection lists sorted by their group columns, the group
    columns of its output (and of the nodes above that repeat them) in
    that order, and `gid = k` filters renumbered to match. Returned
    unchanged for any other Expand (a rollup's grouping id is a bit
    mask, not a position) or unless every item is a plain column, null
    or integer."""
    projs = [p.split(", ") for p in match.group(1)[1:-1].split("], [")]
    out = match.group(2).split(", ")
    gid = out[-1]
    if gid != "gid#" or any(len(p) != len(out) for p in projs) or not all(
        _ITEM.match(i) for p in projs + [out] for i in p
    ):
        return plan
    # group columns: null in some projections, set in others
    pos = [i for i in range(len(out) - 1) if len({p[i] == "null" for p in projs}) == 2]
    ordered = sorted(projs, key=lambda p: [p[i] for i in pos if p[i] != "null"])
    cols = list(dict.fromkeys(p[i] for p in ordered for i in pos if p[i] != "null"))
    if not pos or len(cols) != len(pos):
        return plan
    col_at = dict(zip(pos, cols))
    renumber = dict(zip((p[-1] for p in ordered), sorted((p[-1] for p in projs), key=int)))

    def rebuild(p: list[str]) -> str:
        live = {p[i] for i in pos}
        items = [(col_at[i] if col_at[i] in live else "null") if i in col_at else c
                 for i, c in enumerate(p[:-1])]
        return "[" + ", ".join(items + [renumber[p[-1]]]) + "]"

    new_out = [col_at.get(i, c) for i, c in enumerate(out)]
    args = "Arguments: [{}], [{}]".format(
        ", ".join(rebuild(p) for p in ordered), ", ".join(new_out)
    )
    # Nodes above the Expand repeat its group columns next to the gid
    # column, and filter on `gid = k`.
    tail = plan[match.end():].replace(
        ", ".join([out[i] for i in pos] + [gid]), ", ".join(cols + [gid])
    )
    tail = re.sub(
        rf"\({re.escape(gid)} = (\d+)\)",
        lambda m: f"({gid} = {renumber.get(m.group(1), m.group(1))})",
        tail,
    )
    return plan[: match.start()] + args + tail


def normalize(plan: str) -> str:
    for pattern, repl in _RUN_SPECIFIC:
        plan = pattern.sub(repl, plan)
    for match in reversed(list(_EXPAND_ARGS.finditer(plan))):
        plan = _canonical_expand(plan, match)
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
