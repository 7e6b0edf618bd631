"""Measured shuffle-volume audit over the query registry.

PLANS.md counts exchanges statically; this tool RUNS each query at the
given sf dir and sums ACTUAL shuffle write bytes / records per query
from the app status store (stages attributed to queries via job
groups). Writes SHUFFLE.md sorted by shuffle bytes, so the heaviest
data movers — where partitioning strategy matters most at 100 TB —
are reviewable as measured numbers, not plan counts.

Usage: python tools/shuffle_audit.py [sf_dir] [out_md]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from webloghunter_spark.benchqueries import QUERIES, run_noop
from webloghunter_spark.session import get_spark


def _stage_metrics(sc) -> dict[int, tuple[int, int, int]]:
    """stageId -> (shuffle bytes, shuffle records, input records) from
    the app status store (stageList needs its Scala default args passed
    explicitly through py4j)."""
    store = sc._jsc.sc().statusStore()
    jlist = sc._gateway.jvm.java.util.ArrayList()
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    sl = store.stageList(jlist, *defaults)
    out = {}
    for i in range(sl.size()):
        s = sl.apply(i)
        out[s.stageId()] = (
            s.shuffleWriteBytes(), s.shuffleWriteRecords(), s.inputRecords()
        )
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "SHUFFLE.md"
    spark = get_spark(app_name="shuffle-audit")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    rows = []
    for name in QUERIES:
        sc.setJobGroup(name, name)
        try:
            run_noop(spark, name, sf_dir)
        except Exception as e:
            rows.append((name, -1, -1, -1, f"ERROR: {type(e).__name__}"))
            continue
        finally:
            sc.setJobGroup(None, None)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(name):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        metrics = _stage_metrics(sc)
        swb = sum(metrics.get(s, (0, 0, 0))[0] for s in stage_ids)
        swr = sum(metrics.get(s, (0, 0, 0))[1] for s in stage_ids)
        inr = sum(metrics.get(s, (0, 0, 0))[2] for s in stage_ids)
        rows.append((name, swb, swr, inr, ""))
        print(f"{name}: {swb / 1e6:.2f} MB shuffled, {swr} rows, input {inr}")

    rows.sort(key=lambda r: -r[1])
    lines = [
        "# SHUFFLE — measured shuffle volume per registry query",
        "",
        f"`python tools/shuffle_audit.py {sf_dir}`: every query executed with",
        "the no-op writer; shuffle write bytes/records and input records",
        "summed over the query's stages (job-group attribution, app status",
        "store metrics). Sorted by shuffle bytes. Complements PLANS.md's",
        "static exchange counts with what actually moved.",
        "",
        "| query | shuffle MB | shuffle rows | input rows |",
        "|---|---|---|---|",
    ]
    for name, b, r, i, err in rows:
        if err:
            lines.append(f"| {name} | {err} | | |")
        else:
            lines.append(f"| {name} | {b / 1e6:.2f} | {r} | {i} |")
    Path(out_md).write_text("\n".join(lines) + "\n")
    print("wrote", out_md)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
