"""Benchmark harness: runs the query registry end-to-end and prints one
JSON line {"metric", "value", "unit", "sf", "completed", "failed"}.

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[...] parallelism (default all cores)
  WLH_BENCH_QUERIES   comma-separated subset (default: all)
  WLH_BENCH_REPEATS   runs per query; reported value = MEDIAN (default 3)

Each query is materialized with the no-op writer (full computation, no
driver-side collection cost). Per-query numbers are medians of
WLH_BENCH_REPEATS runs: this box shows large contention/JIT swings
(the same single-task query has measured anywhere from 1.6 to 14 s
across runs), so single-run deltas are attribution noise — medians
make plan regressions visible. The per-run dispersion grid is written
to BENCH_runs.json next to this script along with per-query medians
(NOT into the stdout JSON line: inlined per-query numbers overflowed
the driver's tail capture in rounds 4 AND 5, nulling both committed
artifacts). The compact summary-only
{metric, value, sf, repeats, completed, failed} line is always the
LAST stdout line and is O(1) in registry size."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webloghunter_spark.benchqueries import QUERIES, run_noop
from webloghunter_spark.session import get_spark


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = os.environ.get("WLH_BENCH_QUERIES")
    names = [n.strip() for n in only.split(",")] if only else list(QUERIES)

    spark = get_spark(app_name="wlh-bench")
    # Warm the JVM/codegen paths and the Python UDF worker pool once so
    # per-query numbers reflect the plans, not first-call initialization
    # (the first pandas_udf in a session forks workers + imports pandas).
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    from pyspark.sql import functions as _F

    from webloghunter_spark.pipelines.dedup import minhash_sig_udf

    _warm = minhash_sig_udf(num_hashes=4, shingle_k=1)
    spark.range(1000).repartition(32).select(
        _warm(_F.col("id").cast("string"))
    ).write.mode("overwrite").format("noop").save()

    repeats = max(int(os.environ.get("WLH_BENCH_REPEATS", "3")), 1)
    runs: dict[str, list[float]] = {name: [] for name in names}
    errors: dict[str, str] = {}
    # round-robin over queries (A B C, A B C, ...) rather than
    # back-to-back repeats, so one run's JIT/page-cache warmth doesn't
    # make its own repeat artificially fast
    for _ in range(repeats):
        for name in names:
            if name in errors:
                continue  # failed once, don't burn repeats on it
            # run_noop releases what the query persisted, so no cache
            # (or cross-query speedup) leaks into the next measurement
            try:
                runs[name].append(round(run_noop(spark, name, sf_dir), 3))
            except Exception as e:  # one bad query must not kill the round
                errors[name] = f"{type(e).__name__}: {e}"[:500]
                print(f"BENCH-ERROR {name}: {errors[name]}", file=sys.stderr)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

    # a query that failed on ANY repeat reports null — a median of its
    # surviving (warm-up-skewed) samples would both misstate its cost
    # and let it appear in `queries` and `failed` simultaneously
    timings = {
        name: (round(median(v), 3) if v and name not in errors else None)
        for name, v in runs.items()
    }
    ok = {k: v for k, v in timings.items() if v is not None}
    total = round(sum(ok.values()), 3)
    # The stdout line is SUMMARY-ONLY. Rounds 4 and 5 both produced
    # unparseable driver artifacts because the line inlined per-query
    # numbers (84x3 grid in r4; 106 medians in r5) and outgrew the
    # driver's tail capture. Per-query medians + the per-run dispersion
    # grid live in BENCH_runs.json; the compact line stays O(1) in the
    # registry size.
    out = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": repeats,
        "completed": len(ok),
        "failed": sorted(errors),
    }
    if errors:
        out["errors"] = {k: v[:120] for k, v in errors.items()}
    side = {
        "sf": out["sf"],
        "repeats": repeats,
        "queries": timings,
        "runs": runs,
    }
    try:
        # WLH_BENCH_RUNS_PATH: tests point the side file elsewhere so a
        # pytest run can't clobber the committed 120-query artifact
        runs_path = os.environ.get("WLH_BENCH_RUNS_PATH") or os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_runs.json"
        )
        with open(runs_path, "w") as fh:
            json.dump(side, fh)
    except OSError as e:  # dispersion data is best-effort
        print(f"BENCH-WARN could not write BENCH_runs.json: {e}", file=sys.stderr)
    sys.stdout.flush()
    print(json.dumps(out))
    # rc=0 as long as the harness produced numbers for most queries;
    # a systemic failure (nothing ran) still signals rc=1.
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
