"""Stricter mimic of the driver's hash-based correctness gate.

It sorts rows the way the driver's canonicalizer does and requires
EXACT value equality — bit-identical floats, identical epoch seconds —
AND matching per-column dtype *kinds* (int vs float vs str vs datetime)
between the Spark and DuckDB frames. The kind check is load-bearing:
the driver hashes the rendered values, so an oracle whose un-cast
``sum()`` comes back HUGEINT->float64 hashes ``2.0`` where Spark hashes
``2`` even though every value is equal (round-6 bloom_audit regression).
A pass here predicts a driver hash_match, not just a value match.

Each PASS/FAIL line ends with the query's Spark and oracle seconds.

Usage: python tools/check_hash.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb
import numpy as np
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: dtype.kind -> comparison class. int and uint collapse (same rendered
#: text); everything else must match exactly across engines.
KIND_CLASS = {"i": "int", "u": "int", "f": "float", "b": "bool", "m": "timedelta"}


def col_kinds(df: pd.DataFrame) -> dict[str, str]:
    """Per-column dtype class as the driver's hasher would see it."""
    out: dict[str, str] = {}
    for c in df.columns:
        s = df[c]
        if "datetime" in str(s.dtype):
            out[c] = "datetime"
        else:
            out[c] = KIND_CLASS.get(s.dtype.kind, "str")
    return out


def canon(df: pd.DataFrame) -> list[tuple]:
    """Sort columns by name, normalize dtypes (NOT values), sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.astype(str)
        elif "datetime" in str(s.dtype):
            # normalize resolution first: Spark toPandas yields ns,
            # DuckDB/pandas-2 yields us — raw int64 views differ 1000x
            df[c] = s.astype("datetime64[ns]").astype("int64") // 10**9
        elif s.dtype.kind == "f":
            df[c] = s.astype("float64")  # exact — no rounding
        elif s.dtype.kind in "iu":
            df[c] = s.astype("int64")
        elif s.dtype.kind == "b":
            df[c] = s.astype("int64")
    rows = sorted(map(tuple, df.itertuples(index=False, name=None)))
    return rows


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[bool, str]:
    """Driver-faithful compare: dtype kinds first, then exact sorted rows.

    Returns (ok, message). The kind check is skipped only when both
    frames are empty (the driver's hash over zero rows is dtype-blind).
    """
    if len(sdf) or len(odf):
        ks, ko = col_kinds(sdf), col_kinds(odf)
        mism = {
            c: (ks.get(c, "<absent>"), ko.get(c, "<absent>"))
            for c in sorted(set(ks) | set(ko))
            if ks.get(c) != ko.get(c)
        }
        if mism:
            detail = ", ".join(
                f"{c}: spark={a} oracle={b}" for c, (a, b) in mism.items()
            )
            return False, f"dtype-kind mismatch (driver hash would differ): {detail}"
    try:
        a, b = canon(sdf), canon(odf)
    except TypeError as e:
        return False, f"canon error (driver would ERR too): {e}"
    if a == b:
        return True, f"({len(sdf)} rows, exact)"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    # first differing row + max float delta for diagnosis
    first = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), None)
    deltas = []
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float) and u != v:
                deltas.append(abs(u - v))
    return False, (
        f"exact mismatch at sorted row {first}: "
        f"spark={a[first]} oracle={b[first]}"
        + (f" (max float delta {max(deltas):.3g})" if deltas else "")
    )


def main():
    import __spark_entry__ as entrymod
    from webloghunter_spark.session import get_spark, materialized_scope

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="hash-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.perf_counter()
        try:
            with materialized_scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            spark.catalog.clearCache()
        spark_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            failures += 1
            continue
        secs = f"[spark {spark_s:.1f}s, oracle {time.perf_counter() - t0:.1f}s]"
        ok, msg = compare(sdf, odf)
        if ok:
            print(f"PASS  {name} {msg} {secs}")
        else:
            failures += 1
            print(f"FAIL  {name}: {msg} {secs}")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
