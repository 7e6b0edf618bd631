"""Scanning-tool signature detector (reference `tool_scanner`).

Semantics (/root/reference/WebLogTriage/risk.py:384-513): for each tool
signature {tool, name, description, keyword[], time_window}:
- candidate rows are those whose lowercased request_uri contains any
  keyword (substring, keywords lowercased/trimmed);
- within each (source, ip, cluster) group, scanning candidates in time
  order: starting from each not-yet-claimed candidate, extend forward
  through subsequent candidates while within `time_window` seconds of
  the start (window==0 means unbounded), accumulating which keywords
  were seen, stopping early once ALL of the tool's keywords are seen;
- if the accumulated span saw every keyword within the window, every
  CANDIDATE row in the span is stamped (tool, name, description) and
  claimed (non-candidate rows between them are never stamped,
  risk.py:493-501);
- on overlapping assignments the LAST one wins (risk.py:498-501).

The greedy set-cover scan is stateful and not expressible as relational
windows, but it only ever *reads* candidate rows — so the Python kernel
runs over candidates ONLY, and without per-group Arrow overhead:

  1. keyword membership is computed JVM-side (codegen `contains`) on a
     slim projection (group keys, row key, epoch seconds, keyword
     booleans) and non-candidates are filtered out BEFORE the shuffle;
  2. candidates are hash-repartitioned on the group keys and sorted
     within partitions by (group, time, row key); `mapInPandas` then
     scans MANY groups per Arrow batch — `applyInPandas` costs
     milliseconds of per-group batch overhead, which at millions of
     (source, ip, cluster) groups dominates everything else — carrying
     rows of a group split across batch boundaries forward;
  3. the stamp table — detections only, sparse by construction — is
     broadcast-joined back onto the untouched full frame.

At 100 TB the full table is never Arrow-serialized into Python: only
candidates (usually <0.1% of rows, a handful of narrow columns)
shuffle, per-group cost is numpy slicing (no per-group Arrow round
trips), and the wide frame takes one broadcast hash join, no exchange.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

GROUP_COLS = ["source", "ip", "cluster"]

DEFAULT_TOOL_SIGNATURES = [
    {
        "tool": "DS01",
        "name": "DirSearch",
        "description": "DirSearch using default dictionary (dicc.txt).",
        "keyword": ["/.access", ".bak_0.log", ".chef/config.rb", ".isort.cfg", ".spacemacs", "/~xfs"],
        "time_window": 7200,
    }
]

_STAMP_COLS = ["tool", "tool_name", "tool_desc"]


def _scan_one_group(times, kw_mats, signatures, kw_cols, tool, tname, tdesc, lo, hi):
    """Greedy scan over one group's candidate rows [lo, hi) (already in
    (time, row-key) order); writes stamps into the output arrays."""
    for sig in signatures:
        req_kw = kw_cols[sig["tool"]]
        if not req_kw:
            continue
        window = sig["time_window"]
        keys = [k for k, _ in req_kw]
        cand = [i for i in range(lo, hi)
                if any(kw_mats[c][i] for _, c in req_kw)]
        if not cand:
            continue
        claimed: set[int] = set()
        for i0, start in enumerate(cand):
            if start in claimed:
                continue
            start_time = times[start]
            span = [start]
            found = {k for k, c in req_kw if kw_mats[c][start]}
            for j in range(i0 + 1, len(cand)):
                nxt = cand[j]
                if window > 0 and (times[nxt] - start_time) > window:
                    break
                span.append(nxt)
                for k, c in req_kw:
                    if kw_mats[c][nxt]:
                        found.add(k)
                if found.issuperset(keys):
                    break
            if found.issuperset(keys):
                span_times = [times[i] for i in span]
                time_span = (max(span_times) - min(span_times)) if len(span) > 1 else 0
                if window == 0 or time_span <= window:
                    for idx in span:
                        tool[idx] = sig["tool"]
                        tname[idx] = sig["name"]
                        tdesc[idx] = sig["description"]
                        claimed.add(idx)


def _scan_batch(pdf: pd.DataFrame, signatures, kw_cols) -> pd.DataFrame:
    """Scan a sorted multi-group batch; returns stamp rows only."""
    n = len(pdf)
    times = pdf["_unix_ts"].to_numpy()
    kw_mats = {c: pdf[c].to_numpy() for pairs in kw_cols.values() for _, c in pairs}
    tool = [""] * n
    tname = [""] * n
    tdesc = [""] * n
    # group boundaries over the sorted key columns; null-safe (plain
    # numpy != would make NaN unequal to itself and fragment a
    # null-keyed group into per-row groups)
    change = np.zeros(n, dtype=bool)
    if n:
        change[0] = True
        for c in GROUP_COLS:
            s = pdf[c]
            diff = s.ne(s.shift()) & ~(s.isna() & s.shift().isna())
            change[1:] |= diff.to_numpy()[1:]
    starts = np.nonzero(change)[0]
    bounds = list(starts) + [n]
    for gi in range(len(starts)):
        _scan_one_group(times, kw_mats, signatures, kw_cols,
                        tool, tname, tdesc, bounds[gi], bounds[gi + 1])
    pdf = pdf.assign(tool=tool, tool_name=tname, tool_desc=tdesc)
    stamped = pdf[pdf["tool"] != ""]
    return stamped[GROUP_COLS + ["_rk"] + _STAMP_COLS]


def _scan_partition_fn(signatures, kw_cols):
    """mapInPandas function: processes complete groups per batch and
    carries the trailing (possibly split) group into the next batch —
    partitions are hash-partitioned on the group keys, so a group never
    spans partitions."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                carry = None
                continue
            # cut before the first row of the LAST group in the batch
            # (null-safe equality); that group may continue in the next
            # batch
            neq = np.zeros(len(pdf), dtype=bool)
            last = pdf.iloc[-1]
            for c in GROUP_COLS:
                s = pdf[c]
                eq = (s == last[c]) | (s.isna() & pd.isna(last[c]))
                neq |= (~eq).to_numpy()
            nz = np.nonzero(neq)[0]
            cut = (nz[-1] + 1) if len(nz) else 0
            head, carry = pdf.iloc[:cut], pdf.iloc[cut:]
            if len(head):
                yield _scan_batch(head, signatures, kw_cols)
        if carry is not None and len(carry):
            yield _scan_batch(carry, signatures, kw_cols)

    return fn


def _keyword_exprs(signatures) -> tuple[dict, dict]:
    """(kw_cols: tool -> [(keyword, colname)], kw_exprs: colname -> Column)
    — codegen'd case-insensitive membership expressions."""
    uri_lower = F.lower(F.col("request_uri").cast("string"))
    kw_cols: dict[str, list[tuple[str, str]]] = {}
    kw_exprs: dict[str, Column] = {}
    i = 0
    for sig in signatures:
        pairs = []
        seen = set()
        for kw in sig.get("keyword", []):
            if not isinstance(kw, str) or not kw.strip():
                continue
            k = kw.lower().strip()
            if k in seen:
                continue
            seen.add(k)
            cname = f"_kw_{i}"
            i += 1
            kw_exprs[cname] = uri_lower.contains(k)
            pairs.append((k, cname))
        kw_cols[sig["tool"]] = pairs
    return kw_cols, kw_exprs


def tool_scan_detections(
    df: DataFrame,
    signatures: list[dict] | None = None,
    ts_col: str = "utc_timestamp",
    key: str = "ordinal",
) -> DataFrame:
    """Detections only: one row per STAMPED candidate —
    (source, ip, cluster, <key>, tool, tool_name, tool_desc).

    This is the minimal plan (slim scan -> one hash exchange -> sorted
    mapInPandas): when the question is "which rows are tool activity",
    use this and skip `tool_scanner`'s join-back onto the wide frame
    entirely."""
    signatures = signatures if signatures is not None else DEFAULT_TOOL_SIGNATURES
    kw_cols, kw_exprs = _keyword_exprs(signatures)
    if not kw_exprs:
        schema = ", ".join(
            f"`{c}` {dict(df.dtypes)[c]}" for c in GROUP_COLS + [key]
        ) + ", tool string, tool_name string, tool_desc string"
        return df.sparkSession.createDataFrame([], schema)

    any_kw = None
    for cname in kw_exprs:
        any_kw = F.col(cname) if any_kw is None else (any_kw | F.col(cname))
    slim = (
        df.select(
            *GROUP_COLS,
            F.col(key).alias("_rk"),
            F.unix_timestamp(F.col(ts_col)).alias("_unix_ts"),
            *[expr.alias(cname) for cname, expr in kw_exprs.items()],
        )
        .filter(any_kw)
        .repartition(*GROUP_COLS)
        .sortWithinPartitions(*GROUP_COLS, "_unix_ts", "_rk")
    )
    stamp_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in slim.schema.fields
        if f.name in GROUP_COLS or f.name == "_rk"
    ) + ", tool string, tool_name string, tool_desc string"
    return slim.mapInPandas(
        _scan_partition_fn(signatures, kw_cols), schema=stamp_schema
    ).withColumnRenamed("_rk", key)


def tool_scanner(
    df: DataFrame,
    signatures: list[dict] | None = None,
    ts_col: str = "utc_timestamp",
) -> DataFrame:
    """Stamp (tool, tool_name, tool_desc) onto the full frame.

    The stamps join back on the frame's `ordinal` (globally unique in
    parsed-log frames), so a frame without one is refused. The join
    strategy is left to the optimizer: AQE sees the stamp table's
    actual post-shuffle size and converts to a broadcast join at
    runtime when it is small, but will not OOM the driver on a
    pathological signature family that stamps half the table."""
    signatures = signatures if signatures is not None else DEFAULT_TOOL_SIGNATURES
    _, kw_exprs = _keyword_exprs(signatures)
    if not kw_exprs:
        out = df
        for c in _STAMP_COLS:
            out = out.withColumn(c, F.lit(""))
        return out
    if "ordinal" not in df.columns:
        raise ValueError(
            "tool_scanner needs an `ordinal` column (the row key its "
            f"stamps join back on); got columns {df.columns}"
        )

    stamps = tool_scan_detections(df, signatures, ts_col=ts_col)
    # eqNullSafe on the group columns: the kernel groups null keys
    # null-safely (a null-source/ip/cluster group scans as one group),
    # so the join-back must not drop its stamps via null != null. The
    # row key itself is never null.
    cond = [df[c].eqNullSafe(stamps[c]) for c in GROUP_COLS]
    cond.append(df["ordinal"] == stamps["ordinal"])
    return df.join(stamps, on=cond, how="left").select(
        df["*"],
        *[
            F.coalesce(stamps[c], F.lit("")).alias(c)
            for c in _STAMP_COLS
        ],
    )
