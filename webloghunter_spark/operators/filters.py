"""Query/filter API (reference AccessLogDataFrame.filter, dataframe.py:252-374).

All predicates AND together; filtering happens AFTER scoring/detection
(the reference never pushes user predicates below the scoring stages —
but Catalyst will still push them into the scan where legal, e.g. when
they touch only base columns).

Includes the reference's dead `--ignore-uripath-keyword` flag (F9,
triage.py:175-180 — parsed but never wired) implemented properly,
symmetric to the include form.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from webloghunter_spark.functions.cidr import ip_in_cidr

DEFAULT_IGNORE_EXTENSIONS = (
    ".js", ".gif", ".css", ".woff", ".woff2", ".ttf", ".svg", ".ico",
    ".map", ".eot", ".jpg", ".jpeg", ".png", ".bmp", ".webp",
)


def _contains_any(col: Column, keywords: Sequence[str]) -> Column:
    # Multi-substring OR; the reference regex-escapes and joins with '|',
    # i.e. plain substring semantics (dataframe.py:341-344).
    pattern = "|".join(re.escape(k) for k in keywords)
    return col.rlike(pattern)


def apply_filters(
    df: DataFrame,
    start_time: str | None = None,
    end_time: str | None = None,
    risk_score: float = 0,
    request_count: int = 0,
    status_ignore: Sequence[int] | None = None,
    status_include: Sequence[int] | None = None,
    method_include: Sequence[str] | None = None,
    method_ignore: Sequence[str] | None = None,
    uripath_keyword: Sequence[str] | None = None,
    ignore_uripath_keyword: Sequence[str] | None = None,
    ip_include: Sequence[str] | None = None,
    ip_ignore: Sequence[str] | None = None,
    useragent_keyword: Sequence[str] | None = None,
    ignore_useragent_keyword: Sequence[str] | None = None,
    referrer_keyword: Sequence[str] | None = None,
    ignore_referrer_keyword: Sequence[str] | None = None,
    cluster_include: Sequence[int] | None = None,
    cluster_ignore: Sequence[int] | None = None,
    resp_size_min: int | None = None,
    resp_size_max: int | None = None,
    all_extensions: bool = False,
    ignore_extensions: Sequence[str] = DEFAULT_IGNORE_EXTENSIONS,
    tool_focus: bool = False,
    ts_col: str = "utc_timestamp",
    order_result: bool = True,
) -> DataFrame:
    cond = F.lit(True)
    ts = F.col(ts_col)
    if start_time is not None:
        cond &= ts >= F.to_timestamp(F.lit(start_time))
    if end_time is not None:
        cond &= ts <= F.to_timestamp(F.lit(end_time))

    # Static-extension exclusion on the query-stripped, lowercased URI
    # (dataframe.py:319-324); disabled by all_extensions. A single
    # anchored rlike: a chain of endswith(split(...)) duplicates the
    # split 15x in codegen and is ~18x slower.
    if not all_extensions and ignore_extensions:
        base = F.lower(F.split(F.col("request_uri"), r"\?").getItem(0))
        alternation = "|".join(re.escape(e.lower()) for e in ignore_extensions)
        cond &= ~base.rlike(f"({alternation})$")

    if risk_score and risk_score > 0:
        cond &= F.col("risk_score") >= risk_score
    if request_count and request_count > 0:
        cond &= F.col("request_count") >= request_count
    if resp_size_min is not None:
        cond &= F.col("resp_size") >= resp_size_min
    if resp_size_max is not None:
        cond &= F.col("resp_size") <= resp_size_max
    if status_include:
        cond &= F.col("status").isin(list(status_include))
    if status_ignore:
        cond &= ~F.col("status").isin(list(status_ignore))
    if method_include:
        cond &= F.col("method").isin(list(method_include))
    if method_ignore:
        cond &= ~F.col("method").isin(list(method_ignore))
    if uripath_keyword:
        cond &= _contains_any(F.col("request_uri"), uripath_keyword)
    if ignore_uripath_keyword:
        cond &= ~_contains_any(F.col("request_uri"), ignore_uripath_keyword)
    if useragent_keyword:
        cond &= _contains_any(F.col("user_agent"), useragent_keyword)
    if ignore_useragent_keyword:
        cond &= ~_contains_any(F.col("user_agent"), ignore_useragent_keyword)
    if referrer_keyword:
        cond &= _contains_any(F.col("referrer"), referrer_keyword)
    if ignore_referrer_keyword:
        cond &= ~_contains_any(F.col("referrer"), ignore_referrer_keyword)
    if cluster_include:
        cond &= F.col("cluster").isin(list(cluster_include))
    if cluster_ignore:
        cond &= ~F.col("cluster").isin(list(cluster_ignore))
    if ip_include:
        cond &= ip_in_cidr("ip", list(ip_include))
    if ip_ignore:
        cond &= ~ip_in_cidr("ip", list(ip_ignore))

    out = df.filter(cond)

    if tool_focus:
        # Keep only the first and last row per (source, ip, tool) with a
        # non-empty tool tag (dataframe.py:367-370).
        out = out.filter(F.col("tool") != "")
        w = Window.partitionBy("source", "ip", "tool").orderBy(ts_col)
        wd = Window.partitionBy("source", "ip", "tool").orderBy(F.col(ts_col).desc())
        out = (
            out.withColumn("_rna", F.row_number().over(w))
            .withColumn("_rnd", F.row_number().over(wd))
            .filter((F.col("_rna") == 1) | (F.col("_rnd") == 1))
            .drop("_rna", "_rnd")
        )

    if order_result:
        # `ordinal` (input line order) breaks (source, timestamp) ties,
        # so tied rows and the session-boundary coloring that follows
        # them cannot reorder when the collect plan changes.
        tiebreak = ["ordinal"] if "ordinal" in out.columns else []
        out = out.orderBy("source", ts_col, *tiebreak)
    return out
