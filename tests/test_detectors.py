"""Burst (burp_intruder) and tool-scanner detector semantics."""

from datetime import datetime, timedelta, timezone

from webloghunter_spark.detectors.burst import burst_success_detector, find_bursts
from webloghunter_spark.detectors.tools import tool_scanner

BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _burst_rows(n, status=500, start=0, gap=0.5, uri="/attack", ip="1.1.1.1"):
    return [
        ("a.log", ip, 0, uri, "POST", status, BASE + timedelta(seconds=start + i * gap))
        for i in range(n)
    ]


BURST_SCHEMA = (
    "source string, ip string, cluster long, request_uri string, "
    "method string, status int, utc_timestamp timestamp"
)


def _prep(spark, rows):
    df = spark.createDataFrame(rows, BURST_SCHEMA)
    return df.withColumn("risk_score", df.status * 0.0).withColumn(
        "rule_applied", df.request_uri.substr(0, 0)
    )


def test_burst_detected_and_success_stamped(spark):
    rows = _burst_rows(120)  # 120 x 500s, 0.5s apart
    rows += [("a.log", "1.1.1.1", 0, "/attack", "GET", 200, BASE + timedelta(seconds=100))]
    # a 200 BEFORE the burst start is not stamped
    rows += [("a.log", "1.1.1.1", 0, "/attack", "GET", 200, BASE - timedelta(seconds=10))]
    out = burst_success_detector(_prep(spark, rows)).collect()
    stamped = [r for r in out if r.risk_score == 95.0]
    assert len(stamped) == 1
    assert stamped[0].status == 200
    assert stamped[0].rule_applied == "Attack Success After High-Frequency Server Failures"


def test_burst_below_threshold_ignored(spark):
    rows = _burst_rows(99)
    rows += [("a.log", "1.1.1.1", 0, "/attack", "GET", 200, BASE + timedelta(seconds=100))]
    out = burst_success_detector(_prep(spark, rows)).collect()
    assert all(r.risk_score == 0.0 for r in out)


def test_burst_split_by_gap(spark):
    # 60 + 60 rows separated by a 5s gap: two sub-threshold bursts
    rows = _burst_rows(60, gap=0.5)
    rows += _burst_rows(60, start=40, gap=0.5)
    df = _prep(spark, rows)
    assert find_bursts(df).count() == 0
    # with a tolerant max gap the two runs merge into one 120-burst
    assert find_bursts(df, max_gap_seconds=11.0).count() == 1


def test_burst_success_matches_without_method(spark):
    # success match keys are (source, ip, cluster, uri) — method differs
    rows = _burst_rows(120, gap=0.5)
    rows += [("a.log", "1.1.1.1", 0, "/attack", "GET", 200, BASE + timedelta(seconds=70))]
    out = burst_success_detector(_prep(spark, rows)).collect()
    assert sum(1 for r in out if r.risk_score == 95.0) == 1


TOOL_SIGS = [
    {
        "tool": "T1",
        "name": "ToolOne",
        "description": "test tool",
        "keyword": ["/.a", "/.b", "/.c"],
        "time_window": 100,
    }
]

TOOL_SCHEMA = (
    "source string, ip string, cluster long, request_uri string, "
    "utc_timestamp timestamp, ordinal long"
)


def _tool_rows(uris, start=0, step=10, ip="1.1.1.1", cluster=0):
    return [
        ("a.log", ip, cluster, u, BASE + timedelta(seconds=start + i * step), i)
        for i, u in enumerate(uris)
    ]


def test_tool_all_keywords_within_window(spark):
    rows = _tool_rows(["/.a", "/x", "/.b", "/.c"])
    df = spark.createDataFrame(rows, TOOL_SCHEMA)
    out = tool_scanner(df, TOOL_SIGS).orderBy("ordinal").collect()
    tools = [r.tool for r in out]
    # span covers candidates /.a, /.b, /.c (the non-candidate /x at idx 1
    # is not part of the candidate list, so not stamped)
    assert tools == ["T1", "", "T1", "T1"]
    assert out[0].tool_name == "ToolOne"


def test_tool_missing_keyword_negative(spark):
    rows = _tool_rows(["/.a", "/.b"])  # /.c never seen
    df = spark.createDataFrame(rows, TOOL_SCHEMA)
    out = tool_scanner(df, TOOL_SIGS).collect()
    assert all(r.tool == "" for r in out)


def test_tool_window_exceeded_negative(spark):
    rows = _tool_rows(["/.a", "/.b", "/.c"], step=60)  # span 120 > 100
    df = spark.createDataFrame(rows, TOOL_SCHEMA)
    out = tool_scanner(df, TOOL_SIGS).collect()
    assert all(r.tool == "" for r in out)


def test_tool_unbounded_window(spark):
    sigs = [dict(TOOL_SIGS[0], time_window=0)]
    rows = _tool_rows(["/.a", "/.b", "/.c"], step=10000)
    df = spark.createDataFrame(rows, TOOL_SCHEMA)
    out = tool_scanner(df, sigs).collect()
    assert all(r.tool == "T1" for r in out)


def test_tool_null_group_key_stamped(spark):
    # The kernel scans a null-keyed group null-safely as ONE group; the
    # stamp join-back must be eqNullSafe on the group columns or these
    # stamps silently vanish (null != null under plain equality).
    rows = _tool_rows(["/.a", "/.b", "/.c"], ip=None)
    df = spark.createDataFrame(rows, TOOL_SCHEMA)
    out = tool_scanner(df, TOOL_SIGS).orderBy("ordinal").collect()
    assert [r.tool for r in out] == ["T1", "T1", "T1"]
    assert all(r.ip is None for r in out)


def test_tool_scanner_requires_ordinal(spark):
    # the stamps join back on `ordinal`; a frame without it must fail
    # at build time, not stamp the wrong rows
    import pytest

    rows = _tool_rows(["/.a", "/.b", "/.c"])
    df = spark.createDataFrame(rows, TOOL_SCHEMA).drop("ordinal")
    with pytest.raises(ValueError, match="ordinal"):
        tool_scanner(df, TOOL_SIGS)


# --- EWMA control chart --------------------------------------------------------

def test_ewma_fold_exact_recursion():
    from webloghunter_spark.detectors.ewma import MICRO, ewma_fold

    cnts = [4, 0, 0, 12]
    trip = ewma_fold(cnts, lam_num=1, lam_denom=4, threshold_num=2)
    # hand replay: e0=4M; e1=(0+3*4M)//4=3M; e2=(0+3*3M)//4=2.25M;
    # e3=(12M+3*2.25M)//4=4.6875M; alert at t=3: 12M > 2*2.25M
    assert trip == [
        (4 * MICRO, 0, 0),
        (3 * MICRO, 4 * MICRO, 0),
        (2_250_000, 3 * MICRO, 0),
        (4_687_500, 2_250_000, 1),
    ]


def test_ewma_alerts_gapfill_and_alert(spark):
    from pyspark.sql import functions as F

    from webloghunter_spark.detectors.ewma import ewma_alerts

    rows = [
        ("click", "2024-01-01 00:10:00"),
        ("click", "2024-01-01 00:40:00"),
        # hour 1 empty for click -> zero-filled
        ("click", "2024-01-01 02:10:00"),
        ("error", "2024-01-01 01:05:00"),  # extends span; other hours 0
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    out = {(r.event_type, r.hour_epoch): r for r in ewma_alerts(ev).collect()}
    # full 3-hour spine for BOTH types
    assert len(out) == 6
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    clicks = [out[("click", base + 3600 * i)] for i in range(3)]
    assert [c.cnt for c in clicks] == [2, 0, 1]
    assert clicks[0].ewma_micro == 2_000_000 and clicks[0].alert == 0
    assert clicks[1].ewma_micro == 1_500_000
    # t=2: cnt=1 -> 1M <= 2*1.5M: no alert
    assert clicks[2].alert == 0
    errors = [out[("error", base + 3600 * i)] for i in range(3)]
    assert [e.cnt for e in errors] == [0, 1, 0]
    # t=1: 1M > 2*0 -> alert on any activity after a silent first hour
    assert errors[1].alert == 1
