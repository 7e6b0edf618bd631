"""Presentation sinks and CLI plumbing."""

from pyspark.sql import functions as F

from webloghunter_spark.render import (
    build_email,
    display_projection,
    render_table,
    write_csv,
    write_parquet_store,
)


def _scored(spark):
    rows = [
        ("a.log", "1.1.1.1", "10/Oct/2024:13:00:00 +0000", "GET", "/x", 200,
         100, 2, 0, 95.5, "SomeRule", ""),
        ("a.log", "1.1.1.1", "10/Oct/2024:13:00:01 +0000", "GET", "/y", 404,
         0, 1, 0, 0.0, "", ""),
    ]
    return spark.createDataFrame(
        rows,
        "source string, ip string, timestamp string, method string, "
        "request_uri string, status int, resp_size long, request_count long, "
        "cluster long, risk_score double, rule_applied string, tool string",
    )


def _header(table):
    """Column names of a render_table string."""
    return [h.strip() for h in table.splitlines()[1].strip("|").split("|")]


def test_render_table_drops_empty_cols(spark):
    proj = display_projection(_scored(spark))
    assert "tool" in proj.columns             # the projection is lazy
    header = _header(render_table(proj))
    assert "method_path" in header and "risk_score" in header
    assert "tool" not in header               # all-empty -> dropped


def _jobs_in(sc, group, action):
    """(result, Spark jobs) of `action()`, counted through a job group."""
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_untruncated_render_runs_one_job(spark, tmp_path):
    """A result that fits on screen is decided from the one collect:
    its all-empty columns (cluster, tool) cost no aggregate job."""
    write_parquet_store(_scored(spark), str(tmp_path / "store"))
    df = spark.read.parquet(str(tmp_path / "store")).orderBy("source", "timestamp")
    table, jobs = _jobs_in(spark.sparkContext, "render-one-job",
                           lambda: render_table(display_projection(df)))
    header = _header(table)
    assert "cluster" not in header and "tool" not in header
    assert "method_path" in header
    assert jobs == 1


def test_truncated_render_settles_unseen_rows(spark):
    """Past the row cap the collected rows cannot show a column empty:
    `late` is empty in the first max_rows + 1 rows only, so it stays;
    `never` is empty in every row and goes."""
    df = spark.range(10).select(
        F.col("id").cast("string").alias("ip"),
        F.when(F.col("id") >= 8, "x").otherwise("").alias("late"),
        F.lit("-").alias("never"),
    ).orderBy("ip")
    table = render_table(df, max_rows=3, color=False)
    assert _header(table) == ["ip", "late"]
    assert table.endswith("(output truncated at 3 rows)")


def test_render_float_null_vs_nan_matches_aggregate(spark):
    """Arrow collects a null double as NaN; a real NaN is content to
    Spark's `!= 0.0`, a null is not. The table keeps what the Spark
    predicate keeps."""
    df = spark.createDataFrame(
        [("a", None, float("nan")), ("b", 0.0, 0.0)],
        "ip string, nulls double, nans double",
    )
    flags = df.agg(*(F.max((F.col(c) != 0.0).cast("int")).alias(c)
                     for c in ("nulls", "nans"))).collect()[0]
    assert not flags["nulls"] and flags["nans"]
    assert _header(render_table(df, color=False)) == ["ip", "nans"]


def test_render_table_colors_and_cap(spark):
    s = render_table(display_projection(_scored(spark)), max_rows=1)
    assert "\x1b[97;41m" in s                 # >=95 band color
    assert "truncated at 1 rows" in s


def test_write_csv_single_file(spark, tmp_path):
    p = tmp_path / "out.csv"
    write_csv(_scored(spark), str(p), single_file=True)
    lines = p.read_text().strip().splitlines()
    assert len(lines) == 3 and lines[0].startswith("source,")


def test_parquet_store_partitioned(spark, tmp_path):
    p = tmp_path / "store"
    write_parquet_store(_scored(spark), str(p))
    back = spark.read.parquet(str(p))
    assert back.count() == 2
    assert (p / "source=a.log").exists()


def test_build_email_attachment(spark):
    msg = build_email(_scored(spark), "a@x", "b@y")
    atts = [part for part in msg.iter_attachments()]
    assert len(atts) == 1
    assert atts[0].get_filename() == "results.csv"
    assert b"source" in atts[0].get_payload(decode=True)


def test_cli_end_to_end(spark, tmp_path, capsys):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "a.log").write_text(
        '1.2.3.4 - - [10/Oct/2024:13:55:36 +0000] "GET /cgi?cmd=whoami HTTP/1.1" 200 120 "-" "x"\n'
    )
    from webloghunter_spark.cli import main

    rc = main([str(logs), "--risk-score", "40", "--no-color"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "whoami" in out and "71.1" in out


def test_cli_reference_flag_aliases(spark, tmp_path, capsys):
    """The reference's original flag names drive the same predicates."""
    from webloghunter_spark.cli import main

    log = tmp_path / "a.log"
    log.write_text(
        '1.1.1.1 - - [01/Jan/2024:10:00:00 +0000] "GET /admin HTTP/1.1" 200 10 "-" "UA"\n'
        '2.2.2.2 - - [01/Jan/2024:10:00:01 +0000] "POST /x HTTP/1.1" 404 10 "-" "UA"\n'
    )
    rc = main([
        "--path", str(log),
        "--status-code", "200",
        "--ip", "1.1.1.1/32",
        "--min-size", "5",
        "-o", "standard",
        "--no-color",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "/admin" in out and "/x" not in out


def test_cli_cluster_off(spark, tmp_path, capsys):
    from webloghunter_spark.cli import main

    log = tmp_path / "a.log"
    log.write_text(
        '1.1.1.1 - - [01/Jan/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 10 "-" "UA"\n'
        '1.1.1.1 - - [01/Jan/2024:12:00:00 +0000] "GET /b HTTP/1.1" 200 10 "-" "UA"\n'
    )
    rc = main([str(log), "--cluster-off", "--no-color"])
    assert rc == 0
    out = capsys.readouterr().out
    # both rows present, single cluster id 0 (no sessionization)
    assert "/a" in out and "/b" in out

def test_cli_config_yaml(spark, tmp_path, capsys):
    """--config drives ignore-IP auto-apply and ignore-extensions from a
    reference-format config.yaml."""
    from webloghunter_spark.cli import main

    conf = tmp_path / "config.yaml"
    conf.write_text(
        "ignore_extensions: ['.css']\n"
        "ignore_ip: ['10.10.10.0/24']\n"
        "uri_risk:\n  sensitive_paths: ['/admin']\n"
        "  sensitive_extensions: ['sql']\n"
    )
    log = tmp_path / "a.log"
    log.write_text(
        '10.10.10.5 - - [01/Jan/2024:10:00:00 +0000] "GET /scanner HTTP/1.1" 200 10 "-" "UA"\n'
        '2.2.2.2 - - [01/Jan/2024:10:00:01 +0000] "GET /style.css HTTP/1.1" 200 10 "-" "UA"\n'
        '3.3.3.3 - - [01/Jan/2024:10:00:02 +0000] "GET /keep HTTP/1.1" 200 10 "-" "UA"\n'
    )
    rc = main([str(log), "--config", str(conf), "--no-color"])
    assert rc == 0
    out = capsys.readouterr().out
    # authorized-scanner net and static extension hidden by default…
    assert "/scanner" not in out and "style.css" not in out
    assert "/keep" in out

    # …but an explicit --ignore-ip overrides the config default
    rc = main([str(log), "--config", str(conf), "--no-color",
               "--ignore-ip", "3.3.3.0/24"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "/scanner" in out and "/keep" not in out

def test_render_risk_wrap_and_boundary(spark):
    """risk>=70 rows wrap long text columns; session-boundary rows get
    blue-bold source/timestamp/ip cells (ref dataframe.py:474-479,515-523)."""
    from webloghunter_spark.render import render_table

    long_rule = "A Very Long Rule Name That Exceeds Fifteen Chars"
    rows = [
        ("a.log", "1.1.1.1", "t1", "GET /x", 200, 0, 85.0, long_rule),
        ("a.log", "1.1.1.1", "t2", "GET /y", 200, 0, 10.0, long_rule),
        ("a.log", "2.2.2.2", "t3", "GET /z", 200, 1, 10.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "source string, ip string, timestamp string, method_path string, "
        "status int, cluster long, risk_score double, rule_applied string",
    )
    s = render_table(df, color=True)
    lines = s.splitlines()
    # High-risk row wraps rule_applied over multiple lines: the word
    # 'Exceeds' lands on a continuation line, never truncated with '..'
    assert any("Exceeds" in ln for ln in lines)
    # Low-risk row truncates the same value
    assert any("A Very Long R.." in ln for ln in lines)
    # Boundary rows (first row, and the 2.2.2.2/new-cluster row) carry
    # blue-bold cells; the middle row (same ip/source/cluster) does not.
    blue = [ln for ln in lines if "\x1b[1;34m" in ln]
    assert len(blue) == 2
    assert any("2.2.2.2" in ln for ln in blue)
    assert not any("t2" in ln for ln in blue)


def test_cli_errors_log_sink(spark, tmp_path, capsys):
    from webloghunter_spark.cli import main

    log = tmp_path / "a.log"
    log.write_text(
        '1.1.1.1 - - [01/Jan/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 10 "-" "UA"\n'
        "complete garbage line\n"
    )
    errfile = tmp_path / "errors.log"
    rc = main([str(log), "--no-color", "--errors-log", str(errfile)])
    assert rc == 0
    content = errfile.read_text()
    assert "Failed to parse: complete garbage line" in content
    assert content.startswith("AccessLogDataFrameError - ")


def test_stage_errors_land_in_errors_log(spark, tmp_path):
    """EngineStageError logs itself on the configured channel: both the
    timestamp-validation probe and sigma rule compilation write the
    reference's errors.log record format (dataframe.py:12-16 /
    risk.py:16-20 self-logging exception parity)."""
    import pytest

    from webloghunter_spark.errors import (
        EngineStageError,
        configure_stage_errors,
        reset_stage_errors,
    )
    from webloghunter_spark.operators.timeutil import with_utc_timestamp
    from webloghunter_spark.rules.sigma import compile_predicate

    errfile = tmp_path / "stage_errors.log"
    configure_stage_errors(str(errfile))
    try:
        df = spark.createDataFrame([("not a timestamp",)], "timestamp string")
        with pytest.raises(EngineStageError):
            with_utc_timestamp(df, fail_on_unparsed=True)
        with pytest.raises(ValueError):  # subclass: old catches still work
            compile_predicate("status|bogusop", 1)
    finally:
        reset_stage_errors()
    content = errfile.read_text()
    assert "unparseable timestamps" in content
    assert "Unsupported sigma operator: bogusop" in content
    assert content.startswith("AccessLogDataFrameError - ")
    assert " - ERROR - " in content


def test_cli_errors_log_captures_rule_compile_error(spark, tmp_path):
    """--errors-log wires the stage channel: a bad rules file fails the
    run AND leaves a record in errors.log."""
    import pytest

    from webloghunter_spark.cli import main
    from webloghunter_spark.errors import reset_stage_errors

    log = tmp_path / "a.log"
    log.write_text(
        '1.1.1.1 - - [01/Jan/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 10 "-" "UA"\n'
    )
    rules = tmp_path / "rules.yml"
    rules.write_text(
        "- title: Bad\n"
        "  tags:\n"
        "    - risk_score: 10\n"
        "  detection:\n"
        "    selection:\n"
        "      status|nosuchop: 1\n"
    )
    errfile = tmp_path / "errors.log"
    try:
        with pytest.raises(ValueError):
            main([str(log), "--no-color", "--rules", str(rules),
                  "--errors-log", str(errfile)])
    finally:
        reset_stage_errors()
    assert "Unsupported sigma operator: nosuchop" in errfile.read_text()
