"""Parser unit tests: every format from parser.py:8-18 plus edge rows."""

import pytest
from pyspark.sql import functions as F

from webloghunter_spark.sources.logparse import parse_lines

APACHE = '1.2.3.4 - - [10/Oct/2024:13:55:36 +0000] "GET /index.html HTTP/1.1" 200 1234 "-" "Mozilla/5.0"'
NO_METHOD = '1.2.3.4 - - [10/Oct/2024:13:55:36 +0000] "\\x16\\x03\\x01" 400 0 "-" "-"'
CLF = '5.6.7.8 - - [10/Oct/2024:13:55:36 +0000] "GET /a.html HTTP/1.0" 404 -'
UNKNOWN = 'x y z 9.9.9.9 - - [10/Oct/2024:13:55:36 +0000] "POST /b HTTP/1.1" 500 77'
NGINX = '2.3.4.5 - - [10/Oct/2024:13:55:36 +0000] "GET /n HTTP/1.1" 200 10 "" "curl/8"'
IIS = "2024-10-10 13:55:36 W3SVC1 GET /iis.aspx - 443 - 4.4.4.4 Mozilla/5.0+(Windows) - 200 0 0 512"
IIS_CUSTOM = "2024-10-10 13:55:36 site1 10.1.1.1 80 GET /x.aspx - 443 user 8.8.8.8 Mozilla/5.0 - 200 0 0 250"


def _lines_df(spark, lines, source="test.log"):
    return spark.createDataFrame(
        [(line, source, i) for i, line in enumerate(lines)],
        "value string, source string, ordinal long",
    )


def _parse_one(spark, line):
    parsed, errors = parse_lines(_lines_df(spark, [line]))
    rows = parsed.collect()
    assert len(rows) == 1, f"line failed to parse: {line!r} (errors={errors.collect()})"
    return rows[0]


def test_apache_combined(spark):
    r = _parse_one(spark, APACHE)
    assert r.log_format == "apache"
    assert (r.ip, r.method, r.request_uri, r.status, r.resp_size) == (
        "1.2.3.4", "GET", "/index.html", 200, 1234)
    assert r.referrer == "-" and r.user_agent == "Mozilla/5.0"


def test_no_method(spark):
    r = _parse_one(spark, NO_METHOD)
    assert r.log_format == "no_method"
    assert r.method == "INVALID"
    assert r.status == 400


def test_clf_dash_size(spark):
    r = _parse_one(spark, CLF)
    assert r.log_format == "clf"
    assert r.resp_size == 0
    assert r.referrer == "-" and r.user_agent == "-"


def test_unknown_prefixed(spark):
    r = _parse_one(spark, UNKNOWN)
    assert r.log_format == "unknown"
    assert r.ip == "9.9.9.9" and r.status == 500 and r.resp_size == 77


def test_nginx_empty_referrer(spark):
    r = _parse_one(spark, NGINX)
    # nginx allows an empty referrer; empty -> '-' per parser.py:144
    assert r.referrer == "-"
    assert r.user_agent == "curl/8"


def test_iis(spark):
    r = _parse_one(spark, IIS)
    assert r.log_format == "iis"
    assert (r.ip, r.method, r.status, r.resp_size) == ("4.4.4.4", "GET", 200, 512)
    assert r.timestamp == "2024-10-10 13:55:36"


def test_iis_custom_time_taken(spark):
    r = _parse_one(spark, IIS_CUSTOM)
    assert r.log_format == "iis_custom_1"
    assert r.time_taken == 250
    assert r.resp_size == 0  # format has no resp_size group


def test_comment_blank_garbage_routing(spark):
    lines = [APACHE, "", "# a comment", "total garbage not a log line", CLF]
    parsed, errors = parse_lines(_lines_df(spark, lines))
    assert parsed.count() == 2
    errs = [r.value for r in errors.collect()]
    assert errs == ["total garbage not a log line"]


def test_control_char_junk_is_not_a_fake_match(spark):
    # \x01 is the internal group-join separator: a binary junk line
    # containing it must go to errors, not be "parsed" into garbage
    # fields by the size(arr)>1 match test.
    junk = "\x01\x01 binary \x01 garbage \x01"
    parsed, errors = parse_lines(_lines_df(spark, [junk, APACHE]))
    assert parsed.count() == 1
    assert errors.count() == 1
    # \x01 embedded inside a matched field must not shift group indices:
    # it is dropped before the format regexes run.
    weird = APACHE.replace("Mozilla/5.0", "Moz\x01illa/5.0")
    r = _parse_one(spark, weird)
    assert r.log_format == "apache"
    assert r.user_agent == "Mozilla/5.0"
    assert (r.ip, r.status) == ("1.2.3.4", 200)


def test_grep_prefix_strip(spark):
    r = _parse_one(spark, "access.log:" + APACHE)
    assert r.ip == "1.2.3.4"
    assert r.log_format == "apache"


def test_splunk_csv_raw_column(spark, tmp_path):
    # Splunk export: _raw column, RFC-4180 doubled-quote escaping
    p = tmp_path / "export.csv"
    p.write_text(
        '_raw\n"1.2.3.4 - - [10/Oct/2024:13:55:36 +0000] ""GET /from_csv HTTP/1.1"" 200 5 ""-"" ""-"""\n'
    )
    from webloghunter_spark.sources.logparse import read_raw_lines

    parsed, errors = parse_lines(read_raw_lines(spark, [str(p)]))
    rows = parsed.collect()
    assert len(rows) == 1 and errors.count() == 0
    assert rows[0].request_uri == "/from_csv" and rows[0].source == "export.csv"


def test_first_match_wins_order(spark):
    # An apache-extended line parses as 'apache' because the combined
    # pattern is tried first and its lazy UA group swallows the extra
    # field — exact reference behavior (patterns tried in order).
    ext = APACHE + ' "extra-field"'
    r = _parse_one(spark, ext)
    assert r.log_format == "apache"


def test_weblog_datasource_matches_native(spark, tmp_path):
    """spark.read.format('weblog') parses the same rows as the native
    JVM-side path, and surfaces unparseable lines with parse_ok=false."""
    from webloghunter_spark.sources.datasource import register_weblog_source
    from webloghunter_spark.sources.logparse import read_access_logs

    log = tmp_path / "access.log"
    log.write_text(
        '1.2.3.4 - - [01/Jan/2024:10:00:00 +0000] "GET /a HTTP/1.1" 200 10 "-" "UA"\n'
        "# comment line\n"
        '5.6.7.8 - - [01/Jan/2024:10:00:01 +0000] "POST /b HTTP/1.0" 500 - "-" "UA"\n'
        "totally not a log line\n"
        "2024-01-01 10:00:02 W3SVC1 GET /c - 443 - 9.9.9.9 UA - 404 0 0 7\n"
    )
    register_weblog_source(spark)
    ds = spark.read.format("weblog").load(str(log))
    rows = {r.ordinal: r for r in ds.collect()}

    ok = [r for r in rows.values() if r.parse_ok]
    bad = [r for r in rows.values() if not r.parse_ok]
    assert len(ok) == 3 and len(bad) == 1
    assert bad[0].raw == "totally not a log line"
    by_uri = {r.request_uri: r for r in ok}
    assert by_uri["/a"].status == 200 and by_uri["/a"].log_format == "apache"
    assert by_uri["/b"].resp_size == 0          # '-' -> 0
    assert by_uri["/c"].log_format == "iis" and by_uri["/c"].ip == "9.9.9.9"

    native, errors = read_access_logs(spark, [str(log)])
    nat = {r.request_uri: r for r in native.collect()}
    for uri in ["/a", "/b", "/c"]:
        for f in ["ip", "timestamp", "method", "status", "resp_size",
                  "referrer", "user_agent", "log_format"]:
            assert getattr(nat[uri], f) == getattr(by_uri[uri], f), (uri, f)
    assert errors.count() == 1


def test_apache_ssl_line_is_unparsed(spark):
    # upstream parity: the reference's apache_ssl format is commented
    # out (parser.py:15), so such a line is an error, not an entry
    ssl_line = ('[10/Oct/2024:13:55:36 +0000] 7.7.7.7 TLSv1.2 ECDHE-RSA-AES256 '
                '"GET /secure.html HTTP/1.1" 512')
    parsed, errors = parse_lines(_lines_df(spark, [ssl_line]))
    assert parsed.count() == 0 and errors.count() == 1
