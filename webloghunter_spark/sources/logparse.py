"""Multi-format access-log ingestion.

Reproduces the reference parser's behavior (/root/reference/WebLogTriage/
parser.py:8-18, :108-158) as a declarative Spark projection:

- lines are read with ``spark.read.text`` (utf-8, malformed bytes
  replaced — same as the reference's ``decode('utf-8', 'replace')``);
- a leading grep ``filename:`` prefix is stripped (parser.py:112-114);
- blank lines and ``#`` comments are skipped (parser.py:130-132);
- a trailing-junk regex sub is applied (parser.py:134);
- eight log-format regexes are tried IN ORDER, first match wins
  (parser.py:137-141); unmatched lines go to an errors side-channel
  (parser.py:122-123) — here a separate DataFrame, not a log file,
  split off the same parse as the entries (`parse_rows`, `split_rows`);
- per-entry defaults: user_agent/referrer '' -> '-', non-digit status
  -> 0, missing resp_size -> 0, missing method -> 'INVALID'
  (parser.py:143-153);
- each row is tagged with the basename of its source file
  (parser.py:120) and a monotonically-increasing ordinal capturing
  on-disk line order (needed for deterministic keep-first dedup).

Execution shape: the format dispatch compiles to a single whole-stage-
codegen'd projection — ``rlike`` per format picks the first match, and
each field extracts from the winning pattern only (conditional branches,
so the non-matching regexes are not evaluated per field). No Python
runs per row; scales linearly with input and parallelizes per file
split. `read_access_logs` persists the one parse both frames are split
from, so a pipeline that writes the entries and then counts the errors
reads and parses each line once.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from webloghunter_spark.session import materialize

# (format name, regex, {field: capture-group index})
# Same patterns and order as the reference; named groups re-expressed as
# numbered groups for Java regex portability.
LOG_FORMATS: list[tuple[str, str, dict[str, int]]] = [
    (
        "apache",
        r'^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+|-) "(.*?|-)" "(.*?|-)"\s*$',
        {"ip": 1, "timestamp": 2, "method": 3, "request_uri": 4, "status": 5, "resp_size": 6, "referrer": 7, "user_agent": 8},
    ),
    (
        "no_method",
        r'^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([^"]+)" (\d{3}) (\d+|-) "(.*?|-)" "(.*?|-)"$',
        {"ip": 1, "timestamp": 2, "request_uri": 3, "status": 4, "resp_size": 5, "referrer": 6, "user_agent": 7},
    ),
    (
        "apache_extended",
        r'^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+) "(.*?|-)" "(.*?|-)" "(.*?|-)"$',
        {"ip": 1, "timestamp": 2, "method": 3, "request_uri": 4, "status": 5, "resp_size": 6, "referrer": 7, "user_agent": 8, "extra": 9},
    ),
    (
        "clf",
        r'^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+|-)$',
        {"ip": 1, "timestamp": 2, "method": 3, "request_uri": 4, "status": 5, "resp_size": 6},
    ),
    (
        "unknown",
        r'^\S+ \S+ \S+ (\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+)$',
        {"ip": 1, "timestamp": 2, "method": 3, "request_uri": 4, "status": 5, "resp_size": 6},
    ),
    (
        "nginx",
        r'^(\S+) \S+ \S+ \[(\d{2}/[A-Za-z]{3}/\d{4}:\d{2}:\d{2}:\d{2}\s[+-]\d{4})\] "([A-Z]+) ([^ ]+) HTTP/[0-9.]+" (\d{3}) (\d+) "([^"]*)" "(.*?|-)"$',
        {"ip": 1, "timestamp": 2, "method": 3, "request_uri": 4, "status": 5, "resp_size": 6, "referrer": 7, "user_agent": 8},
    ),
    (
        "iis",
        r"^(\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2})\s+\S+\s+([A-Z]+)\s+(\S+)\s+\S+\s+\d+\s+\S+\s+(\S+)\s+(\S+)\s+(\S+|-)\s+(\d{3})\s+\d+\s+\d+\s+(\d+)$",
        {"timestamp": 1, "method": 2, "request_uri": 3, "ip": 4, "user_agent": 5, "referrer": 6, "status": 7, "resp_size": 8},
    ),
    (
        "iis_custom_1",
        r"^(\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2})\s+\S+\s+\S+\s+\S+\s+([A-Z]+)\s+(\S+)\s+\S+\s+\d+\s+\S+\s+(\S+)\s+(\S+)\s+(\S+)\s+(\d{3})\s+\d+\s+\d+\s+(\d+)$",
        {"timestamp": 1, "method": 2, "request_uri": 3, "ip": 4, "user_agent": 5, "referrer": 6, "status": 7, "time_taken": 8},
    ),
]

# apache_ssl, the reference's ninth format, is COMMENTED OUT in its
# format list (parser.py:15), so its lines go to the errors frame here
# too; its status-200 special case (parser.py:146-147) is unreachable.

GREP_PREFIX_RE = r"^[\w./-]+:\s*"
TRAILING_JUNK_RE = r'(".*?"|-" ".*?"|-")$.*'


def read_raw_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read log files/dirs/globs to (value, source, ordinal).

    `.csv` paths are treated as Splunk exports: only the `_raw` column
    is used as the line text (parser.py:74-76).
    """
    if isinstance(paths, str):
        paths = [paths]
    csv_paths = [p for p in paths if p.lower().endswith(".csv")]
    txt_paths = [p for p in paths if not p.lower().endswith(".csv")]
    parts = []
    if txt_paths:
        parts.append(spark.read.text(txt_paths))
    if csv_paths:
        # RFC-4180 doubled-quote escaping (Splunk exports); Spark's default
        # escape char is backslash, so set it to the quote char.
        raw = (
            spark.read.option("header", "true")
            .option("escape", '"')
            .csv(csv_paths)
        )
        parts.append(raw.select(F.col("_raw").cast("string").alias("value")))
    if not parts:
        raise ValueError("no input paths")
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    src = F.url_decode(F.regexp_extract(F.input_file_name(), r"[^/]+$", 0))
    return df.select(
        F.col("value"),
        src.alias("source"),
        F.monotonically_increasing_id().alias("ordinal"),
    )


_GROUP_SEP = "\x01"


@lru_cache(maxsize=None)
def _format_arr(pattern: str, max_group: int) -> Column:
    """One regex execution extracting ALL capture groups of a format.

    ``regexp_extract`` re-runs the full pattern for every group, so a
    per-(field, format) extract would execute each format regex ~8-10
    times per line AND blow the 64 KB JIT method limit (whole-stage
    codegen falls back to interpreted mode). Instead the anchored
    pattern is applied once with ``regexp_replace`` rewriting the line
    to its groups joined by \\x01, then split. An unmatched pattern
    leaves the line unchanged, so ``size(arr) == 1`` ⇔ no match (every
    format has ≥6 groups). These arrays are built as UNCONDITIONAL
    expressions — Spark's subexpression elimination does not hoist
    subtrees out of CASE WHEN branches, so conditional extraction would
    re-run the regex per field; unconditional arrays run each format's
    regex exactly once per line (8 total, fewer than the reference's
    try-in-order loop once a late format matches).
    """
    repl = _GROUP_SEP.join(f"${i}" for i in range(1, max_group + 1))
    return F.split(F.regexp_replace(F.col("_line"), pattern, repl), _GROUP_SEP, -1)


def _arr_name(fmt: str) -> str:
    return f"_g_{fmt}"


@lru_cache(maxsize=None)
def _format_col() -> Column:
    fmt = None
    for name, _, _ in LOG_FORMATS:
        cond = F.size(F.col(_arr_name(name))) > 1
        fmt = F.when(cond, name) if fmt is None else fmt.when(cond, name)
    return fmt.otherwise(F.lit(None))


# Column objects are immutable expression templates bound to no session,
# so the per-field CASE trees (hundreds of py4j round-trips to build) are
# constructed once per process and reused across plans.
@lru_cache(maxsize=None)
def _field_col(field: str) -> Column:
    expr = None
    for name, pattern, groups in LOG_FORMATS:
        if field not in groups:
            continue
        val = F.try_element_at(F.col(_arr_name(name)), F.lit(groups[field]))
        cond = F.col("_format") == name
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    if expr is None:
        return F.lit(None).cast("string")
    return expr.otherwise(F.lit(None))


def parse_rows(lines: DataFrame) -> DataFrame:
    """(value, source, ordinal) -> one frame of every non-skipped line.

    Parsed lines carry the `parse_lines` entry columns; a line no format
    matches has a null `log_format` and its text in `_unparsed` (null on
    parsed lines). `split_rows` turns the frame into (entries, errors),
    so a persisted frame gives both from one parse.
    """
    stripped = F.regexp_replace(F.col("value"), GREP_PREFIX_RE, "")
    line = F.when(stripped != "", stripped).otherwise(F.col("value"))
    # \x01 is the group-join separator used by _format_arr: a raw line
    # containing it (binary junk is common in real access logs) would
    # otherwise fake a format match / shift group indices. Drop it
    # before any format regex runs (translate = single char-level pass,
    # no regex).
    line = F.translate(line, _GROUP_SEP, "")
    line = F.trim(line)
    df = lines.withColumn("_line", F.regexp_replace(line, TRAILING_JUNK_RE, "$1"))

    skippable = (F.col("_line") == "") | F.col("_line").startswith("#")
    candidates = df.filter(~skippable)
    # Group arrays as a dedicated projection: referenced by many field
    # expressions below, so CollapseProject keeps them materialized and
    # each format regex runs exactly once per line.
    candidates = candidates.withColumns(
        {_arr_name(name): _format_arr(pattern, max(groups.values()))
         for name, pattern, groups in LOG_FORMATS}
    ).withColumn("_format", _format_col())

    return candidates.select(
        F.coalesce(_field_col("ip"), F.lit("")).alias("ip"),
        F.coalesce(_field_col("timestamp"), F.lit("")).alias("timestamp"),
        # missing/empty method -> 'INVALID' (parser.py:153)
        F.coalesce(F.nullif(_field_col("method"), F.lit("")), F.lit("INVALID")).alias("method"),
        F.coalesce(_field_col("request_uri"), F.lit("")).alias("request_uri"),
        # non-digit status -> 0 (parser.py:149-150)
        F.coalesce(_field_col("status").try_cast("int"), F.lit(0)).alias("status"),
        # '-' or missing resp_size -> 0 (parser.py:151-152)
        F.coalesce(_field_col("resp_size").try_cast("long"), F.lit(0)).alias("resp_size"),
        # empty referrer/user_agent -> '-' (parser.py:143-144)
        F.coalesce(F.nullif(_field_col("referrer"), F.lit("")), F.lit("-")).alias("referrer"),
        F.coalesce(F.nullif(_field_col("user_agent"), F.lit("")), F.lit("-")).alias("user_agent"),
        F.coalesce(_field_col("extra"), F.lit("")).alias("extra"),
        F.coalesce(_field_col("time_taken").try_cast("int"), F.lit(0)).alias("time_taken"),
        F.col("_format").alias("log_format"),
        "source",
        "ordinal",
        F.when(F.col("_format").isNull(), F.col("value")).alias("_unparsed"),
    )


def split_rows(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """`parse_rows` output -> (parsed entries, unparsed errors)."""
    parsed = rows.filter(F.col("log_format").isNotNull()).drop("_unparsed")
    errors = rows.filter(F.col("log_format").isNull()).select(
        F.col("_unparsed").alias("value"), "source", "ordinal"
    )
    return parsed, errors


def parse_lines(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(value, source, ordinal) -> (parsed entries, unparsed errors).

    Output schema: ip, timestamp, method, request_uri, status(int),
    resp_size(long), referrer, user_agent, extra, time_taken(int),
    log_format, source, ordinal — with the reference's default fills.
    Both frames are lazy and each evaluates the parse on its own; see
    `read_access_logs` for one parse feeding both.
    """
    return split_rows(parse_rows(lines))


def read_access_logs(
    spark: SparkSession, paths: list[str] | str
) -> tuple[DataFrame, DataFrame]:
    """Read + parse once. Returns (entries, errors).

    The parsed frame is persisted with `materialize()`, so the first
    action parses each line and later ones (errors.count() after a store
    write) read the cached rows; release it with
    `release_materialized()` / `materialized_scope()`.
    """
    return split_rows(materialize(parse_rows(read_raw_lines(spark, paths))))
