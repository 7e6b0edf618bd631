"""Presentation sinks (reference K1/K2/K3 — dataframe.py:391-600,
utils/email.py).

Engine-side work (filtering, projection, ordering) stays distributed;
only the final limited result is collected for terminal rendering. The
terminal table drops all-empty columns (dataframe.py:424-435), judged
from the rows it collects; only the columns those rows cannot settle
cost a Spark aggregate, so a result that fits on screen is one job.
CSV export writes distributed (`df.write.csv`) or to a single local
file for parity with the reference's one-file output.
"""

from __future__ import annotations

import csv
import io
import textwrap
from email.message import EmailMessage

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Risk-band ANSI colors (dataframe.py:529-541).
_BANDS = [
    (95, "\x1b[97;41m"),   # white on red
    (90, "\x1b[31m"),      # red
    (80, "\x1b[35m"),      # magenta
    (70, "\x1b[34m"),      # blue
    (60, "\x1b[36m"),      # cyan
]
_RESET = "\x1b[0m"
_BLUE_BOLD = "\x1b[1;34m"

# Rows at/above this risk WRAP their long text columns instead of
# truncating (reference OUTPUT_RISK_WRAP_THRESHOLD, dataframe.py:23).
RISK_WRAP_THRESHOLD = 70

DISPLAY_COLS = [
    "source", "ip", "timestamp", "method_path", "status", "resp_size",
    "request_count", "cluster", "risk_score", "rule_applied", "tool",
]

# (width, wrap_on_high_risk, truncate_from_tail) per display column —
# the reference's DISPLAY_CONFIG widths and OUTPUT_RISK_WRAP /
# OUTPUT_TRUNC_REV flags (dataframe.py:29-46).
_COLUMN_CONFIG: dict[str, tuple[int, bool, bool]] = {
    "source": (8, False, False),
    "timestamp": (26, False, False),
    "utc_timestamp": (26, False, False),
    "ip": (16, False, False),
    "method_path": (30, True, False),
    "status": (6, False, False),
    "resp_size": (6, False, False),
    "user_agent": (12, True, True),
    "referrer": (14, True, False),
    "request_count": (6, False, False),
    "risk_score": (6, False, False),
    "rule_applied": (15, True, False),
    "cluster": (4, False, False),
    "tool": (6, False, False),
}
# width of a column DISPLAY_CONFIG does not list
_DEFAULT_WIDTH = 60

# Cells colored blue-bold on a session-boundary row
# (dataframe.py:543-544).
_BOUNDARY_COLS = ("source", "timestamp", "utc_timestamp", "ip")


def display_projection(df: DataFrame) -> DataFrame:
    """P1/P2: method_path concat + select of the display columns
    (dataframe.py:403-451). Lazy: no Spark job runs here; the drop of
    all-empty columns belongs to the terminal table (`render_table`)."""
    if "method" in df.columns and "request_uri" in df.columns:
        df = df.withColumn(
            "method_path", F.concat_ws(" ", F.col("method"), F.col("request_uri"))
        )
    return df.select(*(c for c in DISPLAY_COLS if c in df.columns))


_INTS = ("int", "bigint", "smallint")
_FLOATS = ("double", "float")


def _has_content(c: str, dtype: str) -> Column:
    """A value is content unless it is ''/'-' (strings), 0 (ints and
    floats) or null (dataframe.py:424-435). A NaN float is content."""
    if dtype == "string":
        return (F.col(c) != "") & (F.col(c) != "-")
    if dtype in _FLOATS:
        return F.col(c) != 0.0
    if dtype in _INTS:
        return F.col(c) != 0
    return F.col(c).isNotNull()


def _nonempty_columns(df: DataFrame, pdf, complete: bool) -> list[str]:
    """Columns of `df` holding any content, judged first from `pdf`,
    the rows already collected from it (all of them when `complete`).

    A collected content value keeps its column. Without one, the column
    is dropped only when `pdf` is complete and none of its values could
    be a NaN: Arrow collects a null float as NaN, which `_has_content`
    counts differently. The columns left undecided are settled by one
    aggregate over `df`. All-empty everywhere keeps every column."""
    dtypes = dict(df.dtypes)
    keep, undecided = set(), []
    for c in pdf.columns:
        s, dtype = pdf[c], dtypes[c]
        content = s.notna()
        if dtype == "string":
            content &= (s != "") & (s != "-")
        elif dtype in _INTS or dtype in _FLOATS:
            content &= s != 0
        if content.any():
            keep.add(c)
        elif not complete or (dtype in _FLOATS and s.isna().any()):
            undecided.append(c)
    if undecided:
        flags = df.agg(
            *(F.max(_has_content(c, dtypes[c]).cast("int")).alias(c) for c in undecided)
        ).collect()[0]
        keep.update(c for c in undecided if flags[c])
    return [c for c in pdf.columns if c in keep] or list(pdf.columns)


def _truncate(value: str, width: int, from_tail: bool) -> str:
    if len(value) <= width:
        return value
    return (".." + value[-(width - 2):]) if from_tail else (value[: width - 2] + "..")


def render_table(
    df: DataFrame,
    max_rows: int = 1000,
    color: bool = True,
    cluster_enabled: bool | None = None,
) -> str:
    """K1: collect a bounded result and format a fixed-width table.

    Reference-parity presentation (dataframe.py:424-435, 460-560):
    - columns that are empty in every row of `df` (see `_has_content`)
      are dropped; the one bounded collect decides most of them, and
      only the rest cost an aggregate over `df`;
    - per-column widths from DISPLAY_CONFIG; unknown columns use
      `_DEFAULT_WIDTH`;
    - rows with risk_score >= 70 WRAP their long text columns
      (method_path, user_agent, referrer, rule_applied) onto multiple
      lines instead of truncating (OUTPUT_RISK_WRAP, dataframe.py:474-479);
    - the risk_score cell takes the risk-band color;
    - on a session-boundary row (change of (ip, source, cluster),
      dataframe.py:515-523) the source/timestamp/ip cells are blue-bold.

    Row cap guards the driver (the reference only warns at 30k rows; we
    hard-limit and say so). `cluster_enabled=None` infers boundary
    coloring from the presence of the cluster column.
    """
    pdf = df.limit(max_rows + 1).toPandas()
    truncated = len(pdf) > max_rows
    cols = _nonempty_columns(df, pdf, complete=not truncated)
    pdf = pdf[cols].head(max_rows)
    if cluster_enabled is None:
        cluster_enabled = "cluster" in cols
    has_boundary = cluster_enabled and {"ip", "source", "cluster"} <= set(cols)

    rows: list[tuple[str, bool, list[list[str]]]] = []
    prev = None
    for _, r in pdf.iterrows():
        risk = None
        if "risk_score" in cols:
            try:
                risk = float(r["risk_score"])
            except (TypeError, ValueError):
                pass
        cell_lines = []
        for c in cols:
            width, wrap_hi, rev = _COLUMN_CONFIG.get(c, (_DEFAULT_WIDTH, False, False))
            val = str(r[c])
            if wrap_hi and risk is not None and risk >= RISK_WRAP_THRESHOLD:
                cell_lines.append(textwrap.wrap(val, width=width) or [""])
            else:
                cell_lines.append([_truncate(val, width, from_tail=rev)])
        boundary = False
        if has_boundary:
            cur = (r["ip"], r["source"], r["cluster"])
            boundary = cur != prev
            prev = cur
        band = ""
        if risk is not None:
            for threshold, ansi in _BANDS:
                if risk >= threshold:
                    band = ansi
                    break
        rows.append((band, boundary, cell_lines))

    widths = [
        max(len(c), *(len(line) for _, _, cl in rows for line in cl[i]))
        if rows else len(c)
        for i, c in enumerate(cols)
    ]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    lines = [sep, "| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |", sep]
    for band, boundary, cell_lines in rows:
        height = max(len(cl) for cl in cell_lines)
        for li in range(height):
            parts = []
            for i, c in enumerate(cols):
                text = cell_lines[i][li] if li < len(cell_lines[i]) else ""
                cell = text.ljust(widths[i])
                if color and li == 0:
                    if c == "risk_score" and band:
                        cell = f"{band}{cell}{_RESET}"
                    elif boundary and c in _BOUNDARY_COLS:
                        cell = f"{_BLUE_BOLD}{cell}{_RESET}"
                parts.append(cell)
            lines.append("| " + " | ".join(parts) + " |")
    lines.append(sep)
    if truncated:
        lines.append(f"(output truncated at {max_rows} rows)")
    return "\n".join(lines)


def write_errors_log(errors: DataFrame, path: str = "errors.log") -> None:
    """errors.log-compatible sink (reference parser.py:37-55 writes
    unparsed lines through a FileHandler): appends one
    'Failed to parse:' record per unparseable input line, in the
    reference's log format. The errors frame is a small side-channel by
    construction; for a large-scale audit trail use
    ``errors.write.text`` instead of this driver-side append."""
    from datetime import datetime

    ts = datetime.now().strftime("%Y-%m-%d %H:%M:%S,%f")[:-3]
    with open(path, "a") as fp:
        for r in errors.select("value").collect():
            fp.write(
                f"AccessLogDataFrameError - {ts} - ERROR - "
                f"Failed to parse: {r.value}\n"
            )


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K2: distributed CSV by default; single local file for reference
    parity (small filtered results only)."""
    if single_file:
        pdf = df.toPandas()
        with open(path, "w", newline="") as fp:
            pdf.to_csv(fp, index=False, quoting=csv.QUOTE_MINIMAL)
    else:
        df.write.mode("overwrite").option("header", "true").csv(path)


def write_parquet_store(
    df: DataFrame, path: str, partition_cols: tuple[str, ...] = ("source",)
) -> None:
    """Normalized columnar store partitioned by source (SURVEY §4.2's
    physical layout: downstream queries prune partitions by source and
    push predicates into parquet)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def build_email(
    df: DataFrame,
    sender: str,
    recipient: str,
    subject: str = "WebLog results",
    body: str = "Attached results.",
    attachment_name: str = "results.csv",
) -> EmailMessage:
    """K3: compose (not send) the results email with CSV attachment.
    Sending is the caller's ``smtplib.SMTP(...).send_message(msg)`` —
    kept out of the engine so tests never touch the network."""
    buf = io.StringIO()
    df.toPandas().to_csv(buf, index=False)
    msg = EmailMessage()
    msg["From"], msg["To"], msg["Subject"] = sender, recipient, subject
    msg.set_content(body)
    msg.add_attachment(
        buf.getvalue().encode(), maintype="text", subtype="csv",
        filename=attachment_name,
    )
    return msg
