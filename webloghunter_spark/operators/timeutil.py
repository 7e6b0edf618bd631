"""Timestamp normalization to UTC (reference dataframe.py:207-249).

Two accepted layouts:
- Apache: ``dd/MMM/yyyy:HH:mm:ss Z`` (numeric offset; the reference's
  validation regex also tolerates alphabetic zone names like ``UTC``).
- IIS: ``yyyy-MM-dd HH:mm:ss`` assumed UTC.

Rows matching neither are a hard error in the reference; here they yield
a NULL `utc_timestamp` the caller may assert on (`fail_on_unparsed`),
keeping the distributed path side-effect free.

An optional skew correction adds `time_offset` seconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IIS_TS_RE = r"^\d{4}-\d{2}-\d{2}\s\d{2}:\d{2}:\d{2}$"


def epoch_seconds(col: "F.Column") -> "F.Column":
    """Fractional epoch seconds from a timestamp column, NTZ- and LTZ-safe.

    ``ts.cast("double")`` throws DATATYPE_MISMATCH on TIMESTAMP_NTZ
    (parquet written with isAdjustedToUTC=false surfaces as NTZ), and
    ``unix_timestamp`` floors away sub-second precision that gap
    thresholds like ``max_gap_seconds=1.0`` depend on.  ``unix_micros``
    keeps microseconds; the NTZ->LTZ cast is exact under a UTC session
    zone (which ``get_spark`` pins).  PRECONDITION for NTZ inputs
    under a NON-UTC session zone: the offset is only constant away
    from DST transitions — two wall-clock instants straddling a
    spring-forward/fall-back boundary differ by an extra ±3600 s, so
    gap arithmetic there needs a UTC session (set
    ``spark.sql.session.timeZone=UTC``, as this engine does).
    """
    return F.unix_micros(col.cast("timestamp_ltz")) / F.lit(1_000_000.0)


def with_utc_timestamp(
    df: DataFrame,
    ts_col: str = "timestamp",
    out_col: str = "utc_timestamp",
    time_offset: int = 0,
    fail_on_unparsed: bool = False,
) -> DataFrame:
    ts = F.col(ts_col)
    apache = F.try_to_timestamp(ts, F.lit("dd/MMM/yyyy:HH:mm:ss Z"))
    # Alphabetic-zone variant (e.g. '01/Jan/2024:00:00:00 UTC').
    apache_alpha = F.try_to_timestamp(ts, F.lit("dd/MMM/yyyy:HH:mm:ss z"))
    iis = F.when(
        ts.rlike(IIS_TS_RE), F.try_to_timestamp(ts, F.lit("yyyy-MM-dd HH:mm:ss"))
    )
    parsed = F.coalesce(iis, apache, apache_alpha)
    if time_offset:
        parsed = F.timestamp_add("SECOND", F.lit(time_offset), parsed)
    out = df.withColumn(out_col, parsed)
    if fail_on_unparsed:
        bad = out.filter(F.col(out_col).isNull() & ts.isNotNull()).limit(5).collect()
        if bad:
            from webloghunter_spark.errors import EngineStageError

            # EngineStageError logs itself to the errors.log channel
            # (reference: unparseable timestamps raise through the
            # self-logging AccessLogDataFrameError, dataframe.py:12-16)
            raise EngineStageError(
                f"unparseable timestamps, e.g.: {[r[ts_col] for r in bad]}"
            )
    return out
