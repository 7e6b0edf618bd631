"""End-to-end pipeline assembly (the reference CLI lifecycle).

Mirrors /root/reference/triage.py main() order, which is semantically
load-bearing (SURVEY §3.1):
  parse -> cross-source dedup -> UTC normalize -> sessionize ->
  request_count -> scalar risks + Sigma rules -> burst detector ->
  tool scanner -> user filters -> order by (source, utc_timestamp).

Everything is one lazy DataFrame plan: build_pipeline runs no Spark
job. Catalyst fuses the scalar-risk and rule-engine projections into a
single codegen stage. Column pruning makes two branches of one input
canonically different, and Spark reuses no exchange above a cached
scan, so without a barrier each branch would re-run everything below
it. Three persisted barriers (`session.materialize`) let each line be
read and parsed once: the parse, which feeds both the entries and the
errors side-channel (`read_access_logs`); sessionize's windowed rows,
which feed both its group table and the id join-back; and the scored
frame before the detectors, which each read it on a slim detection
branch and a wide probe branch. The persisted frames belong to the
caller's run (`session.materialized_scope`). The shuffles are: the
dedup exchange on the normalized dedup key; the session-window
exchange on (source, ip), which request_count's window reuses; the
session-id renumbering over one row per (source, ip) (a range
exchange, two bucket exchanges and a broadcast back); and the
detectors' own exchanges.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webloghunter_spark.detectors.burst import burst_success_detector
from webloghunter_spark.detectors.tools import DEFAULT_TOOL_SIGNATURES, tool_scanner
from webloghunter_spark.functions.risk import (
    DEFAULT_RISKY_EXTENSIONS,
    DEFAULT_SENSITIVE_PATHS,
    method_risk_expr,
    status_risk_expr,
    uri_risk_col,
)
from webloghunter_spark.operators.counts import with_request_count
from webloghunter_spark.operators.dedup import remove_cross_source_dups
from webloghunter_spark.operators.filters import DEFAULT_IGNORE_EXTENSIONS, apply_filters
from webloghunter_spark.operators.sessionize import sessionize
from webloghunter_spark.operators.timeutil import with_utc_timestamp
from webloghunter_spark.rules.sigma import DEFAULT_RULES, apply_rules
from webloghunter_spark.sources.logparse import read_access_logs


@dataclass
class EngineConfig:
    rules: list[dict] = field(default_factory=lambda: list(DEFAULT_RULES))
    tool_signatures: list[dict] = field(default_factory=lambda: list(DEFAULT_TOOL_SIGNATURES))
    sensitive_paths: tuple = DEFAULT_SENSITIVE_PATHS
    risky_extensions: tuple = DEFAULT_RISKY_EXTENSIONS
    shells: frozenset = frozenset()
    session_gap_seconds: int = 60
    cluster_off: bool = False
    time_offset: int = 0
    # Filter-stage defaults the reference seeds from config.yaml via its
    # argparse defaults (triage.py:164,191): static extensions hidden
    # from output, and authorized-scanner networks dropped by default.
    ignore_extensions: tuple = DEFAULT_IGNORE_EXTENSIONS
    ignore_ip: tuple = ()


def score(df: DataFrame, config: EngineConfig | None = None) -> DataFrame:
    """Sessionized+counted frame -> scored frame (risk cols + detectors)."""
    cfg = config or EngineConfig()
    # uri_risk_col: native codegen scoring for plain URIs, Arrow UDF
    # only for the rows with percent-encoding/parse edge cases.
    uri_risk = uri_risk_col(
        "request_uri", cfg.shells, cfg.sensitive_paths, cfg.risky_extensions
    )
    df = (
        df.withColumn("uri_risk", uri_risk)
        .withColumn("method_risk", method_risk_expr("method"))
        .withColumn("status_risk", status_risk_expr("status"))
    )
    df = apply_rules(df, cfg.rules)
    # Looked up at call time, so a patched `session.materialize` cuts
    # the pipeline here (perfbench's rules.sigma layer).
    from webloghunter_spark.session import materialize

    # One barrier after the expensive prefix (parse, dedup, session/count
    # windows, uri_risk UDF, rule engine): the two detectors below each
    # fan into two plan branches (see the module docstring).
    df = materialize(df)
    df = burst_success_detector(df)
    df = tool_scanner(df, cfg.tool_signatures)
    return df


def build_pipeline(
    spark: SparkSession,
    paths: list[str] | str,
    config: EngineConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Raw log paths -> (fully scored frame, parse-errors frame)."""
    cfg = config or EngineConfig()
    entries, errors = read_access_logs(spark, paths)
    df = remove_cross_source_dups(entries)
    df = with_utc_timestamp(df, time_offset=cfg.time_offset)
    if cfg.cluster_off:
        # Reference --cluster-off: no sessionization, plain timestamp
        # order; cluster 0 keeps the downstream grouping keys stable.
        df = df.withColumn("cluster", F.lit(0).cast("long"))
    else:
        df = sessionize(df, threshold=cfg.session_gap_seconds)
    df = with_request_count(df)
    return score(df, cfg), errors


def query(df: DataFrame, config: EngineConfig | None = None, **filters) -> DataFrame:
    """Apply user predicates to a scored frame (reference filter()).

    With a config, its ignore_extensions / ignore_ip are applied as
    defaults (overridable per call), matching the reference where
    config.yaml values seed the CLI defaults (triage.py:164,191)."""
    if config is not None:
        filters.setdefault("ignore_extensions", config.ignore_extensions)
        if config.ignore_ip and "ip_ignore" not in filters:
            filters["ip_ignore"] = list(config.ignore_ip)
    return apply_filters(df, **filters)
