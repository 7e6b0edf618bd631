"""Command-line interface mirroring the reference's triage.py surface.

Usage:
    python -m webloghunter_spark.cli LOGPATH [LOGPATH ...] [options]

Every reference CLI flag has an equivalent here (including the
reference's dead --ignore-uripath-keyword, implemented properly), plus
engine extensions (--output parquet, --store for the partitioned
columnar store).
"""

from __future__ import annotations

import argparse
import sys

from webloghunter_spark.engine import EngineConfig, build_pipeline, query
from webloghunter_spark.functions.risk import load_shells
from webloghunter_spark.render import (
    display_projection,
    render_table,
    write_csv,
    write_parquet_store,
)
from webloghunter_spark.rules.sigma import load_rules
from webloghunter_spark.session import get_spark, materialized_scope


def make_parser() -> argparse.ArgumentParser:
    """Every reference triage.py flag is accepted under its ORIGINAL
    name (a reference user's command lines run unchanged); each also has
    an explicit long name. Engine extensions at the bottom."""
    p = argparse.ArgumentParser(prog="webloghunter-spark")
    p.add_argument("paths", nargs="*", help="log files/dirs/globs (.csv = Splunk export)")
    p.add_argument("--path", dest="path_flag", nargs="+",
                   help="reference-style input flag (same as positional paths)")
    p.add_argument("--start-time")
    p.add_argument("--end-time")
    p.add_argument("--time-offset", type=int, default=0)
    p.add_argument("--cluster-threshold", type=int, default=60)
    p.add_argument("--cluster-off", action="store_true",
                   help="no sessionization; plain timestamp order")
    p.add_argument("-r", "--risk-score", type=float, default=0)
    p.add_argument("--request-count", type=int, default=0)
    p.add_argument("--status-include", "--status-code", type=int, nargs="*")
    p.add_argument("--status-ignore", "--ignore-status-code", type=int, nargs="*")
    p.add_argument("--method-include", "--method", nargs="*")
    p.add_argument("--method-ignore", "--ignore-method", nargs="*")
    p.add_argument("--uripath-keyword", nargs="*")
    p.add_argument("--ignore-uripath-keyword", nargs="*")
    p.add_argument("--ip-include", "--ip", nargs="*")
    p.add_argument("--ip-ignore", "--ignore-ip", nargs="*")
    p.add_argument("--useragent-keyword", "--ua", nargs="*")
    p.add_argument("--ignore-useragent-keyword", "--ignore-ua", nargs="*")
    p.add_argument("--referrer-keyword", "--referrer", nargs="*")
    p.add_argument("--ignore-referrer-keyword", "--ignore-referrer", nargs="*")
    p.add_argument("--cluster-include", "--cluster-id", type=int, nargs="*")
    p.add_argument("--cluster-ignore", "--ignore-cluster-id", type=int, nargs="*")
    p.add_argument("--resp-size-min", "--min-size", type=int)
    p.add_argument("--resp-size-max", "--max-size", type=int)
    p.add_argument("--all-extension", action="store_true")
    p.add_argument("--ignore-extension", nargs="*",
                   help="override the static-extension ignore list")
    p.add_argument("--tool-focus", action="store_true")
    p.add_argument("--config", help="reference-format config.yaml (rules/shells "
                   "paths, ignore extensions/IPs, tool signatures, uri_risk, email)")
    p.add_argument("--rules", "--rules-path", help="Sigma-style rules YAML path")
    p.add_argument("--shells", help="webshell filename list path")
    p.add_argument("--email", nargs="+",
                   help="email results (CSV attached) to these recipients; "
                        "requires WLH_SMTP_HOST (and optional WLH_SMTP_PORT, "
                        "WLH_EMAIL_FROM) in the environment")
    p.add_argument("-o", "--output", "--output-format",
                   choices=["table", "standard", "csv", "parquet"], default="table")
    p.add_argument("--output-path", help="csv/parquet destination")
    p.add_argument("--store", help="write the full scored table as a parquet store")
    p.add_argument("--max-rows", type=int, default=1000)
    p.add_argument("--no-color", action="store_true")
    p.add_argument("--errors-log", nargs="?", const="errors.log", default=None,
                   help="append unparseable lines to this file in the "
                        "reference's errors.log format (default name: errors.log)")
    return p


def main(argv: list[str] | None = None) -> int:
    parser = make_parser()
    args = parser.parse_args(argv)
    args.paths = list(args.paths) + list(args.path_flag or [])
    if not args.paths:
        parser.error("no input paths (positional or --path)")
    if args.output == "standard":  # reference name for the table output
        args.output = "table"
    if args.errors_log:
        # Stage errors (rule compile failures, timestamp validation, …)
        # log themselves to the same errors.log the parse-failure sink
        # appends to — reference parity: every handler error goes
        # through the self-logging exception classes (parser.py:37-55).
        from webloghunter_spark.errors import configure_stage_errors

        configure_stage_errors(args.errors_log)
    base_kwargs = dict(
        session_gap_seconds=args.cluster_threshold,
        cluster_off=args.cluster_off,
        time_offset=args.time_offset,
    )
    conf_opts = None
    if args.config:
        from webloghunter_spark.config import engine_config, load_config

        conf_opts = load_config(args.config)
        cfg = engine_config(conf_opts, **base_kwargs)
    else:
        cfg = EngineConfig(**base_kwargs)
    # Explicit flags override config-file values (reference argparse
    # defaults-from-config, triage.py:26-35,164,191).
    if args.rules:
        cfg.rules = load_rules(args.rules)
    if args.shells:
        cfg.shells = load_shells(args.shells)
    if args.ip_ignore is None and cfg.ignore_ip:
        args.ip_ignore = list(cfg.ignore_ip)
    if args.ignore_extension is not None:
        cfg.ignore_extensions = tuple(args.ignore_extension)

    spark = get_spark(app_name="webloghunter-cli")
    # The pipeline persist()s intermediates (the parse, sessionize's
    # windowed rows, the scored frame, tool_scanner row keys); release
    # them when the run's terminal action has completed so repeated
    # in-process invocations (tests, notebooks) don't accumulate cache.
    with materialized_scope():
        return _run(spark, args, cfg, conf_opts)


def _run(spark, args, cfg, conf_opts) -> int:
    scored, errors = build_pipeline(spark, args.paths, cfg)
    if args.store:
        write_parquet_store(scored, args.store)

    result = query(
        scored,
        start_time=args.start_time,
        end_time=args.end_time,
        risk_score=args.risk_score,
        request_count=args.request_count,
        status_include=args.status_include,
        status_ignore=args.status_ignore,
        method_include=args.method_include,
        method_ignore=args.method_ignore,
        uripath_keyword=args.uripath_keyword,
        ignore_uripath_keyword=args.ignore_uripath_keyword,
        ip_include=args.ip_include,
        ip_ignore=args.ip_ignore,
        useragent_keyword=args.useragent_keyword,
        ignore_useragent_keyword=args.ignore_useragent_keyword,
        referrer_keyword=args.referrer_keyword,
        ignore_referrer_keyword=args.ignore_referrer_keyword,
        cluster_include=args.cluster_include,
        cluster_ignore=args.cluster_ignore,
        resp_size_min=args.resp_size_min,
        resp_size_max=args.resp_size_max,
        all_extensions=args.all_extension,
        tool_focus=args.tool_focus,
        ignore_extensions=cfg.ignore_extensions,
    )

    # errors reads the pipeline's persisted parse (read_access_logs), so
    # the count and the errors-log write parse no line again
    n_errors = errors.count()
    if n_errors:
        print(f"[!] {n_errors} unparseable lines (errors side-channel)", file=sys.stderr)
        if args.errors_log:
            from webloghunter_spark.render import write_errors_log

            write_errors_log(errors, args.errors_log)

    if args.email:
        import os as _os
        import smtplib

        from webloghunter_spark.render import build_email

        # Env wins; config.yaml `email:` block is the fallback
        # (reference reads sender/smtp from config, config.py:26-30).
        host = _os.environ.get("WLH_SMTP_HOST") or (
            conf_opts.email_smtp_server if conf_opts else ""
        )
        if not host:
            print("--email requires WLH_SMTP_HOST (or an email.smtp_server "
                  "entry in --config); not sending", file=sys.stderr)
            return 2
        sender = _os.environ.get("WLH_EMAIL_FROM") or (
            conf_opts.email_sender if conf_opts else ""
        ) or "webloghunter@localhost"
        port = int(_os.environ.get("WLH_SMTP_PORT", "0")) or (
            conf_opts.email_smtp_port if conf_opts else 25
        )
        with smtplib.SMTP(host, port) as smtp:
            for rcpt in args.email:
                smtp.send_message(build_email(result, sender, rcpt))
        print(f"emailed {len(args.email)} recipient(s)")
        return 0

    if args.output == "table":
        print(render_table(display_projection(result), max_rows=args.max_rows,
                           color=not args.no_color,
                           cluster_enabled=not args.cluster_off))
    elif args.output == "csv":
        if not args.output_path:
            print("--output-path required for csv", file=sys.stderr)
            return 2
        write_csv(result, args.output_path, single_file=True)
        print(f"wrote {args.output_path}")
    else:
        if not args.output_path:
            print("--output-path required for parquet", file=sys.stderr)
            return 2
        result.write.mode("overwrite").parquet(args.output_path)
        print(f"wrote {args.output_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
