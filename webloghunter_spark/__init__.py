"""webloghunter_spark — a PySpark-native web-log analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the FromPartsUnknown/WebLogHunter reference (single-node
pandas), re-expressed as declarative DataFrame plans so Catalyst/Tungsten
pick the physical strategy, plus large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal plumbing).

Layout:
    sources/    — log parsing (8 formats), Splunk CSV, error side-channel
    operators/  — dedup, sessionize, request counts, filters, time utils
    functions/  — risk scoring exprs, CIDR, text analysis, similarity
    rules/      — Sigma-style YAML rule -> Column compiler
    detectors/  — burst (burp_intruder) and tool-scan detectors
    pipelines/  — training-data dedup pipelines (exact, minhash-LSH, ngram)
    streaming/  — Structured Streaming variants (session_window, stateful)
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # `get_spark` is exported lazily (PEP 562): importing the package must
    # not import pyspark, because Spark's Python workers start as
    # `python -m webloghunter_spark.pydaemon`, which runs this file before
    # the daemon can choose where pyspark is imported from.
    if name == "get_spark":
        from webloghunter_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
