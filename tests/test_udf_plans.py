"""Each Python UDF of the dedup family is evaluated in one plan node.

A filter on a UDF's output that Catalyst pushes beneath the UDF's
projection makes the planner evaluate the UDF twice per row (see
`minhash_sig_udf`). These tests plan, without executing, every operator
and registry query that applies the MinHash or SimHash UDF, and
winnow_pairs, and count the plan nodes that evaluate the UDF.
"""

import pytest

from test_registry import SF_DIR
from tools.plan_audit import repeated_udfs, udf_nodes
from webloghunter_spark.benchqueries import QUERIES
from webloghunter_spark.pipelines.dedup import (
    lsh_band_signatures,
    minhash_signatures,
    near_dedup,
)
from webloghunter_spark.session import materialized_scope
from webloghunter_spark.streaming.neardup import lsh_pairs_stream

DOCS = f"{SF_DIR}/documents.parquet"


def _stream(spark):
    return spark.readStream.schema(spark.read.parquet(DOCS).schema).parquet(DOCS)


FRAMES = {
    "minhash_signatures": lambda spark: minhash_signatures(spark.read.parquet(DOCS)),
    "lsh_band_signatures": lambda spark: lsh_band_signatures(spark.read.parquet(DOCS)),
    "near_dedup": lambda spark: near_dedup(spark.read.parquet(DOCS)),
    "lsh_pairs_stream": lambda spark: lsh_pairs_stream(_stream(spark)),
    "simhash": lambda spark: QUERIES["simhash"](spark, SF_DIR),
    "simhash_pairs": lambda spark: QUERIES["simhash_pairs"](spark, SF_DIR),
    "winnow_pairs": lambda spark: QUERIES["winnow_pairs"](spark, SF_DIR),
}


@pytest.mark.parametrize("name", sorted(FRAMES))
def test_each_udf_is_evaluated_in_one_node(spark, name):
    with materialized_scope():
        df = FRAMES[name](spark)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
    assert list(udf_nodes(plan).values()) == [1], plan
    assert repeated_udfs(plan) == []


def test_repeated_udfs_names_a_pushed_down_filter(spark):
    """The audit itself: the plain select-then-filter form plans the
    UDF twice, and the audit names it."""
    from pyspark.sql import functions as F

    from webloghunter_spark.pipelines.dedup import simhash_udf

    udf = simhash_udf()
    df = spark.read.parquet(DOCS)
    df = df.select(udf(F.col("text")).alias("s")).filter(F.col("s").isNotNull())
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert list(udf_nodes(plan).values()) == [2]
    assert repeated_udfs(plan) == ["simhash"]
