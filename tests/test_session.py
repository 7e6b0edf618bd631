"""Session defaults and the settle() stage-boundary contract."""

import threading

from pyspark.sql import functions as F

from webloghunter_spark import session as S


def test_session_conf_defaults(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.ui.showConsoleProgress") == "false"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_settled_rows_needs_no_extra_job(spark):
    """settle()'s checkpoint job carries the row count: settled_rows()
    starts no job of its own."""
    sc = spark.sparkContext
    df = spark.range(100).filter(F.col("id") % 3 == 0)
    with S.materialized_scope():
        sc.setJobGroup("settled-rows-probe", "settle then settled_rows")
        try:
            cut = S.settle(df)
            jobs = len(sc.statusTracker().getJobIdsForGroup("settled-rows-probe"))
            assert S.settled_rows(cut) == 34
            assert S.settled_rows(cut) == 34  # read again: still no job
            after = len(sc.statusTracker().getJobIdsForGroup("settled-rows-probe"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert jobs > 0 and after == jobs


def test_settle_empty_frame_counts_zero(spark):
    with S.materialized_scope():
        assert S.settled_rows(S.settle(spark.range(0))) == 0
        assert S.settled_rows(S.settle(spark.range(10).filter("id < 0"))) == 0


def test_settled_rows_lineage_mode_counts_without_hanging(spark):
    """A lineage-mode settle() runs no job, so there is no observation
    to read: settled_rows() must count instead of blocking."""
    df = spark.range(10).withColumn("x", F.col("id") * 2)
    got = []
    with S.materialized_scope():
        kept = S.settle(df, lineage=True)
        t = threading.Thread(target=lambda: got.append(S.settled_rows(kept)),
                             daemon=True)
        t.start()
        t.join(timeout=300)
    assert got == [10]


def test_release_drops_settled_counts(spark):
    with S.materialized_scope():
        cut = S.settle(spark.range(5))
        assert cut in S._SETTLED_ROWS
    assert cut not in S._SETTLED_ROWS
    cut = S.settle(spark.range(5))
    assert S.settled_rows(cut) == 5
    S.release_materialized()
    assert cut not in S._SETTLED_ROWS
