"""Gap-threshold sessionization (the reference's `_cluster`).

Semantics reproduced from /root/reference/WebLogTriage/dataframe.py:604-658:

- rows are grouped per (source, ip); a new session starts when the gap in
  epoch *seconds* since the previous row is >= `threshold` (the reference
  computes ``same_cluster = diff().fillna(0) < threshold``, so the FIRST
  row of each group has gap 0 => it *continues* session 0, and an exact
  ``threshold`` gap starts a NEW session — dataframe.py:630-636).
- local session ids are the running sum of new-session flags per group.
- global ids renumber (source, ip, local) triples densely **in order of
  first appearance** after sorting by (source, ip, epoch)
  (``pd.factorize``, dataframe.py:638-639), i.e. ordered by
  (source, ip, local).

Two steps, each lazy: `session_windows` adds the local ids in one
window pass over the (source, ip) exchange, and `number_sessions` turns
them into dense global ids. `sessionize` persists the windowed rows
between the two (`session.materialize`), because the second step reads
them twice: once for the per-group session counts and once to stamp the
ids. Without that barrier the group table would re-run the whole input
lineage (for the triage pipeline: read, parse, dedup and the window).

Scale design: the global renumbering is NOT done with a global window over
the event table (that would serialize 100 TB through one partition).
Instead we aggregate to one row per group (orders of magnitude smaller),
assign dense offsets on the group-level table with a TWO-LEVEL
range-bucketed prefix sum — intra-bucket running sums in parallel, and
each bucket's total sent to every later bucket and summed there — and
broadcast-join back. No table at any level funnels through one task,
and no window runs without a partition spec.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webloghunter_spark.session import materialize


def session_windows(
    df: DataFrame,
    group_cols: Sequence[str] = ("source", "ip"),
    ts_col: str = "utc_timestamp",
    threshold: int = 60,
) -> DataFrame:
    """Add `_local`, each row's session number within its group."""
    gcols = list(group_cols)
    df = df.withColumn("_epoch", F.unix_timestamp(F.col(ts_col)).cast("long"))

    w = Window.partitionBy(*gcols).orderBy("_epoch")
    # diff().fillna(0) < threshold: null gap (first row) => same session.
    gap = F.col("_epoch") - F.lag("_epoch").over(w)
    new_flag = F.when(gap.isNull(), F.lit(0)).when(
        gap >= threshold, F.lit(1)
    ).otherwise(F.lit(0))
    df = df.withColumn("_new", new_flag).withColumn(
        "_local",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return df.drop("_epoch", "_new")


def number_sessions(
    windowed: DataFrame,
    group_cols: Sequence[str] = ("source", "ip"),
    cluster_col: str = "cluster",
) -> DataFrame:
    """`session_windows` output -> dense global session ids (`cluster_col`).

    cluster = offset(group) + local, where offset is the running total
    of session counts over groups ordered by group key — identical to
    factorize-order dense ids because sessions are contiguous per group
    and locally ordered. `windowed` is read twice (group table and
    join-back); persist it first unless its lineage is cheap.
    """
    gcols = list(group_cols)
    # One row per group. The windowed rows are already hash-partitioned
    # on the group keys, so this aggregate needs no exchange.
    groups = windowed.groupBy(*gcols).agg((F.max("_local") + 1).alias("_nsess"))
    # Two-level exclusive prefix sum over groups in key order. Range-
    # bucket the group table into `n` buckets; one window pass per
    # bucket gives each group's running sum within its bucket and the
    # bucket's total. Range boundaries come from sampling, but offsets
    # depend only on global key ORDER, which range partitioning
    # preserves, so ids are deterministic.
    n = int(windowed.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    groups = groups.repartitionByRange(n, *gcols).withColumn("_bkt", F.spark_partition_id())
    wb = Window.partitionBy("_bkt")
    groups = groups.select(
        *gcols,
        "_bkt",
        F.coalesce(
            F.sum("_nsess").over(
                wb.orderBy(*gcols).rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_intra"),
        F.sum("_nsess").over(wb).alias("_tot"),
    )
    # Bucket offsets in the same linear plan (a second branch off the
    # group table would re-read the windowed rows: Spark reuses no
    # exchange above a cached scan). Each bucket's first group — the one
    # whose running sum is 0, as every group holds a session — is also
    # sent, carrying the bucket total, to every later bucket; one more
    # window per bucket sums what it received. That adds at most
    # n * (n - 1) / 2 rows, one per pair of buckets.
    last = F.when(F.col("_intra") == 0, F.lit(n - 1)).otherwise(F.col("_bkt"))
    sent = F.when(F.col("_to") > F.col("_bkt"), F.col("_tot")).otherwise(F.lit(0))
    groups = groups.withColumn("_to", F.explode(F.sequence(F.col("_bkt"), last))).withColumn(
        "_boff", F.sum(sent).over(Window.partitionBy("_to"))
    )
    groups = groups.filter(F.col("_to") == F.col("_bkt")).select(
        *gcols, (F.col("_boff") + F.col("_intra")).alias("_offset")
    )
    out = windowed.join(F.broadcast(groups), on=gcols, how="left")
    out = out.withColumn(cluster_col, (F.col("_offset") + F.col("_local")).cast("long"))
    return out.drop("_local", "_offset")


def sessionize(
    df: DataFrame,
    group_cols: Sequence[str] = ("source", "ip"),
    ts_col: str = "utc_timestamp",
    threshold: int = 60,
    cluster_col: str = "cluster",
) -> DataFrame:
    """Add a dense global session id column (`cluster_col`).

    Epoch seconds are `unix_timestamp(ts_col)`, which floors sub-second
    parts as the reference's ns -> s integer division does. The
    windowed rows are persisted with `materialize()` so the group
    table and the join-back share one window pass; release them with
    `release_materialized()` / `materialized_scope()` after the action.
    """
    windowed = session_windows(df, group_cols, ts_col, threshold)
    return number_sessions(materialize(windowed), group_cols, cluster_col)
