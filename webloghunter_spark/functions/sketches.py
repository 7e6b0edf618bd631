"""Deterministic distinct-count sketches (HyperLogLog on md5).

Spark's `approx_count_distinct` is HLL++ behind an opaque hash — fine
in production, impossible to oracle-check. This HLL derives everything
from md5, the repo's engine-portable hash family: any engine computes
the SAME registers, so the sketch itself (not just its estimate) is
exactly reproducible — and registers from disjoint partitions/engines
merge by max, which is what makes HLL the right sketch for federated
100 TB counting in the first place.

Register derivation per value (m = 64 registers):
  h      = first 14 md5 hex digits -> 56-bit integer
  bucket = h mod 64
  v      = h div 64 (50-bit field)
  rho    = leading zeros of v in 50 bits + 1
           (strpos(lpad(bin(v), 50, '0'), '1'); v = 0 -> 51)
All string/integer ops — bit-identical in Spark and DuckDB.

The estimate uses the raw HLL harmonic mean (alpha_m * m^2 /
sum 2^-M_j, absent buckets contributing 2^0) without the small/large
range corrections — callers comparing to exact counts should treat it
as the textbook raw estimator (documented +-1.04/sqrt(64) ~ 13%).

Plan shape: one map-side-combinable max per (group, bucket) — <=
64 cells per group per partition before the exchange regardless of
row count — then a 64-row-per-group fold. Never a distinct shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from webloghunter_spark.functions.similarity import grid_round_expr

HLL_M = 64
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _h56(value: Column) -> Column:
    return F.conv(
        F.substring(F.md5(value.cast("string")), 1, 14), 16, 10
    ).cast("long")


def hll_rho_expr(value: Column) -> Column:
    """(bucket, rho) struct for one value — see module doc."""
    h = _h56(value)
    v = F.floor(h / HLL_M).cast("long")
    rho = F.when(v == 0, F.lit(51)).otherwise(
        F.instr(F.lpad(F.bin(v), 50, "0"), "1")
    )
    return F.struct(
        (h % HLL_M).cast("int").alias("bucket"), rho.alias("rho")
    )


def hll_registers(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """(group..., bucket, reg) max-rho registers — the mergeable
    sketch state (union of corpora = max of registers)."""
    br = hll_rho_expr(F.col(value_col))
    return (
        df.select(*group_cols, br.alias("_br"))
        .groupBy(*group_cols, F.col("_br.bucket").alias("bucket"))
        .agg(F.max("_br.rho").alias("reg"))
    )


def hll_distinct(
    df: DataFrame, value_col: str, group_cols: list[str]
) -> DataFrame:
    """(group..., n_exact, hll_est): the raw HLL estimate next to the
    exact distinct count — the accuracy audit row. Exact count is for
    the audit only; the sketch path never shuffles distinct values."""
    est = hll_estimate(hll_registers(df, value_col, group_cols), group_cols)
    exact = df.groupBy(*group_cols).agg(
        F.count_distinct(value_col).alias("n_exact")
    )
    return exact.join(est, on=group_cols).select(
        *group_cols, "n_exact", "hll_est"
    )


def hll_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """(group..., hll_est): the raw estimate from a register frame
    (absent buckets contribute 2^0), rounded to 2 decimals."""
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.sum(F.pow(F.lit(2.0), -F.col("reg"))).alias("_s"),
            F.count(F.lit(1)).alias("_nb"),
        )
        .select(
            *group_cols,
            # stored-value grid, not F.round (similarity.py:45);
            # the estimate is non-negative so signum is a no-op
            grid_round_expr(
                F.lit(HLL_ALPHA * HLL_M * HLL_M)
                / (F.col("_s") + (F.lit(HLL_M) - F.col("_nb"))),
                2,
            ).alias("hll_est"),
        )
    )

