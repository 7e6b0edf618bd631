"""Streaming distinct-count twin of functions/sketches.hll_distinct.

HLL registers merge by MAX (commutative, associative, idempotent), so
the stream needs no reference corpus and its merged registers are
EXACTLY the batch sketch's, whatever the arrival order or batch
slicing. The twin runs `hll_registers` (the batch partial, <= 64
cells per group) through `_merge_writer` (streaming/runner.py), which
merges `reg` by max into the driver-held sketch, and the batch
`hll_estimate` on the merged registers. The sketch IS tiny; a 10^9
group cardinality would move it into a state store, with the same
max semantics.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.sketches import hll_estimate, hll_registers
from webloghunter_spark.streaming.runner import _merge_writer


def hll_distinct_stream_writer(
    sink: Callable[[list[tuple], int], None],
    value_col: str,
    group_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function. After each micro-batch,
    `sink(rows, batch_id)` receives [(group..., hll_est)] over
    everything seen so far. `.state` holds the merged (group...,
    bucket, reg) registers, `.current()` the last rows."""
    return _merge_writer(
        sink,
        lambda b: hll_registers(b, value_col, group_cols),
        {"reg": F.max},
        lambda regs: hll_estimate(regs, group_cols),
    )
