"""Streaming twin of pipelines/split.mix_resample (frozen rates).

The temperature-flattened sampling rates are corpus-global (they
depend on every group's total count), so deriving them from the stream
would make early verdicts depend on arrival order. The streaming form
follows the frozen-model shape of streaming/gate.py: rates are
computed ONCE from a batch reference corpus, persisted in the closure
(NOT via session.materialize(): the frozen side outlives any run, and
a run releases what it registered when it ends), and applied to each
micro-batch with the same md5-bucket copy-count arithmetic as the
batch operator. A row's copy count is a pure function of (id, rate),
so batch and stream agree row-for-row whenever the reference corpus
equals the streamed corpus — pinned by the parity test.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from webloghunter_spark.pipelines.split import apply_mix_rates, mix_rates


def mix_resample_stream_writer(
    ref_corpus: DataFrame,
    sink: Callable[[DataFrame, int], None],
    group_col: str = "lang",
    temperature: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "",
    rep_col: str = "rep",
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch, the resampled
    rows (with `rep_col` duplicate tags) are handed to
    `sink(df, batch_id)`. Groups unseen in the reference corpus are
    dropped (no rate exists for them — the batch operator's inner-join
    semantics)."""
    rates = mix_rates(ref_corpus, group_col, temperature).persist()
    rates.count()  # settle before the stream starts

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = apply_mix_rates(
            batch_df, rates, group_col, id_col, salt, rep_col
        )
        sink(out, batch_id)

    def release() -> None:
        rates.unpersist()

    process.release = release  # free the rate table after stream stop
    return process
