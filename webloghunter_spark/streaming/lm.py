"""Streaming twin of functions/lm.bigram_logprob — score an unbounded
document feed under a FROZEN bigram LM.

The frozen-model discipline (classify's weights, decontam's gram set,
oov's vocab, drift's reference histogram): the LM trains once,
batch-side (`bigram_lm_model`, persisted count frames); the stream
only SCORES. A document's likelihood depends on its own bigrams and
the static counts, so each micro-batch runs the exact frozen scorer
and the union of per-batch outputs equals the batch result: parity by
statelessness; a replayed batch re-emits the same rows. This is
CCNet's production semantics — the reference LM is pinned for a crawl
snapshot; re-training mid-stream would make scores time-dependent.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from webloghunter_spark.functions.lm import bigram_logprob_frozen
from webloghunter_spark.streaming.runner import _stage_writer


def bigram_ll_stream_writer(
    model: dict,
    sink: Callable[[list[tuple], int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch, `sink(rows,
    batch_id)` receives the batch's [(id, n_bigrams, avg_ll)] rows,
    sorted. The model's count frames stay the caller's to unpersist;
    `.release()` is a no-op."""
    return _stage_writer(sink, (
        lambda b: bigram_logprob_frozen(
            b, model, text_col=text_col, id_col=id_col, alpha=alpha
        ),
        (),
    ))
