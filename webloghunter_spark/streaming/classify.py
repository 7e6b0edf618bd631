"""Streaming twin of pipelines/classify.quality_classifier_scores —
score an unbounded document feed under FROZEN classifier weights.

The frozen-model discipline (gate's LM, decontam's gram set, oov's
vocab, drift's reference histogram): training happens once, batch-side
(`train_quality_classifier`); the stream only SCORES. Scoring is
row-local — a document's logit depends on its own tokens and the
static weight vector — so each micro-batch runs the exact batch scorer
and the union of per-batch outputs equals the batch result: parity by
statelessness, no cross-batch state; a replayed batch re-emits the
same rows. This is also the production semantics: a quality filter's
weights are pinned for a crawl snapshot; re-training mid-stream would
make acceptance time-dependent.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from webloghunter_spark.pipelines.classify import (
    CLS_BUCKETS,
    quality_classifier_scores,
)
from webloghunter_spark.streaming.runner import _stage_writer


def quality_scores_stream_writer(
    weights: list[tuple[int, int]],
    sink: Callable[[list[tuple], int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = CLS_BUCKETS,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch, `sink(rows,
    batch_id)` receives the batch's [(id, ntok, logit_micro,
    prob_bp)] rows, sorted. `.release()` is a no-op (the weights live
    on the driver)."""
    return _stage_writer(sink, (
        lambda b: quality_classifier_scores(
            b, weights, text_col=text_col, id_col=id_col,
            n_buckets=n_buckets,
        ),
        (),
    ))
