"""Streaming twin of pipelines/select.oov_rate — per-document OOV
rates over an unbounded feed, against a FROZEN vocabulary.

The batch operator derives the vocab from the corpus itself; a stream
has no "the corpus", so the twin follows the frozen-model discipline
(gate's frozen LM, decontam's frozen gram set, incdedup's frozen
index): the top-k vocabulary is computed ONCE from a reference corpus
and persisted in the closure for the stream's life. Per batch the
scoring is stateless (explode + broadcast anti-join + per-doc
aggregate), so the union of per-batch outputs equals the batch
operator run with the same frozen vocab EXACTLY — parity by
statelessness. This is also the production semantics: a tokenizer's
vocab IS fixed at training time; scoring drift against a moving vocab
would be a bug, not a feature.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.text import tokens_expr
from webloghunter_spark.pipelines.select import _oov_scores, _top_vocab


def frozen_vocab(
    ref_corpus: DataFrame, vocab_size: int = 1000, text_col: str = "text"
) -> DataFrame:
    """Top-`vocab_size` token vocabulary of the reference corpus
    (oov_rate's _top_vocab: count DESC, token ASC), persisted; caller
    releases via .unpersist()."""
    toks = ref_corpus.select(F.explode(tokens_expr(text_col)).alias("_tok"))
    v = _top_vocab(toks, vocab_size).persist()
    v.count()  # settle
    return v


def oov_rate_stream_writer(
    sink: Callable[[list[tuple], int], None],
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch, `sink(rows,
    batch_id)` receives [(id, ntok, n_oov, oov_bp)] for the batch's
    documents, scored by oov_rate's _oov_scores against the frozen
    `vocab` (from `frozen_vocab`, or any persisted single-column `_tok`
    frame)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select(
            F.col(id_col), F.explode(tokens_expr(text_col)).alias("_tok")
        )
        rows = _oov_scores(batch_df, toks, vocab, id_col, text_col).collect()
        sink([tuple(r) for r in rows], batch_id)

    return process
