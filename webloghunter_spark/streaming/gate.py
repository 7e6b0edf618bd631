"""Streaming document intake gate (micro-batch twin of
pipelines/gate.quality_gate).

The counting rules (length, encoding, heuristic quality) are row-local
— expressible directly on a stream with zero state. The LM rule is
corpus-relative and needs a bigram model; online self-training would
make early verdicts depend on arrival order, so the streaming form
takes a FROZEN model trained batch-side (the standard CCNet shape: the
LM is trained on a reference corpus, not the stream) and joins it per
micro-batch via foreachBatch, reusing the persisted count tables
(functions/lm.bigram_lm_model / bigram_logprob_frozen).

With `lm=None` the gate is a pure stateless stream transformation —
use `quality_gate_stream` directly in a writeStream pipeline. With a
model, use `quality_gate_stream_writer` + foreachBatch.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.lm import bigram_lm_model, bigram_logprob_frozen
from webloghunter_spark.pipelines.gate import _gate_verdicts, quality_gate


def quality_gate_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 5000,
    max_nonprintable_bp: int = 1000,
    min_quality_bp: int = 5000,
) -> DataFrame:
    """Stateless streaming gate (no LM rule): the batch operator's plan
    is a single narrow projection, which is stream-safe as-is."""
    return quality_gate(
        stream, text_col, id_col, min_tokens, max_tokens,
        max_nonprintable_bp, min_quality_bp, min_avg_ll=None,
    )


def quality_gate_stream_writer(
    ref_corpus: DataFrame,
    sink: Callable[[DataFrame, int], None],
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 30,
    max_tokens: int = 5000,
    max_nonprintable_bp: int = 1000,
    min_quality_bp: int = 5000,
    min_avg_ll: float = -8.0,
    lm_alpha: float = 0.5,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch form with the LM rule: the bigram model is trained
    ONCE on `ref_corpus` (bigram_lm_model, persisted in the closure —
    not session.materialize(): the frozen side outlives any run) and
    applied to each micro-batch — verdicts are arrival-order
    independent, unlike self-training on the stream. Per batch the
    docs are scored by bigram_logprob_frozen and judged by
    quality_gate's own rule stack (_gate_verdicts). `.release` frees
    the model after stream stop."""
    model = bigram_lm_model(ref_corpus, text_col, id_col)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ll = bigram_logprob_frozen(
            batch_df, model, text_col, id_col, alpha=lm_alpha
        )
        sink(
            _gate_verdicts(
                batch_df, ll, text_col, id_col, min_tokens, max_tokens,
                max_nonprintable_bp, min_quality_bp, min_avg_ll,
            ),
            batch_id,
        )

    def release() -> None:
        model["cb"].unpersist()
        model["cu"].unpersist()

    process.release = release
    return process


def gopher_rules_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **rule_kwargs,
) -> DataFrame:
    """Stateless streaming twin of pipelines/gate.gopher_rules: the
    rule matrix is ONE whole-stage-codegen projection (per-row token/
    line/count expressions, no shuffle, no state), so the batch plan
    is stream-safe as-is — use directly in a writeStream pipeline."""
    from webloghunter_spark.pipelines.gate import gopher_rules

    return gopher_rules(stream, text_col, id_col, **rule_kwargs)


def bpe_apply_stream(
    stream: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless streaming twin of pipelines/bpe.bpe_apply: with a
    FROZEN merge table (trained batch-side — the same
    frozen-reference discipline as the LM gate above) application is
    a single narrow replace-chain projection, stream-safe as-is.
    `merges` must be a collected list of (step, sym_a, sym_b) tuples
    or a BATCH DataFrame (a streaming frame cannot be collected)."""
    from webloghunter_spark.pipelines.bpe import bpe_apply

    return bpe_apply(stream, merges, text_col, id_col)


def longest_repeat_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless streaming twin of functions/text.longest_repeat:
    repetition is a ROW-LOCAL property, so the Arrow mapInPandas
    kernel (JVM-side tokens_expr tokenization, per-doc binary search)
    is stream-safe as-is — no shuffle, no state, use directly in a
    writeStream pipeline."""
    from webloghunter_spark.functions.text import longest_repeat

    return longest_repeat(stream, text_col, id_col)


def url_blocklist_stream(
    stream: DataFrame,
    domains: list,
    url_col: str = "url",
) -> DataFrame:
    """Stateless streaming twin of functions/url.url_blocklist_gate:
    the CASE-chain form is one codegen'd projection, stream-safe
    as-is. Deliberately the GATE form, not url_blocklist_join — the
    join form's distinct-host aggregation is corpus-relative state; a
    stream wanting the 100k-list path should broadcast-join a
    PRECOMPUTED matched-host map per micro-batch instead (the frozen-
    reference discipline the LM gate above uses)."""
    from webloghunter_spark.functions.url import url_blocklist_gate

    return url_blocklist_gate(stream, domains, url_col)


def char_entropy_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless streaming twin of functions/text.char_entropy: the
    character-histogram entropy is a ROW-LOCAL property (integer
    nano-nat Arrow kernel over the doc's own chars — no corpus
    stats), so the batch mapInPandas plan is stream-safe as-is."""
    from webloghunter_spark.functions.text import char_entropy

    return char_entropy(stream, text_col, id_col)


def split_coherence_stream(
    stream: DataFrame,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless streaming twin of functions/text.split_coherence:
    first-half vs second-half shingle overlap is ROW-LOCAL (the
    Arrow kernel sees only the doc's own JVM-tokenized array), so the
    batch plan is stream-safe as-is."""
    from webloghunter_spark.functions.text import split_coherence

    return split_coherence(stream, shingle_k, text_col, id_col)


def bm25_frozen_stream(
    stream: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming BM25 scorer against FROZEN corpus stats — the form a
    live retrieval probe actually runs: idf/avgdl are pinned from a
    reference corpus batch-side (functions/text.bm25_model, |q|
    driver-side scalars — no persisted frames), and each micro-batch
    is scored by the pure row-local projection bm25_score_frozen.
    Statelessness gives every-prefix parity for free: the union of
    per-batch outputs equals the batch scorer on the union, any
    slicing. Ranking/top-k stay batch-side (corpus-relative)."""
    from webloghunter_spark.functions.text import bm25_score_frozen

    return bm25_score_frozen(stream, model, text_col, id_col)


def readability_stream(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stateless streaming twin of the readability query
    (functions/text.flesch_exprs): pure regexp codegen projection on
    the 1e-2 integer grid, stream-safe as-is."""
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from webloghunter_spark.functions.text import flesch_exprs

    e = flesch_exprs(text_col)
    return stream.select(
        F.col(id_col),
        e["ntok"].alias("ntok"),
        e["n_sent"].alias("n_sent"),
        e["n_syll"].alias("n_syll"),
        e["flesch_centi"].alias("flesch_centi"),
    )
