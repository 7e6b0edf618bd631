"""Streaming twin of pipelines/curate.curate_against — the INCREMENTAL
curate funnel as ONE foreachBatch composition over the per-stage
frozen artifacts.

Every stage compares batch docs against FROZEN state only (the
*_against / frozen-model discipline), so the composition inherits
slicing-independence from its stages: the union of per-batch survivor
sets over ANY micro-batch slicing equals the one-shot
pipelines/curate.curate_against run on the concatenated batches — and
therefore matches the registry `curate_incremental` query exactly when
fed its split (asserted every-prefix in
tests/test_batch_stream_parity.py).

Frozen artifacts, built ONCE per stream start and persisted in the
closure (never session.materialize(), whose registry is drained by
batch callers — the stream twins' convention), and the kernel each
stage runs per micro-batch — the one curate_against runs:

    1. quality gate        none            gate_keep_expr filter
    2. exact-against       corpus key md5s _exact_against
    3. near-against        corpus LSH band _near_drop
                           signatures +
                           shingle sets
    4. containment-against corpus shingle  _drop_against
                           sets + df-capped
                           postings
    5. decontamination     eval n-gram set decontaminate

The stages chain as DataFrames: a micro-batch's survivors flow from
stage to stage on the executors, and only the final survivor ids reach
the driver, for the sink.

At-least-once replay is safe with zero cross-batch state: every
stage's decisions are deterministic against the frozen artifacts, so
a replayed batch re-emits identical rows (the at-least-once-correct
behavior; an early-return guard would LOSE rows when Spark replays a
batch whose sink failed mid-write).

Index freshness is the caller's policy, exactly as for the per-stage
twins: fold accepted survivors back into the corpus offline and
restart the stream with the new artifacts; folding in-stream would
break the asymmetric contract and the parity property both.

PRECONDITION (curate_against's, restated): ids must be globally
unique across batches and corpus — an id collision corrupts the
against-stage joins with no error.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from webloghunter_spark.pipelines.curate import (
    _corpus_keys,
    _exact_against,
    _undropped,
)
from webloghunter_spark.pipelines.decontam import decontaminate, eval_shingle_set
from webloghunter_spark.pipelines.gate import gate_keep_expr
from webloghunter_spark.streaming.incdedup import _drop_stage, _near_stage
from webloghunter_spark.streaming.runner import _filled, _sorted_rows


def curate_against_stream_writer(
    sink: Callable[[list[tuple], int], None],
    corpus: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_bp: int | None = 5000,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    near_dedup_threshold: float | None = 0.8,
    dedup_num_hashes: int = 8,
    dedup_band_size: int = 2,
    dedup_shingle_k: int = 3,
    containment_threshold_bp: int | None = 8000,
    containment_size_ratio_bp: int = 10000,
    containment_max_df: int = 20,
    decontam_n: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function. Per micro-batch, `sink(rows,
    batch_id)` receives the batch's SURVIVING (id,) rows (sorted,
    null-first — the twins' sink convention). Stage-skip semantics are
    curate_against's verbatim, including the documented coupling:
    `near_dedup_threshold=None` skips BOTH exact-against and
    near-against. Exposes `.release` to free every frozen artifact
    after stream stop."""
    steps: list[Callable[[DataFrame], DataFrame]] = []
    frozen: list[DataFrame] = []

    if min_quality_bp is not None:
        keep = gate_keep_expr(
            text_col,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            min_quality_bp=min_quality_bp,
        )
        steps.append(lambda cur: cur.filter(keep))

    if near_dedup_threshold is not None:
        ckeys = _corpus_keys(corpus, text_col).persist()
        frozen += _filled(ckeys)
        steps.append(lambda cur: _exact_against(cur, ckeys, text_col, id_col))
        near, near_frozen = _near_stage(
            corpus, text_col, id_col, near_dedup_threshold,
            dedup_num_hashes, dedup_band_size, dedup_shingle_k,
        )
        frozen += near_frozen
        steps.append(near)

    if containment_threshold_bp is not None:
        drop, drop_frozen = _drop_stage(
            corpus, text_col, id_col, dedup_shingle_k,
            containment_threshold_bp, containment_size_ratio_bp,
            containment_max_df,
        )
        frozen += drop_frozen
        steps.append(lambda cur: _undropped(cur, drop(cur), id_col))

    if eval_df is not None:
        grams = eval_shingle_set(eval_df, text_col, decontam_n).persist()
        frozen += _filled(grams)
        steps.append(
            lambda cur: decontaminate(
                cur, id_col=id_col, text_col=text_col, n=decontam_n,
                eval_grams=grams,
            )
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # a step reads its input more than once, so every step's input
        # but the batch's own is persisted for this batch only (a local
        # barrier, released before process returns)
        held = []
        try:
            for i, step in enumerate(steps):
                if i:
                    held.append(batch_df.persist())
                batch_df = step(batch_df)
            sink(_sorted_rows(batch_df.select(id_col)), batch_id)
        finally:
            for f in held:
                f.unpersist()

    def release() -> None:
        for f in frozen:
            f.unpersist()

    process.release = release
    return process
