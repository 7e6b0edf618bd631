"""Streaming twins of the frozen-corpus dedup operators of
pipelines/dedup.py: incremental_near_dedup, containment_pairs_against
and containment_drop_against.

Each batch operator is a corpus side, built once, plus a scoring
kernel. A twin persist()s the corpus side for the stream's life (NOT
session.materialize(), whose registry batch callers drain) and calls
the batch operator's own kernel on every micro-batch; the kernels
never materialize, so nothing is cached per batch. The operators are
ASYMMETRIC (batch docs are compared only against the corpus, never
against each other or other batches), so the union of per-batch sink
rows over ANY slicing equals the batch operator over the union of all
batches — with no cross-batch state. A replayed batch re-emits the
same rows: the at-least-once-correct behavior (an early-return guard
would LOSE rows when Spark replays a batch whose sink failed
mid-write).

Index freshness is the caller's policy: fold accepted survivors back
into the index offline and restart the stream with the new index
(the standard daily-compaction loop); folding in-stream would break
the asymmetric contract and the parity property both.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.pipelines.dedup import (
    _band_candidates,
    _check_drop_args,
    _check_pairs_args,
    _drop_against,
    _near_drop,
    _pairs_against,
    _rare_postings,
    _shingle_sets,
    lsh_band_signatures,
)
from webloghunter_spark.streaming.runner import _filled, _Stage, _stage_writer


def _near_stage(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    band_size: int,
    shingle_k: int,
) -> _Stage:
    """incremental_near_dedup against a persisted corpus side (LSH band
    signatures + 60-bit hashed shingle sets): score(batch) is the
    batch's surviving rows."""
    cb = lsh_band_signatures(
        corpus, text_col, id_col, num_hashes, band_size, shingle_k
    ).persist()
    csh = _shingle_sets(corpus, text_col, id_col, shingle_k).persist()

    def score(batch: DataFrame) -> DataFrame:
        nb = lsh_band_signatures(
            batch, text_col, id_col, num_hashes, band_size, shingle_k
        )
        return _near_drop(
            batch,
            _band_candidates(nb, cb, id_col),
            _shingle_sets(batch, text_col, id_col, shingle_k),
            csh,
            id_col,
            threshold,
        )

    return score, _filled(cb, csh)


def _containment_stage(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    max_df: int,
    decide: Callable[[DataFrame, DataFrame, DataFrame], DataFrame],
) -> _Stage:
    """The containment-against corpus side, persisted: the corpus's
    non-empty hashed shingle sets and their df-capped postings
    (_rare_postings). score(batch) is `decide(pbase, csh, rcinv)` on
    the batch's (id, _sh) frame."""
    csh = (
        _shingle_sets(corpus, text_col, id_col, shingle_k)
        .filter(F.size("_sh") > 0)
        .persist()
    )
    rcinv = _rare_postings(csh, id_col, max_df).persist()

    def score(batch: DataFrame) -> DataFrame:
        pbase = _shingle_sets(batch, text_col, id_col, shingle_k)
        return decide(pbase, csh, rcinv)

    return score, _filled(csh, rcinv)


def _drop_stage(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
    threshold_bp: int,
    size_ratio_bp: int,
    max_df: int,
) -> _Stage:
    """containment_drop_against as a stage: score(batch) is one
    (id, n_shingles, n_containers, dropped) row per batch doc."""
    _check_drop_args(threshold_bp, size_ratio_bp, max_df)
    return _containment_stage(
        corpus, text_col, id_col, shingle_k, max_df,
        lambda pbase, csh, rcinv: _drop_against(
            pbase, csh, rcinv, id_col, threshold_bp, size_ratio_bp
        ),
    )


def incremental_dedup_stream_writer(
    sink: Callable[[list[tuple], int], None],
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/dedup.incremental_near_dedup — the
    continuous-ingest near-dedup gate. Per micro-batch, `sink(rows,
    batch_id)` receives the batch's SURVIVING (id,) rows; the twin
    keeps no per-stream state beyond the frozen corpus side."""
    score, frozen = _near_stage(
        corpus, text_col, id_col, threshold, num_hashes, band_size,
        shingle_k,
    )
    return _stage_writer(sink, (lambda b: score(b).select(id_col), frozen))


def containment_stream_writer(
    sink: Callable[[list[tuple], int], None],
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_df: int = 20,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/dedup.containment_pairs_against —
    the continuous-ingest doc-in-doc finder. Per micro-batch, `sink`
    receives the batch's (id_a, id_b, n_common, contain_ab,
    contain_ba) rows, from the batch operator's _pairs_against."""
    _check_pairs_args(threshold, max_df)
    return _stage_writer(sink, _containment_stage(
        corpus, text_col, id_col, shingle_k, max_df,
        lambda pbase, csh, rcinv: _pairs_against(
            pbase, csh, rcinv, id_col, threshold
        ),
    ))


def containment_drop_stream_writer(
    sink: Callable[[list[tuple], int], None],
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/dedup.containment_drop_against —
    the continuous-ingest quote-farm GATE (the pairs twin above finds;
    this decides). Per micro-batch, `sink` receives one (id,
    n_shingles, n_containers, dropped) row per batch doc, from the
    batch operator's _drop_against. The corpus is authoritative (no
    keep-best)."""
    return _stage_writer(sink, _drop_stage(
        corpus, text_col, id_col, shingle_k, threshold_bp, size_ratio_bp,
        max_df,
    ))
