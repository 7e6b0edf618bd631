"""Streaming benchmark decontamination (micro-batch twin).

Decontamination is per-document — whether a train doc shares an n-gram
with the eval set depends only on that doc and the (static) eval
corpus — so the streaming form needs no cross-row state at all: each
micro-batch runs the exact batch operator against a persisted eval
shingle set via ``foreachBatch``.

Why foreachBatch and not a stream-static join: the per-doc verdict
needs an aggregate over the doc's exploded shingles (ALL grams must
miss), and stream-side aggregation in append mode would demand
watermark machinery for what is a self-contained row-local decision.
``foreachBatch`` gives the batch plan — broadcast semi-join, zero
train-side shuffle — per micro-batch, with the eval shingle set
computed ONCE and reused (persisted DataFrame in the closure), which
is the property the batch docstring promises at 100 TB: the eval side
is small and static; only train text streams.

Exactly-once: output inherits foreachBatch's at-least-once contract;
sinks keyed on (batch_id, doc_id) or idempotent overwrite-by-batch
get effective exactly-once, same as any foreachBatch pipeline.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.pipelines.decontam import decontaminate, eval_shingle_set
from webloghunter_spark.streaming.runner import _filled, _stage_writer


def decontaminate_stream_writer(
    eval_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch, the
    decontaminated survivors are handed to `sink(df, batch_id)`.

    Usage::

        fn = decontaminate_stream_writer(eval_df, my_sink)
        q = (train_stream.writeStream.foreachBatch(fn)
             .option("checkpointLocation", ckpt).start())
    """
    grams = eval_shingle_set(eval_df, text_col, n).persist()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        out = decontaminate(
            batch_df, id_col=id_col, text_col=text_col, n=n, eval_grams=grams,
        )
        sink(out, batch_id)

    def release() -> None:
        grams.unpersist()

    process.release = release  # free the eval-shingle set after stream stop
    return process


def contamination_spans_stream_writer(
    eval_df: DataFrame,
    sink: Callable[[list[tuple], int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/decontam.contamination_spans — the
    per-doc hit-extent triage (n_pos_hits + longest consecutive run)
    over a streamed train corpus, against the frozen eval gram set.

    Like decontaminate's twin, the signal is row-local: a document's
    positional hits and gap-and-island runs depend only on its own
    text and the static eval grams, so each micro-batch runs the
    EXACT batch operator and the union of per-batch outputs equals
    the batch result — parity by statelessness, no cross-batch merge
    needed (a document is batch-atomic; re-keying split docs would be
    an upstream bug). `sink(rows, batch_id)` receives the batch's
    [(id, n_pos_hits, max_run)] rows, sorted; `.release` frees the
    persisted gram set."""
    from webloghunter_spark.pipelines.decontam import contamination_spans

    grams = eval_shingle_set(eval_df, text_col, n).persist()
    return _stage_writer(sink, (
        lambda b: contamination_spans(
            b, id_col=id_col, text_col=text_col, n=n, eval_grams=grams,
        ),
        _filled(grams),
    ))


def semantic_contam_stream_writer(
    eval_df: DataFrame,
    sink: Callable[[list[tuple], int], None],
    threshold: float = 0.3,
    num_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/decontam.semantic_contam: the eval
    side (vectors, norms, LSH buckets) is prepared ONCE and persisted
    (the benchmark set is pinned for a crawl snapshot); each
    micro-batch of train vectors runs the exact batch probe against
    it. The verdict is row-local given the static eval side, so the
    union of per-batch outputs equals the batch result: parity by
    statelessness; a replayed batch re-emits the same rows.
    `sink(rows, batch_id)` receives the batch's [(id, n_contam,
    max_cos_bp, contaminated)] rows, sorted; `.release()` frees the
    persisted eval side after stream stop."""
    from webloghunter_spark.pipelines.decontam import (
        eval_bucket_frame,
        semantic_contam,
    )

    prepared = eval_bucket_frame(eval_df, num_planes, dim, vec_col).persist()
    return _stage_writer(sink, (
        lambda b: semantic_contam(
            b,
            threshold=threshold,
            num_planes=num_planes,
            dim=dim,
            vec_col=vec_col,
            id_col=id_col,
            eval_prepared=prepared,
        ),
        _filled(prepared),
    ))


def contamination_matrix_stream_writer(
    eval_sets: dict[str, DataFrame],
    sink: Callable[[list[tuple], int], None],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/decontam.contamination_matrix —
    the cumulative per-benchmark contamination report over a streamed
    train corpus against FROZEN eval sets.

    Unlike the row-local twins above, the matrix is a cross-batch
    aggregate — but its state is bounded by the SMALL side: the set
    of distinct eval grams already hit (⊆ the eval gram index) plus
    one doc counter per benchmark. Docs are batch-disjoint (a doc
    arrives once), so per-batch distinct-doc counts SUM exactly;
    hit-grams dedup against the driver-held seen set, whose size can
    never exceed the eval index the batch operator broadcasts anyway.
    After every batch `sink(rows, batch_id)` receives the CURRENT
    matrix [(eval_set, n_eval_grams, n_hit_grams, n_docs_hit,
    coverage_bp)] sorted by set — equal, at every prefix, to the
    batch operator run over the docs streamed so far (the parity
    test's invariant). Exposes `.state` and `.release`."""
    from webloghunter_spark.pipelines.decontam import (
        _doc_shingles,
        tagged_eval_grams,
    )

    if not eval_sets:
        raise ValueError("eval_sets must be non-empty")
    tagged = tagged_eval_grams(eval_sets, text_col, n).persist()
    totals = {
        r["eval_set"]: int(r["n"])
        for r in tagged.groupBy("eval_set")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    state: dict = {
        name: {"grams": set(), "docs": 0} for name in eval_sets
    }
    # bounded replay guard: batch_ids are monotone within a query, so
    # one high-water int gives identical at-least-once protection
    # without accumulating a set entry per micro-batch forever
    last_seen = [-1]

    def _bp(hit: int, tot: int):
        return (hit * 20000 + tot) // (2 * tot) if tot > 0 else None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a replayed micro-batch arrives
        # with the SAME batch_id. The gram set-union is idempotent but
        # the docs counter is NOT — re-adding it would permanently break
        # the every-prefix parity invariant, so replays only re-emit.
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            per_set = (
                _doc_shingles(batch_df, id_col, text_col, n)
                .join(F.broadcast(tagged), "_gram", "inner")
                .groupBy("eval_set")
                .agg(
                    F.collect_set("_gram").alias("grams"),
                    F.countDistinct(id_col).alias("n_docs"),
                )
                .collect()
            )
            for r in per_set:
                s = state[r["eval_set"]]
                s["grams"].update(r["grams"])
                s["docs"] += int(r["n_docs"])
        sink(
            [
                (
                    name,
                    totals.get(name, 0),
                    len(s["grams"]),
                    s["docs"],
                    _bp(len(s["grams"]), totals.get(name, 0)),
                )
                for name, s in sorted(state.items())
            ],
            batch_id,
        )

    def release() -> None:
        tagged.unpersist()

    process.state = state
    process.release = release
    return process
