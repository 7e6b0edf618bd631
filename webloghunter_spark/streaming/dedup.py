"""Streaming exact deduplication — the online twin of
pipelines/dedup.exact_dedup.

A training-data ingest stream dedups on a content fingerprint (e.g.
`fingerprint_expr`'s md5 of normalized text). State shape matters:

- `dropDuplicatesWithinWatermark` (default here) keeps one state row
  per key only until the watermark passes it — BOUNDED state, the
  correct choice when duplicates arrive close together (re-crawls,
  retry storms). A duplicate arriving after the horizon is re-emitted.
- `dropDuplicates` keeps every key forever — exact over the whole
  stream, unbounded state; only for key spaces known to be small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from webloghunter_spark.streaming.runner import _filled, _stage_writer


def dedup_stream(
    events: DataFrame,
    key_cols: Sequence[str] = ("fingerprint",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within_watermark: bool = True,
) -> DataFrame:
    """First occurrence per key; see module docstring for the state
    trade-off behind `within_watermark`."""
    wm = events.withWatermark(ts_col, watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(list(key_cols))
    return wm.dropDuplicates(list(key_cols))


def boilerplate_stream_writer(
    boiler: DataFrame,
    sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 5,
):
    """Streaming twin of pipelines/dedup.boilerplate_segments under a
    FROZEN boilerplate key set (the CCNet pinned-snapshot discipline —
    the template-segment list is learned from a crawl snapshot via
    boilerplate_keys, and the stream only APPLIES it; re-learning
    mid-stream would make a document's cleaned text depend on arrival
    time).

    Per-document removal depends only on the doc's own segments and
    the static key set, so each micro-batch runs the exact frozen
    cleaner and the union of per-batch outputs equals the batch
    operator over the union of batches — parity by statelessness,
    like the frozen-LM scorer.

    `sink(rows, batch_id)` receives the batch's
    [(id, n_seg, n_kept, new_text)] rows, sorted. The key set is
    persist()ed here — NOT session.materialize(): the frozen side
    outlives any run, and the run that registered it would unpersist
    a live stream's index when it ends. Call `.release()` after stream
    stop.
    """
    from webloghunter_spark.pipelines.dedup import remove_boilerplate

    b = boiler.persist()
    return _stage_writer(sink, (
        lambda batch: remove_boilerplate(
            batch, b, text_col=text_col, id_col=id_col,
            seg_tokens=seg_tokens,
        ),
        _filled(b),
    ))


def keep_best_stream_writer(
    sink,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Streaming twin of pipelines/dedup.dedup_keep_best — the
    keep-best exact dedup maintained against a live ingest: per
    micro-batch, (fingerprint -> batch-best (quality_bp, id), count)
    pre-aggregates in Spark (map-side combinable, one small collect
    per batch), then merges into state by the SAME rule the batch
    operator's struct-MIN encodes — higher bp wins, ties to the
    lower id, counts SUM. State holds one row per DISTINCT
    fingerprint EVER SEEN (the vocab-twin state class: bounded by
    distinct texts, not rows); on very-high-cardinality corpora run
    the batch operator instead. Every prefix equals the batch
    operator over the docs streamed so far, for any batch slicing.
    Replay-guarded; `sink(rows, batch_id)` receives the CURRENT
    [(fingerprint, doc_id, quality_bp, n_dups)] sorted null-first by
    fingerprint; exposes `.state` and `.current()`."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.text import (
        fingerprint_expr,
        quality_bp_expr,
    )

    state: dict = {}  # fp -> [best_bp, best_id, count]
    last_seen = [-1]

    def current() -> list[tuple]:
        return [
            (fp, v[1], v[0], v[2])
            for fp, v in sorted(
                state.items(), key=lambda kv: (kv[0] is not None, kv[0])
            )
        ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            rows = (
                batch_df.select(
                    fingerprint_expr(text_col).alias("_fp"),
                    quality_bp_expr(text_col).alias("_bp"),
                    F.col(id_col).alias("_id"),
                )
                .groupBy("_fp")
                .agg(
                    F.min(
                        F.struct(
                            (-F.col("_bp")).alias("nb"),
                            F.col("_id").alias("i"),
                        )
                    ).alias("_w"),
                    F.count(F.lit(1)).alias("_c"),
                )
                .collect()
            )
            for r in rows:
                bp = -r["_w"]["nb"] if r["_w"]["nb"] is not None else None
                rid, cnt = r["_w"]["i"], int(r["_c"])
                cur = state.get(r["_fp"])
                if cur is None:
                    state[r["_fp"]] = [bp, rid, cnt]
                else:
                    cur[2] += cnt
                    # NULL bp only occurs in the NULL-text group, where
                    # every member is NULL — ties fall through to id.
                    if (cur[0] is None and bp is None and rid < cur[1]) or (
                        bp is not None
                        and (cur[0] is None
                             or bp > cur[0]
                             or (bp == cur[0] and rid < cur[1]))
                    ):
                        cur[0], cur[1] = bp, rid
        sink(current(), batch_id)

    process.state = state
    process.current = current
    return process
