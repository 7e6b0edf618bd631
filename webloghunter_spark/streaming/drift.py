"""Streaming twins of two monitors: pipelines/select.distribution_drift
against a FROZEN reference corpus, and detectors/ewma.ewma_alerts.

- dist_drift runs its batch operator's own partial and finalize
  through `_merge_writer` (streaming/runner.py) and repeats none of
  its arithmetic: the reference's token-bucket counts are computed
  ONCE and persisted (a frozen-model twin, like gate / decontam /
  oov); each micro-batch's bucket counts merge into the stream's
  counts by sum, and the batch JS core runs on the reference and
  merged counts. The emitted (n_ref, n_stream, js_nano) row is the
  one distribution_drift(reference, union-of-batches) returns.
- ewma_alerts is not on the runner: its (type, hour) state grows with
  the span of the stream, and the runner sends its whole state to
  Spark every trigger. Counts merge into a driver dict and the batch
  operator's `ewma_fold` replays over the zero-filled hour spine.

Every prefix of the stream equals the batch operator over the rows
streamed so far, for any batch slicing; a replayed batch_id only
re-emits.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.pipelines.select import (
    DSIR_BUCKETS,
    _bucket_counts,
    _js_from_counts,
    _token_buckets,
)
from webloghunter_spark.streaming.runner import _filled, _merge_writer


def dist_drift_stream_writer(
    ref_df: DataFrame,
    sink: Callable[[list[tuple], int], None],
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function: per micro-batch,
    `sink([(n_ref, n_stream, js_nano)], batch_id)` receives the
    divergence of everything streamed so far from the frozen
    reference. `.state` holds the merged stream bucket counts,
    `.current()` the last row list; call `.release()` after stream
    stop to free the persisted reference counts."""
    counts = lambda df: _bucket_counts(  # noqa: E731
        _token_buckets(df, text_col, n_buckets)
    )
    ref = counts(ref_df).persist()
    return _merge_writer(
        sink,
        counts,
        {"_c": F.sum},
        lambda cur: _js_from_counts(ref, cur, n_buckets),
        frozen=_filled(ref),
    )


def ewma_alerts_stream_writer(
    sink: Callable[[list[tuple], int], None],
    lam_num: int = 1,
    lam_denom: int = 4,
    threshold_num: int = 2,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of detectors/ewma.ewma_alerts — the rate-anomaly
    monitor run against the live event stream: per micro-batch,
    (hour, type) counts merge into state by SUM (bounded at
    |hours| x |types| rows — time-bounded, never corpus-bounded),
    then the SAME integer ewma_fold the batch operator runs
    (imported, not copied — one algorithm, no drift) replays over the
    zero-filled hour spine from the merged counts. Every prefix
    equals the batch operator over the events streamed so far, for
    any batch slicing, because the EWMA is a deterministic function
    of the (complete, gap-filled) count series. Replay-guarded;
    `sink(rows, batch_id)` receives the CURRENT
    [(event_type, hour_epoch, cnt, ewma_micro, prev_micro, alert)]
    sorted (event_type, hour_epoch); exposes `.counts` and
    `.current()`."""
    from webloghunter_spark.detectors.ewma import ewma_fold

    if not (0 < lam_num < lam_denom):
        raise ValueError("need 0 < lam_num < lam_denom")
    state: dict[tuple[str, int], int] = {}  # (type, hour_epoch) -> cnt
    types: set = set()
    span = [None, None]  # [lo_hour_epoch, hi_hour_epoch] over ALL rows
    last_seen = [-1]

    def current() -> list[tuple]:
        if span[0] is None:
            return []
        spine = list(range(span[0], span[1] + 3600, 3600))
        out: list[tuple] = []
        # NULL-safe sort; a NULL type mirrors the batch operator's
        # null-unsafe spine join: its rows extend the hour span but
        # its per-hour counts are all zero.
        for t in sorted(types, key=lambda x: (x is not None, x)):
            cnts = [
                state.get((t, h), 0) if t is not None else 0
                for h in spine
            ]
            trip = ewma_fold(cnts, lam_num, lam_denom, threshold_num)
            out.extend(
                (t, h, c, e, p, a)
                for h, c, (e, p, a) in zip(spine, cnts, trip)
            )
        return out

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            rows = (
                batch_df.select(
                    F.unix_timestamp(
                        F.date_trunc("hour", ts_col)
                    ).alias("_h"),
                    F.col(type_col).alias("_t"),
                )
                .groupBy("_t", "_h")
                .agg(F.count(F.lit(1)).alias("_c"))
                .collect()
            )
            for r in rows:
                types.add(r["_t"])
                if r["_h"] is None:
                    # NULL ts: batch bounds/spine ignore it, but the
                    # type still appears in the distinct-types dim.
                    continue
                h = int(r["_h"])
                span[0] = h if span[0] is None else min(span[0], h)
                span[1] = h if span[1] is None else max(span[1], h)
                if r["_t"] is not None:
                    key = (r["_t"], h)
                    state[key] = state.get(key, 0) + int(r["_c"])
        sink(current(), batch_id)

    process.counts = state
    process.current = current
    return process
