"""The two foreachBatch runners the batch-operator twins are built on.

A twin is its batch operator run per micro-batch by one of them:

- `_stage_writer` runs a row-local kernel (score new docs against a
  frozen side, or score each doc on its own). The union of the
  per-batch sink rows over ANY slicing equals the batch operator over
  the union of the batches, with no cross-batch state; a replayed
  batch re-emits the same rows.
- `_merge_writer` runs an aggregate operator split into its
  map-side-combinable `partial` and its `finalize` tail. Partials
  merge per key by a declared associative aggregate (sum, min, max),
  so the merged state is the partial of everything streamed so far
  and `finalize(state)` IS the batch operator over it, at every
  prefix and for any slicing. State is held on the driver and sent
  back to Spark once each trigger, so it suits operators whose partial
  stays small as the stream grows (|sources|, |shards|, |buckets| or
  |hours| rows), not one row per user or per distinct prefix.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame

# A stage: (score, frozen). score(frame) -> DataFrame scores a frame
# against the persisted frozen-side frames `frozen`.
_Stage = tuple[Callable[[DataFrame], DataFrame], tuple[DataFrame, ...]]


def _filled(*frames: DataFrame) -> tuple[DataFrame, ...]:
    """Run each (already persist()ed) frozen frame once so its cache is
    full before the first micro-batch."""
    for f in frames:
        f.count()
    return frames


def _sorted_rows(df: DataFrame) -> list[tuple]:
    """`df` collected as tuples, sorted column by column with NULLs
    first (ids and group keys can be NULL in bad-record reality) — the
    twins' sink order."""
    rows = [tuple(r) for r in df.collect()]
    rows.sort(key=lambda r: [(v is not None, v) for v in r])
    return rows


def _releaser(frozen: tuple[DataFrame, ...]) -> Callable[[], None]:
    def release() -> None:
        for f in frozen:
            f.unpersist()

    return release


def _stage_writer(
    sink: Callable[[list[tuple], int], None], stage: _Stage
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function: `sink(_sorted_rows(score(batch)),
    batch_id)` per micro-batch. `.release` unpersists the frozen
    frames after stream stop."""
    score, frozen = stage

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(_sorted_rows(score(batch_df)), batch_id)

    process.release = _releaser(frozen)
    return process


def _merge_writer(
    sink: Callable[[list[tuple], int], None],
    partial: Callable[[DataFrame], DataFrame],
    merge: dict[str, Callable[[str], Column]],
    finalize: Callable[[DataFrame], DataFrame],
    frozen: tuple[DataFrame, ...] = (),
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch function of an aggregate twin. `merge` maps
    each non-key column of `partial`'s frame to the Spark aggregate
    that combines two partials (F.sum, F.min or F.max); the other
    columns are the keys. Per NEW batch_id the batch's partial is
    unioned with the state, grouped by the keys, merged and collected
    as the new state, and `sink` receives
    `_sorted_rows(finalize(state))`.

    The state is sent to Spark once per trigger: the frame `finalize`
    ran over is kept and unioned with the next batch's partial.

    foreachBatch is at-least-once: a replayed batch_id (one at or
    below the high-water mark; ids are monotone within a query)
    re-emits the last rows and runs no job. The state moves only
    after `finalize` succeeds, so a batch that raises can be retried.
    `.state` is the merged partial rows, `.current()` the last rows
    sent, `.release()` unpersists `frozen`."""
    last_seen = [-1]
    out: list[tuple] = []
    held: list[DataFrame] = []  # the state frame finalize last ran over

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            part = partial(batch_df)
            schema = part.schema
            keys = [c for c in part.columns if c not in merge]
            state = _sorted_rows(
                (part.union(held[0]) if held else part)
                .groupBy(*keys)
                .agg(*(
                    agg(c).cast(schema[c].dataType).alias(c)
                    for c, agg in merge.items()
                ))
                .select(*part.columns)
            )
            frame = batch_df.sparkSession.createDataFrame(state, schema)
            rows = _sorted_rows(finalize(frame))
            last_seen[0] = batch_id
            process.state, out[:], held[:] = state, rows, [frame]
        sink(list(out), batch_id)

    process.state = []
    process.current = lambda: list(out)
    process.release = _releaser(frozen)
    return process
