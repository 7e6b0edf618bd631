"""Streaming twins of the corpus-mix audits: mix_temperature,
shard_balance, time_split_audit, unimax_alloc, len_quantiles and
prefix_modal (plus upsample_epochs under a frozen plan).

Each aggregate twin is its batch operator's own partial and finalize
run by `_merge_writer` (streaming/runner.py): per micro-batch the
batch's partial (per-group, per-shard or histogram counts) merges
into the driver-held state by the declared sum or min, and the
batch operator's finalize runs over the merged frame. The sink
therefore receives exactly what the batch operator returns over the
docs streamed so far, at every prefix and for any batch slicing; no
twin repeats any of the arithmetic. A replayed batch_id re-emits the
last rows without merging.

time_split and prefix_modal are not on the runner: their state grows
with the corpus (one row per distinct group, one per distinct
prefix), and the runner sends its whole state to Spark every
trigger. They merge each batch's aggregate into a driver dict and
replay the batch operator's filter / argmax in Python, until the
state can live in an executor-side frame.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.text import token_count_expr
from webloghunter_spark.streaming.runner import _merge_writer


def mix_temperature_stream_writer(
    sink: Callable[[list[tuple], int], None],
    group_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function. After each micro-batch,
    `sink(rows, batch_id)` receives mix_temperature's
    [(group, n_docs, n_tokens, raw_bp, temp_bp, boost_bp)] over
    everything seen so far; per-group (n_docs, n_tokens) merge by
    sum. `.state` holds the merged totals, `.current()` the last
    rows."""
    from webloghunter_spark.pipelines.split import (
        _mix_temperature_finalize,
        _mix_temperature_partial,
    )

    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    ntok = token_count_expr(text_col)
    return _merge_writer(
        sink,
        lambda b: _mix_temperature_partial(b, group_col, ntok),
        {"n_docs": F.sum, "n_tokens": F.sum},
        lambda per: _mix_temperature_finalize(per, group_col, alpha),
    )


def upsample_epochs_stream_writer(
    plan: dict,
    sink: Callable[[list[tuple], int], None],
    group_col: str = "source",
    id_col: str = "doc_id",
    max_epochs: int = 4,
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/split.upsample_epochs under a
    FROZEN repetition plan: `plan` maps group -> boost_bp (take it
    from a batch mix_temperature over the reference corpus, or from
    this module's mix_temperature_stream_writer.current()); each
    arriving document expands row-locally to its group's
    clamp(ceil(boost/10000), 1, max_epochs) epochs — the same
    integer-`div` arithmetic as the batch operator. STATELESS: each
    `sink(rows, batch_id)` call carries only THAT micro-batch's
    (id, group, epoch, n_epochs) rows (sorted), and the union of all
    calls equals the batch result over the same documents — parity
    by statelessness, replay-idempotent when the sink keys on
    (batch_id) or (id, epoch). No driver-side accumulation: a
    10M-doc stream costs O(batch) per trigger, never O(stream)
    (the frozen-model discipline: a repetition plan is pinned per
    training run, not re-fit per micro-batch)."""
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    epochs = {
        g: min(max_epochs, max(1, (int(b) + 9999) // 10000))
        for g, b in plan.items()
    }

    def process(batch_df: DataFrame, batch_id: int) -> None:
        rows = []
        for r in batch_df.select(id_col, group_col).collect():
            g = r[group_col]
            if g not in epochs:
                raise ValueError(
                    f"upsample_epochs_stream_writer: group {g!r} not in"
                    f" the frozen plan — re-fit the plan batch-side."
                )
            n = epochs[g]
            rows.extend((r[id_col], g, e, n) for e in range(n))
        rows.sort()
        sink(rows, batch_id)

    return process


def shard_balance_stream_writer(
    sink: Callable[[list[tuple], int], None],
    n_shards: int = 16,
    seed: str = "train",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/shard.shard_balance: per-shard
    (n_docs, n_tokens) merge by sum (state bounded at n_shards rows).
    After each micro-batch `sink(rows, batch_id)` receives
    [(shard_id, n_docs, n_tokens, token_share_bp, dev_bp)] over the
    docs streamed so far; a NULL doc_id's NULL shard sorts first."""
    from webloghunter_spark.pipelines.shard import (
        _shard_balance_finalize,
        _shard_balance_partial,
    )

    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    return _merge_writer(
        sink,
        lambda b: _shard_balance_partial(b, n_shards, seed, id_col, text_col),
        {"n_docs": F.sum, "n_tokens": F.sum},
        lambda per: _shard_balance_finalize(per, n_shards),
    )


def time_split_stream_writer(
    sink: Callable[[list[tuple], int], None],
    cut: str,
    group_col: str = "user_id",
    ts_col: str = "ts",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/split.time_split_audit — the
    leakage monitor a live ingest runs against a pinned split cut:
    per-group (n_train, n_test, first_test_epoch) merge by
    (sum, sum, min). State holds one row per group EVER SEEN on
    EITHER side — train-only groups are retained (a later test-side
    arrival must find their train counts), so driver memory is
    O(|distinct groups|), NOT the (typically tiny) leaked-group
    output; on very-high-cardinality group columns run the batch
    audit instead. Parity with the batch operator holds at every
    prefix. `sink(rows, batch_id)`
    receives the CURRENT leaked-group list
    [(group, n_train, n_test, first_test_epoch)] sorted by group —
    only groups with rows on BOTH sides, like the batch operator.
    Replay-guarded; exposes `.totals` and `.current()`."""
    state: dict = {}  # group -> [n_train, n_test, min_test_epoch|None]
    last_seen = [-1]

    def current() -> list[tuple]:
        return [
            (g, v[0], v[1], v[2])
            for g, v in sorted(
                state.items(), key=lambda kv: (kv[0] is not None, kv[0])
            )
            if v[0] > 0 and v[1] > 0
        ]

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            c = F.col(ts_col)
            is_test = c >= F.lit(cut).cast("timestamp")
            rows = (
                batch_df.groupBy(group_col)
                .agg(
                    F.sum(F.when(~is_test, 1).otherwise(0)).alias("_tr"),
                    F.sum(F.when(is_test, 1).otherwise(0)).alias("_te"),
                    F.min(
                        F.when(is_test, F.unix_timestamp(c))
                    ).alias("_fe"),
                )
                .collect()
            )
            for r in rows:
                cur = state.setdefault(r[group_col], [0, 0, None])
                cur[0] += int(r["_tr"])
                cur[1] += int(r["_te"])
                fe = r["_fe"]
                if fe is not None:
                    cur[2] = int(fe) if cur[2] is None else min(
                        cur[2], int(fe)
                    )
        sink(current(), batch_id)

    process.totals = state
    process.current = current
    return process


def unimax_alloc_stream_writer(
    sink: Callable[[list[tuple], int], None],
    budget_bp_of_total: int = 18000,
    max_epochs: int = 2,
    group_col: str = "source",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/select.unimax_alloc — the budget
    plan recomputed as the corpus grows: per-source token counts
    merge by sum (state bounded at |sources| rows) and the batch
    finalize re-plans the waterfill on them. The budget is relative
    to the streamed-so-far total, so every prefix equals the batch
    operator over the docs streamed so far. A NULL group fails
    loudly, exactly like the batch form, and leaves the state as it
    was. `sink(rows, batch_id)` receives [(group, c_tokens,
    cap_tokens, alloc_tokens, capped, epochs_bp)]."""
    from webloghunter_spark.pipelines.select import (
        _check_unimax_args,
        _unimax_finalize,
        _unimax_partial,
    )

    _check_unimax_args(budget_bp_of_total, max_epochs)
    ntok = token_count_expr(text_col)
    return _merge_writer(
        sink,
        lambda b: _unimax_partial(b, group_col, ntok),
        {"_c": F.sum},
        lambda per: _unimax_finalize(
            per, budget_bp_of_total, max_epochs, group_col
        ),
    )


def len_quantiles_stream_writer(
    sink: Callable[[list[tuple], int], None],
    qs_bp: tuple[int, ...] = (1000, 5000, 9000),
    text_col: str = "text",
    group_col: str = "source",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/select.len_quantiles — the
    length-profile monitor over a live ingest: (source, ntok) counts
    merge by sum (bounded at |sources| x |distinct lengths| rows) and
    the batch nearest-rank walk runs on the merged histogram.
    `sink(rows, batch_id)` receives [(source, q_bp, n_docs, ntok)]."""
    from webloghunter_spark.pipelines.select import (
        _len_quantiles_finalize,
        _len_quantiles_partial,
    )

    if not qs_bp or any(not (0 < q <= 10000) for q in qs_bp):
        raise ValueError(f"qs_bp must be in (0, 10000], got {qs_bp}")
    return _merge_writer(
        sink,
        lambda b: _len_quantiles_partial(b, text_col, group_col),
        {"_c": F.sum},
        lambda hist: _len_quantiles_finalize(hist, qs_bp),
    )


def prefix_modal_stream_writer(
    sink: Callable[[list[tuple], int], None],
    n_tokens: int = 3,
    text_col: str = "text",
    group_col: str = "source",
) -> Callable[[DataFrame, int], None]:
    """Streaming twin of pipelines/curate.prefix_modal — the
    template-farm monitor over a live ingest: (source, prefix) counts
    merge by SUM (state bounded by distinct prefixes per source),
    then the modal argmax (max count, lexicographically smallest
    prefix on ties) replays on the merged counts. Every prefix of
    the stream equals the batch operator, for any slicing.
    Replay-guarded; `sink(rows, batch_id)` receives the CURRENT
    [(source, n_docs, n_prefixes, top_prefix, top_n, top_share_bp)]
    sorted null-first by source; exposes `.counts` and
    `.current()`."""
    if n_tokens < 1:
        raise ValueError(f"n_tokens must be >= 1, got {n_tokens}")
    from webloghunter_spark.functions.text import tokens_expr

    state: dict = {}  # (source, prefix) -> count
    last_seen = [-1]

    def current() -> list[tuple]:
        per_src: dict = {}
        for (src, p), c in state.items():
            per_src.setdefault(src, {})
            per_src[src][p] = per_src[src].get(p, 0) + c
        out: list[tuple] = []
        for src in sorted(per_src, key=lambda s: (s is not None, s)):
            counts = per_src[src]
            n_docs = sum(counts.values())
            top_p, top_n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append(
                (src, n_docs, len(counts), top_p, top_n,
                 (top_n * 10000) // n_docs)
            )
        return out

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id > last_seen[0]:
            last_seen[0] = batch_id
            prefix = F.array_join(
                F.slice(tokens_expr(text_col), 1, n_tokens), " "
            )
            rows = (
                batch_df.select(
                    F.col(group_col).alias("_s"), prefix.alias("_p")
                )
                .groupBy("_s", "_p")
                .agg(F.count(F.lit(1)).alias("_c"))
                .collect()
            )
            for r in rows:
                key = (r["_s"], r["_p"])
                state[key] = state.get(key, 0) + int(r["_c"])
        sink(current(), batch_id)

    process.counts = state
    process.current = current
    return process
