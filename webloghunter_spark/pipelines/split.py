"""Deterministic dataset splitting for training-data pipelines.

`sample()`/`randomSplit()` are seed-dependent AND partition-layout-
dependent — re-running after a repartition reassigns rows, which is
unacceptable for train/eval splits that must stay stable across
pipeline versions. This split hashes a stable id column with md5 (not
Spark's Murmur3 `hash`, so any engine — or the SQL oracle — derives
identical assignments), maps the first 8 hex digits to [0, 10000), and
cuts by basis-point thresholds.

Adding data never moves an existing row between splits; the split is a
pure function of the id. One narrow projection, no shuffle, prunable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLIT_BUCKETS = 10_000  # basis points


def split_bucket_expr(id_col: Column | str, salt: str = "") -> Column:
    """Stable bucket in [0, 10000) from md5 of the id (+ optional salt
    so independent splits of the same table decorrelate)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % SPLIT_BUCKETS).cast("int")


def with_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Label rows train/eval/test/... by cumulative fraction cuts.

    fractions: ordered {name: fraction}; must sum to <= 1.0 (remainder
    is labeled NULL — useful for throwaway holdout)."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = split_bucket_expr(id_col, salt)
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        cut = int(round(cum * SPLIT_BUCKETS))
        cond = bucket < cut
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(F.lit(None)))


def split(
    df: DataFrame, id_col: str, fractions: dict[str, float], salt: str = ""
) -> dict[str, DataFrame]:
    """Materialized view per split name."""
    labeled = with_split(df, id_col, fractions, salt)
    return {
        name: labeled.filter(F.col("split") == name).drop("split")
        for name in fractions
    }


def stratified_sample(
    df: DataFrame,
    strata_cols: Sequence[str],
    fractions: dict[tuple | str, float] | float,
    id_col: str = "doc_id",
    salt: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum sampling — the corpus-balancing step of
    a training-data pipeline (e.g. downsample an over-represented
    source to 10%).

    `fractions`: either one float for every stratum, or
    {stratum_value(s): fraction} with missing strata KEPT in full.
    Membership is a pure function of (id, salt) via the same md5-bucket
    construction as the train/eval split: stable across reruns,
    repartitions, and appends, and reproducible by any SQL engine. One
    narrow projection + filter, no shuffle, no sampling pass.

    The default salt is 'sample', NOT with_split/split's '' — with the
    SAME salt, sampling correlates fully with a later train/eval split
    (a 10% sample lands entirely inside the train bucket range,
    silently degenerating eval/test). Pass distinct salts explicitly
    when composing several sampling/splitting stages.
    """
    strata_cols = list(strata_cols)
    bucket = split_bucket_expr(id_col, salt)
    if isinstance(fractions, (int, float)):
        cut = int(round(float(fractions) * SPLIT_BUCKETS))
        return df.filter(bucket < cut)
    expr = None
    for key, frac in fractions.items():
        vals = key if isinstance(key, tuple) else (key,)
        cond = None
        for c, v in zip(strata_cols, vals):
            piece = F.col(c) == v
            cond = piece if cond is None else (cond & piece)
        cut = int(round(float(frac) * SPLIT_BUCKETS))
        branch = bucket < cut
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return df.filter(expr.otherwise(F.lit(True)))


def domain_mix(
    df: DataFrame,
    target: dict[str, float],
    group_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Resample a corpus to a TARGET domain/language mix — the
    "data mixture" step of pretraining-corpus assembly (cf. the
    mixture weights of GPT-3 / The Pile): given target shares per
    group, keep the largest deterministic subset whose composition
    approximates the shares to basis-point bucket granularity (no group
    can be up-sampled, so the feasible total is
    T = min_g(count_g / share_g)  and group g keeps
    accept_g = share_g * T / count_g  of its rows, quantized to 1/10000
    plus md5-hashing variance within each group).

    Membership is the same md5-bucket rule as with_split (pure function
    of id + salt): stable across reruns/repartitions, appends only grow
    a group's kept set. Groups absent from `target` are dropped;
    target groups absent from `df` contribute no rows and leave the
    other groups' counts unconstrained (the inner join skips them), so
    callers wanting a hard guarantee should check the realized mix.

    Scale: one map-side-combinable count per group (|groups| rows), the
    min over a |groups|-row frame, and a broadcast join of the per-group
    acceptance cut back onto the corpus — no full-table shuffle at any
    point. The double arithmetic (share * T / count * 10000, truncated)
    is ANSI-portable, so an external SQL oracle reproduces membership
    bit-for-bit.
    """
    if not target:
        raise ValueError("target mix is empty")
    shares = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in target.items()], [group_col, "_share"]
    )
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("double").alias("_cnt"))
        .join(shares, on=group_col, how="inner")
    )
    feasible = counts.agg(F.min(F.col("_cnt") / F.col("_share")).alias("_total"))
    cuts = (
        counts.crossJoin(F.broadcast(feasible))
        .select(
            group_col,
            # explicit floor: Spark's double->long cast truncates but
            # DuckDB's ROUNDS, so the oracle mirrors floor() instead.
            # The +1e-6 epsilon and least() clamp protect the limiting
            # group, whose acceptance fraction is exactly 1.0 in real
            # arithmetic but can land at 0.999999... after three double
            # roundings — floor would then shave ~1bp of its rows.
            F.least(
                F.lit(SPLIT_BUCKETS).cast("long"),
                F.floor(
                    F.col("_share") * F.col("_total") / F.col("_cnt") * SPLIT_BUCKETS
                    + F.lit(1e-6)
                ).cast("long"),
            ).alias("_cut"),
        )
    )
    bucket = split_bucket_expr(id_col, salt)
    return (
        df.join(F.broadcast(cuts), on=group_col, how="inner")
        .filter(bucket < F.col("_cut"))
        .drop("_cut")
    )


def mix_resample(
    df: DataFrame,
    group_col: str,
    temperature: float = 1.0,
    id_col: str = "doc_id",
    salt: str = "",
    rep_col: str = "rep",
) -> DataFrame:
    """Temperature-flattened mixture resampling WITH replacement — the
    pretraining domain-reweighting step `domain_mix` cannot express:
    minority groups are UPSAMPLED (rows repeat, tagged 0..k-1 in
    `rep_col`) and majority groups downsampled, holding total size
    ~|df|.

    Group share p_g ∝ (n_g/N)^(1/temperature) (T=1 keeps the natural
    mix; T→∞ → uniform over groups). Per-group sampling rate
    r_g = p_g·N/n_g is quantized to integer basis points ONCE
    (floor(r·10000 + 1e-6)), then every row's copy count is pure
    integer arithmetic on its md5 bucket: copies = r_bp div 10000 +
    (bucket < r_bp mod 10000). Deterministic per (id, salt) — adding
    data only perturbs counts through n_g, never through row identity —
    and exactly mirrorable in SQL (the only float op shared with the
    oracle is one pow per GROUP, epsilon-guarded, not one per row).

    Plan shape at scale: two |groups|-row aggregates, a broadcast rate
    join, one narrow sequence-explode — no wide shuffle anywhere; the
    output is prunable and the explode is whole-stage codegen.
    """
    rates = mix_rates(df, group_col, temperature)
    return apply_mix_rates(df, rates, group_col, id_col, salt, rep_col)


def mix_rates(
    df: DataFrame, group_col: str, temperature: float = 1.0
) -> DataFrame:
    """(group, _rbp) integer-basis-point sampling rates for
    `mix_resample` — split out so a streaming twin can freeze the
    rates from a reference corpus and apply them per micro-batch."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    n = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    tot = n.agg(F.sum("_n").alias("_tot"))  # NB: "_N" would collide
    p = n.crossJoin(F.broadcast(tot)).withColumn(  # (case-insensitive)
        "_p", F.pow(F.col("_n") / F.col("_tot"), 1.0 / temperature)
    )
    z = p.agg(F.sum("_p").alias("_z"))
    return p.crossJoin(F.broadcast(z)).select(
        group_col,
        F.floor(
            F.col("_p") / F.col("_z") * F.col("_tot") / F.col("_n")
            * SPLIT_BUCKETS
            + F.lit(1e-6)
        ).cast("long").alias("_rbp"),
    )


def apply_mix_rates(
    df: DataFrame,
    rates: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    salt: str = "",
    rep_col: str = "rep",
) -> DataFrame:
    """Realize a (group, _rbp) rate table over rows: md5-bucket copy
    counts + sequence-explode. Groups absent from `rates` are dropped
    (inner join) — matching the batch operator."""
    bucket = split_bucket_expr(id_col, salt)
    copies = (F.col("_rbp") / SPLIT_BUCKETS).cast("long") + F.when(
        bucket < F.col("_rbp") % SPLIT_BUCKETS, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.join(F.broadcast(rates), on=group_col, how="inner")
        .withColumn(
            rep_col,
            # sequence(0, -1) DESCENDS in Spark (step auto-negates), so
            # the zero-copy case must yield an empty array explicitly —
            # explode then drops the row, i.e. the doc is sampled out
            F.explode(
                F.when(
                    copies > 0,
                    F.sequence(F.lit(0), copies.cast("int") - 1),
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .drop("_rbp")
    )


def mix_temperature(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    ntok_col: Column | str | None = None,
) -> DataFrame:
    """Temperature-based sampling weights per group — the multilingual
    /multi-source mixing rule (mBERT/XLM-R exponentiated-count
    sampling; T5's alpha=0.3, XLM-R's 0.7): a group with share p of
    the corpus is sampled with probability proportional to p^alpha,
    up-weighting the tail without flattening the head.

    Returns one row per group: n_docs, n_tokens, raw_bp (observed
    token share), temp_bp (p^alpha-normalized share), boost_bp
    (temp/raw ratio in basis points, >10000 = up-sampled). Shares are
    over TOKENS (what the training loop actually consumes), not docs;
    pass `ntok_col` for a real tokenizer's counts. The p^alpha
    normalizer sums nano-quantized (1e-9 integer grid) contributions,
    so it is aggregation-order-free and engine-exact.

    Scale: one map-side-combinable count per group, then all
    arithmetic on the |groups|-row frame — no second pass over the
    corpus, no shuffle beyond the one aggregate. Output is quantized
    to basis points via floor(x*1e4+0.5) (the repo's portable-rounding
    convention), so the SQL oracle reproduces it bit-for-bit (pow on
    doubles is IEEE in both engines)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from webloghunter_spark.functions.text import token_count_expr

    ntok = (
        F.col(ntok_col) if isinstance(ntok_col, str)
        else ntok_col if ntok_col is not None
        else token_count_expr("text")
    )
    return _mix_temperature_finalize(
        _mix_temperature_partial(df, group_col, ntok), group_col, alpha
    )


def _mix_temperature_partial(
    df: DataFrame, group_col: str, ntok: Column
) -> DataFrame:
    """(group, n_docs, n_tokens): mix_temperature's map-side-combinable
    half; partials merge by sum."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok.cast("long")).alias("n_tokens"),
    )


def _mix_temperature_finalize(
    per: DataFrame, group_col: str, alpha: float
) -> DataFrame:
    """mix_temperature's weights from its per-group partial frame."""
    # zero-token CORPUS guard: _tot = 0 would make raw = 0/0 = NaN and
    # ANSI-error the bp casts; pin raw to 0 so every bp column is 0
    raw = F.when(
        F.col("_tot") > 0,
        F.col("n_tokens").cast("double") / F.col("_tot"),
    ).otherwise(F.lit(0.0))
    powed = F.pow(raw, F.lit(float(alpha)))
    # both normalizers are |groups|-row aggregates (the first must land
    # before p^alpha can be formed, hence two tiny frames, not a window)
    tot = per.agg(F.sum("n_tokens").cast("double").alias("_tot"))
    # normalizer contributions are quantized to an integer nano-grid
    # (1e-9, the dist_drift/dsir convention) BEFORE summing so z is
    # independent of aggregation order — a share landing on a 0.5e-4
    # boundary can no longer flip temp_bp between engines/runs
    powed_nano = F.floor(powed * 1e9 + F.lit(0.5)).cast("long")
    z = (
        per.crossJoin(F.broadcast(tot))
        .agg((F.sum(powed_nano).cast("double") / F.lit(1e9)).alias("_z"))
    )
    # z = 0 exactly when the corpus has zero tokens (all raw = 0)
    temp = F.when(F.col("_z") > 0, powed / F.col("_z")).otherwise(
        F.lit(0.0)
    )
    bp = lambda c: F.floor(c * 10000.0 + F.lit(0.5)).cast("long")  # noqa: E731
    # a zero-token group has share 0 and an undefined boost; emit 0s
    # rather than tripping ANSI DIVIDE_BY_ZERO on temp/raw (the
    # bad-record reality: all-NULL/empty-text groups do occur)
    has_tok = F.col("n_tokens") > 0
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(z))
        .select(
            group_col,
            "n_docs",
            "n_tokens",
            bp(raw).alias("raw_bp"),
            bp(temp).alias("temp_bp"),
            F.when(
                has_tok,
                F.floor(temp / raw * 10000.0 + F.lit(0.5)).cast("long"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("boost_bp"),
        )
    )


def upsample_epochs(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    max_epochs: int = 4,
    ntok_col: Column | str | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """The repetition plan that realizes a temperature mix on a
    data-constrained corpus (Muennighoff et al. 2023: repeating up to
    ~4 epochs is nearly as good as fresh data; past that, returns
    decay): a group whose temperature target exceeds its natural
    share (boost_bp > 10000) repeats its documents for
    ceil(boost_bp/10000) epochs, capped at `max_epochs`; everyone
    else trains one epoch. Returns one row per (document, epoch) —
    (id, group, epoch 0-based, n_epochs) — i.e. the materialized
    repetition plan a loader or write_training_order consumes.

    Scale: mix_temperature's one combinable aggregate builds the
    |groups|-row plan; the plan broadcast-joins onto the corpus (no
    shuffle of the big side) and the explode multiplies rows by at
    most `max_epochs` — the output IS the repeated corpus listing,
    there is no way to emit it smaller. Epoch counts are integer
    ceil-`div` on boost_bp, so any engine re-derives the same plan.
    """
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    mix = mix_temperature(df, group_col, alpha, ntok_col)
    plan = mix.select(
        F.col(group_col).alias("_g"),
        F.expr(
            f"least({int(max_epochs)},"
            f" greatest(1, (boost_bp + 9999) div 10000))"
        )
        .cast("int")
        .alias("n_epochs"),
    )
    # null-safe join: mix_temperature emits a plan row for the NULL
    # group (bad-record rows do occur) — a plain equi-join would
    # silently drop those documents from every epoch
    return df.join(
        F.broadcast(plan), F.col(group_col).eqNullSafe(F.col("_g"))
    ).select(
        id_col,
        group_col,
        F.explode(
            F.sequence(F.lit(0), F.col("n_epochs") - 1)
        ).alias("epoch"),
        "n_epochs",
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each row draws key = u^(1/w) with u a
    per-(id, salt) md5-derived uniform, and the k largest keys are the
    sample — inclusion probability proportional to weight, exactly one
    pass, no sequential state. The standard way to sample a corpus by
    quality score.

    u = (first 12 md5 hex digits + 0.5) / 2^48 — a 48-bit grid, exact
    in a double, derived identically by any engine; re-runs,
    repartitions, and appends never change an existing row's key
    (appends only compete at the selection boundary, the A-ES
    semantics). Rows with weight <= 0 are INELIGIBLE — filtered out
    before the top-k, never returned even when k exceeds the eligible
    row count (round-6 fix: the old key-0.0 fallback let them leak in
    exactly that case, violating this contract). The top-k is
    orderBy+limit — TakeOrderedAndProject, never a global sort."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    c = F.col(id_col)
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    u = (
        F.conv(F.substring(h, 1, 12), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 48))
    w = F.col(weight_col).cast("double")
    return (
        df.filter(w > 0)
        .withColumn("_skey", F.pow(u, F.lit(1.0) / w))
        .orderBy(F.col("_skey").desc(), c)
        .limit(k)
        .drop("_skey")
    )


def with_group_split(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    salt: str = "gsplit",
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe split: the md5 bucket is computed on the GROUP key
    (source, domain, author...), so every row of a group lands in the
    same split. Near-duplicate documents cluster within sources; a
    doc-level split leaks them across train/eval and inflates eval
    scores — the standard fix is to split at the unit of correlation.
    Same cumulative-cut machinery as with_split, same purity: adding
    docs to a group never moves the group."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = split_bucket_expr(group_col, salt)
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        cut = int(round(cum * SPLIT_BUCKETS))
        cond = bucket < cut
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(out_col, expr.otherwise(F.lit(None)))


MIXFIT_BUCKETS = 128
MIXFIT_LR = 1000.0
MIXFIT_ITERS = 3
# bound on the |groups| x n_buckets cells the solver holds and iterates
# on the driver (one collected count per cell, plus the smoothed grid)
MIXFIT_MAX_CELLS = 1_000_000


def mix_match_weights(
    df: DataFrame,
    target: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_buckets: int = MIXFIT_BUCKETS,
    iters: int = MIXFIT_ITERS,
    lr: float = MIXFIT_LR,
) -> DataFrame:
    """DoReMi-lite mixture solver: find per-group sampling weights so
    the weighted blend of the groups' hashed token-bucket
    distributions matches a TARGET corpus's distribution — the
    "what mix of my sources looks most like the data I actually want"
    optimization, solved with exponentiated-gradient descent on the
    simplex (multiplicative update + renormalize: no projection step,
    so an external SQL engine replays it exactly).

    Returns one row per group: (group, n_tokens, weight_micro) with
    weight_micro ~ the final simplex weight in integer micro units
    (quantized EVERY round, the kmeans/classifier discipline — both
    engines iterate identical ints).

    Objective: min_a || sum_s a_s P_s - T ||^2, a on the simplex.
    Round: m = sum_s a_s P_s (per-term nano-quantized, order-free
    integer sums); g_s = sum_b 2 P_sb (m_b - T_b) (same quantization);
    raw_s = a_s * exp(-lr g_s); a'_s = quant(raw_s / Z). All
    distributions are Laplace-smoothed over the full B-cell spine
    (the dsir/dist_drift feature family).

    Scale: the corpora are scanned ONCE into two combinable bucket
    aggregates (|groups| x B and B cells); both are dimension-bounded
    (B, iters, |groups| are constants — nothing scales with the corpus
    but the two initial aggregates), so they are COLLECTED and the
    whole EG solve runs as driver arithmetic: 3 Spark jobs per solve
    (two aggregates + the result build) instead of 3 jobs per ROUND
    (guide §5 — the solver was pure action/planning overhead beyond
    the two scans; measured 4.8 -> ~2.6 s at sf0.1). Bit-identical to
    the in-engine round form: every quantization step is the same
    IEEE-double expression evaluated in the same order, and the
    per-round sums are order-free integer sums.

    Numerics: the update exponent -lr*g is CLAMPED to [-20, 20]
    before exp() — unclamped, a strongly divergent mixture overflows
    exp() (Python raises at ~710; the oracle's BIGINT cast at ~43)
    while the clamp keeps every raw term inside BIGINT nano range and
    preserves the argmax direction; and a round whose raw terms ALL
    underflow to zero (every source far from the target) keeps the
    previous weights instead of dividing by z = 0 — both rules are
    replayed identically by the SQL oracle. Rows with a NULL group
    are EXCLUDED from the solve (NULL never joins in the oracle).

    Raises ValueError when |groups| * n_buckets exceeds
    MIXFIT_MAX_CELLS: the count collect is capped at that many rows,
    so a high-cardinality group_col (a doc id, say) fails here instead
    of shipping the corpus to the driver."""
    import math

    from webloghunter_spark.functions.text import (
        hash_bucket_expr,
        tokens_expr,
    )

    if iters <= 0 or n_buckets <= 0:
        raise ValueError("need iters > 0 and n_buckets > 0")
    spark = df.sparkSession
    B = int(n_buckets)
    tk = df.filter(F.col(group_col).isNotNull()).select(
        F.col(group_col), F.explode(tokens_expr(text_col)).alias("_t")
    ).select(group_col, hash_bucket_expr("_t", n_buckets).alias("b"))
    # the |groups| x <=B count frame is dimension-bounded: collect it
    # and run the rounds as driver math (see docstring Scale). The
    # quantized expressions below are copied VERBATIM from the former
    # in-engine round (same IEEE-double op order), so the weights are
    # bit-identical — pinned by test_mix_match_* and the oracle replay.
    # Every non-empty cell is one row, so rows <= |groups| * B: capping
    # the collect at MIXFIT_MAX_CELLS + 1 rows bounds the driver and
    # still leaves enough groups to see the bound broken.
    crows = (
        tk.groupBy(group_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .limit(MIXFIT_MAX_CELLS + 1)
        .collect()
    )
    cnt: dict = {}
    ns: dict = {}
    for r in crows:
        g, b, c = r[group_col], int(r["b"]), int(r["c"])
        cnt[(g, b)] = c
        ns[g] = ns.get(g, 0) + c
    groups = sorted(ns)
    s_count = len(groups)
    if s_count * B > MIXFIT_MAX_CELLS:
        raise ValueError(
            f"mix_match_weights: {s_count} (or more) groups x {B} buckets"
            f" exceeds MIXFIT_MAX_CELLS={MIXFIT_MAX_CELLS}; group on a"
            " lower-cardinality column or use fewer buckets"
        )
    if s_count == 0:
        return spark.createDataFrame(
            [], f"{group_col} string, n_tokens long, weight_micro long"
        )
    # Laplace smoothing over the full spine: (c + 1) / (n + B) —
    # long/long division yields the identical double in both engines
    p = {
        (g, b): (cnt.get((g, b), 0) + 1) / (ns[g] + B)
        for g in groups
        for b in range(B)
    }
    ttk = target.select(F.explode(tokens_expr(text_col)).alias("_t")).select(
        hash_bucket_expr("_t", n_buckets).alias("b")
    )
    tc = {
        int(r["b"]): int(r["ct"])
        for r in ttk.groupBy("b").agg(F.count(F.lit(1)).alias("ct")).collect()
    }
    tn = sum(tc.values())  # every token lands in a bucket: no 2nd scan
    tdist = {b: (tc.get(b, 0) + 1) / (tn + n_buckets) for b in range(B)}

    a = {g: int(math.floor(1e6 / s_count + 0.5)) for g in groups}
    for _ in range(iters):
        # m_b = sum_s quant(a_s * P_sb): per-term floor((a/1e6)*p*1e9
        # + 0.5) exactly as the former in-engine expression; the sum
        # is an order-free integer sum, then the former
        # cast-to-double / 1e9
        m = {}
        for b in range(B):
            mn = 0
            for g in groups:
                mn += math.floor((a[g] / 1e6) * p[(g, b)] * 1e9 + 0.5)
            m[b] = mn / 1e9
        grad = {}
        for g in groups:
            gn = 0
            for b in range(B):
                gn += math.floor(
                    2.0 * p[(g, b)] * (m[b] - tdist[b]) * 1e9 + 0.5
                )
            grad[g] = gn / 1e9
        # clamp the exponent (see docstring Numerics): keeps exp()
        # finite in both engines and every raw term in BIGINT range
        raw_nano = {
            g: int(
                math.floor(
                    (a[g] / 1e6)
                    * math.exp(
                        -max(-20.0, min(20.0, lr * grad.get(g, 0.0)))
                    )
                    * 1e9
                    + 0.5
                )
            )
            for g in groups
        }
        z = sum(raw_nano.values()) / 1e9
        if z <= 0:  # every term underflowed: keep previous weights
            continue
        a = {
            g: int(math.floor((raw_nano[g] / 1e9) / z * 1e6 + 0.5))
            for g in groups
        }
    return spark.createDataFrame(
        [(g, ns[g], a[g]) for g in groups],
        f"{group_col} string, n_tokens long, weight_micro long",
    )


def sample_exact_k(
    df: DataFrame,
    k: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Deterministic exact-k sample without replacement — the
    fixed-SIZE sibling of stratified_sample's fixed-RATE carve-out
    (eval sets, human-review batches and ablation subsets are
    specified as "exactly k docs", not "2%"). The k winners per group
    (or globally) are the smallest md5(seed|id) order keys, so the
    sample is a pure function of (seed, ids): engines agree,
    re-runs reproduce it, and adding new data only displaces
    boundary rows rather than reshuffling the whole sample.

    Scale: grouped -> one row_number window hash-partitioned on the
    group (repartition + in-partition sort). Global -> orderBy(key)
    .limit(k), which Spark executes as distributed per-partition
    top-k + a k-row driver merge (TakeOrderedAndProject), NOT a
    single-partition global sort. Groups smaller than k pass through
    whole."""
    from webloghunter_spark.pipelines.shard import order_key_expr

    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    key = order_key_expr(id_col, seed)
    if group_col is None:
        return (
            df.withColumn("_k", key)
            .orderBy("_k", id_col)
            .limit(k)
            .drop("_k")
        )
    from pyspark.sql import Window as W

    w = W.partitionBy(group_col).orderBy("_k", id_col)
    return (
        df.withColumn("_k", key)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_k", "_rn")
    )


def time_split_audit(
    df: DataFrame,
    cut: str,
    group_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Temporal train/test split leakage audit: with train = rows
    strictly before `cut` and test = rows at-or-after, report every
    group (user, session, entity) that appears on BOTH sides — the
    leakage a random split hides and a time split is supposed to
    prevent when the entity itself is the memorization vector.
    Returns (group, n_train, n_test, first_test_epoch) per leaked
    group, with first_test_epoch the floor-epoch of the group's
    earliest test row (how soon after the cut the entity re-appears).
    Groups entirely on one side emit nothing: an empty result IS the
    'clean temporal split' verdict.

    Scale: one conditional-count aggregate per group (map-side
    combinable, one shuffle on the group key) + a HAVING-style filter
    on the |groups|-row result. No join, no window over the corpus."""
    c = F.col(ts_col)
    is_test = c >= F.lit(cut).cast("timestamp")
    return (
        df.groupBy(group_col)
        .agg(
            F.sum(F.when(~is_test, 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(is_test, 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
            F.min(
                F.when(is_test, F.unix_timestamp(c))
            ).alias("first_test_epoch"),
        )
        .filter((F.col("n_train") > 0) & (F.col("n_test") > 0))
    )
