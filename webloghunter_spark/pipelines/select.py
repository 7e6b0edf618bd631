"""Corpus selection under constraints — the "which documents make the
training set" step after cleaning/dedup/decontamination.

Operators:

- `token_budget_select`: the data-selection primitive behind
  quality-filtered pretraining mixes (DoReMi/DsDm-style pipelines
  reduce to "rank by a score, take until the token budget"): select
  the highest-scoring documents whose cumulative token count fits a
  budget. The naive shape is a GLOBAL sort + running sum — a
  single-partition stage at 100 TB. The scalable shape used here is
  the two-level histogram cutoff (same discipline as sessionize's
  two-level prefix sum and value_quantiles' fixed grid):
    1. one combinable aggregate: tokens per score bucket (the score is
       already basis-point-quantized, so the histogram is <= 10001
       cells regardless of corpus size);
    2. a driver-side running sum over the tiny histogram finds the
       cutoff bucket: every doc scoring ABOVE it fits, the boundary
       bucket gets the remaining budget;
    3. one filter pass keeps score > cutoff, plus boundary-bucket docs
       admitted in (doc_id) order via a window cumsum PARTITIONED BY
       the boundary bucket only — the one ordered scan runs over a
       single bucket's rows, never the corpus.
  Ties inside the boundary bucket admit lowest doc_id first
  (deterministic, append-stable for ids beyond the admitted set).

- `oov_rate`: tokenizer-coverage audit — per-document fraction of
  tokens outside the corpus's top-`vocab_size` vocabulary (ties on
  count break to the lexicographically smaller token, the vocab_topk
  convention). High OOV flags encoding-mangled or off-domain text
  that inflates token counts under a fixed tokenizer.

No counterpart in the reference repo (log triage has no corpus
assembly); token boundaries match functions/text.tokens_expr.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.similarity import grid_round_expr
from webloghunter_spark.functions.text import (
    hash_bucket_expr,
    token_count_expr,
    tokens_expr,
)


def token_budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "quality_bp",
    id_col: str = "doc_id",
    ntok_col: Column | str | None = None,
    max_boundary_rows: int | None = 1_000_000,
) -> DataFrame:
    """Rows of `df` (plus `ntok`) whose docs are selected: highest
    `score_col` first, then lowest `id_col`, cumulative ntok <= budget.
    A doc whose ntok alone overflows the remaining boundary budget is
    skipped and admission continues with the next id (greedy by order,
    the packing-style rule both engines replay exactly).

    `score_col` must be integer-bucketed (basis points); the histogram
    is one cell per distinct score, collected to the driver — bounded
    by the score grid, not the corpus. The single-budget special case
    of `token_budget_by_group` (one synthetic group)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    out = token_budget_by_group(
        df.withColumn("_grp", F.lit(0)),
        {0: int(budget)},
        group_col="_grp",
        score_col=score_col,
        id_col=id_col,
        ntok_col=ntok_col,
        max_boundary_rows=max_boundary_rows,
    )
    return out.drop("_grp")


def token_budget_by_group(
    df: DataFrame,
    budgets: dict,
    group_col: str = "source",
    score_col: str = "quality_bp",
    id_col: str = "doc_id",
    ntok_col: Column | str | None = None,
    max_boundary_rows: int | None = 1_000_000,
) -> DataFrame:
    """Per-group token budgets — the step that REALIZES a mixture
    plan in tokens: after mix_solver/mix_temperature fixes each
    source's share of the training budget, every source
    independently admits its highest-scoring documents until its own
    budget is spent (highest `score_col` first, lowest `id_col` on
    ties, greedy-skip at the boundary — exactly token_budget_select's
    rule, per group). `budgets` maps group value (None allowed) to
    its token budget; a group present in the data but absent from
    `budgets` is a plan hole and raises.

    Scale (the token_budget_select discipline, group-extended):
    - ONE combinable (group, score) histogram, collected — bounded by
      |groups| x score grid, not the corpus;
    - the per-group cutoff walk is driver arithmetic on that grid;
    - only the <= |groups| boundary cells' nonzero-token rows are
      collected (id order) for the sequential greedy walk, guarded by
      `max_boundary_rows` in total;
    - the final pass is a codegen'd per-group compare chain (groups
      are bounded categoricals); the admitted boundary set ships as
      isin literals when small, a broadcast frame when not.
    """
    for g, b in budgets.items():
        if b < 0:
            raise ValueError(f"budget for group {g!r} must be >= 0, got {b}")
    ntok = (
        F.col(ntok_col) if isinstance(ntok_col, str)
        else ntok_col if ntok_col is not None
        else token_count_expr("text")
    )
    from webloghunter_spark.session import materialize

    # three actions touch base (histogram, boundary cells, final
    # filter); without materialize each re-runs the upstream scan —
    # with a regex-heavy score expr that tripled the wall (32x probe:
    # 5.9x -> ~2x after)
    base = materialize(df.withColumn("ntok", ntok.cast("long")))
    hist = (
        base.groupBy(group_col, score_col)
        .agg(F.sum("ntok").alias("_btok"))
        .collect()
    )
    by_group: dict = {}
    for r in hist:
        by_group.setdefault(r[group_col], []).append(
            (r[score_col], int(r["_btok"]))
        )
    missing = [g for g in by_group if g not in budgets]
    if missing:
        raise ValueError(
            f"token_budget_by_group: groups {missing!r} present in the"
            f" data have no budget — the mixture plan must cover every"
            f" group (pass an explicit 0 to drop one)."
        )
    # a NULL score can't rank, and NULL orders differently across
    # engines (Spark desc = NULLS LAST, DuckDB = NULLS FIRST) — fail
    # loudly instead of silently picking one; coalesce upstream (the
    # gate.py convention: coalesce(quality_bp_expr(c), 0))
    null_groups = [g for g, cells in by_group.items()
                   if any(sc is None for sc, _ in cells)]
    if null_groups:
        raise ValueError(
            f"token_budget_by_group: NULL {score_col!r} values in"
            f" groups {null_groups!r} — coalesce the score to a"
            f" sentinel before selection."
        )
    # driver walk per group over its <=10001-cell histogram slice
    cuts: dict = {}  # group -> (cutoff | None, remaining)
    for g, cells in by_group.items():
        cells.sort(key=lambda c: -c[0])
        remaining = int(budgets[g])
        cutoff = None  # None = every bucket fit
        for score, btok in cells:
            if btok > remaining:
                cutoff = score
                break
            remaining -= btok
        cuts[g] = (cutoff, remaining)
    def _is_group(g):
        return F.col(group_col).eqNullSafe(F.lit(g))

    bounded = {g: c for g, c in cuts.items() if c[0] is not None}
    if not bounded:
        return base.withColumn("selected", F.lit(True))
    # boundary cells: greedy admission in id order against each
    # group's remaining budget. Zero-token docs AT THE BOUNDARY are
    # admitted free (they consume nothing) and never collected —
    # below the cutoff, rank order decides and nothing is selected,
    # zero-token or not (property-pinned in
    # test_token_budget_by_group_matches_python_replay);
    # `max_boundary_rows` guards the total collect (fuzzy-join
    # depth-guard discipline).
    bnd_pred = F.lit(False)
    for g, (cutoff, _rem) in bounded.items():
        bnd_pred = bnd_pred | (
            _is_group(g) & (F.col(score_col) == F.lit(cutoff))
        )
    bnd_df = base.filter(bnd_pred & (F.col("ntok") > 0)).select(
        group_col, id_col, "ntok"
    )
    if max_boundary_rows is not None:
        depth = bnd_df.count()
        if depth > max_boundary_rows:
            raise ValueError(
                f"token_budget_by_group: boundary score bucket(s) hold"
                f" {depth} rows (> {max_boundary_rows}) — the score"
                f" grid is too coarse for a driver-side boundary walk."
                f" Use a finer-grained score, or raise"
                f" max_boundary_rows deliberately."
            )
    admitted: list = []
    rem_by_group = {g: rem for g, (_c, rem) in bounded.items()}
    for r in bnd_df.orderBy(group_col, id_col).collect():
        g, nt = r[group_col], int(r["ntok"])
        if nt <= rem_by_group[g]:
            admitted.append(r[id_col])
            rem_by_group[g] -= nt
    if len(admitted) <= 1000:
        is_admitted = F.col(id_col).isin(admitted)
    else:
        # a large admitted set as isin() literals balloons the plan
        # (analysis/codegen over 10^5+ literal values — the very
        # driver pressure max_boundary_rows exists to avoid); ship it
        # back as a broadcast-joined frame instead
        adm = F.broadcast(
            df.sparkSession.createDataFrame(
                [(i,) for i in admitted], [id_col]
            ).withColumn("_adm", F.lit(True))
        )
        base = base.join(adm, id_col, "left")
        is_admitted = F.coalesce(F.col("_adm"), F.lit(False))
    selected = F.lit(True)  # fully-fitting groups fall through to True
    for g, (cutoff, _rem) in bounded.items():
        above = F.col(score_col) > F.lit(cutoff)
        in_boundary = (F.col(score_col) == F.lit(cutoff)) & (
            (F.col("ntok") == 0) | is_admitted
        )
        selected = F.when(_is_group(g), above | in_boundary).otherwise(
            selected
        )
    out = base.withColumn("selected", selected)
    return out.drop("_adm") if len(admitted) > 1000 else out


def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, ntok, n_oov, oov_bp) per document against the corpus's own
    top-`vocab_size` token vocabulary (count DESC, token ASC).

    Two passes: token counts (one combinable aggregate + a
    TakeOrderedAndProject top-k — never a global sort), then the
    per-doc OOV count via an explode + broadcast LEFT ANTI join
    against the k-row vocab. The explode's shuffle is the groupBy
    back to doc_id, bounded by token volume; at 100 TB prefer a
    precomputed static vocab and skip pass one (the streaming twin,
    streaming/oov.py, does exactly that: _top_vocab once, _oov_scores
    per micro-batch)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("_tok")
    )
    return _oov_scores(df, toks, _top_vocab(toks, vocab_size), id_col, text_col)


def _top_vocab(toks: DataFrame, vocab_size: int) -> DataFrame:
    """The `vocab_size` most frequent `_tok` values of a token frame
    (count DESC, token ASC), as a one-column `_tok` frame."""
    if vocab_size <= 0:
        raise ValueError(f"vocab_size must be > 0, got {vocab_size}")
    return (
        toks.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("_tok"))
        .limit(vocab_size)
        .select("_tok")
    )


def _oov_scores(
    df: DataFrame, toks: DataFrame, vocab: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """oov_rate's per-doc scoring of `df` (whose (id, _tok) rows are
    `toks`) against a `_tok` vocabulary frame small enough to
    broadcast."""
    oov = (
        toks.join(F.broadcast(vocab), "_tok", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    n_oov = F.coalesce(F.col("n_oov"), F.lit(0))
    return (
        df.select(
            id_col, token_count_expr(text_col).cast("long").alias("ntok")
        )
        .join(oov, id_col, "left")
        .select(
            id_col,
            "ntok",
            n_oov.alias("n_oov"),
            F.when(
                F.col("ntok") > 0,
                F.floor(n_oov * 10000.0 / F.col("ntok") + F.lit(0.5)),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("oov_bp"),
        )
    )


DSIR_BUCKETS = 1024


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023)
    re-expressed relationally: score every raw-corpus document by how
    target-like its hashed token-feature distribution is.

    Features are md5-hashed token buckets (the DSIR hashed-ngram
    trick: a fixed B-bucket table stands in for an open vocabulary).
    Both corpora reduce to B-row smoothed bucket distributions
    (Laplace +1); each bucket carries
        lr_b = round(ln(p_target_b / p_raw_b) * 1e6)  (integer
    micro-units — quantized BEFORE the per-doc sum, so the sum is
    order-free and engine-exact, unlike a float log-likelihood sum).
    A document's weight is the sum of its tokens' lr_b; resampling
    by exp(weight) is the caller's policy (weighted_sample composes).

    Scale: two combinable B-cell aggregates (one per corpus), a B-row
    broadcast join onto the exploded raw tokens, and one groupBy(id)
    sum — bounded by token volume, no pairwise anything. The B-row
    log-ratio table is the whole "model"."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be > 0, got {n_buckets}")
    b = F.lit(int(n_buckets))  # smoothing denominator below
    tok = lambda df: df.select(  # noqa: E731
        F.col(id_col), F.explode(tokens_expr(text_col)).alias("_t")
    ).select(id_col, hash_bucket_expr("_t", n_buckets).alias("_b"))
    rt = tok(raw)
    tt = tok(target)
    from webloghunter_spark.session import materialize

    # materialized <=B-row count frames: each feeds BOTH the ratio
    # join and its corpus total below — without pinning, Spark
    # duplicates the whole tokenize+explode+aggregate subtree per
    # consumer (no common-subplan reuse across a DataFrame DAG)
    rc = materialize(rt.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr")))
    tc = materialize(tt.groupBy("_b").agg(F.count(F.lit(1)).alias("_ct")))
    # corpus token totals = sum of the B-cell counts (every token
    # lands in exactly one bucket) — the historical rt.agg()/tt.agg()
    # re-ran the full tokenize+explode per corpus just to count rows
    # (guide §2.4: two token-scale scans removed, same value exactly)
    # (coalesce: sum over an EMPTY count frame is NULL where the old
    # row count was 0 — keep the empty-corpus behavior identical)
    rtot = rc.agg(F.coalesce(F.sum("_cr"), F.lit(0)).alias("_tr"))
    ttot = tc.agg(F.coalesce(F.sum("_ct"), F.lit(0)).alias("_tt"))
    ratios = (
        rc.join(tc, "_b", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "_b",
            # stored-value half-away-from-zero grid, not F.round —
            # log ratios can be negative and F.round rounds the
            # SHORTEST DECIMAL REPR (similarity.py:45); grid ==
            # DuckDB round(x*1e6)::BIGINT exactly
            grid_round_expr(
                F.log(
                    (
                        (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1))
                        / (F.col("_tt") + b)
                    )
                    / (
                        (F.col("_cr") + F.lit(1)) / (F.col("_tr") + b)
                    )
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("_lr"),
        )
    )
    return (
        rt.join(F.broadcast(ratios), "_b")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("_lr").alias("weight_micro"),
        )
    )


def score_calibration(
    df: DataFrame,
    score_col: str = "quality_bp",
    group_col: str = "source",
    ps_bp: tuple[int, ...] = (2500, 5000, 7500),
) -> DataFrame:
    """Per-group score-quantile calibration table — the "different
    quality bar per domain" step (a fixed global cutoff over-prunes
    clean domains and under-prunes noisy ones; CCNet-style pipelines
    calibrate per source). For each group: n_docs and, per requested
    percentile p (basis points), the smallest score whose running
    count reaches ceil(p * n / 10000) — exact integer arithmetic over
    the (group, score) histogram, never a sort of the corpus.

    Scale: `score_col` must be integer-bucketed (basis points), so
    the histogram is <= |grid| cells per group, map-side combinable;
    the window runs over histogram CELLS. Same fixed-grid discipline
    as value_quantiles/quality_ecdf, with a group dimension."""
    from pyspark.sql import Window as W

    if not ps_bp or any(not 0 < p <= 10_000 for p in ps_bp):
        raise ValueError(f"ps_bp must be in (0, 10000], got {ps_bp}")
    hist = df.groupBy(group_col, score_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = (
        W.partitionBy(group_col)
        .orderBy(score_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy(group_col)
    cum = hist.select(
        group_col,
        score_col,
        F.sum("_c").over(w).alias("_cum"),
        F.sum("_c").over(wall).alias("_n"),
    )
    aggs = [F.max("_n").alias("n_docs")]
    for p in ps_bp:
        need = F.floor((F.lit(int(p)) * F.col("_n") + 9999) / 10000)
        aggs.append(
            F.min(
                F.when(F.col("_cum") >= need, F.col(score_col))
            ).alias(f"p{int(p)}_bp")
        )
    return cum.groupBy(group_col).agg(*aggs)


def distribution_drift(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """One-row Jensen-Shannon divergence between two corpora's hashed
    token-feature distributions: (n_a, n_b, js_nano) with js in
    integer nano-nats. THE drift monitor between corpus snapshots /
    sources / time windows — JS is symmetric, bounded by ln 2, and
    zero iff the smoothed distributions match, so a pipeline can
    alert on `js_nano > threshold` without eyeballing histograms.

    Same feature space as dsir_weights (md5 % B buckets, Laplace +1
    smoothing over the FULL B-bucket spine, so differing corpus sizes
    surface as drift in the unseen mass too). Per-bucket contributions
    are quantized to the 1e-9 grid BEFORE summing — order-free integer
    sums, engine-exact like the dsir log-ratios. Cost: two combinable
    B-cell aggregates + arithmetic on a B-row spine."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be > 0, got {n_buckets}")
    fa = _token_buckets(a, text_col, n_buckets)
    fb = _token_buckets(b, text_col, n_buckets)
    return _js_divergence(
        _bucket_counts(fa), _bucket_counts(fb), _n_rows(fa), _n_rows(fb),
        n_buckets,
    )


def _token_buckets(df: DataFrame, text_col: str, n_buckets: int) -> DataFrame:
    """The single-column `_b` md5 token-bucket feature frame (the
    dsir_weights feature space)."""
    return df.select(F.explode(tokens_expr(text_col)).alias("_t")).select(
        hash_bucket_expr("_t", n_buckets).alias("_b")
    )


def _bucket_counts(f: DataFrame) -> DataFrame:
    """(_b, _c) cell counts of a single-column `_b` feature frame: the
    drift operators' combinable half; partials merge by sum."""
    return f.groupBy("_b").agg(F.count(F.lit(1)).alias("_c"))


def _n_rows(f: DataFrame) -> DataFrame:
    """One-row (_t) row count of a feature frame."""
    return f.agg(F.count(F.lit(1)).alias("_t"))


def _js_from_counts(ca: DataFrame, cb: DataFrame, n_cells: int) -> DataFrame:
    """The drift finalize over count frames alone: each total is its
    frame's count sum (0 when empty), the `_n_rows` of the features it
    counts. The batch operators take the totals from the feature frames
    instead, which saves a stage."""
    total = lambda c: c.agg(  # noqa: E731
        F.coalesce(F.sum("_c"), F.lit(0)).alias("_t")
    )
    return _js_divergence(ca, cb, total(ca), total(cb), n_cells)


def _js_divergence(
    ca: DataFrame, cb: DataFrame, ta: DataFrame, tb: DataFrame, n_cells: int
) -> DataFrame:
    """Shared JS core over two (_b, _c) count frames and their one-row
    (_t) totals: Laplace-smoothed distributions on the full n_cells
    spine, per-cell contributions quantized to 1e-9 nats, order-free
    integer sum -> one (n_a, n_b, js_nano) row."""
    bl = F.lit(int(n_cells))
    spine = ca.sparkSession.range(int(n_cells)).select(
        F.col("id").alias("_b")
    )
    j = (
        spine.join(ca.withColumnRenamed("_c", "_ca"), "_b", "left")
        .join(cb.withColumnRenamed("_c", "_cb"), "_b", "left")
        .crossJoin(F.broadcast(ta.withColumnRenamed("_t", "_ta")))
        .crossJoin(F.broadcast(tb.withColumnRenamed("_t", "_tb")))
    )
    p = (F.coalesce(F.col("_ca"), F.lit(0)) + F.lit(1)) / (F.col("_ta") + bl)
    q = (F.coalesce(F.col("_cb"), F.lit(0)) + F.lit(1)) / (F.col("_tb") + bl)
    m = (p + q) / F.lit(2.0)
    # stored-value grid (similarity.py:45), not F.round — JS contribs
    # can be arbitrarily close to an integer midpoint of the nano grid
    contrib = grid_round_expr(
        (p * F.log(p / m) + q * F.log(q / m)) / F.lit(2.0) * 1e9, 0
    ).cast("long")
    return (
        j.select(contrib.alias("_c"), "_ta", "_tb")
        .groupBy("_ta", "_tb")
        .agg(F.sum("_c").alias("js_nano"))
        .select(
            F.col("_ta").alias("n_a"),
            F.col("_tb").alias("n_b"),
            "js_nano",
        )
    )


def embedding_drift(
    a: DataFrame,
    b: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """distribution_drift's EMBEDDING-modality twin: one-row JS
    divergence (nano-nats) between two vector sets' hyperplane-LSH
    bucket distributions — does the new snapshot's embedding space
    occupy the same regions? Buckets are the deterministic md5-derived
    sign-bit hash knn_lsh uses (2^num_planes cells), so the monitor
    needs no trained model and any engine re-derives the buckets.
    Same smoothed-spine JS core as distribution_drift."""
    from webloghunter_spark.functions.similarity import (
        hyperplane_bucket_expr,
    )

    fa, fb = (
        df.select(hyperplane_bucket_expr(vec_col, num_planes, dim).alias("_b"))
        for df in (a, b)
    )
    return _js_divergence(
        _bucket_counts(fa), _bucket_counts(fb), _n_rows(fa), _n_rows(fb),
        1 << num_planes,
    )


def vocab_coverage(
    df: DataFrame,
    sizes: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-sizing curve: for each candidate vocabulary size V,
    how much of the corpus the top-V token vocabulary covers. One row
    per size: (vocab_size, n_types, covered_tokens, total_tokens,
    oov_bp) — n_types = min(V, distinct types), covered_tokens = sum
    of the top-V type counts (count DESC, token ASC ties — the
    oov_rate rule), oov_bp = uncovered token fraction in basis
    points. The report that picks a BPE/vocab size before training:
    the V where the curve flattens is the money point.

    Scale: one combinable type-count aggregate, then a
    TakeOrderedAndProject top-max(sizes) — NEVER a global sort of the
    type table; the cumulative sum runs over the max(sizes)-row
    bounded frame (a single-partition window over <= max(sizes) rows
    by construction), and the size spine joins against it broadcast.
    Two scalar aggregates (total tokens, total types) complete it."""
    if not sizes:
        sizes = [250, 1000, 4000, 16000]
    if any(v <= 0 for v in sizes) or len(set(sizes)) != len(sizes):
        raise ValueError(f"sizes must be positive and distinct: {sizes}")
    from pyspark.sql import Window as W

    spark = df.sparkSession
    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    top = counts.orderBy(F.col("_n").desc(), F.col("_tok")).limit(max(sizes))
    # bounded single-partition window: <= max(sizes) rows by the limit
    w = (
        W.orderBy(F.col("_n").desc(), F.col("_tok"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    ranked = top.select(
        F.row_number().over(
            W.orderBy(F.col("_n").desc(), F.col("_tok"))
        ).alias("_rank"),
        F.sum("_n").over(w).alias("_cum"),
    )
    totals = counts.agg(
        F.coalesce(F.sum("_n"), F.lit(0)).alias("_total")
    )
    spine = spark.createDataFrame(
        [(int(v),) for v in sorted(sizes)], "vocab_size long"
    )
    per_size = (
        F.broadcast(spine)
        .join(ranked, ranked["_rank"] <= F.col("vocab_size"), "left")
        .groupBy("vocab_size")
        .agg(
            F.count("_rank").alias("_kept"),
            F.coalesce(F.max("_cum"), F.lit(0)).alias("_covered"),
        )
    )
    return per_size.crossJoin(F.broadcast(totals)).select(
        "vocab_size",
        F.col("_kept").cast("long").alias("n_types"),
        F.col("_covered").cast("long").alias("covered_tokens"),
        F.col("_total").cast("long").alias("total_tokens"),
        F.when(
            F.col("_total") > 0,
            F.floor(
                (F.col("_total") - F.col("_covered"))
                * 10000.0
                / F.col("_total")
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("oov_bp"),
    )


def source_divergence(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence MATRIX between every pair of
    groups' hashed token-feature distributions — distribution_drift
    generalized from two snapshots to all sources at once: one row per
    unordered pair (source_a < source_b) with (n_a, n_b, js_nano).
    The mixing-design input: which sources are near-duplicates of each
    other distributionally (merge them) and which are the outliers
    (cap them).

    Scale: ONE combinable (group, bucket) aggregate over the token
    stream — the corpus is scanned once no matter how many groups —
    then all arithmetic on the |groups| x B vector frame; the pair
    join is B-bucket-aligned, so its volume is |groups|^2 x B rows
    (a few hundred thousand for 20 sources x 1024 cells), never
    token-scale. Same Laplace spine + 1e-9 quantized contributions as
    distribution_drift — engine-exact, order-free."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be > 0, got {n_buckets}")
    bl = F.lit(int(n_buckets))
    tk = df.select(
        F.col(group_col), F.explode(tokens_expr(text_col)).alias("_tok")
    ).select(
        group_col, hash_bucket_expr("_tok", n_buckets).alias("_b")
    )
    from webloghunter_spark.session import materialize

    # ONE corpus scan: the (group, bucket) aggregate is the only
    # token-scale pass; totals roll up from the |groups|x B frame —
    # never persist the exploded token frame itself (corpus-sized)
    counts = materialize(
        tk.groupBy(group_col, "_b").agg(F.count(F.lit(1)).alias("_c"))
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("_c").alias("_t")
    )
    spine = df.sparkSession.range(int(n_buckets)).select(
        F.col("id").alias("_b")
    )
    vec = (
        spine.crossJoin(F.broadcast(totals))
        .join(counts, [group_col, "_b"], "left")
        .select(
            F.col(group_col),
            "_b",
            "_t",
            (
                (F.coalesce(F.col("_c"), F.lit(0)) + F.lit(1))
                / (F.col("_t") + bl)
            ).alias("_p"),
        )
    )
    a = vec.select(
        F.col(group_col).alias("source_a"),
        F.col("_b"),
        F.col("_t").alias("_ta"),
        F.col("_p").alias("_pa"),
    )
    b = vec.select(
        F.col(group_col).alias("source_b"),
        F.col("_b"),
        F.col("_t").alias("_tb"),
        F.col("_p").alias("_pb"),
    )
    pairs = a.join(b, "_b").filter(F.col("source_a") < F.col("source_b"))
    m = (F.col("_pa") + F.col("_pb")) / F.lit(2.0)
    # stored-value grid, not F.round (similarity.py:45)
    contrib = grid_round_expr(
        (
            F.col("_pa") * F.log(F.col("_pa") / m)
            + F.col("_pb") * F.log(F.col("_pb") / m)
        )
        / F.lit(2.0)
        * 1e9,
        0,
    ).cast("long")
    return (
        pairs.select(
            "source_a", "source_b", "_ta", "_tb", contrib.alias("_j")
        )
        .groupBy("source_a", "source_b", "_ta", "_tb")
        .agg(F.sum("_j").alias("js_nano"))
        .select(
            "source_a",
            "source_b",
            F.col("_ta").alias("n_a"),
            F.col("_tb").alias("n_b"),
            "js_nano",
        )
    )


def zipf_fit(
    df: DataFrame, top_k: int = 1000, text_col: str = "text"
) -> DataFrame:
    """One-row OLS fit of the rank-frequency curve in log-log space
    over the top-`top_k` types: (n_types, slope_micro,
    intercept_micro). Natural text runs slope ~ -1 (Zipf); templated
    or synthetic corpora run much flatter — a cheap generated-text /
    boilerplate tripwire per source or snapshot.

    Scale: the vocab_coverage shape — one combinable type count + a
    bounded top-k (TakeOrderedAndProject); the regression terms
    (ln rank, ln count products) are quantized to the 1e-9 grid and
    integer-summed over the <= top_k-row frame, so both the sums and
    the final slope are engine-exact and aggregation-order-free."""
    if top_k < 2:
        raise ValueError(f"top_k must be >= 2, got {top_k}")
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    top = counts.orderBy(F.col("_n").desc(), F.col("_tok")).limit(top_k)
    ranked = top.select(
        F.row_number()
        .over(W.orderBy(F.col("_n").desc(), F.col("_tok")))
        .alias("_r"),
        F.col("_n"),
    )
    x = F.log(F.col("_r").cast("double"))
    y = F.log(F.col("_n").cast("double"))
    # stored-value grid, not F.round (similarity.py:45)
    nano = lambda c: grid_round_expr(c * 1e9, 0).cast("long")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.coalesce(F.sum(nano(x)), F.lit(0)).alias("sx"),
        F.coalesce(F.sum(nano(y)), F.lit(0)).alias("sy"),
        F.coalesce(F.sum(nano(x * x)), F.lit(0)).alias("sxx"),
        F.coalesce(F.sum(nano(x * y)), F.lit(0)).alias("sxy"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx") / 1e9
    sy = F.col("sy") / 1e9
    sxx = F.col("sxx") / 1e9
    sxy = F.col("sxy") / 1e9
    den = k * sxx - sx * sx
    slope = (k * sxy - sx * sy) / den
    intercept = (sy - slope * sx) / k
    micro = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    return s.select(
        F.col("k").alias("n_types"),
        F.when(den > 0, micro(slope)).otherwise(F.lit(0)).cast("long")
        .alias("slope_micro"),
        F.when(den > 0, micro(intercept)).otherwise(F.lit(0)).cast("long")
        .alias("intercept_micro"),
    )


def mmr_select(
    df: DataFrame,
    k: int = 4,
    lam_bp: int = 5000,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection (Carbonell &
    Goldstein '98) over an embedding column: pick `k` vectors that
    balance relevance to the query vector (the row whose `id_col` =
    `query_id`) against redundancy with what's already picked —
    the diverse-subset primitive behind eval-set construction and
    few-shot example selection.

    Round r picks argmax of
        score_micro = lam_bp * rel_bp - (10000 - lam_bp) * maxsim_bp
    where rel_bp / maxsim_bp are basis-point-quantized cosines
    (floor(c*1e4 + 0.5), the repo convention) and maxsim_bp is the
    TRUE max cosine to the already-picked set. Round 1 has no picks
    and seeds with the MOST RELEVANT candidate (argmax rel_bp —
    lambda-independent, the standard MMR seed; its reported penalty
    is 0 and score_micro = lam_bp * rel_bp). Ties break to the
    lowest id.
    Output: one row per pick (sel_rank, id, rel_bp, penalty_bp,
    score_micro); stops early when the pool runs dry.

    Scale: relevance is computed ONCE against the broadcast query
    vector; each of the k rounds is one narrow projection (cosine to
    the single newest pick, a literal array) plus a
    TakeOrderedAndProject(1) — k bounded scans of the pool, no
    shuffle, per-round state materialized with flat lineage. Driver
    holds k rows. For pools where even k scans are too hot, feed this
    an ANN-prefiltered top-m (knn_ivf_trained) instead of the full
    store — greedy MMR is the exact baseline, by design.
    """
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if not (0 <= lam_bp <= 10000):
        raise ValueError(f"lam_bp must be in [0, 10000], got {lam_bp}")
    from webloghunter_spark.functions.similarity import cosine_expr
    from webloghunter_spark.session import drop_materialized, materialize

    spark = df.sparkSession
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"query_id {query_id} not found in {id_col}")
    bp = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa: E731

    def _lit_vec(vals):
        return F.array(*[F.lit(float(x)) for x in vals])

    cand = materialize(
        df.filter(F.col(id_col) != query_id).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_e"),
            bp(cosine_expr(F.col(vec_col), _lit_vec(qrow[0]))).alias("_rel"),
        )
    )
    picks: list[tuple] = []
    for rank in range(1, k + 1):
        if rank == 1:
            # lambda-independent relevance seed (standard MMR)
            scored = cand.select(
                "_id", "_e", "_rel",
                F.lit(0).cast("long").alias("_ms"),
                (F.col("_rel") * lam_bp).cast("long").alias("_score"),
            )
            order_key = F.col("_rel")
        else:
            scored = cand.select(
                "_id", "_e", "_rel", "_ms",
                (F.col("_rel") * lam_bp
                 - F.col("_ms") * (10000 - lam_bp)).cast("long")
                .alias("_score"),
            )
            order_key = F.col("_score")
        top = (
            scored.orderBy(order_key.desc(), F.col("_id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        t = top[0]
        picks.append(
            (rank, t["_id"], t["_rel"], int(t["_ms"]), int(t["_score"]))
        )
        if rank == k:
            break  # the state update would feed nothing
        sim = bp(cosine_expr(F.col("_e"), _lit_vec(t["_e"])))
        prev = F.col("_ms") if rank > 1 else F.lit(None).cast("long")
        new_cand = materialize(
            cand.filter(F.col("_id") != t["_id"]).select(
                "_id", "_e", "_rel",
                F.greatest(F.coalesce(prev, F.lit(-10001)), sim).alias("_ms"),
            )
        )
        new_cand.count()
        drop_materialized(cand)
        cand = new_cand
    drop_materialized(cand)
    return spark.createDataFrame(
        picks,
        f"sel_rank long, {id_col} long, rel_bp long, "
        "penalty_bp long, score_micro long",
    )


def dataset_card(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-source dataset card — the one-screen summary a curator
    reads before touching sampling weights: doc/token counts, the
    language mix (distinct languages, majority language and its share
    in basis points, ties to the lexicographically smaller code),
    exact-duplicate share (docs whose raw text repeats within the
    source, md5-keyed) and empty-doc share. Length percentiles live in
    corpus_stats; this card covers composition and hygiene.

    NULL-language rows count toward totals but not the language mix.
    Three combinable aggregates over ONE materialized base projection
    (narrow: group, lang, md5, two longs — the text itself never
    persists), so the corpus is scanned once however many aggregates
    read it; lang mix and dup detection group on (source, lang) /
    (source, md5) — group-scale, never doc-scale state — joined on
    the |sources|-row spine.
    """
    from pyspark.sql import Window as W

    from webloghunter_spark.session import materialize

    base = materialize(df.select(
        F.col(group_col).alias("_g"),
        F.col(lang_col).alias("_lang"),
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_h"),
        token_count_expr(text_col).cast("long").alias("_ntok"),
        (F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0)
        .cast("long")
        .alias("_empty"),
    ))
    tot = base.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_ntok").cast("long").alias("n_tokens"),
        F.sum("_empty").cast("long").alias("_n_empty"),
    )
    lc = (
        base.filter(F.col("_lang").isNotNull())
        .groupBy("_g", "_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    langs = lc.groupBy("_g").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs")
    )
    wl = W.partitionBy("_g").orderBy(F.col("_n").desc(), F.col("_lang"))
    top = (
        lc.withColumn("_rn", F.row_number().over(wl))
        .filter(F.col("_rn") == 1)
        .select("_g", F.col("_lang").alias("top_lang"),
                F.col("_n").alias("_top_n"))
    )
    dup = (
        base.groupBy("_g", "_h")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
        .groupBy("_g")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_c") >= 2, F.col("_c"))), F.lit(0)
            )
            .cast("long")
            .alias("_n_dup")
        )
    )
    bp = lambda n, d: (  # noqa: E731
        F.when(d > 0, F.floor(n * 10000.0 / d + F.lit(0.5)))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        tot.join(langs, "_g", "left")
        .join(top, "_g", "left")
        .join(dup, "_g", "left")
        .select(
            F.col("_g").alias(group_col),
            "n_docs",
            "n_tokens",
            F.coalesce(F.col("n_langs"), F.lit(0)).cast("long")
            .alias("n_langs"),
            "top_lang",
            bp(F.coalesce(F.col("_top_n"), F.lit(0)), F.col("n_docs"))
            .alias("top_lang_bp"),
            bp(F.coalesce(F.col("_n_dup"), F.lit(0)), F.col("n_docs"))
            .alias("dup_doc_bp"),
            bp(F.col("_n_empty"), F.col("n_docs")).alias("empty_bp"),
        )
    )


def source_scorecard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    neardup_threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    containment_threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> DataFrame:
    """The per-source CONTAMINATION/DUP one-screener — "which source
    do we cut": dataset_card's composition/hygiene row joined with
    the source's near-duplicate exposure (dup_source_matrix diagonal
    = within-source churn, off-diagonal sum = cross-source copying)
    and its containment attrition (containment_drop's would-drop
    count). A curator reads one row per source and decides whether
    the source needs dedup scoping, gets its weight cut, or is a
    mirror to drop outright.

    Output per source: (source, n_docs, n_tokens, n_langs, top_lang,
    top_lang_bp, dup_doc_bp, empty_bp, self_dup_pairs,
    cross_dup_pairs, contained_docs, contained_bp) — contained_bp on
    the exact half-up integer grid ((n*20000 + d) div (2*d)).

    NULL-source convention: the matrix and containment aggregates
    coalesce NULL sources to '' internally (their own documented
    convention), so this card JOINS on coalesce(source, '') while
    reporting dataset_card's raw source value; a corpus containing
    BOTH a NULL and an '' source gets two card rows sharing the same
    ''-bucket pair/containment aggregates — the oracle replays the
    identical join, so the two engines agree even on that degenerate
    input.

    Scale shape: a composition operator (the dataset_diff
    discipline) — it replays dataset_card (one narrow materialized
    scan + three group-scale aggregates), the LSH near-dup matrix
    (sources carried THROUGH the verify joins), and containment_drop
    (df-bounded inverted index + carry-cols decision layer) and joins
    their |sources|-scale outputs; the join spine never exceeds
    |sources| + |sources|² rows, so the cost IS the three pipelines,
    each individually scale-argued, text scanned once per pipeline
    and never joined pairwise at doc scale here."""
    from webloghunter_spark.pipelines.dedup import (
        containment_drop,
        dup_source_matrix,
    )
    from webloghunter_spark.session import materialize

    card = dataset_card(
        df, group_col=source_col, text_col=text_col, lang_col=lang_col
    )
    # the matrix feeds THREE consumers (diagonal + both union
    # branches of the cross sum); without materialization the whole
    # LSH pipeline re-executes per consumer — measured 30.6 s -> the
    # pipeline-sum ~13 s at sf0.1 after pinning the |sources|²-row
    # frame
    mat = materialize(
        dup_source_matrix(
            df, text_col=text_col, id_col=id_col, source_col=source_col,
            threshold=neardup_threshold, num_hashes=num_hashes,
            band_size=band_size, shingle_k=shingle_k,
        )
    )
    drops = containment_drop(
        df, text_col=text_col, id_col=id_col, source_col=source_col,
        shingle_k=shingle_k, threshold_bp=containment_threshold_bp,
        size_ratio_bp=size_ratio_bp, max_df=max_df,
    )
    selfp = (
        mat.filter(F.col("source_lo") == F.col("source_hi"))
        .select(
            F.col("source_lo").alias("_s"),
            F.col("n_pairs").alias("self_dup_pairs"),
        )
    )
    offd = mat.filter(F.col("source_lo") != F.col("source_hi"))
    crossp = (
        offd.select(F.col("source_lo").alias("_s"), "n_pairs")
        .unionByName(
            offd.select(F.col("source_hi").alias("_s"), "n_pairs")
        )
        .groupBy("_s")
        .agg(F.sum("n_pairs").cast("long").alias("cross_dup_pairs"))
    )
    cont = (
        drops.groupBy(
            F.coalesce(F.col("source"), F.lit("")).alias("_s")
        )
        .agg(F.sum("dropped").cast("long").alias("contained_docs"))
    )
    key = F.coalesce(F.col(source_col).cast("string"), F.lit(""))
    out = (
        card.withColumn("_s", key)
        .join(F.broadcast(selfp), "_s", "left")
        .join(F.broadcast(crossp), "_s", "left")
        .join(F.broadcast(cont), "_s", "left")
    )
    return out.select(
        source_col,
        "n_docs",
        "n_tokens",
        "n_langs",
        "top_lang",
        "top_lang_bp",
        "dup_doc_bp",
        "empty_bp",
        F.coalesce("self_dup_pairs", F.lit(0)).cast("long")
        .alias("self_dup_pairs"),
        F.coalesce("cross_dup_pairs", F.lit(0)).cast("long")
        .alias("cross_dup_pairs"),
        F.coalesce("contained_docs", F.lit(0)).cast("long")
        .alias("contained_docs"),
        F.expr(
            "(coalesce(contained_docs, 0) * 20000 + n_docs)"
            " div (2 * n_docs)"
        )
        .cast("long")
        .alias("contained_bp"),
    )


def scorecard_budget(
    df: DataFrame,
    total_budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    lang_col: str = "lang",
    neardup_threshold: float = 0.8,
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_k: int = 3,
    containment_threshold_bp: int = 8000,
    size_ratio_bp: int = 10000,
    max_df: int = 20,
) -> DataFrame:
    """Audit-driven budget allocation — the intervention that CLOSES
    source_scorecard's loop (the scorecard says which sources are
    dup/containment-heavy; this cuts their budget accordingly, the
    same way containment_drop closed containment_pairs'): each
    source's share of `total_budget` is proportional to its
    EFFECTIVE clean token mass

        eff = (n_tokens * (10000 - min(dup_doc_bp + contained_bp,
                                       10000))) div 10000
        budget = (total_budget * eff) div sum(eff)

    — exact-integer all the way (dup_doc_bp = the source's exact-dup
    exposure from dataset_card, contained_bp = its containment-drop
    attrition; both already on the bp grid) — then every source
    independently admits its highest-quality documents until its
    budget is spent (token_budget_by_group's histogram-cutoff walk:
    highest quality_bp first, lowest id on ties, greedy-skip at the
    boundary). A mirror source that near-entirely duplicates another
    gets eff ~ 0 and is de-budgeted instead of hand-excluded.

    Output: (id, source, quality_bp, ntok, selected) — one row per
    input doc, budget_by_source's shape.

    Scale shape: the cost IS source_scorecard's (three individually
    scale-argued pipelines joined at |sources| rows) plus
    token_budget_by_group's (one combinable histogram + driver walk
    on a |sources| x bp grid + codegen'd final compare) — the
    scorecard collapses to |sources| driver rows before any budget
    math, so the allocation itself is driver integer arithmetic,
    and no doc-scale frame is ever joined against another here."""
    if total_budget < 0:
        raise ValueError(
            f"total_budget must be >= 0, got {total_budget}"
        )
    from webloghunter_spark.functions.text import quality_bp_expr

    card = source_scorecard(
        df, text_col=text_col, id_col=id_col, source_col=source_col,
        lang_col=lang_col, neardup_threshold=neardup_threshold,
        num_hashes=num_hashes, band_size=band_size, shingle_k=shingle_k,
        containment_threshold_bp=containment_threshold_bp,
        size_ratio_bp=size_ratio_bp, max_df=max_df,
    )
    rows = card.select(
        source_col, "n_tokens", "dup_doc_bp", "contained_bp"
    ).collect()
    eff = {
        r[source_col]: (
            int(r["n_tokens"])
            * (10000 - min(int(r["dup_doc_bp"])
                           + int(r["contained_bp"]), 10000))
        ) // 10000
        for r in rows
    }
    tot = sum(eff.values())
    budgets = {
        s: ((int(total_budget) * e) // tot) if tot > 0 else 0
        for s, e in eff.items()
    }
    scored = df.select(
        F.col(id_col),
        F.col(source_col),
        F.col(text_col),
        F.coalesce(quality_bp_expr(text_col), F.lit(0))
        .cast("long")
        .alias("quality_bp"),
    )
    out = token_budget_by_group(
        scored, budgets, group_col=source_col, score_col="quality_bp",
        id_col=id_col,
        # thread text_col through: token_budget_by_group's default
        # ntok derives from a hardcoded "text" column, which
        # unresolves for any non-default text_col
        ntok_col=token_count_expr(text_col),
    )
    return out.select(id_col, source_col, "quality_bp", "ntok", "selected")


def rank_fusion(
    df: DataFrame,
    signal_cols: tuple[str, ...] | list[str],
    id_col: str = "doc_id",
    group_col: str | None = None,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of several
    quality/ranking signals into ONE selection order — the standard
    way to combine heterogeneous signals (heuristic quality,
    classifier score, LM likelihood) without calibrating their scales
    against each other: each signal contributes 1/(rrf_k + rank), and
    documents are re-ranked by the sum.

    Contributions live on an integer micro grid — ``1_000_000 div
    (rrf_k + rank)`` — so the fused score is an exact integer in any
    engine (the mix_temperature/dist_drift convention: never sum
    floats across engines). Ranks are dense row_numbers ordered by
    (signal DESC NULLS LAST, id ASC): NULL signals rank below every
    non-NULL value, deterministically (Spark's .desc() puts NULLs
    last; a DuckDB oracle must spell NULLS LAST because its DESC
    default puts them FIRST).

    Returns (group?, id, rank_<s>..., rrf_micro, fused_rank).

    Scale: one window exchange PER SIGNAL plus one for the fused
    re-rank — all on `group_col`. RRF is a per-candidate-list
    operator: pass group_col (query id, language, shard) so every
    sort is bounded by its group; a None group is a GLOBAL total sort
    per signal (range-partitioned — Spark handles it, but at 100 TB
    you want the grouped form or a pre-filtered candidate set).
    """
    from pyspark.sql import Window as W

    signal_cols = list(signal_cols)
    if not signal_cols:
        raise ValueError("rank_fusion needs at least one signal column")
    part = [group_col] if group_col else []
    w = W.partitionBy(*part)
    out = df
    for s in signal_cols:
        out = out.withColumn(
            f"rank_{s}",
            F.row_number().over(
                w.orderBy(F.col(s).desc_nulls_last(), F.col(id_col).asc())
            ),
        )
    rrf = None
    for s in signal_cols:
        c = F.expr(f"1000000 div ({int(rrf_k)} + rank_{s})")
        rrf = c if rrf is None else rrf + c
    out = out.withColumn("rrf_micro", rrf.cast("long"))
    fused = F.row_number().over(
        w.orderBy(F.col("rrf_micro").desc(), F.col(id_col).asc())
    )
    keep = part + [id_col] + [f"rank_{s}" for s in signal_cols]
    return out.select(*keep, "rrf_micro", fused.alias("fused_rank"))


def unimax_alloc(
    df: DataFrame,
    budget_bp_of_total: int = 18000,
    max_epochs: int = 2,
    group_col: str = "source",
    text_col: str = "text",
    ntok_col: Column | str | None = None,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): split a total
    token budget across sources as UNIFORMLY as possible subject to a
    per-source repetition cap of `max_epochs` epochs — the published
    alternative to temperature sampling when over-repeating small
    sources hurts more than under-weighting them. Ascending-capacity
    waterfill: sources ordered by (capacity, group); each takes
    min(capacity, remaining_budget // remaining_sources), all integer
    arithmetic so both engines replay the walk exactly.

    budget = total_tokens * budget_bp_of_total // 10000 (relative to
    the corpus so the plan ports across scale factors); capacity_i =
    max_epochs * c_i. Output one row per group: token count, capacity,
    allocation, capped flag, epochs consumed in basis points.

    Scale: ONE combinable (group -> sum ntok) aggregate; the waterfill
    is driver arithmetic on the |groups|-row result (groups are a
    bounded categorical — the same guard as token_budget_by_group's
    histogram). The corpus is never sorted, joined, or re-shuffled.
    A NULL group cannot rank deterministically across engines
    (Spark asc = NULLS FIRST, DuckDB = NULLS LAST) — fail loudly,
    as token_budget_by_group does for NULL scores."""
    _check_unimax_args(budget_bp_of_total, max_epochs)
    ntok = (
        F.col(ntok_col) if isinstance(ntok_col, str)
        else ntok_col if ntok_col is not None
        else token_count_expr(text_col)
    )
    return _unimax_finalize(
        _unimax_partial(df, group_col, ntok),
        budget_bp_of_total, max_epochs, group_col,
    )


def _check_unimax_args(budget_bp_of_total: int, max_epochs: int) -> None:
    if budget_bp_of_total < 0:
        raise ValueError(
            f"budget_bp_of_total must be >= 0, got {budget_bp_of_total}"
        )
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")


def _unimax_partial(df: DataFrame, group_col: str, ntok: Column) -> DataFrame:
    """(group, _c) token counts: unimax_alloc's combinable half;
    partials merge by sum."""
    return df.groupBy(group_col).agg(F.sum(ntok.cast("long")).alias("_c"))


def _unimax_finalize(
    per: DataFrame, budget_bp_of_total: int, max_epochs: int, group_col: str
) -> DataFrame:
    """Collect the per-group counts and run the waterfill on the
    driver."""
    rows = per.collect()
    spark = per.sparkSession
    gtype = per.schema[group_col].dataType.simpleString()
    schema = (
        f"{group_col} {gtype}, c_tokens long, cap_tokens long, "
        "alloc_tokens long, capped boolean, epochs_bp long"
    )
    if not rows:
        return spark.createDataFrame([], schema)
    if any(r[group_col] is None for r in rows):
        raise ValueError(
            "unimax_alloc: NULL group value — NULL orders differently"
            " across engines; coalesce the group column upstream."
        )
    counts = [(r[group_col], int(r["_c"] or 0)) for r in rows]
    out = unimax_waterfill(counts, int(budget_bp_of_total), int(max_epochs))
    return spark.createDataFrame(out, schema)


def unimax_waterfill(
    counts: list, budget_bp_of_total: int, max_epochs: int
) -> list:
    """unimax_alloc's pure integer waterfill: counts is [(group,
    c_tokens)]; returns [(group, c, cap, alloc, capped, epochs_bp)]
    in ascending (capacity, group) order."""
    total = sum(c for _, c in counts)
    budget = total * budget_bp_of_total // 10000
    ranked = sorted(
        ((max_epochs * c, g, c) for g, c in counts),
        key=lambda t: (t[0], t[1]),
    )
    out, rem, n = [], budget, len(ranked)
    for j, (cap, g, c) in enumerate(ranked):
        alloc = min(cap, rem // (n - j))
        rem -= alloc
        out.append((
            g, c, cap, alloc, alloc == cap,
            alloc * 10000 // c if c > 0 else 0,
        ))
    return out


def heaps_fit(
    df: DataFrame,
    n_points: int = 7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law vocabulary-growth audit: distinct-type count V and
    cumulative token count N over a doubling grid of corpus prefixes
    (the first n/2^j docs by `id_col`, j = n_points-1 .. 0), plus a
    log-log OLS fit V ~ K * N^beta shared across the rows. Natural
    text runs beta ~ 0.4-0.6; beta near 0 flags a templated/looping
    corpus (vocabulary stops growing), beta near 1 flags noise (every
    token new) — the companion tripwire to zipf_fit, reading growth
    where zipf reads the frequency curve.

    Requires dense 0..n-1 ids (the corpus ingest order); prefix j is
    `id < greatest(1, n // 2^j)` so every grid point is non-empty.
    Grid rows with V = 0 or N = 0 (all-empty prefix) are dropped
    before the fit — ln is undefined there.

    Scale shape: ONE corpus token explode -> min(id)-per-type
    aggregate (combinable, the only data-sized shuffle); vocabulary
    per prefix then needs NO per-prefix rescan — each type carries its
    FIRST-occurrence id, so all grid points fall out of one
    conditional-count aggregate over the |V|-row type frame. Token
    prefix sums are one aggregate over the doc-level frame. The OLS
    runs on <= n_points rows with each regression term quantized to
    the 1e-9 grid and integer-summed (zipf_fit's engine-exact,
    order-free form).

    Output: one row per surviving grid point (denom, n_prefix_docs,
    cum_tokens, vocab, beta_micro, logk_micro) ordered denom desc;
    beta/logk repeat on every row (they are corpus-level scalars).
    """
    if n_points < 2:
        raise ValueError(f"n_points must be >= 2, got {n_points}")
    denoms = [2 ** j for j in range(n_points - 1, -1, -1)]

    firsts = (
        df.select(F.col(id_col).alias("_id"), tokens_expr(text_col).alias("_t"))
        .select("_id", F.explode("_t").alias("_tok"))
        .groupBy("_tok")
        .agg(F.min("_id").alias("_first"))
    )
    nrow = df.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    thr = lambda d: F.greatest(F.lit(1).cast("long"), F.expr(f"_n div {d}"))  # noqa: E731
    vrow = firsts.crossJoin(F.broadcast(nrow)).agg(
        *[
            F.sum((F.col("_first") < thr(d)).cast("long")).alias(f"_v{d}")
            for d in denoms
        ]
    )
    trow = (
        df.select(F.col(id_col).alias("_id"), token_count_expr(text_col).alias("_k"))
        .crossJoin(F.broadcast(nrow))
        .agg(
            *[
                F.sum(F.when(F.col("_id") < thr(d), F.col("_k")).otherwise(0))
                .cast("long").alias(f"_c{d}")
                for d in denoms
            ]
        )
    )
    grid = (
        vrow.crossJoin(trow)
        .crossJoin(nrow)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("long").alias("denom"),
                            thr(d).alias("n_prefix_docs"),
                            F.col(f"_c{d}").alias("cum_tokens"),
                            F.col(f"_v{d}").alias("vocab"),
                        )
                        for d in denoms
                    ]
                )
            ).alias("_g")
        )
        .select("_g.*")
        .filter((F.col("cum_tokens") > 0) & (F.col("vocab") > 0))
    )
    # the <= n_points-row grid feeds BOTH the fit agg and the output
    # rows: persist so the corpus aggregates behind it run once
    from webloghunter_spark.session import materialize

    grid = materialize(grid)
    x = F.log(F.col("cum_tokens").cast("double"))
    y = F.log(F.col("vocab").cast("double"))
    # stored-value grid, not F.round (similarity.py:45)
    nano = lambda c: grid_round_expr(c * 1e9, 0).cast("long")  # noqa: E731
    s = grid.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.coalesce(F.sum(nano(x)), F.lit(0)).alias("sx"),
        F.coalesce(F.sum(nano(y)), F.lit(0)).alias("sy"),
        F.coalesce(F.sum(nano(x * x)), F.lit(0)).alias("sxx"),
        F.coalesce(F.sum(nano(x * y)), F.lit(0)).alias("sxy"),
    )
    k = F.col("k").cast("double")
    sx = F.col("sx") / 1e9
    sy = F.col("sy") / 1e9
    sxx = F.col("sxx") / 1e9
    sxy = F.col("sxy") / 1e9
    den = k * sxx - sx * sx
    beta = (k * sxy - sx * sy) / den
    logk = (sy - beta * sx) / k
    micro = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    fit = s.select(
        F.when(den > 0, micro(beta)).otherwise(F.lit(0)).cast("long")
        .alias("beta_micro"),
        F.when(den > 0, micro(logk)).otherwise(F.lit(0)).cast("long")
        .alias("logk_micro"),
    )
    return grid.crossJoin(F.broadcast(fit)).orderBy(F.col("denom").desc())


def effective_data(
    df: DataFrame,
    epochs_grid: tuple[int, ...] = (1, 2, 4, 8, 16, 32),
    rstar: float = 15.39,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Data-constrained scaling audit (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): per source, the
    EFFECTIVE token count of training `epochs` passes over its unique
    data — D' = U + U * R* * (1 - exp(-(epochs-1)/R*)) with the
    paper's fitted R* ~ 15.4 — and the efficiency (effective /
    nominal) in basis points. The planning table behind "is a 4th
    epoch of source X still worth anything": efficiency decays from
    10000 bp at 1 epoch toward R*/epochs as repetition stops adding
    signal.

    U is unique tokens: the exact-dedup fingerprint (fingerprint_expr
    — md5 of normalized text, the dedup_exact key) collapses repeats
    WITHIN the source before counting; ntok ties across a (freak) md5
    collision resolve by MIN, keeping the aggregate deterministic.

    Scale shape: one (group, fingerprint) combinable aggregate — ids
    and counts move, never text bodies beyond the md5 map stage —
    then a |sources|-row frame cross-joined with the |grid| epochs
    dim. The exp() decay factors are computed DRIVER-SIDE with libm
    (|grid| values, == a SQL engine's exp bit-for-bit) and injected
    as literals, so no engine-specific transcendental runs per row.

    Output: (source, epochs, unique_tokens, effective_tokens,
    efficiency_bp); effective_tokens = floor(D' + 0.5).
    """
    import math

    if rstar <= 0:
        raise ValueError(f"rstar must be > 0, got {rstar}")
    if not epochs_grid or any(e < 1 for e in epochs_grid):
        raise ValueError(f"epochs_grid must be >= 1, got {epochs_grid}")
    from webloghunter_spark.functions.text import fingerprint_expr

    uniq = (
        df.select(
            F.col(group_col).alias("source"),
            fingerprint_expr(text_col).alias("_fp"),
            token_count_expr(text_col).alias("_k"),
        )
        .groupBy("source", "_fp")
        .agg(F.min("_k").alias("_mk"))
        .groupBy("source")
        .agg(F.sum("_mk").cast("long").alias("unique_tokens"))
    )
    spark = df.sparkSession
    grid = spark.createDataFrame(
        [(int(e), math.exp((1 - int(e)) / rstar)) for e in sorted(set(epochs_grid))],
        "epochs long, _decay double",
    )
    u_d = F.col("unique_tokens").cast("double")
    eff = u_d + u_d * F.lit(rstar) * (F.lit(1.0) - F.col("_decay"))
    nominal = u_d * F.col("epochs").cast("double")
    return uniq.crossJoin(F.broadcast(grid)).select(
        "source",
        "epochs",
        "unique_tokens",
        F.floor(eff + F.lit(0.5)).cast("long").alias("effective_tokens"),
        F.when(
            F.col("unique_tokens") > 0,
            F.floor(eff / nominal * F.lit(10000.0) + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0)).alias("efficiency_bp"),
    )


def tail_index(
    df: DataFrame, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Hill estimator of the token-frequency tail index over the top-k
    types: alpha = 1 / ((1/k) * sum_{i<=k} ln(f_i) - ln(f_{k+1})).
    The heavy-tail companion to zipf_fit: zipf fits the WHOLE log-log
    curve by OLS, Hill reads only the extreme tail — a templated
    corpus (truncated tail) runs a large alpha, natural text runs
    alpha ~ 1-2. Requires at least k+1 distinct types; returns 0 rows
    otherwise (no tail to estimate).

    Scale shape: one combinable type count + a bounded top-(k+1)
    (TakeOrderedAndProject); the per-term ln(f_i) values are
    quantized to the 1e-9 grid and integer-summed over the <= k-row
    frame (zipf_fit's engine-exact, order-free form); ln(f_{k+1})
    enters once from the single threshold row.

    Output: ONE row (k_used, f_threshold, h_nano, alpha_micro).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window as W

    counts = (
        df.select(F.explode(tokens_expr(text_col)).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    top = counts.orderBy(F.col("_n").desc(), F.col("_tok")).limit(k + 1)
    ranked = top.select(
        F.row_number()
        .over(W.orderBy(F.col("_n").desc(), F.col("_tok")))
        .alias("_r"),
        F.col("_n"),
    )
    from webloghunter_spark.session import materialize

    ranked = materialize(ranked)
    # stored-value grid, not F.round (similarity.py:45)
    nano = lambda c: grid_round_expr(c * 1e9, 0).cast("long")  # noqa: E731
    s = ranked.filter(F.col("_r") <= k).agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.coalesce(F.sum(nano(F.log(F.col("_n").cast("double")))), F.lit(0))
        .alias("s_ln"),
    )
    thr = ranked.filter(F.col("_r") == k + 1).select(
        F.col("_n").cast("long").alias("f_threshold")
    )
    kd = F.col("k_used").cast("double")
    h = (F.col("s_ln") / 1e9) / kd - F.log(F.col("f_threshold").cast("double"))
    micro = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    return s.crossJoin(thr).select(
        "k_used",
        "f_threshold",
        nano(h).alias("h_nano"),
        F.when(h > 0, micro(F.lit(1.0) / h)).otherwise(F.lit(0))
        .alias("alpha_micro"),
    )


def len_quantiles(
    df: DataFrame,
    qs_bp: tuple[int, ...] = (1000, 5000, 9000),
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Exact per-source document-length (token-count) quantiles — the
    sequence-length planning input: p10/p50/p90 per source decide the
    packing context length and flag length-skewed sources (a p90 far
    above the pack budget means heavy truncation for that source).

    Quantile semantics (engine-portable, no interpolation): for
    quantile q over n docs, rank = ceil(q * n) clamped to >= 1, and
    the value is the SMALLEST ntok whose cumulative count reaches the
    rank (the lower-nearest-rank / "disc" definition, exact integer
    arithmetic: rank = (q_bp * n + 9999) div 10000).

    Scale shape: the value_quantiles histogram discipline applied per
    group — one combinable (source, ntok) count aggregate (the only
    corpus-sized exchange; ntok has FAR fewer distinct values than
    docs), then a cumulative-count window over each source's compact
    histogram rows — the ordered walk runs over |distinct lengths|
    per source, never the corpus.

    Output: one row per (source, q_bp): (source, q_bp, n_docs, ntok).
    """
    if not qs_bp or any(not (0 < q <= 10000) for q in qs_bp):
        raise ValueError(f"qs_bp must be in (0, 10000], got {qs_bp}")
    return _len_quantiles_finalize(
        _len_quantiles_partial(df, text_col, group_col), qs_bp
    )


def _len_quantiles_partial(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """(source, _k, _c) length histogram: len_quantiles' combinable
    half; partials merge by sum."""
    return (
        df.select(
            F.col(group_col).alias("source"),
            token_count_expr(text_col).alias("_k"),
        )
        .groupBy("source", "_k")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def _len_quantiles_finalize(
    hist: DataFrame, qs_bp: tuple[int, ...]
) -> DataFrame:
    """The nearest-rank walk over each source's length histogram."""
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy("_k")
    cum = hist.withColumn(
        "_cum", F.sum("_c").over(w)
    ).withColumn(
        "_n", F.sum("_c").over(W.partitionBy("source"))
    )
    qrows = F.explode(
        F.array(*[F.lit(int(q)).cast("long") for q in sorted(qs_bp)])
    ).alias("q_bp")
    expanded = cum.select("source", "_k", "_cum", "_n", qrows)
    rank = F.expr("(q_bp * _n + 9999) div 10000")
    hit = expanded.filter(F.col("_cum") >= F.greatest(rank, F.lit(1).cast("long")))
    return (
        hit.groupBy("source", "q_bp")
        .agg(
            F.min("_n").cast("long").alias("n_docs"),
            F.min("_k").cast("long").alias("ntok"),
        )
        .select("source", "q_bp", "n_docs", "ntok")
    )
