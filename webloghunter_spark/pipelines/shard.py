"""Deterministic training-shard assignment + order-free manifests.

The last step of a pretraining data pipeline is a global shuffle into
N shards that trainers stream independently. Spark's `repartition(N)`
is round-robin over an arbitrary task layout — re-running the job
moves rows. This module shards by md5 of the id (the same engine-
portable hash family as pipelines/split), so shard membership is a
pure function of the id: adding data never moves an existing row, two
engines agree, and a resume after partial failure rewrites identical
shards.

The manifest digests each shard WITHOUT collecting its members:
`bit_xor` of a per-row 63-bit md5 prefix is commutative/associative —
a map-side-combinable aggregate whose result is independent of row
order and partitioning. At 100 TB the manifest is one shuffle of
N x partitions partial cells; a sorted-concat digest (collect_list +
md5) would move every id to one reducer per shard and depend on sort
stability. Verifying a delivered shard = recompute xor over what
arrived, compare one number.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shard_expr(id_col: Column | str, n_shards: int, salt: str = "") -> Column:
    """Stable shard in [0, n_shards) from md5 of the id (+ salt)."""
    if n_shards <= 0:
        # non-ANSI `% 0` yields NULL silently — every row would land
        # in one NULL-shard partition instead of failing loudly
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")


def _row_digest(id_col: Column | str, salt: str = "") -> Column:
    """63-bit per-row digest (md5 first 15 hex digits -> BIGINT, always
    non-negative) fed to the xor aggregate. 15 digits keep the value
    inside the positive BIGINT range in every engine."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


def shard_manifest(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str | None = "text",
    salt: str = "",
) -> DataFrame:
    """(shard_id, n_docs, n_tokens, xor_digest) per shard — the
    audit row a trainer checks before consuming a shard. n_tokens is
    whitespace-token count when `text_col` is given (else 0); the
    digest is order-free (bit_xor of per-id 63-bit md5 prefixes), so
    any engine computing it over the same membership agrees."""
    from webloghunter_spark.functions.text import token_count_expr

    ntok = (
        token_count_expr(text_col) if text_col is not None else F.lit(0)
    )
    return (
        df.select(
            shard_expr(id_col, n_shards, salt).alias("shard_id"),
            ntok.alias("_ntok"),
            _row_digest(id_col, salt).alias("_dig"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("n_tokens"),
            F.bit_xor("_dig").alias("xor_digest"),
        )
    )


def order_key_expr(id_col: Column | str, seed: str) -> Column:
    """The seeded interleave key: md5(seed || '|' || id). A pure
    function of (seed, id), so any engine re-derives the identical
    global order; changing the seed reshuffles everything."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat(F.lit(seed), F.lit("|"), c.cast("string")))


def shard_from_key_expr(key: Column, n_shards: int) -> Column:
    """Shard id from an order key's leading 8 hex chars — the ONE
    md5-prefix derivation train_order / train_order_manifest /
    curriculum_order share (change the hash family here, nowhere
    else, or shard assignments silently de-synchronize)."""
    return (
        F.conv(F.substring(key, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")


def train_order(
    df: DataFrame,
    n_shards: int = 16,
    seed: str = "train",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Seeded deterministic global training order — the step between
    curation and the data loader: every document gets a shard and a
    0-based position within it, both pure functions of (seed, id).
    The md5 key interleaves sources uniformly (a sorted-by-source
    corpus comes out source-mixed, which is what a training loop
    needs), re-running the job reproduces the identical order, and a
    different seed is a fresh epoch-level shuffle. Returns
    (shard_id, position, doc_id).

    Scale: one shuffle — the row_number window partitioned by
    shard_id IS repartition-by-shard + sort-within-partition on the
    16-byte key; no global sort, no driver state. Shard sizes are
    md5-uniform, so no skew salting is needed; pick n_shards so a
    shard's (key, id) pairs sort within one executor's memory
    (n_shards ~ corpus/shard-budget, same sizing rule as
    write_training_shards).

    `carry_cols` rides extra attributes (source, token counts ...)
    through the order so downstream consumers — interleave_audit,
    shard writers — don't pay a corpus-scale self-join to get them
    back."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    from pyspark.sql import Window as W

    key = order_key_expr(id_col, seed)
    shard = shard_from_key_expr(key, n_shards)
    w = W.partitionBy("shard_id").orderBy("_k", id_col)
    return (
        df.select(
            shard.alias("shard_id"),
            key.alias("_k"),
            F.col(id_col),
            *[F.col(c) for c in carry_cols],
        )
        .withColumn("position", (F.row_number().over(w) - 1).cast("long"))
        .select("shard_id", "position", id_col, *carry_cols)
    )


def train_order_manifest(
    df: DataFrame,
    n_shards: int = 16,
    seed: str = "train",
    id_col: str = "doc_id",
    text_col: str | None = "text",
) -> DataFrame:
    """Per-shard audit rows for a train_order run: (shard_id, n_docs,
    n_tokens, order_digest) where order_digest is bit_xor over per-row
    63-bit md5 prefixes of 'id@position' — order-free to COMPUTE
    (map-side-combinable, no per-shard sort at verification time) yet
    it pins the exact ORDER, because position is baked into each
    digest: any permutation of assignments changes some 'id@position'
    string and so the xor. A consumer re-derives positions from
    (seed, id) alone and verifies a delivered shard with one number."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    from pyspark.sql import Window as W

    from webloghunter_spark.functions.text import token_count_expr

    key = order_key_expr(id_col, seed)
    shard = shard_from_key_expr(key, n_shards)
    ntok = (
        token_count_expr(text_col) if text_col is not None else F.lit(0)
    )
    w = W.partitionBy("shard_id").orderBy("_k", id_col)
    ordered = (
        df.select(
            shard.alias("shard_id"),
            key.alias("_k"),
            F.col(id_col),
            ntok.cast("long").alias("_ntok"),
        )
        .withColumn("position", (F.row_number().over(w) - 1).cast("long"))
    )
    dig = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit("@"),
                    F.col("position").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        ordered.withColumn("_dig", dig)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("n_tokens"),
            F.bit_xor("_dig").alias("order_digest"),
        )
    )


def curriculum_order(
    df: DataFrame,
    score_col: Column | str = "quality_bp",
    stages: int = 4,
    n_shards: int = 16,
    seed: str = "curr",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum training order (Bengio et al. 2009 easy-first
    scheduling, the staged variant production LM pipelines use):
    documents bin into difficulty STAGES by a 0-10000 integer score
    (stage 0 = easiest = highest score, fixed-width bins on the bp
    grid — pure integer arithmetic, so any engine re-derives the
    stage), and WITHIN each stage the order is train_order's seeded
    md5 interleave (score-sorted batches are degenerate; the shuffle
    restores iid-ness inside a stage). A loader consumes stage 0's
    shards, then stage 1's, ... Returns
    (stage, shard_id, position, id, score) — position is 0-based
    within (stage, shard).

    Scale: identical exchange shape to train_order — ONE shuffle, the
    row_number window partitioned by (stage, shard_id) IS
    repartition + sort-within-partition on the 16-byte key; stages
    multiply the partition count, never a partition's size, and the
    md5 key keeps per-(stage, shard) volumes uniform (stage sizes
    follow the score distribution; shards within a stage are even).
    """
    if stages <= 0:
        raise ValueError(f"stages must be > 0, got {stages}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    from pyspark.sql import Window as W

    score = F.col(score_col) if isinstance(score_col, str) else score_col
    key = order_key_expr(id_col, seed)
    shard = shard_from_key_expr(key, n_shards)
    w = W.partitionBy("stage", "shard_id").orderBy("_k", id_col)
    return (
        df.select(
            F.col(id_col),
            score.cast("long").alias("score"),
            key.alias("_k"),
            shard.alias("shard_id"),
        )
        # fixed-width bins over the inclusive 0-10000 grid: 10001
        # distinct scores over `stages` bins, integer `div` end to
        # end; out-of-domain scores clamp to the edge stages rather
        # than indexing outside [0, stages)
        .withColumn(
            "stage",
            F.expr(
                f"least({int(stages) - 1}, greatest(0,"
                f" ((10000 - score) * {int(stages)}) div 10001))"
            ).cast("int"),
        )
        .withColumn("position", (F.row_number().over(w) - 1).cast("long"))
        .select("stage", "shard_id", "position", id_col, "score")
    )


def write_training_order(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    seed: str = "train",
    id_col: str = "doc_id",
) -> None:
    """Land the corpus as shard_id=K/ parquet partitions whose ROW
    ORDER is the seeded training order (train_order's position) — the
    layout a data loader streams without any sort of its own. One
    shuffle: repartition on shard_id + sort-within-partition on
    position (exactly the exchange train_order already pays; the
    writer preserves the sorted task order into the files). Pair with
    `train_order_manifest` (same seed/n_shards) to verify delivery —
    the consumer re-derives positions from (seed, id) and checks one
    xor per shard."""
    ordered = train_order(df, n_shards=n_shards, seed=seed, id_col=id_col)
    out = ordered.join(df, id_col)
    (
        # sort by (shard_id, position): the dynamic-partition writer
        # re-sorts any input NOT already clustered by the partition
        # column (non-stable — it scrambled a position-only sort), but
        # detects this prefix-sorted input and writes it through
        # unchanged, so file row order IS the training order
        out.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "position")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 16,
    id_col: str = "doc_id",
    salt: str = "",
) -> None:
    """Land the corpus as shard_id=K/ parquet partitions: one shuffle
    on the shard expr, partition-pruned reads per trainer. Pair with
    `shard_manifest` (same id/salt) to verify delivery."""
    (
        df.withColumn("shard_id", shard_expr(id_col, n_shards, salt))
        .repartition(n_shards, "shard_id")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def epoch_order(
    df: DataFrame,
    group_col: str = "source",
    alpha: float = 0.7,
    max_epochs: int = 4,
    n_shards: int = 8,
    seed: str = "train",
    id_col: str = "doc_id",
    ntok_col: Column | str | None = None,
) -> DataFrame:
    """The COMPLETE multi-epoch training order — upsample_epochs'
    repetition plan realized as loader-ready positions: every
    (document, epoch) instance gets a shard and 0-based position
    within (epoch, shard), epoch-major (a loader finishes epoch e
    before e+1 — repeating a doc within one epoch would be the
    repetition plan done wrong) and with a FRESH seeded interleave
    per epoch (key = md5(seed|epoch|id): epoch 1 is not a replay of
    epoch 0's order, which is what SGD wants from re-shuffled
    epochs). Returns (epoch, shard_id, position, id, group).

    Scale: upsample_epochs' broadcast plan join + bounded explode,
    then ONE shuffle — the row_number window partitioned by (epoch,
    shard) IS repartition + sort-within-partition on the 16-byte key
    (train_order's exchange, partition count x epochs, partition
    SIZE unchanged)."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    from pyspark.sql import Window as W

    from webloghunter_spark.pipelines.split import upsample_epochs

    # ntok_col passes through so a plan fit on a real tokenizer's
    # counts is realized by the SAME plan here (a whitespace-count
    # default would silently re-derive a different mix)
    up = upsample_epochs(
        df, group_col=group_col, alpha=alpha, max_epochs=max_epochs,
        ntok_col=ntok_col, id_col=id_col,
    )
    key = F.md5(
        F.concat(
            F.lit(seed),
            F.lit("|"),
            F.col("epoch").cast("string"),
            F.lit("|"),
            F.col(id_col).cast("string"),
        )
    )
    w = W.partitionBy("epoch", "shard_id").orderBy("_k", id_col)
    return (
        up.select(
            "epoch",
            F.col(id_col),
            F.col(group_col).alias("grp"),
            key.alias("_k"),
            shard_from_key_expr(key, n_shards).alias("shard_id"),
        )
        .withColumn("position", (F.row_number().over(w) - 1).cast("long"))
        .select(
            "epoch",
            "shard_id",
            "position",
            id_col,
            F.col("grp").alias(group_col),
        )
    )


def interleave_audit(
    ordered: DataFrame,
    group_col: str = "source",
    shard_col: str = "shard_id",
    pos_col: str = "position",
) -> DataFrame:
    """Mixing-quality audit of a training order — did the interleave
    actually mix the sources? A sorted-by-source corpus fed straight
    to a loader trains on megatokens of one distribution at a time;
    this measures the damage instead of assuming the shuffle worked.

    Per shard: n_rows, n_runs (maximal same-group runs), n_adj_same
    (adjacent positions with the same group = n_rows - n_runs),
    max_run, same_bp (adjacent-same rate in basis points, NULL for
    1-row shards) — plus the corpus-wide expected_same_bp under a
    perfectly random order without replacement, sum c_g(c_g-1)/N(N-1)
    in basis points, so same_bp >> expected_same_bp flags a broken
    interleave. All basis points are exact integer round-half-up
    ((x*20000 + den) div (2*den)); the expectation runs in
    decimal(38,0) so N(N-1) cannot overflow a 64-bit long at
    100 TB-scale row counts.

    Scale: one exchange on shard_id feeds both window passes (lag
    flag, then the running sum sharing the same partitioning); run
    lengths and the per-shard rollup are combinable aggregates over
    |runs| <= |rows| intermediate rows; the expectation is a
    |groups|-row aggregate broadcast back as a single row. No UDF,
    no driver state beyond the one expectation row."""
    from pyspark.sql import Window as W

    g = F.col(group_col)
    w = W.partitionBy(shard_col).orderBy(pos_col)
    new_run = F.when(F.lag(pos_col).over(w).isNull(), F.lit(1)).otherwise(
        (~g.eqNullSafe(F.lag(g).over(w))).cast("int")
    )
    flagged = ordered.select(
        F.col(shard_col), F.col(pos_col), new_run.alias("_nr")
    )
    wrun = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    runs = (
        flagged.withColumn("_run", F.sum("_nr").over(wrun))
        .groupBy(shard_col, "_run")
        .agg(F.count(F.lit(1)).alias("_len"))
    )
    per_shard = runs.groupBy(shard_col).agg(
        F.sum("_len").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("_len").cast("long").alias("max_run"),
    )
    grp = ordered.groupBy(group_col).agg(F.count(F.lit(1)).alias("_c"))
    dec = F.col("_c").cast("decimal(38,0)")
    expected = grp.agg(
        F.sum(dec * (dec - 1)).alias("_num"), F.sum(dec).alias("_n")
    ).select(
        F.expr(
            "CASE WHEN _n > 1 THEN (_num * 20000 + _n * (_n - 1))"
            " div (2 * _n * (_n - 1)) ELSE NULL END"
        )
        .cast("long")
        .alias("expected_same_bp")
    )
    return per_shard.crossJoin(F.broadcast(expected)).select(
        shard_col,
        "n_rows",
        "n_runs",
        (F.col("n_rows") - F.col("n_runs")).cast("long").alias("n_adj_same"),
        "max_run",
        F.expr(
            "CASE WHEN n_rows > 1 THEN ((n_rows - n_runs) * 20000"
            " + (n_rows - 1)) div (2 * (n_rows - 1)) ELSE NULL END"
        )
        .cast("long")
        .alias("same_bp"),
        "expected_same_bp",
    )


def shard_balance(
    df: DataFrame,
    n_shards: int = 16,
    seed: str = "train",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-shard load-balance audit of a train_order assignment — the
    check a data-loader deployment runs before pinning shard-to-worker
    placement: md5 shards are uniform in DOC count by construction,
    but TOKEN load (what actually bounds a training step) can still
    skew when document lengths are heavy-tailed. Returns one row per
    shard: (shard_id, n_docs, n_tokens, token_share_bp, dev_bp) —
    token_share_bp = this shard's token share, dev_bp = |share -
    1/n_shards| relative to the ideal, both on the exact integer
    cross-multiply grid (dev numerator |tokens*n - total| over
    total*n).

    Scale: ONE map-side-combinable (shard) aggregate over a codegen'd
    shard-assignment projection — no window, no order key sort (the
    order itself is irrelevant to balance); the share/deviation math
    runs on the |shards|-row result against a broadcast-total window
    over those same rows."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be > 0, got {n_shards}")
    return _shard_balance_finalize(
        _shard_balance_partial(df, n_shards, seed, id_col, text_col),
        n_shards,
    )


def _shard_balance_partial(
    df: DataFrame, n_shards: int, seed: str, id_col: str, text_col: str
) -> DataFrame:
    """(shard_id, n_docs, n_tokens): shard_balance's combinable half;
    partials merge by sum."""
    from webloghunter_spark.functions.text import token_count_expr

    shard = shard_from_key_expr(order_key_expr(id_col, seed), n_shards)
    return (
        df.select(
            shard.alias("shard_id"),
            token_count_expr(text_col).cast("long").alias("_ntok"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_ntok").alias("n_tokens"),
        )
    )


def _shard_balance_finalize(per: DataFrame, n_shards: int) -> DataFrame:
    """Token shares and deviations from the per-shard partial frame."""
    from pyspark.sql import Window as W

    total = F.sum("n_tokens").over(W.partitionBy())
    n = int(n_shards)
    return per.select(
        "shard_id",
        "n_docs",
        "n_tokens",
        total.alias("_tot"),
    ).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        F.when(
            F.col("_tot") > 0,
            F.expr("(n_tokens * 20000 + _tot) div (2 * _tot)"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("token_share_bp"),
        F.when(
            F.col("_tot") > 0,
            F.expr(
                f"(abs(n_tokens * {n} - _tot) * 20000 + _tot * {n}) "
                f"div (2 * _tot * {n})"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dev_bp"),
    )


def boundary_leakage(
    df: DataFrame,
    n_shards: int = 16,
    seed: str = "train",
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adjacent-document n-gram overlap in the seeded training order —
    the in-batch leakage audit: two near-duplicate docs landing next
    to each other in a shard poison in-batch negatives (contrastive
    training) and inflate short-range memorization. For every
    within-shard adjacent pair (position p, p+1) the operator reports
    the shingle-set overlap as an exact integer Jaccard in basis
    points ((inter * 10000) div union — no float anywhere).

    Scale shape: the shingle sets are DISTINCT token k-gram arrays
    computed in the map stage BEFORE train_order's one shuffle and
    carried through it (carry_cols), so the adjacency self-join on
    (shard_id, position+1) is equi-join co-partitioned on shard_id —
    a shuffle of hashed-shingle arrays, never raw text twice. Every
    doc joins at most one successor; output is |docs| minus the
    number of NON-EMPTY shards (= |docs| - |shards| only when every
    shard drew at least one doc — small corpora or n_shards > |docs|
    leave some shards empty).

    Output: (shard_id, position, id_a, id_b, n_inter, n_union,
    jaccard_bp) where position is the LEFT doc's slot.
    """
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    # deliberately NOT migrated to hashed postings (round-13 wave 5
    # measured it): each gram here is intersected ~once (adjacent
    # pairs only), so the md5 pass costs more than the narrower
    # sort/intersect saves — 0.6 -> 6.5 s at sf0.1, 2.5 -> 6.5 s at
    # the 32x control. Posting compression pays where grams move
    # through MANY pair compares (jaccard/containment families).
    from webloghunter_spark.functions.text import shingles_expr

    pre = df.select(
        F.col(id_col),
        F.array_distinct(shingles_expr(text_col, shingle_k)).alias("_s"),
    )
    ordered = train_order(
        pre, n_shards=n_shards, seed=seed, id_col=id_col, carry_cols=("_s",)
    )
    # adjacency via lead() over the SAME shard partitioning train_order
    # just established — no self-join, no second exchange of the
    # shingle arrays (measured 7.1x -> flatter at the 32x probe)
    from pyspark.sql import Window as W

    w = W.partitionBy("shard_id").orderBy("position")
    joined = (
        ordered.select(
            F.col("shard_id"),
            F.col("position"),
            F.col(id_col).alias("id_a"),
            F.col("_s").alias("_sa"),
        )
        .withColumn("id_b", F.lead("id_a").over(w))
        .withColumn("_sb", F.lead("_sa").over(w))
        .filter(F.col("id_b").isNotNull())
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    uni = F.size("_sa") + F.size("_sb") - inter
    base = joined.select(
        "shard_id",
        "position",
        "id_a",
        "id_b",
        inter.cast("long").alias("n_inter"),
        uni.cast("long").alias("n_union"),
    )
    return base.withColumn(
        "jaccard_bp",
        F.when(
            F.col("n_union") > 0, F.expr("(n_inter * 10000) div n_union")
        ).otherwise(F.lit(0)).cast("long"),
    )


def batch_leakage(
    df: DataFrame,
    batch_size: int = 8,
    n_shards: int = 16,
    seed: str = "train",
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ALL-pairs n-gram overlap within a `batch_size`-row window of
    the seeded training order — the general in-batch leakage audit
    boundary_leakage's adjacency form documents as its gap: in-batch
    contrastive training (and in-batch-negative ranking losses) cares
    about ANY two near-duplicate docs landing in the same batch of B
    rows, not just rank-adjacent ones. The sliding-window form (every
    pair at rank distance 1..B-1 within a shard) covers every
    possible block alignment a loader could cut, so it is the
    loader-agnostic guarantee; `batch_size=2` IS boundary_leakage
    (asserted in tests).

    Output: (shard_id, pos_a, pos_b, dist, id_a, id_b, n_inter,
    n_union, jaccard_bp) — one row per in-window pair, Jaccard as
    exact integer basis points ((inter * 10000) div union).

    Scale shape: shingle arrays are computed BEFORE train_order's one
    shuffle and carried through it (carry_cols), then the ordered
    frame is materialized and self-joined. The join key is
    (shard_id, position div B) with the RIGHT side exploded into its
    own and the previous bucket — any pair at distance < B shares
    exactly one of those two keys, so the join is a co-partitioned
    equi-join emitting <= 2B candidate rows per doc and B·N pairs
    after the distance filter. Joining on shard_id alone would be
    |shard|² per shard — quadratic in corpus size at fixed n_shards —
    which is exactly the blow-up the bucket key removes; n_shards
    still only needs to keep a shard's (key, id) pairs sortable in
    one executor (train_order's rule), not to bound the pair join.
    batch_size is capped at 1024: pair volume is B·N rows, linear in
    the corpus but linear in B too — an uncapped B silently turns the
    audit quadratic-in-window.
    """
    if not 2 <= batch_size <= 1024:
        raise ValueError(
            f"batch_size must be in [2, 1024], got {batch_size}"
        )
    if shingle_k < 1:
        raise ValueError(f"shingle_k must be >= 1, got {shingle_k}")
    # string shingles kept — boundary_leakage's measured rationale
    # (B-1 intersects per gram was break-even at the 32x control;
    # the md5 pass eats the narrower-shuffle win)
    from webloghunter_spark.functions.text import shingles_expr
    from webloghunter_spark.session import materialize

    pre = df.select(
        F.col(id_col),
        F.array_distinct(shingles_expr(text_col, shingle_k)).alias("_s"),
    )
    ordered = materialize(
        train_order(
            pre, n_shards=n_shards, seed=seed, id_col=id_col,
            carry_cols=("_s",),
        )
    )
    bsz = F.lit(int(batch_size))
    left = ordered.select(
        F.col("shard_id"),
        F.col("position").alias("pos_a"),
        F.col(id_col).alias("id_a"),
        F.col("_s").alias("_sa"),
        F.expr(f"position div {int(batch_size)}").alias("_bucket"),
    )
    right = ordered.select(
        F.col("shard_id"),
        F.col("position").alias("pos_b"),
        F.col(id_col).alias("id_b"),
        F.col("_s").alias("_sb"),
        F.explode(
            F.array(
                F.expr(f"position div {int(batch_size)}"),
                F.expr(f"position div {int(batch_size)} - 1"),
            )
        ).alias("_bucket"),
    )
    joined = left.join(right, ["shard_id", "_bucket"]).filter(
        (F.col("pos_b") > F.col("pos_a"))
        & (F.col("pos_b") - F.col("pos_a") <= bsz - 1)
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    uni = F.size("_sa") + F.size("_sb") - inter
    base = joined.select(
        "shard_id",
        "pos_a",
        "pos_b",
        (F.col("pos_b") - F.col("pos_a")).cast("long").alias("dist"),
        "id_a",
        "id_b",
        inter.cast("long").alias("n_inter"),
        uni.cast("long").alias("n_union"),
    )
    return base.withColumn(
        "jaccard_bp",
        F.when(
            F.col("n_union") > 0, F.expr("(n_inter * 10000) div n_union")
        ).otherwise(F.lit(0)).cast("long"),
    )
