"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

Standard training-data hygiene (GPT-3 appendix C, Llama 2 §A.6 use
8–13-gram overlap): any train document containing an n-gram that also
appears in the eval set is "contaminated" and dropped (or audited)
before training.

Scale shape (the only one that survives 100 TB of train text):
- The eval side is SMALL (benchmarks are thousands of documents).
  Shingle it, `distinct` it, and BROADCAST the distinct shingle set.
- The train side is the 100 TB: tokenize + shingle in a single
  projection (no shuffle), then a broadcast-hash SEMI join against the
  eval shingles — map-side, no train-side shuffle at all.
- The per-doc hit count is one groupBy(doc_id) — map-side combinable,
  and the join's output (only matching shingles) is tiny relative to
  the corpus, so the shuffle is bounded by contamination volume, not
  corpus volume.

No counterpart in the reference repo (it has no corpus tooling);
tokenization matches functions/text.py:tokens_expr so fingerprints,
jaccard and decontamination all agree on token boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.text import shingles_expr


def _doc_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, shingle) pairs, distinct per document."""
    return (
        df.select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_expr(text_col, n))
            ).alias("_gram"),
        )
    )


def eval_shingle_set(
    eval_df: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Distinct n-gram shingles of the eval/benchmark corpus — the
    (small) side that gets broadcast."""
    return (
        eval_df.select(
            F.explode(shingles_expr(text_col, n)).alias("_gram")
        ).distinct()
    )


def contaminated_docs(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """(id_col, n_hits) for every train document sharing >=1 n-gram
    with the eval set; n_hits = number of DISTINCT overlapping grams.

    Documents with no overlap do not appear (join is inner) — compose
    with `decontaminate` for the filtered corpus.

    `eval_grams` supplies a precomputed `eval_shingle_set` result (the
    streaming twin persists it once and reuses it across micro-batches
    instead of re-shingling the eval corpus per batch).
    """
    if eval_grams is None:
        if eval_df is None:
            raise ValueError("need eval_df or eval_grams")
        eval_grams = eval_shingle_set(eval_df, text_col, n)
    hits = _doc_shingles(train, id_col, text_col, n).join(
        F.broadcast(eval_grams), "_gram", "inner"
    )
    return hits.groupBy(id_col).agg(F.count("*").alias("n_hits"))


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Train corpus with contaminated documents removed (left-anti join
    against the contaminated id list — the same bounded-shuffle shape
    as near_dedup's drop list)."""
    bad = contaminated_docs(
        train, eval_df, id_col, text_col, n, eval_grams
    ).select(id_col)
    return train.join(bad, id_col, "left_anti")


def contamination_spans(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """(id, n_pos_hits, max_run) for every contaminated train doc:
    how MUCH of the document is contaminated, not just whether.
    n_pos_hits counts contaminated n-gram POSITIONS (contaminated_docs
    counts distinct grams); max_run is the longest run of consecutive
    contaminated positions — a max_run near ntok-n+1 means the doc IS
    the benchmark item (drop it), a short run means an incidental
    quote (maybe keep it). The per-doc triage signal GPT-3's appendix
    C-style decontamination needs before choosing drop-vs-redact.

    Shape: positional shingle explode (no distinct — position
    matters), broadcast semi-join against the eval gram set, then the
    classic gap-and-island trick (pos - row_number = run key) with a
    per-doc window — the ordered scan covers one document's HIT
    positions only, bounded by contamination volume, not corpus."""
    from pyspark.sql import Window

    if eval_grams is None:
        if eval_df is None:
            raise ValueError("need eval_df or eval_grams")
        eval_grams = eval_shingle_set(eval_df, text_col, n)
    pos = train.select(
        F.col(id_col),
        F.posexplode(shingles_expr(text_col, n)).alias("_pos", "_gram"),
    )
    hits = pos.join(F.broadcast(eval_grams), "_gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("_pos")
    runs = hits.withColumn("_grp", F.col("_pos") - F.row_number().over(w))
    return (
        runs.groupBy(id_col, "_grp")
        .agg(F.count(F.lit(1)).alias("_len"))
        .groupBy(id_col)
        .agg(
            F.sum("_len").alias("n_pos_hits"),
            F.max("_len").alias("max_run"),
        )
    )


BLOOM_M = 1 << 16  # bloom-bit FLOOR (2048 32-bit words = 64 Kbit)
BLOOM_BITS_PER_GRAM = 12  # auto-sizing rule: ~12 bits/eval gram


def auto_bloom_m(n_eval_grams: int) -> int:
    """Filter size in bits for an eval set with `n_eval_grams` distinct
    shingles: BLOOM_BITS_PER_GRAM bits per gram (the 10-16 bits/gram
    rule SCALING.md derived from the 32x probe, where the fixed 64 Kbit
    default saturated and inflated the exact second pass 6.5x), rounded
    up to a whole 32-bit word, clamped below by the BLOOM_M floor.
    Pure integer arithmetic so any engine re-derives the same m."""
    want = BLOOM_BITS_PER_GRAM * max(int(n_eval_grams), 0)
    return max(BLOOM_M, 32 * -(-want // 32))


def _bloom_positions(
    gram: Column, k: int = 3, m: int = BLOOM_M
) -> list[Column]:
    """k md5-derived bit positions in [0, m) — seeded the
    repo-standard way (md5('i|gram')) so any engine re-derives them."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{i}|"), gram)), 1, 12),
            16,
            10,
        ).cast("long")
        % m
        for i in range(k)
    ]


def bloom_bits(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    k: int = 3,
    m: int = BLOOM_M,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """(word, bits) bloom filter over the eval shingle set: each gram
    sets k md5 bits; words aggregate with bit_or (commutative and
    map-side combinable, like the shard-manifest digests). m/32 rows
    at most, regardless of eval size — the broadcastable sketch that
    replaces shipping the full eval shingle set when a giant eval
    suite overflows broadcast (the scale note in this module's
    header). `eval_grams` short-circuits re-shingling when the caller
    already materialized `eval_shingle_set` (the auto-sizing path
    counts it first)."""
    grams = eval_grams if eval_grams is not None else eval_shingle_set(
        eval_df, text_col, n
    )
    pos = grams.select(
        F.explode(F.array(*_bloom_positions(F.col("_gram"), k, m))).alias("h")
    )
    # 32-bit words: DuckDB's << errors on 1 << 63 (BIGINT overflow)
    # where Spark wraps to the sign bit — bit 31 is safe in both
    return (
        pos.select(
            F.floor(F.col("h") / 32).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(h % 32 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_prefilter_audit(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    k: int = 3,
    m: int = BLOOM_M,
) -> DataFrame:
    """Per-doc audit of the bloom prefilter against exact membership:
    (id, n_grams, n_bloom_hits, n_exact_hits). n_bloom >= n_exact
    always (no false negatives by construction); the gap is the
    false-positive volume the exact second-pass join must absorb —
    THE number that decides whether the two-stage
    bloom-prefilter-then-exact-join decontamination pays off at
    100 TB. Probe side: distinct (doc, gram) pairs explode to k
    position probes, join the 2048-word bloom broadcast, a gram hits
    iff all k bits are set."""
    from webloghunter_spark.session import materialize

    tr = materialize(_doc_shingles(train, id_col, text_col, n))
    bloom = bloom_bits(eval_df, text_col, n, k, m)
    probes = tr.select(
        id_col,
        F.col("_gram"),
        F.posexplode(
            F.array(*_bloom_positions(F.col("_gram"), k, m))
        ).alias("_hi", "h"),
    )
    bits_set = (
        probes.select(
            id_col,
            "_gram",
            F.floor(F.col("h") / 32).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(h % 32 as int))").alias("m"),
        )
        .join(F.broadcast(bloom), "w", "left")
        .select(
            id_col,
            "_gram",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("m"))
                != 0
            ).cast("int").alias("_set"),
        )
        .groupBy(id_col, "_gram")
        .agg((F.sum("_set") == k).cast("int").alias("_bloom_hit"))
    )
    ev = eval_shingle_set(eval_df, text_col, n)
    exact = tr.join(
        ev.withColumnRenamed("_gram", "_g"),
        tr["_gram"] == F.col("_g"),
        "left_semi",
    ).select(id_col, "_gram").withColumn("_exact_hit", F.lit(1))
    return (
        bits_set.join(exact, [id_col, "_gram"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("_bloom_hit").alias("n_bloom_hits"),
            F.coalesce(F.sum("_exact_hit"), F.lit(0)).alias(
                "n_exact_hits"
            ),
        )
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    k: int = 3,
    m: int | None = None,
) -> DataFrame:
    """Two-stage decontamination: bloom prefilter, then the exact
    eval-gram join ONLY over bloom-candidate grams. Returns exactly
    `decontaminate`'s survivor set (blooms have no false negatives;
    the exact pass removes the false positives), but at 100 TB the
    exact join's probe side shrinks from every (doc, gram) pair to
    the bloom survivors — the filter is a small broadcast where the
    full eval shingle set may not broadcast at all. `bloom_audit`
    prices the FP volume this second pass absorbs.

    `m=None` (the default) AUTO-SIZES the filter from the eval-side
    distinct gram count via `auto_bloom_m` — one cheap count() on the
    SMALL side. The round-5 32x probe measured the old fixed 64 Kbit
    default saturating (FP volume inflated the exact pass to 6.5x
    wall; a right-sized filter restored 8.4 s with identical
    survivors), so static sizing is opt-in, not default. The survivor
    set is invariant to m (test-pinned), so auto-sizing cannot change
    results — only the FP volume the exact pass absorbs."""
    from webloghunter_spark.session import materialize

    tr = materialize(_doc_shingles(train, id_col, text_col, n))
    ev_grams = materialize(eval_shingle_set(eval_df, text_col, n))
    if m is None:
        m = auto_bloom_m(ev_grams.count())
    bloom = bloom_bits(eval_df, text_col, n, k, m, eval_grams=ev_grams)
    probes = tr.select(
        id_col,
        F.col("_gram"),
        F.posexplode(
            F.array(*_bloom_positions(F.col("_gram"), k, m))
        ).alias("_hi", "h"),
    )
    candidates = (
        probes.select(
            id_col,
            "_gram",
            F.floor(F.col("h") / 32).cast("long").alias("w"),
            F.expr("shiftleft(1L, cast(h % 32 as int))").alias("m"),
        )
        .join(F.broadcast(bloom), "w", "left")
        .groupBy(id_col, "_gram")
        .agg(
            (
                F.sum(
                    (
                        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(
                            F.col("m")
                        )
                        != 0
                    ).cast("int")
                )
                == k
            ).alias("_maybe")
        )
        .filter(F.col("_maybe"))
        .select(id_col, "_gram")
    )
    ev = ev_grams.withColumnRenamed("_gram", "_g")
    bad = (
        candidates.join(ev, candidates["_gram"] == F.col("_g"), "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def eval_bucket_frame(
    eval_df: DataFrame,
    num_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
) -> DataFrame:
    """The prepared eval side of `semantic_contam` — (vector, norm,
    LSH bucket) per eval row. Compute once, `.persist()`, and pass as
    `eval_prepared` when probing many train batches against a static
    benchmark set (the streaming twin's shape)."""
    from webloghunter_spark.functions.similarity import (
        hyperplane_bucket_expr,
        norm_expr,
    )

    return eval_df.select(
        F.col(vec_col).alias("_ev"),
        norm_expr(F.col(vec_col)).alias("_en"),
        hyperplane_bucket_expr(vec_col, num_planes, dim).alias("_bucket"),
    )


def semantic_contam(
    train: DataFrame,
    eval_df: DataFrame | None = None,
    threshold: float = 0.3,
    num_planes: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 4,
    eval_prepared: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space decontamination — the semantic sibling of the
    n-gram `decontaminate`: paraphrased or re-worded benchmark leaks
    share no 8-gram but sit next to the eval item in embedding space.
    Flags every TRAIN vector whose cosine to some eval vector within
    the same hyperplane-LSH bucket reaches `threshold`. Output: one
    row per train vector — (id, n_contam, max_cos_bp, contaminated).
    max_cos_bp is the best matching cosine in basis points (0 when no
    candidate crossed the threshold).

    Scale: buckets are pure projections on both sides (no shuffle to
    derive), the candidate join is a bucket-equijoin whose volume is
    Σ per-bucket |train_b| x |eval_b| — bounded by the LSH split,
    never |train| x |eval|; the per-id aggregate is map-side
    combinable and the join-back is a left join against an
    output bounded by contamination volume. Recall is the LSH
    trade-off: audit it with the ann_recall machinery and raise
    num_planes (more, smaller buckets) or multi-probe as needed.
    """
    from webloghunter_spark.functions.similarity import (
        dot_expr,
        hyperplane_bucket_expr,
        norm_expr,
    )

    if (eval_df is None) == (eval_prepared is None):
        raise ValueError(
            "pass exactly one of eval_df / eval_prepared"
        )
    tb = train.select(
        F.col(id_col),
        F.col(vec_col).alias("_tv"),
        norm_expr(F.col(vec_col)).alias("_tn"),
        hyperplane_bucket_expr(vec_col, num_planes, dim).alias("_bucket"),
    )
    eb = (
        eval_prepared
        if eval_prepared is not None
        else eval_bucket_frame(eval_df, num_planes, dim, vec_col)
    )
    from webloghunter_spark.functions.similarity import grid_round_expr

    cos = grid_round_expr(
        dot_expr(F.col("_tv"), F.col("_ev")) / (F.col("_tn") * F.col("_en")),
        round_digits,
    )
    hits = (
        tb.join(eb, "_bucket")
        .select(id_col, cos.alias("_cos"))
        .filter(F.col("_cos") >= F.lit(float(threshold)))
    )
    agg = hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_contam"),
        F.floor(F.max("_cos") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("max_cos_bp"),
    )
    return train.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_contam", F.lit(0)).cast("long").alias("n_contam"),
        F.coalesce("max_cos_bp", F.lit(0)).cast("long").alias("max_cos_bp"),
        (F.coalesce("n_contam", F.lit(0)) > 0).alias("contaminated"),
    )


def tagged_eval_grams(
    eval_sets: dict[str, DataFrame],
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """(eval_set, _gram) — per-set distinct n-gram index over all
    benchmarks at once, the ONE small frame contamination_matrix
    broadcasts (and its streaming twin persists for the stream's
    life)."""
    tagged = None
    for name, edf in eval_sets.items():
        g = eval_shingle_set(edf, text_col, n).select(
            F.lit(name).alias("eval_set"), F.col("_gram")
        )
        tagged = g if tagged is None else tagged.unionByName(g)
    return tagged


def contamination_matrix(
    train: DataFrame,
    eval_sets: dict[str, DataFrame],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-benchmark contamination report — the release-notes table a
    model card needs: for EVERY eval set at once, how many of its
    n-grams appear in the training corpus and how many train docs are
    implicated. One row per eval set: (eval_set, n_eval_grams,
    n_hit_grams, n_docs_hit, coverage_bp) where coverage_bp =
    n_hit_grams / n_eval_grams in basis points (exact integer
    round-half-up; NULL if the set yields no grams). Sets with zero
    overlap still appear (zeros) via the left join from the totals.

    Scale: all K eval sets ride ONE tagged gram frame (distinct per
    set) that broadcasts once; the 100 TB train side is shingled in a
    single projection and probed map-side — the train corpus is
    scanned once for the whole matrix, not once per benchmark. The
    post-join aggregate is bounded by contamination volume; the two
    count-distincts expand it 2x, still hit-bounded.
    """
    if not eval_sets:
        raise ValueError("eval_sets must be non-empty")
    tagged = tagged_eval_grams(eval_sets, text_col, n)
    # K-row spine from the dict keys so a benchmark whose docs yield
    # zero grams still reports (n_eval_grams=0, coverage NULL) instead
    # of silently vanishing from the matrix.
    spine = train.sparkSession.createDataFrame(
        [(k,) for k in eval_sets], "eval_set string"
    )
    totals = spine.join(
        tagged.groupBy("eval_set").agg(
            F.count(F.lit(1)).alias("n_eval_grams")
        ),
        "eval_set",
        "left",
    ).select(
        "eval_set",
        F.coalesce("n_eval_grams", F.lit(0)).alias("n_eval_grams"),
    )
    hits = (
        _doc_shingles(train, id_col, text_col, n)
        .join(F.broadcast(tagged), "_gram", "inner")
        .groupBy("eval_set")
        .agg(
            F.countDistinct("_gram").alias("n_hit_grams"),
            F.countDistinct(id_col).alias("n_docs_hit"),
        )
    )
    return (
        totals.join(hits, "eval_set", "left")
        .select(
            "eval_set",
            F.col("n_eval_grams").cast("long").alias("n_eval_grams"),
            F.coalesce("n_hit_grams", F.lit(0))
            .cast("long")
            .alias("n_hit_grams"),
            F.coalesce("n_docs_hit", F.lit(0))
            .cast("long")
            .alias("n_docs_hit"),
            F.expr(
                "CASE WHEN n_eval_grams > 0 THEN"
                " (coalesce(n_hit_grams, 0) * 20000 + n_eval_grams)"
                " div (2 * n_eval_grams) ELSE NULL END"
            )
            .cast("long")
            .alias("coverage_bp"),
        )
    )


def contamination_sensitivity(
    train: DataFrame,
    eval_df: DataFrame,
    ns: tuple[int, ...] = (4, 6, 8),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contamination rate as a function of the n-gram size — the
    analysis behind choosing n at all (GPT-3 used 13-grams, the
    library default is 8; small n over-flags common phrases, large n
    misses partial overlap). One row per n: (n, n_train,
    n_contaminated, contam_bp) with contam_bp on the exact integer
    cross-multiply grid. Monotone by construction: every n-gram hit
    contains (n-1)-gram hits, so n_contaminated never increases
    with n — a non-monotone result is a bug, and the test pins it.

    Scale: one contaminated_docs pass per n (|ns| is a small
    constant) — each is the broadcast-eval-gram inner-join +
    combinable count shape the single-n operator uses; the train
    side is scanned |ns| times but never shuffled on text."""
    if not ns:
        raise ValueError("ns must be non-empty")
    if any(int(x) < 1 for x in ns):
        raise ValueError(f"every n must be >= 1, got {tuple(ns)}")
    spark = train.sparkSession
    n_train = train.count()
    rows = []
    for n in sorted(set(int(x) for x in ns)):
        hit = contaminated_docs(
            train, eval_df, id_col=id_col, text_col=text_col, n=n
        ).count()
        rows.append(
            (
                n,
                n_train,
                hit,
                (hit * 20000 + n_train) // (2 * n_train)
                if n_train > 0
                else 0,
            )
        )
    return spark.createDataFrame(
        rows, "n long, n_train long, n_contaminated long, contam_bp long"
    )
