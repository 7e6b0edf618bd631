"""One-call corpus curation: the full pretraining-data funnel.

Composes the individually-oracled stages into the pipeline a user
actually runs, in the canonical order (cheap row-local rules first so
the expensive corpus-wide joins see the smallest survivor set):

    1. quality gate      row-local rule stack (pipelines/gate.py)
    2. normalized dedup  canonical-key exact families (cheap tier)
    3. near dedup        MinHash-LSH drop-first (pipelines/dedup.py)
    4. containment drop  doc-in-doc intervention (pipelines/dedup.py)
    5. decontamination   eval n-gram overlap (pipelines/decontam.py)
    6. token budget      quality-ranked selection (pipelines/select.py)

The containment stage removes quote-farm / wrapper-page mirrors the
Jaccard-based near-dedup tier structurally misses (a small doc fully
embedded in a large one has Jaccard ~0, containment 1.0); it runs
AFTER near-dedup so the expensive pair verify sees the post-dedup
survivor set.

Each stage is optional (None/0 disables it and its jobs entirely).
Returns (survivors, funnel) where `funnel` is one row per stage with
rows-in/rows-out — the attrition report every curation run gets
audited by. The funnel numbers cost no extra job: each stage's
checkpoint job counts its own rows (session.settled_rows; the stages
themselves each materialize once anyway at 100 TB — write survivors
between stages rather than fusing six corpus-wide joins into one plan
whose failure loses everything).

Stage boundaries use session.settle() (eager localCheckpoint), NOT
persist(): persist caches rows but keeps the nested logical plan, so
per-action DRIVER planning grows multiplicatively with funnel depth
(measured 16.05 s per action on the fully-cached 6-stage funnel,
0.27 s after the lineage cut — SCALING.md round-11 note). The cut is
the local analogue of the between-stage durable write above; it is
what lets a funnel consumer run many actions (counts, tag unions,
diff replays) without re-paying the whole funnel's plan each time.

This is deliberately a COMPOSITION, not new semantics: every stage's
exact behavior is pinned by its own DuckDB oracle and tests; the
pipeline test checks plumbing (ordering, attrition bookkeeping,
stage-skip), not re-proves the math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.session import settle, settled_rows


def _corpus_keys(corpus: DataFrame, text_col: str) -> DataFrame:
    """The exact-against corpus side: distinct normalized-key md5s."""
    from webloghunter_spark.functions.text import normalized_text_expr

    return corpus.select(
        F.md5(normalized_text_expr(text_col)).alias("_k")
    ).distinct()


def _exact_against(
    cur: DataFrame, ckeys: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Drop the rows of `cur` whose normalized key is in `ckeys`: the
    corpus is authoritative, and `cur`'s rows never key-match each
    other (anti-join on 16-byte digests — no text moves)."""
    from webloghunter_spark.functions.text import normalized_text_expr

    keyed = cur.select(
        F.col(id_col), F.md5(normalized_text_expr(text_col)).alias("_k")
    )
    hit = keyed.join(ckeys, "_k", "left_semi").select(id_col)
    return cur.join(hit, id_col, "left_anti")


def _undropped(cur: DataFrame, dec: DataFrame, id_col: str) -> DataFrame:
    """The rows of `cur` that a containment-drop verdict frame `dec`
    keeps (dropped = 0)."""
    keep = dec.filter(F.col("dropped") == 0).select(id_col)
    return cur.join(keep, id_col, "left_semi")


def curate_corpus(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_bp: int | None = 5000,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    near_dedup_threshold: float | None = 0.8,
    dedup_num_hashes: int = 8,
    dedup_band_size: int = 2,
    dedup_shingle_k: int = 3,
    containment_threshold_bp: int | None = 8000,
    containment_size_ratio_bp: int = 10000,
    containment_max_df: int = 20,
    decontam_n: int = 8,
    token_budget: int | None = None,
    score_col: str | None = None,
) -> tuple[DataFrame, list[tuple[str, int, int]]]:
    """Run the funnel; returns (survivors, funnel) with funnel =
    [(stage, rows_in, rows_out), ...] for every ENABLED stage.

    - `min_quality_bp=None` skips the gate; `near_dedup_threshold=None`
      skips both dedup tiers; `containment_threshold_bp=None` skips the
      containment intervention; `eval_df=None` skips decontamination;
      `token_budget=None` skips selection. `score_col` names the
      integer score column for selection; when None, a quality_bp
      score is derived on the fly from `text_col` — whether or not
      the gate ran (the gate and the fallback score share
      quality_bp_expr, so gated-then-budgeted corpora rank on the
      same scale the gate filtered on).
    """
    from webloghunter_spark.functions.text import (
        normalized_text_expr,
        quality_bp_expr,
    )

    funnel: list[tuple[str, int, int]] = []
    cur = settle(docs)
    n = settled_rows(cur)

    if min_quality_bp is not None:
        from webloghunter_spark.pipelines.gate import gate_keep_expr

        # row-local gate (LM rule off): ONE codegen filter pass over
        # the text instead of verdict-frame + semi-join — same keep
        # set by construction (gate_keep_expr shares quality_gate's
        # metric exprs; guide §2.4)
        cur = settle(
            cur.filter(
                gate_keep_expr(
                    text_col,
                    min_tokens=min_tokens,
                    max_tokens=max_tokens,
                    min_quality_bp=min_quality_bp,
                )
            )
        )
        m = settled_rows(cur)
        funnel.append(("quality_gate", n, m))
        n = m

    if near_dedup_threshold is not None:
        # cheap tier: canonical-key exact families, keep min id
        keyed = cur.select(
            F.col(id_col),
            F.md5(normalized_text_expr(text_col)).alias("_k"),
        )
        keep = keyed.groupBy("_k").agg(F.min(id_col).alias(id_col)).select(
            id_col
        )
        cur = settle(cur.join(keep, id_col, "left_semi"))
        m = settled_rows(cur)
        funnel.append(("normalized_dedup", n, m))
        n = m

        from webloghunter_spark.pipelines.dedup import near_dedup

        cur = settle(
            near_dedup(
                cur,
                text_col=text_col,
                id_col=id_col,
                threshold=near_dedup_threshold,
                num_hashes=dedup_num_hashes,
                band_size=dedup_band_size,
                shingle_k=dedup_shingle_k,
            )
        )
        m = settled_rows(cur)
        funnel.append(("near_dedup", n, m))
        n = m

    if containment_threshold_bp is not None:
        from webloghunter_spark.pipelines.dedup import containment_drop

        # the intervention form: drop docs contained in a not-smaller
        # survivor (quote farms / wrapper pages the Jaccard tier
        # misses); keep-best tie-break is containment_drop's
        dec = containment_drop(
            cur,
            text_col=text_col,
            id_col=id_col,
            source_col=None,
            shingle_k=dedup_shingle_k,
            threshold_bp=containment_threshold_bp,
            size_ratio_bp=containment_size_ratio_bp,
            max_df=containment_max_df,
        )
        cur = settle(_undropped(cur, dec, id_col))
        m = settled_rows(cur)
        funnel.append(("containment_drop", n, m))
        n = m

    if eval_df is not None:
        from webloghunter_spark.pipelines.decontam import decontaminate

        cur = settle(
            decontaminate(
                cur, eval_df, id_col=id_col, text_col=text_col, n=decontam_n
            )
        )
        m = settled_rows(cur)
        funnel.append(("decontaminate", n, m))
        n = m

    if token_budget is not None:
        from webloghunter_spark.pipelines.select import token_budget_select

        if score_col is None:
            scored = cur.withColumn(
                "_score", quality_bp_expr(text_col)
            )
            sc = "_score"
        else:
            scored, sc = cur, score_col
        from webloghunter_spark.functions.text import token_count_expr

        sel = token_budget_select(
            scored,
            token_budget,
            score_col=sc,
            id_col=id_col,
            # thread text_col through: token_budget_select's default
            # ntok derives from a hardcoded "text" column
            ntok_col=token_count_expr(text_col),
        )
        cur = settle(
            sel.filter(F.col("selected")).drop("selected", "ntok", "_score")
        )
        m = settled_rows(cur)
        funnel.append(("token_budget", n, m))
        n = m

    return cur, funnel


def curate_against(
    batch: DataFrame,
    corpus: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_bp: int | None = 5000,
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    near_dedup_threshold: float | None = 0.8,
    dedup_num_hashes: int = 8,
    dedup_band_size: int = 2,
    dedup_shingle_k: int = 3,
    containment_threshold_bp: int | None = 8000,
    containment_size_ratio_bp: int = 10000,
    containment_max_df: int = 20,
    decontam_n: int = 8,
) -> tuple[DataFrame, list[tuple[str, int, int]]]:
    """The INCREMENTAL curate funnel — curate_corpus's stages run on
    an ingest BATCH against a FROZEN accepted corpus (the
    continuous-ingest production shape: the corpus was curated when
    it was admitted; re-curating 100 TB per daily batch is the thing
    this exists to avoid):

        1. quality gate        row-local, batch only (pipelines/gate)
        2. exact-against       drop batch docs whose normalized key
                               exists in the corpus (anti-join on
                               16-byte digests — no text moves)
        3. near-against        incremental_near_dedup: LSH candidates
                               batch x corpus, exact Jaccard verify
        4. containment-against containment_drop_against: frozen-
                               corpus discriminative inverted index
        5. decontamination     eval n-gram overlap (already an
                               against-form: eval set is frozen)

    Every stage compares batch docs against FROZEN state only — batch
    docs are never compared with each other (the incremental_near_dedup
    / containment_drop_against convention), so the union of per-batch
    survivor sets over ANY batch slicing equals the one-shot run on
    the concatenated batches, and each stage's existing streaming twin
    composes into an incremental funnel with parity for free.
    Batch-internal duplicates deliberately SURVIVE — run curate_corpus
    on the batch first if ingest batches self-duplicate.

    Same stage-skip semantics and (survivors, funnel) return shape as
    curate_corpus; stage boundaries settle() (eager localCheckpoint)
    for the same driver-side planning reason.

    PRECONDITION — globally unique ids: `id_col` must be unique across
    batch AND corpus combined (inherited from incremental_near_dedup /
    containment_drop_against, whose candidate-prune unions and pair
    joins silently corrupt on a batch/corpus id collision). Ingest
    pipelines that re-key per batch must offset into a disjoint range
    before calling this.

    Stage-flag coupling (curate_corpus's convention, stated
    explicitly): `near_dedup_threshold=None` skips BOTH stage 2
    (exact-against) and stage 3 (near-against) — the two dedup tiers
    share the flag. `containment_threshold_bp=None` skips only the
    containment stage; `eval_df=None` skips only decontamination.

    Scale shape: each batch pays |batch| scans plus candidate-bounded
    joins against the corpus-side artifacts (normalized-key digests,
    LSH band signatures, the df-capped shingle inverted index). This
    one-shot form builds them from `corpus` on every call; the
    streaming twin (streaming/curate.curate_against_stream_writer)
    builds them once, persists them for the stream's life, and runs
    the same stage kernels (_exact_against, _near_drop, _drop_against,
    decontaminate) on each micro-batch."""
    funnel: list[tuple[str, int, int]] = []
    cur = settle(batch)
    n = settled_rows(cur)

    if min_quality_bp is not None:
        from webloghunter_spark.pipelines.gate import gate_keep_expr

        # row-local gate filter — curate_corpus's rationale (§2.4)
        cur = settle(
            cur.filter(
                gate_keep_expr(
                    text_col,
                    min_tokens=min_tokens,
                    max_tokens=max_tokens,
                    min_quality_bp=min_quality_bp,
                )
            )
        )
        m = settled_rows(cur)
        funnel.append(("quality_gate", n, m))
        n = m

    if near_dedup_threshold is not None:
        cur = settle(
            _exact_against(cur, _corpus_keys(corpus, text_col), text_col, id_col)
        )
        m = settled_rows(cur)
        funnel.append(("exact_against", n, m))
        n = m

        from webloghunter_spark.pipelines.dedup import incremental_near_dedup

        cur = settle(
            incremental_near_dedup(
                cur,
                corpus,
                text_col=text_col,
                id_col=id_col,
                threshold=near_dedup_threshold,
                num_hashes=dedup_num_hashes,
                band_size=dedup_band_size,
                shingle_k=dedup_shingle_k,
            )
        )
        m = settled_rows(cur)
        funnel.append(("near_against", n, m))
        n = m

    if containment_threshold_bp is not None:
        from webloghunter_spark.pipelines.dedup import containment_drop_against

        dec = containment_drop_against(
            cur,
            corpus,
            text_col=text_col,
            id_col=id_col,
            shingle_k=dedup_shingle_k,
            threshold_bp=containment_threshold_bp,
            size_ratio_bp=containment_size_ratio_bp,
            max_df=containment_max_df,
        )
        cur = settle(_undropped(cur, dec, id_col))
        m = settled_rows(cur)
        funnel.append(("containment_against", n, m))
        n = m

    if eval_df is not None:
        from webloghunter_spark.pipelines.decontam import decontaminate

        cur = settle(
            decontaminate(
                cur, eval_df, id_col=id_col, text_col=text_col, n=decontam_n
            )
        )
        m = settled_rows(cur)
        funnel.append(("decontaminate", n, m))
        n = m

    return cur, funnel


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot delta — the audit a recurring crawl/curation
    job runs before promoting a new snapshot: every id present in
    either snapshot is classified added / removed / changed /
    unchanged by comparing content fingerprints
    (functions/text.fingerprint_expr — the exact-dedup key, so
    whitespace-trivial rewrites count as unchanged). Returns
    (id, status, old_md5, new_md5) with NULL on the absent side.

    Scale: two narrow fingerprint projections + ONE full-outer hash
    join on the id — no text moves (16-byte digests only), the join
    is the delta computation, and the status column is a codegen'd
    CASE. Pair with a groupBy(status) count for the one-screen
    summary."""
    from webloghunter_spark.functions.text import fingerprint_expr

    # NULL text fingerprints as the empty document (md5('')), NOT as
    # NULL: presence below is inferred from digest nullability, so a
    # NULL-text row must still carry a digest or it reads as absent
    # ('added'/'removed' misclassification — the recurring NULL-text
    # catch)
    o = old.select(
        F.col(id_col),
        fingerprint_expr(
            F.coalesce(
                F.col(text_col) if isinstance(text_col, str) else text_col,
                F.lit(""),
            )
        ).alias("old_md5"),
    )
    n = new.select(
        F.col(id_col),
        fingerprint_expr(
            F.coalesce(
                F.col(text_col) if isinstance(text_col, str) else text_col,
                F.lit(""),
            )
        ).alias("new_md5"),
    )
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") == F.col("new_md5"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        id_col, status.alias("status"), "old_md5", "new_md5"
    )


def funnel_stage_tags(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_bp: int = 3000,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    near_dedup_threshold: float = 0.8,
    dedup_num_hashes: int = 4,
    dedup_band_size: int = 2,
    dedup_shingle_k: int = 3,
    containment_threshold_bp: int | None = 8000,
    containment_size_ratio_bp: int = 10000,
    containment_max_df: int = 20,
    decontam_n: int = 4,
) -> DataFrame:
    """The LAST curate-funnel stage each document survives — (id,
    last_stage) with 1=gate, 2=exact dedup, 3=near dedup,
    4=containment drop, 5=decontamination; gate-dead docs are ABSENT
    (callers coalesce to 0). `containment_threshold_bp=None` skips the
    containment stage — a skipped stage drops nothing, so every
    near-dedup survivor carries the containment tag too (stage
    numbering stays stable for consumers). This is filter_track's survivor
    computation factored out so dataset_diff can run it on two
    snapshots without drift — one code path, one oracle CTE chain.

    Scale: stage frames carry (id, text) only until the dedup tiers
    need the text, then id-only; survivor sets are NESTED so the
    membership flags collapse to ONE union + max(stage) aggregate
    (the filter_track lesson: 4.2x -> 2.82x at the 32x control).
    Stage boundaries settle() (eager localCheckpoint — lineage cut),
    so the union's plan is five LogicalRDD scans, not five nested
    replays of the whole funnel; see curate_corpus's docstring."""
    from webloghunter_spark.functions.text import normalized_text_expr
    from webloghunter_spark.pipelines.dedup import containment_drop, near_dedup
    from webloghunter_spark.pipelines.decontam import decontaminate
    from webloghunter_spark.pipelines.gate import gate_keep_expr

    # row-local gate filter instead of verdict-frame + semi-join —
    # curate_corpus's rationale (guide §2.4; same keep set by
    # construction, gate_keep_expr shares quality_gate's metric exprs)
    s1 = settle(
        docs.filter(
            gate_keep_expr(
                text_col,
                min_tokens=min_tokens,
                max_tokens=max_tokens,
                min_quality_bp=min_quality_bp,
            )
        ).select(F.col(id_col), F.col(text_col).alias("_txt"))
    )
    keyed = s1.select(
        F.col(id_col), F.md5(normalized_text_expr("_txt")).alias("_k")
    )
    s2 = settle(
        s1.join(
            keyed.groupBy("_k").agg(F.min(id_col).alias(id_col)).select(id_col),
            id_col,
            "left_semi",
        )
    )
    s3 = settle(
        s2.join(
            near_dedup(
                s2,
                text_col="_txt",
                id_col=id_col,
                threshold=near_dedup_threshold,
                num_hashes=dedup_num_hashes,
                band_size=dedup_band_size,
                shingle_k=dedup_shingle_k,
            ).select(id_col),
            id_col,
            "left_semi",
        )
    )
    if containment_threshold_bp is not None:
        s4 = settle(
            s3.join(
                containment_drop(
                    s3,
                    text_col="_txt",
                    id_col=id_col,
                    source_col=None,
                    shingle_k=dedup_shingle_k,
                    threshold_bp=containment_threshold_bp,
                    size_ratio_bp=containment_size_ratio_bp,
                    max_df=containment_max_df,
                )
                .filter(F.col("dropped") == 0)
                .select(id_col),
                id_col,
                "left_semi",
            )
        )
    else:
        s4 = s3
    if eval_df is not None:
        # decontaminate shingles BOTH frames on text_col — mirror the
        # rename on the eval side
        ev = eval_df.select(F.col(id_col), F.col(text_col).alias("_txt"))
        s5 = decontaminate(
            s4, ev, id_col=id_col, text_col="_txt", n=decontam_n
        ).select(id_col)
    else:
        s5 = s4.select(id_col)
    # settle() is eager, so s1..s4 are already materialized AND their
    # plans cut to LogicalRDD scans before the fan-out union below —
    # the branches hit checkpointed blocks instead of recomputing (or
    # re-planning) shared funnel lineage.
    # Survivor sets are NESTED (clean ⊆ contain ⊆ near ⊆ exact ⊆
    # gate), so the membership flags collapse to ONE number — the last
    # stage a doc survived: union the id sets with a stage tag, take
    # max(tag), join ONCE. One exchange + one join instead of five.
    return (
        s1.select(F.col(id_col), F.lit(1).alias("_st"))
        .unionByName(s2.select(F.col(id_col), F.lit(2).alias("_st")))
        .unionByName(s3.select(F.col(id_col), F.lit(3).alias("_st")))
        .unionByName(s4.select(F.col(id_col), F.lit(4).alias("_st")))
        .unionByName(s5.select(F.col(id_col), F.lit(5).alias("_st")))
        .groupBy(id_col)
        .agg(F.max("_st").alias("last_stage"))
    )


def filter_track(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality_bp: int = 3000,
    min_tokens: int = 10,
    max_tokens: int = 5000,
    near_dedup_threshold: float = 0.8,
    dedup_num_hashes: int = 4,
    dedup_band_size: int = 2,
    dedup_shingle_k: int = 3,
    containment_threshold_bp: int | None = 8000,
    containment_size_ratio_bp: int = 10000,
    containment_max_df: int = 20,
    decontam_n: int = 4,
    band_width_bp: int = 2500,
) -> DataFrame:
    """DataComp-style attrition report: the curate_corpus funnel
    (gate -> normalized exact dedup -> MinHash-LSH near-dedup ->
    containment drop -> n-gram decontamination, identical stage exprs
    and parameters),
    tracked per (group, quality band) instead of collapsed to global
    funnel counts — the table that shows WHERE a source's data dies
    and whether the gate and the dedup tiers hit the same quality
    strata. Bands are fixed-width quality_bp bins
    (band = min(qbp div band_width_bp, 10000 div band_width_bp - 1),
    so 2500 -> 4 bands), assigned to every RAW document, survivors or
    not. Returns one row per observed (group, band):
    (group, quality_band, n_raw, n_gate, n_exact, n_near, n_contain,
    n_clean, survived_bp) with survived_bp = n_clean/n_raw on the
    exact integer cross-multiply grid.

    Scale: the stage costs ARE curate_corpus's (each stage is the
    same operator on the same survivor sets, via funnel_stage_tags —
    shared with dataset_diff); the tracking adds one union+max(stage)
    tag aggregate, ONE id join, and ONE |groups x bands| aggregate —
    id sets move, never text. NULL groups survive via null-safe
    grouping (groupBy treats NULL as a key)."""
    from webloghunter_spark.functions.text import quality_bp_expr

    n_bands = max(10000 // band_width_bp, 1)
    base = settle(
        docs.select(
            F.col(id_col),
            F.col(group_col).alias("_grp"),
            F.coalesce(quality_bp_expr(text_col), F.lit(0))
            .cast("long")
            .alias("_qbp"),
        ).select(
            id_col,
            "_grp",
            F.least(
                F.expr(f"_qbp div {int(band_width_bp)}"),
                F.lit(n_bands - 1).cast("long"),
            ).alias("quality_band"),
        )
    )
    stages = funnel_stage_tags(
        docs,
        eval_df,
        id_col=id_col,
        text_col=text_col,
        min_quality_bp=min_quality_bp,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        near_dedup_threshold=near_dedup_threshold,
        dedup_num_hashes=dedup_num_hashes,
        dedup_band_size=dedup_band_size,
        dedup_shingle_k=dedup_shingle_k,
        containment_threshold_bp=containment_threshold_bp,
        containment_size_ratio_bp=containment_size_ratio_bp,
        containment_max_df=containment_max_df,
        decontam_n=decontam_n,
    ).withColumnRenamed("last_stage", "_last")
    flags = base.select(id_col, "_grp", "quality_band").join(
        stages, id_col, "left"
    )
    cnt = lambda k: F.sum(  # noqa: E731
        F.when(F.coalesce(F.col("_last"), F.lit(0)) >= k, 1).otherwise(0)
    ).cast("long")
    return (
        flags.groupBy(F.col("_grp").alias(group_col), "quality_band")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            cnt(1).alias("n_gate"),
            cnt(2).alias("n_exact"),
            cnt(3).alias("n_near"),
            cnt(4).alias("n_contain"),
            cnt(5).alias("n_clean"),
        )
        .withColumn(
            "survived_bp",
            F.expr("(n_clean * 20000 + n_raw) div (2 * n_raw)"),
        )
    )


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    eval_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **funnel_kwargs,
) -> DataFrame:
    """What changed between two dataset build runs AND at which funnel
    stage — snapshot_diff composed with the curate funnel. Every id in
    either snapshot is classified added/removed/changed/unchanged by
    content fingerprint, and BOTH snapshots get funnel_stage_tags'
    last-survived-stage (-1=absent from that snapshot, 0=gate-dead ..
    5=clean, 4=containment survivor — integral, never NULL, so the
    column survives
    Arrow/pandas round-trips without NaN-float coercion). Returns one
    row per observed
    (status, old_stage, new_stage) with its count n — the table that
    answers \"the new crawl added 40k docs; how many made it past
    near-dedup?\" and \"did the docs we rewrote move out of the
    gate-dead band?\".

    Scale: snapshot_diff is one full-outer join on 16-byte digests;
    each funnel pass is filter_track's machinery (same code path via
    funnel_stage_tags — id sets move, never text, one union+max(stage)
    aggregate per snapshot); the final rollup is a |statuses x 7 x 7|
    aggregate. Nothing here exceeds what two curate runs already
    cost — and the two passes share NO state (different snapshots,
    stage boundaries settle() eagerly), so they are submitted from two
    driver threads: each funnel's small stages and per-stage barriers
    back-fill the executor slots the other funnel's stragglers leave
    idle (the scheduler runs concurrent jobs FIFO; results are
    settled frames, so construction order cannot change any value)."""
    ds = snapshot_diff(old, new, id_col=id_col, text_col=text_col)
    import contextvars
    from concurrent.futures import ThreadPoolExecutor

    def _tags(snap: DataFrame) -> DataFrame:
        return funnel_stage_tags(
            snap, eval_df, id_col=id_col, text_col=text_col, **funnel_kwargs
        )

    # A pool thread starts with an empty context: each replay runs in a
    # copy of the caller's, so what it persists joins the caller's run.
    with ThreadPoolExecutor(max_workers=2) as pool:
        fo, fn_ = (pool.submit(contextvars.copy_context().run, _tags, snap)
                   for snap in (old, new))
        so = fo.result().withColumnRenamed("last_stage", "_so")
        sn = fn_.result().withColumnRenamed("last_stage", "_sn")
    j = (
        ds.join(so, id_col, "left")
        .join(sn, id_col, "left")
        .select(
            "status",
            # absent side -> -1; present-but-gate-dead -> 0
            F.when(
                F.col("old_md5").isNotNull(),
                F.coalesce(F.col("_so"), F.lit(0)),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("old_stage"),
            F.when(
                F.col("new_md5").isNotNull(),
                F.coalesce(F.col("_sn"), F.lit(0)),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("new_stage"),
        )
    )
    return j.groupBy("status", "old_stage", "new_stage").agg(
        F.count(F.lit(1)).alias("n")
    )


def prefix_modal(
    df: DataFrame,
    n_tokens: int = 3,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source modal document prefix — the template/header-farm
    detector: if a large share of a source's documents open with the
    SAME first-k tokens (a nav header, a license banner, a scraped
    form), that source needs boilerplate stripping before training.
    Reports each source's most common k-token prefix and its share.

    Output: (source, n_docs, n_prefixes, top_prefix, top_n,
    top_share_bp) — share the exact integer (top_n * 10000) div
    n_docs; modal ties break to the lexicographically smaller prefix;
    docs shorter than k tokens contribute their full token string
    (empty docs the empty prefix), so every document counts.

    Scale shape: two combinable aggregates — (source, prefix) counts
    (the only data-sized exchange; prefixes are tiny strings, never
    full text), then the per-source argmax as a lexicographic
    struct-MIN over the compact count frame. No window over corpus
    rows, no join.
    """
    if n_tokens < 1:
        raise ValueError(f"n_tokens must be >= 1, got {n_tokens}")
    from webloghunter_spark.functions.text import tokens_expr

    prefix = F.array_join(
        F.slice(tokens_expr(text_col), 1, n_tokens), " "
    )
    counts = (
        df.select(F.col(group_col).alias("source"), prefix.alias("_p"))
        .groupBy("source", "_p")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    per_source = counts.groupBy("source").agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_prefixes"),
        F.min(
            F.struct((-F.col("_n")).alias("nn"), F.col("_p").alias("p"))
        ).alias("_w"),
    )
    out = per_source.select(
        "source",
        "n_docs",
        "n_prefixes",
        F.col("_w.p").alias("top_prefix"),
        (-F.col("_w.nn")).cast("long").alias("top_n"),
    )
    return out.withColumn(
        "top_share_bp",
        F.expr("(top_n * 10000) div n_docs").cast("long"),
    )
