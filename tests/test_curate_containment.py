"""Round-11 surface: the curate funnel's containment stage, the
source_col=None form of containment_drop, and scorecard_budget's
audit-driven de-budgeting. Stage semantics are pinned by the
registry oracles (curate_pipeline / filter_track / dataset_diff /
scorecard_budget); these tests pin the plumbing and the
quote-farm-specific behavior the Jaccard tier structurally misses."""

from pyspark.sql import functions as F


def _quote_farm(spark):
    """A wrapper page fully containing a small doc: Jaccard(A, B)
    ~ |A|/|B| << 0.8 so near-dedup keeps both, containment drops A."""
    small = " ".join(f"q{j} r{j}" for j in range(15))           # 30 tokens
    wrapper = (
        " ".join(f"pre{j} nav{j}" for j in range(20))
        + " " + small + " "
        + " ".join(f"post{j} foot{j}" for j in range(20))
    )                                                            # 110 tokens
    others = [
        (i, " ".join(f"u{i}v{j} the of and is on" for j in range(8)), "s0")
        for i in range(10, 16)
    ]
    rows = [(1, small, "farm"), (2, wrapper, "s0")] + others
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_curate_funnel_containment_stage_drops_quote_farm(spark):
    """near_dedup keeps the contained doc (low Jaccard); the
    containment stage drops it; the funnel reports the attrition
    under its own stage tag; disabling the stage restores the doc."""
    from webloghunter_spark.pipelines.curate import curate_corpus

    docs = _quote_farm(spark)
    out, funnel = curate_corpus(
        docs, min_quality_bp=None, near_dedup_threshold=0.8,
        containment_threshold_bp=8000,
    )
    stages = {s: (i, o) for s, i, o in funnel}
    assert "containment_drop" in stages
    n_in, n_out = stages["containment_drop"]
    assert n_in - n_out == 1                      # exactly the small doc
    ids = {r.doc_id for r in out.collect()}
    assert 1 not in ids and 2 in ids
    # near-dedup alone does NOT catch it (the structural miss)
    assert stages["near_dedup"][0] == stages["near_dedup"][1]

    out2, f2 = curate_corpus(
        docs, min_quality_bp=None, near_dedup_threshold=0.8,
        containment_threshold_bp=None,
    )
    assert 1 in {r.doc_id for r in out2.collect()}
    assert "containment_drop" not in {s for s, _, _ in f2}


def test_funnel_stage_tags_containment_tier(spark):
    """last_stage: the contained doc stops at 3 (near-dedup survivor,
    containment victim); everything else reaches the top tag."""
    from webloghunter_spark.pipelines.curate import funnel_stage_tags

    docs = _quote_farm(spark)
    tags = {
        r.doc_id: r.last_stage
        for r in funnel_stage_tags(
            docs, eval_df=None, min_quality_bp=0, min_tokens=1,
            max_tokens=100000, near_dedup_threshold=0.8,
            containment_threshold_bp=8000,
        ).collect()
    }
    assert tags[1] == 3          # died in the containment tier
    assert tags[2] == 5          # wrapper survives to clean
    assert all(tags[i] == 5 for i in range(10, 16))


def test_containment_drop_source_none_schema(spark):
    """source_col=None (the funnel-internal form) omits the source
    column; decisions are unchanged."""
    from webloghunter_spark.pipelines.dedup import containment_drop

    docs = _quote_farm(spark)
    with_src = {r.doc_id: (r.n_containers, r.dropped)
                for r in containment_drop(docs).collect()}
    no_src = containment_drop(docs, source_col=None)
    assert no_src.columns == [
        "doc_id", "n_shingles", "quality_bp", "n_containers", "dropped"
    ]
    got = {r.doc_id: (r.n_containers, r.dropped) for r in no_src.collect()}
    assert got == with_src
    assert got[1] == (1, 1)


def test_scorecard_budget_debudgets_mirror_source(spark):
    """Two sources with identical token mass; 'mirror' is 50%
    exact-duplicated, so its effective clean mass — and its admitted
    token share — lands strictly below 'clean's. Selection within a
    source follows the budget walk (highest quality first)."""
    from webloghunter_spark.pipelines.select import scorecard_budget

    def body(tag, i):
        return " ".join(f"{tag}{i}w{j} the of and is" for j in range(10))

    rows = [(i, "clean", body("c", i), "en") for i in range(10)]
    # mirror: 5 unique docs, each duplicated once (same text twice)
    rows += [(100 + i, "mirror", body("m", i // 2), "en")
             for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, text string, lang string"
    )
    out = scorecard_budget(
        docs, total_budget=300, num_hashes=4, band_size=2,
    ).collect()
    admitted = {}
    for r in out:
        admitted.setdefault(r.source, 0)
        if r.selected:
            admitted[r.source] += int(r.ntok)
    assert admitted["mirror"] < admitted["clean"]
    assert admitted["clean"] <= 300 and admitted["mirror"] <= 300

    import pytest as _pytest
    with _pytest.raises(ValueError, match="total_budget"):
        scorecard_budget(docs, total_budget=-1)

    # non-default text_col regression (r11 ADVICE): the default ntok
    # expression used to hardcode "text" and unresolve for any other
    # text column name — results must match the default-named run
    renamed = docs.withColumnRenamed("text", "body")
    out2 = scorecard_budget(
        renamed, total_budget=300, text_col="body",
        num_hashes=4, band_size=2,
    ).collect()
    assert {(r.doc_id, r.selected, int(r.ntok)) for r in out2} == {
        (r.doc_id, r.selected, int(r.ntok)) for r in out
    }


def test_settle_cuts_the_plan(spark):
    """settle() is an eager localCheckpoint: the settled frame's plan
    is a LogicalRDD scan of the rows, not the plan it was built from."""
    from webloghunter_spark import session as S

    df = spark.range(10).withColumn("x", F.col("id") * 2)
    with S.materialized_scope():
        cut = S.settle(df)
        assert "LogicalRDD" in (
            cut._jdf.queryExecution().analyzed().toString()
        )
        assert cut.count() == 10
