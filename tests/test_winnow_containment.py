"""Round-12 surface: winnow_containment_drop — containment_drop's
intervention on winnowed fingerprints (the MOSS candidate generator
feeding the drop decision rules). Exact values are pinned by the
registry oracle (winnow_containment_drop, built from the shared
winnow CTE); these tests pin the quote-farm behavior, the too-short
guard, and parameter validation."""

import pytest
from pyspark.sql import functions as F


def _quote_farm(spark):
    """Same shape as test_curate_containment's: a wrapper page fully
    containing a small doc — Jaccard misses it, containment drops it;
    the contained region is long enough (chars >> kgram + window - 1)
    that winnowed fingerprints survive the boundary loss."""
    small = " ".join(f"q{j} r{j}" for j in range(15))
    wrapper = (
        " ".join(f"pre{j} nav{j}" for j in range(20))
        + " " + small + " "
        + " ".join(f"post{j} foot{j}" for j in range(20))
    )
    others = [
        (i, " ".join(f"u{i}v{j} the of and is on" for j in range(8)), "s0")
        for i in range(10, 16)
    ]
    rows = [(1, small, "farm"), (2, wrapper, "s0")] + others
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )


def test_winnow_containment_drops_quote_farm(spark):
    from webloghunter_spark.pipelines.dedup import winnow_containment_drop

    docs = _quote_farm(spark)
    out = {r.doc_id: r for r in winnow_containment_drop(docs).collect()}
    assert set(out) == {1, 2} | set(range(10, 16))   # one row per doc
    assert out[1].dropped == 1 and out[1].n_containers >= 1
    assert out[2].dropped == 0
    assert all(out[i].dropped == 0 for i in range(10, 16))
    # fingerprint sets are the winnowed SUBSAMPLE of the k-gram
    # hashes: ~2/(window+1) of the gram positions get selected
    rows = {r[0]: r[1] for r in docs.collect()}
    for i in (1, 2):
        n_grams = len(rows[i]) - 8 + 1     # kgram=8 positions (upper bound)
        assert 0 < out[i].n_fps < n_grams / 2


def test_winnow_containment_too_short_doc_never_dropped(spark):
    """A doc below kgram + window - 1 chars has an EMPTY fingerprint
    set: it appears in the output with n_fps = 0 and can never be a
    drop victim, even when its text is literally contained in
    another doc."""
    from webloghunter_spark.pipelines.dedup import winnow_containment_drop

    docs = spark.createDataFrame(
        [(1, "tiny", "a"), (2, "tiny plus a much longer wrapper around", "a")],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in winnow_containment_drop(docs).collect()}
    assert out[1].n_fps == 0 and out[1].dropped == 0
    assert out[2].dropped == 0


def test_winnow_containment_param_validation(spark):
    from webloghunter_spark.pipelines.dedup import winnow_containment_drop

    docs = _quote_farm(spark)
    with pytest.raises(ValueError, match="threshold_bp"):
        winnow_containment_drop(docs, threshold_bp=4000)
    with pytest.raises(ValueError, match="size_ratio_bp"):
        winnow_containment_drop(docs, size_ratio_bp=9000)
    with pytest.raises(ValueError, match="max_df"):
        winnow_containment_drop(docs, max_df=1)


def test_containment_pairs_hashed_matches_string_form(spark):
    """Posting compression must not change results: containment_pairs
    on 60-bit md5-prefix int shingles yields the identical pair frame
    as the string-shingle definition, here the registry's DuckDB
    oracle SQL_CONTAINMENT_PAIRS (collisions would merge shingles)."""
    import duckdb

    from webloghunter_spark.benchqueries import SQL_CONTAINMENT_PAIRS
    from webloghunter_spark.pipelines.dedup import containment_pairs

    docs = _quote_farm(spark)
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    h = {(r.id_a, r.id_b): (r.n_common, r.contain_ab, r.contain_ba)
         for r in containment_pairs(docs).collect()}
    s = {(a, b): (n, ab, ba)
         for a, b, n, ab, ba in con.sql(SQL_CONTAINMENT_PAIRS).fetchall()}
    assert h == s and len(s) > 0


def test_curate_against_slicing_independence(spark):
    """The incremental funnel's defining property: batch docs are
    only compared against the frozen corpus, so running two batch
    halves separately and unioning the survivors equals the one-shot
    run on the whole batch."""
    from webloghunter_spark.pipelines.curate import curate_against

    docs = _quote_farm(spark)
    corpus = docs                              # frozen accepted set
    def mk(i, txt):
        return (100 + i, txt, "new")
    small = " ".join(f"q{j} r{j}" for j in range(15))   # contained in doc 2
    batch_rows = [
        mk(0, small),                                   # containment victim
        mk(1, " ".join(f"n1x{j} the of and is" for j in range(12))),
        mk(2, " ".join(f"u10v{j} the of and is on" for j in range(8))),  # exact dup of doc 10
        mk(3, " ".join(f"n3y{j} the of and is" for j in range(12))),
    ]
    batch = spark.createDataFrame(
        batch_rows, "doc_id long, text string, source string"
    )
    kw = dict(min_quality_bp=0, min_tokens=1, max_tokens=100000,
              near_dedup_threshold=0.8, dedup_num_hashes=4,
              dedup_band_size=2, containment_threshold_bp=8000)
    full, funnel = curate_against(batch, corpus, **kw)
    full_ids = {r.doc_id for r in full.collect()}
    assert 102 not in full_ids          # exact-against caught the dup
    assert 100 not in full_ids          # containment-against caught it
    assert {101, 103} <= full_ids
    stages = [s for s, _, _ in funnel]
    assert stages == ["quality_gate", "exact_against", "near_against",
                      "containment_against"]
    # slicing independence: halves union == one-shot
    h1 = batch.filter(F.col("doc_id") % 2 == 0)
    h2 = batch.filter(F.col("doc_id") % 2 == 1)
    u = set()
    for h in (h1, h2):
        out, _ = curate_against(h, corpus, **kw)
        u |= {r.doc_id for r in out.collect()}
    assert u == full_ids


def test_winnow_containment_mutual_keeps_best_quality(spark):
    """Two same-size docs with identical fingerprint sets (mutual
    containment): the higher-quality one survives; on a quality tie
    the lower id survives (dedup_keep_best's rule)."""
    from webloghunter_spark.pipelines.dedup import winnow_containment_drop

    # identical text -> identical fingerprints AND identical quality:
    # tie -> drop the higher id
    t = " ".join(f"w{j} the of and is" for j in range(12))
    docs = spark.createDataFrame(
        [(1, t, "a"), (2, t, "a")],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r.dropped for r in winnow_containment_drop(docs).collect()}
    assert out == {1: 0, 2: 1}
