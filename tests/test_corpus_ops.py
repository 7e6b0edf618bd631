"""Round-4 corpus ops: decontamination, semantic dedup, URL canon."""

import pytest
from pyspark.sql import functions as F

from webloghunter_spark.functions.url import canonical_uri_expr, host_expr
from webloghunter_spark.pipelines.decontam import (
    contaminated_docs,
    decontaminate,
    eval_shingle_set,
)
from webloghunter_spark.pipelines.semdedup import (
    semantic_dedup,
    semantic_dup_flags,
)


# ---------------------------------------------------------------- decontam

TRAIN = [
    (0, "alpha beta gamma delta epsilon zeta"),        # contains eval 4-gram
    (1, "one two three four five six seven"),          # clean
    (2, "alpha beta gamma delta something else"),      # same eval 4-gram
    (3, "tiny doc"),                                   # < n tokens
]
EVAL = [
    (100, "prefix alpha beta gamma delta suffix"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_eval_shingle_set_distinct(spark):
    grams = {r._gram for r in eval_shingle_set(_df(spark, EVAL), n=4).collect()}
    assert "alpha beta gamma delta" in grams
    assert len(grams) == 3  # 6 tokens -> 3 4-grams, all distinct


def test_contaminated_docs_flags_overlap(spark):
    hits = {
        r.doc_id: r.n_hits
        for r in contaminated_docs(
            _df(spark, TRAIN), _df(spark, EVAL), n=4
        ).collect()
    }
    assert hits == {0: 1, 2: 1}


def test_decontaminate_removes_only_contaminated(spark):
    kept = {
        r.doc_id
        for r in decontaminate(_df(spark, TRAIN), _df(spark, EVAL), n=4).collect()
    }
    assert kept == {1, 3}


# ---------------------------------------------------------------- semdedup


def _emb(spark):
    # Two well-separated directions; ids 0 and 1 are the centroids.
    # 2 ~ 0 (exact dup direction), 3 ~ 1 (near dup), 4 orthogonal-ish
    # to 1 but assigned to it, 5 ~ 0 again (dup of 0 AND of 2).
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [2.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.2]),
        (4, [0.0, 0.4, 1.0]),
        (5, [1.0, 0.1, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dup_flags(spark):
    out = {
        r.vec_id: (r.cent_id, r.max_sim, r.is_dup)
        for r in semantic_dup_flags(_emb(spark), n_centroids=2, tau=0.9).collect()
    }
    assert out[0][0] == 0 and out[2][0] == 0 and out[5][0] == 0
    assert out[1][0] == 1 and out[3][0] == 1 and out[4][0] == 1
    # lowest id per cluster has no lower-id member
    assert out[0][1] is None and not out[0][2]
    assert out[1][1] is None and not out[1][2]
    # exact-direction dup
    assert out[2][1] == 1.0 and out[2][2]
    assert out[5][2]                      # cos(0,5) ~ .995 >= .9
    assert out[3][2]                      # cos(1,3) ~ .98
    assert not out[4][2]                  # cos to 1/3 well below .9


def test_semantic_dedup_keeps_representatives(spark):
    kept = {r.vec_id for r in semantic_dedup(_emb(spark), n_centroids=2, tau=0.9).collect()}
    assert kept == {0, 1, 4}


def test_semantic_dedup_explicit_centroids(spark):
    cents = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0]), (9, [0.0, 1.0, 0.0])],
        "cent_id long, centroid array<double>",
    )
    out = {
        r.vec_id: r.cent_id
        for r in semantic_dup_flags(_emb(spark), centroids=cents).collect()
    }
    assert out[0] == 7 and out[1] == 9


# ---------------------------------------------------------------- url


@pytest.mark.parametrize(
    "raw,canon",
    [
        ("/Index.HTML?q=1&x=2", "/index.html"),
        ("/a//b///c/", "/a/b/c"),
        ("/path/", "/path"),
        ("/", "/"),
        ("/a#frag", "/a"),
        ("/a?x=/b/", "/a"),
    ],
)
def test_canonical_uri(spark, raw, canon):
    got = (
        spark.createDataFrame([(raw,)], "u string")
        .select(canonical_uri_expr("u").alias("c"))
        .collect()[0][0]
    )
    assert got == canon


def test_host_expr(spark):
    rows = [("https://example.com/x",), ("http://a.b:8080/",), ("-",)]
    got = [
        r[0]
        for r in spark.createDataFrame(rows, "u string")
        .select(host_expr("u"))
        .collect()
    ]
    assert got == ["example.com", "a.b:8080", ""]


def test_mix_temperature_boosts_tail_sources(spark):
    """alpha<1 up-weights tail groups: boost_bp > 10000 for the small
    source, < 10000 for the dominant one; shares sum to ~10000."""
    from webloghunter_spark.pipelines.split import mix_temperature

    rows = [(i, "tok " * 20, "big") for i in range(90)] + [
        (100 + i, "tok " * 20, "small") for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in mix_temperature(df, "source", 0.7).collect()}
    assert out["big"].raw_bp == 9000 and out["small"].raw_bp == 1000
    assert out["small"].temp_bp > out["small"].raw_bp
    assert out["big"].temp_bp < out["big"].raw_bp
    assert out["small"].boost_bp > 10000 > out["big"].boost_bp
    assert abs(out["big"].temp_bp + out["small"].temp_bp - 10000) <= 1
    import pytest

    with pytest.raises(ValueError):
        mix_temperature(df, "source", 0.0)


def test_oov_rate_flags_planted_oov_tokens(spark):
    """Tokens outside the top-k vocab count as OOV; fully-in-vocab
    docs score 0; empty docs score 0 with ntok 0."""
    from webloghunter_spark.pipelines.select import oov_rate

    common = "alpha beta gamma delta"
    rows = [(i, common) for i in range(20)]
    rows.append((100, common + " zzz-rare-1 zzz-rare-2"))
    rows.append((101, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in oov_rate(df, vocab_size=4).collect()}
    assert out[0].n_oov == 0 and out[0].oov_bp == 0
    assert out[100].n_oov == 2 and out[100].ntok == 6
    assert out[100].oov_bp == 3333  # floor(2*10000/6 + .5)
    assert out[101].ntok == 0 and out[101].oov_bp == 0


def test_contamination_spans_runs_and_extent(spark):
    """A doc embedding a full eval passage shows one long run; a doc
    with two separated quotes shows max_run < n_pos_hits; clean docs
    are absent."""
    from webloghunter_spark.pipelines.decontam import contamination_spans

    ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            # full passage embedded -> every 4-gram hits, one run
            (1, "x1 x2 the quick brown fox jumps over the lazy dog y1"),
            # two separated 4-token quotes -> two runs of length 1
            (2, "the quick brown fox a b c d e jumps over the lazy"),
            (3, "totally clean text here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_spans(tr, ev, n=4).collect()}
    assert 3 not in out
    assert out[1].max_run == out[1].n_pos_hits == 6
    assert out[2].n_pos_hits == 2 and out[2].max_run == 1


def test_token_budget_select_histogram_cutoff_and_boundary(spark):
    """Docs above the cutoff bucket are all selected; the boundary
    bucket admits greedily in id order (skipping an overflowing doc
    but admitting a later one that fits); below-cutoff rejected."""
    from webloghunter_spark.pipelines.select import token_budget_select

    rows = [
        (1, "t " * 10, 900),   # 10 tok, high bucket
        (2, "t " * 10, 900),
        # boundary bucket 500: ids 3,4,5 with 8, 7, 2 tokens
        (3, "t " * 8, 500),
        (4, "t " * 7, 500),
        (5, "t " * 2, 500),
        (6, "t " * 10, 100),   # below cutoff
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, score int")
    # budget 30: bucket 900 eats 20, remaining 10 at bucket 500:
    # id 3 (8) fits -> rem 2; id 4 (7) overflows -> skipped;
    # id 5 (2) fits -> rem 0. bucket 100 rejected.
    out = {r.doc_id: r.selected for r in
           token_budget_select(df, 30, score_col="score").collect()}
    assert out == {1: True, 2: True, 3: True, 4: False, 5: True, 6: False}
    # budget covering everything -> all selected
    out = {r.doc_id: r.selected for r in
           token_budget_select(df, 10_000, score_col="score").collect()}
    assert all(out.values())


def test_repeated_window_spans_union_no_double_count(spark):
    """A 10-token passage shared by two docs yields overlapping
    repeated 8-token windows whose UNION is 10 tokens, not 24; a
    unique doc is absent."""
    from webloghunter_spark.pipelines.dedup import repeated_window_spans

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 {shared} a3 a4"),
            (2, f"b1 {shared} b2 b3 b4"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_window_spans(df, window=8).collect()}
    assert 3 not in out
    # 10-token shared span -> 3 overlapping 8-windows, union = 10
    assert out[1].n_rep_windows == 3 and out[1].dup_tokens == 10
    assert out[2].n_rep_windows == 3 and out[2].dup_tokens == 10
    assert out[1].ntok == 14 and out[1].dup_bp == 7143


def test_remove_repeated_spans_cuts_exact_union(spark):
    """The intervention twin of the span audit: cleaned text drops
    EXACTLY the unioned duplicated spans — surrounding unique tokens
    survive in order, overlapping windows delete once, untouched docs
    pass through whitespace-normalized, and a fully-duplicated doc
    comes back empty rather than dropped."""
    from webloghunter_spark.pipelines.dedup import remove_repeated_spans

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10"
    df = spark.createDataFrame(
        [
            (1, f"a1 a2 {shared} a3 a4"),
            (2, f"b1 {shared} b2 b3 b4"),
            (3, "u1  u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
            (4, shared),  # fully covered by its own repeated windows
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_spans(df, window=8).collect()}
    assert len(out) == 4  # every input doc is present
    assert out[1].clean_text == "a1 a2 a3 a4"
    assert (out[1].ntok, out[1].removed_tokens) == (14, 10)
    assert out[2].clean_text == "b1 b2 b3 b4"
    assert (out[2].ntok, out[2].removed_tokens) == (14, 10)
    # untouched doc: whitespace-normalized passthrough, nothing removed
    assert out[3].clean_text == "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"
    assert out[3].removed_tokens == 0
    # fully-duplicated doc: empty text, caller decides the drop
    assert out[4].clean_text == "" and out[4].removed_tokens == 10


def test_padding_waste_arithmetic_and_edges(spark):
    """ceil-div sequence counts, per-group padding totals, zero-token
    docs contribute zero sequences."""
    from webloghunter_spark.pipelines.pack import padding_waste

    df = spark.createDataFrame(
        [
            (1, "a", " ".join(["t"] * 10)),   # 10 tok -> 3 seqs of 4, pad 2
            (2, "a", " ".join(["t"] * 4)),    # exactly 1 seq, pad 0
            (3, "a", ""),                      # zero tokens -> zero seqs
            (4, "b", "t"),                     # 1 tok -> 1 seq, pad 3
        ],
        "doc_id long, source string, text string",
    )
    out = {r.source: r for r in
           padding_waste(df, max_seq_len=4, group_col="source").collect()}
    a = out["a"]
    assert (a.n_docs, a.n_tokens, a.n_seqs, a.pad_tokens) == (3, 14, 4, 2)
    assert a.waste_bp == 1250  # 2 / 16
    b = out["b"]
    assert (b.n_seqs, b.pad_tokens, b.waste_bp) == (1, 3, 7500)


def test_vocab_coverage_curve(spark):
    """Coverage is monotone in V, ties break lexicographically, sizes
    beyond the type count saturate at full coverage."""
    from webloghunter_spark.pipelines.select import vocab_coverage

    # counts: x->4, b->2, a->2, z->1 ; top-1 = x, top-2 = x,a (tie a<b)
    df = spark.createDataFrame(
        [(1, "x x x x"), (2, "b b a a z")], "doc_id long, text string"
    )
    out = {r.vocab_size: r for r in
           vocab_coverage(df, sizes=[1, 2, 10]).collect()}
    assert out[1].covered_tokens == 4 and out[1].n_types == 1
    assert out[2].covered_tokens == 6  # x + a (not b: tie to 'a')
    assert out[10].n_types == 4 and out[10].covered_tokens == 9
    assert out[10].oov_bp == 0 and out[1].oov_bp == 5556  # 5/9
    assert out[1].total_tokens == out[10].total_tokens == 9


def test_cms_overestimate_audit(spark):
    """The audit rides the shared vocab sketch: estimates never
    underestimate the true top-k counts, over_bp >= 0, rows = k
    capped at the vocabulary size."""
    from webloghunter_spark.streaming.vocab import cms_overestimate_audit

    df = spark.createDataFrame(
        [(i, "Alpha beta ALPHA gamma" if i % 2 else "alpha delta")
         for i in range(30)],
        "doc_id long, text string",
    )
    out = {r.token: r for r in
           cms_overestimate_audit(df, "text", k=3).collect()}
    assert set(out) == {"alpha", "beta", "delta"}  # tie: beta < delta
    assert out["alpha"].true_cnt == 45
    for r in out.values():
        assert r.est_cnt >= r.true_cnt and r.over_bp >= 0


def test_source_divergence_matrix(spark):
    """Identically-distributed sources diverge ~0; a disjoint-vocab
    source diverges strongly from both; one row per unordered pair."""
    from webloghunter_spark.pipelines.select import source_divergence

    rows = (
        [(i, "a", "alpha beta gamma delta") for i in range(20)]
        + [(100 + i, "b", "alpha beta gamma delta") for i in range(20)]
        + [(200 + i, "c", "zeta eta theta iota") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.source_a, r.source_b): r for r in source_divergence(df).collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    assert out[("a", "b")].js_nano == 0  # identical distributions
    assert out[("a", "c")].js_nano > 10_000_000  # disjoint vocab
    assert out[("a", "c")].js_nano == out[("b", "c")].js_nano
    assert out[("a", "b")].n_a == 80 and out[("a", "b")].n_b == 80


def test_zipf_fit_slope_signs(spark):
    """A Zipf-shaped corpus fits a clearly negative log-log slope; a
    perfectly uniform type distribution fits slope 0."""
    from webloghunter_spark.pipelines.select import zipf_fit

    # counts ~ 1/rank: w1 x 32, w2 x 16, w3 x 8, ... w6 x 1
    words = []
    for i, c in enumerate([32, 16, 8, 4, 2, 1]):
        words += [f"w{i}"] * c
    zipfish = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    r = zipf_fit(zipfish, top_k=10).collect()[0]
    assert r.n_types == 6 and r.slope_micro < -1_500_000  # ~ -2/ln ratio
    uniform = spark.createDataFrame(
        [(1, "u1 u2 u3 u4 u1 u2 u3 u4")], "doc_id long, text string"
    )
    r = zipf_fit(uniform, top_k=10).collect()[0]
    assert r.slope_micro == 0 and r.n_types == 4


def test_mix_solver_upweights_target_like_source(spark):
    """Exponentiated-gradient rounds shift mass toward the source whose
    distribution matches the target; weights are deterministic ints
    near the simplex (sum ~ 1e6)."""
    from webloghunter_spark.pipelines.split import mix_match_weights

    rows = (
        [(i, "a", "alpha beta gamma delta") for i in range(20)]
        + [(100 + i, "b", "zeta eta theta iota") for i in range(20)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = df.filter(F.col("source") == "a").drop("source")
    w1 = {r.source: r.weight_micro
          for r in mix_match_weights(df, target).collect()}
    w2 = {r.source: r.weight_micro
          for r in mix_match_weights(df, target).collect()}
    assert w1 == w2
    assert w1["a"] > 500_000 > w1["b"]  # mass moved toward 'a'
    assert abs(sum(w1.values()) - 1_000_000) <= 2  # simplex, quantized


def test_mix_solver_extreme_mixtures_stay_finite(spark):
    """The clamp/z-guard crash modes from review: (A) a strongly
    divergent mixture (one matching source among many concentrated
    disjoint ones) must not overflow exp(); (B) all sources disjoint
    from the target (all positive gradients) must not divide by a
    zero normalizer — weights stay on the simplex in both cases."""
    from webloghunter_spark.pipelines.split import mix_match_weights

    rows = [(i, "s0", "tgt") for i in range(20)]
    for s in range(1, 10):
        rows += [(100 * s + i, f"s{s}", "junk") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = spark.createDataFrame(
        [(9000 + i, "tgt") for i in range(20)], "doc_id long, text string"
    )
    w = {r.source: r.weight_micro for r in mix_match_weights(df, target).collect()}
    assert w["s0"] > max(w[f"s{s}"] for s in range(1, 10))
    assert abs(sum(w.values()) - 1_000_000) <= len(w)
    # (B) nothing matches: solver converges to SOME simplex point
    far = spark.createDataFrame(
        [(9100 + i, "zzz qqq") for i in range(20)], "doc_id long, text string"
    )
    w2 = {r.source: r.weight_micro for r in mix_match_weights(df, far).collect()}
    assert abs(sum(w2.values()) - 1_000_000) <= len(w2)
    # NULL group rows are excluded, not a TypeError
    with_null = df.union(
        spark.createDataFrame([(9999, None, "x")], df.schema)
    )
    w3 = {r.source: r.weight_micro
          for r in mix_match_weights(with_null, target).collect()}
    assert None not in w3 and set(w3) == set(w)


def test_mix_solver_rejects_unbounded_driver_grid(spark, monkeypatch):
    """|groups| x n_buckets is checked against MIXFIT_MAX_CELLS, and the
    count collect is capped, so a high-cardinality group column fails
    loudly instead of landing on the driver."""
    from webloghunter_spark.pipelines import split

    rows = [(i, f"g{i % 5}", f"tok{i} tok{i + 1}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    target = df.drop("source")
    monkeypatch.setattr(split, "MIXFIT_MAX_CELLS", 5 * 16)
    assert split.mix_match_weights(df, target, n_buckets=16).count() == 5
    with pytest.raises(ValueError, match="MIXFIT_MAX_CELLS"):
        split.mix_match_weights(df, target, n_buckets=17)
    # far more non-empty cells than the cap: the capped collect raises too
    monkeypatch.setattr(split, "MIXFIT_MAX_CELLS", 3)
    with pytest.raises(ValueError, match="MIXFIT_MAX_CELLS"):
        split.mix_match_weights(df.withColumn("source", F.col("text")), target,
                                n_buckets=1)


def test_bpe_merge_learn_hierarchy_and_greedy(spark):
    """Merge training: argmax pair per round with (cnt desc, a, b)
    ties, 3-pass delimiter merge reaches the greedy fixpoint on
    back-to-back occurrences, merged symbols merge again, and a
    corpus with no repeating pair stops early."""
    from webloghunter_spark.pipelines.bpe import bpe_merge_learn

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "the cat sat on a hat"),
         (3, "a a a a a")],
        "doc_id long, text string",
    )
    out = [(r.step, r.sym_a, r.sym_b, r.pair_count)
           for r in bpe_merge_learn(df, steps=4).collect()]
    assert out == [
        (1, "a", "a", 4),              # 5 a's -> 4 adjacent pairs
        (2, "the", "cat", 3),
        (3, "sat", "on", 2),
        (4, "the\x01cat", "sat\x01on", 2),  # merged symbols merge again
    ]
    singleton = spark.createDataFrame(
        [(1, "x y z"), (2, "p q r")], "doc_id long, text string"
    )
    assert bpe_merge_learn(singleton, steps=4).count() == 0  # early stop


def test_bpe_encode_compression_report(spark):
    """bpe_encode applies the learned merges back per document:
    n_symbols reflects the doc's own share of the corpus merges,
    saved_bp is the rounded token reduction, empty docs report 0/0/0,
    and an early-stopped corpus (no repeating pair) leaves every doc
    unmerged (saved_bp = 0)."""
    from webloghunter_spark.pipelines.bpe import bpe_encode

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "the cat sat on a hat"),
         (3, "a a a a a"),
         (4, "   ")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.ntok, r.n_symbols, r.saved_bp)
            for r in bpe_encode(df, steps=4).collect()}
    # merges (from the learn test): (a,a), (the,cat), (sat,on),
    # (the^cat, sat^on).  Doc 1: 9 toks -> "the^cat^sat^on the mat
    # the^cat ran" = 5 symbols; doc 2: 6 -> "the^cat^sat^on a hat" =
    # 3; doc 3: "a a a a a" under 3-pass (a,a) merge -> a^a a^a a =
    # 3 symbols; doc 4 empty.
    assert rows[1] == (9, 5, 4444)
    assert rows[2] == (6, 3, 5000)
    assert rows[3] == (5, 3, 4000)
    assert rows[4] == (0, 0, 0)
    # early stop: no pair repeats -> identity encoding
    singleton = spark.createDataFrame(
        [(1, "x y z"), (2, "p q r")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.ntok, r.n_symbols, r.saved_bp)
           for r in bpe_encode(singleton, steps=4).collect()}
    assert out == {1: (3, 3, 0), 2: (3, 3, 0)}


def test_bpe_apply_frozen_merges_on_unseen_text(spark):
    """bpe_apply: merges trained on one corpus, applied FROZEN to
    held-out docs — segments only the patterns the trainer learned,
    re-encoding the training corpus reproduces bpe_encode exactly,
    and an empty merge table is the identity."""
    from webloghunter_spark.pipelines.bpe import (
        bpe_apply,
        bpe_encode,
        bpe_merge_learn,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "the cat sat on a hat"),
         (3, "a a a a a")],
        "doc_id long, text string",
    )
    merges = bpe_merge_learn(train, steps=4)
    held_out = spark.createDataFrame(
        [(10, "the cat sat on a log"),   # hits (the,cat),(sat,on),(merged pair)
         (11, "a a a dog"),              # hits (a,a) once under 3-pass
         (12, "nothing learned here"),   # identity
         (13, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.ntok, r.n_symbols, r.saved_bp)
            for r in bpe_apply(held_out, merges).collect()}
    # doc 10: the^cat^sat^on a log -> 3 symbols of 6 toks
    assert rows[10] == (6, 3, 5000)
    # doc 11: a^a a dog -> 3 symbols of 4 toks
    assert rows[11] == (4, 3, 2500)
    assert rows[12] == (3, 3, 0)
    assert rows[13] == (0, 0, 0)
    # re-encoding the training corpus with its own merges == bpe_encode
    enc = sorted(tuple(r) for r in bpe_encode(train, steps=4).collect())
    app = sorted(tuple(r) for r in bpe_apply(train, merges).collect())
    assert app == enc
    # empty merge table -> identity segmentation
    ident = {r.doc_id: (r.ntok, r.n_symbols, r.saved_bp)
             for r in bpe_apply(held_out, []).collect()}
    assert ident[10] == (6, 6, 0) and ident[13] == (0, 0, 0)


def test_bpe_apply_kernel_matches_expression(spark):
    """The Arrow-kernel fallback (real merge-table sizes) is
    row-for-row identical to the replace-chain expression form on the
    same table — including chained merges (the output symbol of step
    k is the input of step k+1), 3-pass back-to-back runs, and empty
    docs. A 1,024-merge table — far past the ~100-merge Catalyst
    cliff where the expression form stops planning — runs through the
    kernel in seconds."""
    from webloghunter_spark.pipelines.bpe import bpe_apply

    docs = spark.createDataFrame(
        [
            (1, "w0 w1 w2 w3 w4 w5"),       # chain: w0w1, then (w0w1)?
            (2, "w0 w1 w0 w1 w0 w1 w0 w1"), # back-to-back 3-pass case
            (3, "w9 w7 w5 w3 w1"),          # non-adjacent: identity
            (4, ""),
            (5, None),
            (6, "the cat sat on the mat"),
        ],
        "doc_id long, text string",
    )
    merges = [(i, f"w{i}", f"w{i+1}") for i in range(8)] + [
        (100, "the", "cat"),
        (101, "sat", "on"),
    ]
    expr = sorted(
        tuple(r)
        for r in bpe_apply(docs, merges, kernel_threshold=10**9).collect()
    )
    kern = sorted(
        tuple(r)
        for r in bpe_apply(docs, merges, kernel_threshold=0).collect()
    )
    assert expr == kern

    # Adversarial fixtures for the pair-indexed fast path: same-symbol
    # overlap runs (the shared-delimiter multi-pass case), duplicate
    # pairs at two steps, separator-collision raw tokens, an
    # EARLIER-step pair created only by a later merge (must NOT fire —
    # the chain never revisits), and a chain where step k's output
    # feeds step k+1 mid-table.
    adv_docs = spark.createDataFrame(
        [
            (1, "a a a a a a a a"),            # (a,a) overlap run
            (2, "a a a"),                      # odd run
            (3, "a b a b a b"),                # alternating
            (4, "x y x y x y x y x y"),        # duplicate-pair steps
            (5, "bad\x01tok a a"),             # separator collision
            (6, "p q r"),                      # late (p,qr) after (q,r)
            (7, "u v w u v w"),                # chain: uv then (uv,w)
            (8, "c d"),                        # pair for a PASSED step
        ],
        "doc_id long, text string",
    )
    sep = "\x01"
    adv_merges = [
        (0, "a", "a"),
        (1, "x", "y"),
        (2, "q", "r"),
        # step 3 pair (c,d) exists only if step 5 ran first — it can't:
        # by step 5's turn, step 3 has passed
        (3, "c", "d"),
        (4, "u", "v"),
        (5, f"u{sep}v", "w"),
        (6, "x", "y"),                          # duplicate pair again
        (7, "p", f"q{sep}r"),                   # uses step 2's output
        (8, f"a{sep}a", f"a{sep}a"),            # merge of merged
    ]
    adv_expr = sorted(
        tuple(r)
        for r in bpe_apply(
            adv_docs, adv_merges, kernel_threshold=10**9
        ).collect()
    )
    adv_kern = sorted(
        tuple(r)
        for r in bpe_apply(adv_docs, adv_merges, kernel_threshold=0).collect()
    )
    assert adv_expr == adv_kern

    # malformed table (symbol with an embedded space) falls back to
    # the linear kernel and still matches the expression form exactly
    bad_merges = [(0, "a b", "c"), (1, "a", "a")]
    bad_expr = sorted(
        tuple(r)
        for r in bpe_apply(
            adv_docs, bad_merges, kernel_threshold=10**9
        ).collect()
    )
    bad_kern = sorted(
        tuple(r)
        for r in bpe_apply(adv_docs, bad_merges, kernel_threshold=0).collect()
    )
    assert bad_expr == bad_kern
    # 1k merges: expression form would not plan; the kernel just runs
    big = [(i, f"w{i}", f"w{i+1}") for i in range(1024)]
    out = {r.doc_id: r.n_symbols
           for r in bpe_apply(docs, big, kernel_threshold=64).collect()}
    assert out[3] == 5 and out[4] == 0   # non-adjacent identity, empty
    assert out[1] < 6                    # chain merges collapsed doc 1


def test_bpe_roundtrip_detects_separator_collision(spark):
    """decode(encode(x)) == x holds for every clean doc under any
    well-formed merge table; a doc whose RAW text contains the merge
    separator chr(1) flips ok to False — the corruption the
    pre-deployment vocab check exists to catch. Expression and kernel
    forms agree row-for-row."""
    from webloghunter_spark.pipelines.bpe import bpe_merge_learn, bpe_roundtrip

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "the cat sat on a hat")],
        "doc_id long, text string",
    )
    merges = bpe_merge_learn(train, steps=3)
    held = spark.createDataFrame(
        [(10, "the cat sat on a log"),
         (11, "no learned pairs here"),
         (12, ""),
         (13, None),
         (14, "bad\x01token the cat")],  # separator collision
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.ntok, r.n_symbols, r.ok)
            for r in bpe_roundtrip(held, merges).collect()}
    assert rows[10][2] and rows[11][2] and rows[12] == (0, 0, True)
    assert rows[13] == (0, 0, True)
    assert rows[14][2] is False          # chr(1) in raw text detected
    assert rows[10][1] < rows[10][0]     # merges actually applied
    # kernel form agrees (force it with threshold 0)
    kern = {r.doc_id: (r.ntok, r.n_symbols, r.ok)
            for r in bpe_roundtrip(held, merges,
                                   kernel_threshold=0).collect()}
    assert kern == rows


def test_mmr_select_diversity_beats_redundancy(spark):
    """MMR: pick 1 is the most query-relevant vector; with a low
    lambda the next pick skips a near-duplicate of pick 1 in favor of
    a less-relevant but diverse vector; with lambda = 1 the picks are
    pure relevance order. Early stop caps output at the pool size."""
    from webloghunter_spark.pipelines.select import mmr_select

    # query = (1, 0); id 2 is most relevant (rel ~.98) and id 1 is a
    # near-copy of it; id 3 is less relevant but near-orthogonal.
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]),
         (1, [0.96, 0.28]),
         (2, [0.98, 0.199]),   # rel ~.98, sim to id1 ~.9965
         (3, [0.28, 0.96])],   # rel .28,  sim to id1 ~.5376
        "vec_id long, embedding array<float>",
    )
    lo = mmr_select(df, k=3, lam_bp=3000, query_id=0).collect()
    assert [r.vec_id for r in lo] == [2, 3, 1]
    assert [r.sel_rank for r in lo] == [1, 2, 3]
    assert lo[0].penalty_bp == 0
    # lambda = 1: pure relevance order (2 outranks 1 outranks 3)
    hi = mmr_select(df, k=3, lam_bp=10000, query_id=0).collect()
    assert [r.vec_id for r in hi] == [2, 1, 3]
    assert all(r.score_micro == 10000 * r.rel_bp for r in hi)
    # pool of 3 candidates, k=5 -> early stop at 3 rows
    assert mmr_select(df, k=5, lam_bp=5000, query_id=0).count() == 3


def test_hard_negatives_label_prune_and_topk(spark):
    """Hard negatives: same-label store rows never appear, NULL labels
    match nothing, per-query output is top-k by (cosine desc, id)."""
    from webloghunter_spark.functions.similarity import hard_negatives

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 7),
         (10, [0.99, 0.141], 7),    # same label: excluded
         (11, [0.96, 0.28], 3),     # neg, cos .96
         (12, [0.6, 0.8], 3),       # neg, cos .6
         (13, [0.0, 1.0], 5),       # neg, cos 0
         (14, [0.9, 0.436], None)], # NULL label: excluded
        "vec_id long, embedding array<float>, label long",
    )
    qs = emb.filter(F.col("vec_id") == 0)
    store = emb.filter(F.col("vec_id") >= 10)
    rows = hard_negatives(qs, store, k=2).collect()
    assert [(r.qid, r.vec_id, r.label) for r in rows] == [
        (0, 11, 3), (0, 12, 3)
    ]
    assert rows[0].cosine == 0.96
    # NULL-labeled query matches nothing
    qnull = spark.createDataFrame(
        [(1, [1.0, 0.0], None)],
        "vec_id long, embedding array<float>, label long",
    )
    assert hard_negatives(qnull, store, k=2).count() == 0


def test_hard_negatives_zero_norm_excluded(spark):
    """Zero-norm vectors are excluded on both sides (the
    triplet_mining contract): a zero-norm query emits NO rows instead
    of k NULL-cosine smallest-id rows, and a zero-norm store row
    never appears as a negative."""
    from webloghunter_spark.functions.similarity import hard_negatives

    qs = spark.createDataFrame(
        [(0, [0.0, 0.0], 7), (1, [1.0, 0.0], 7)],
        "vec_id long, embedding array<float>, label long",
    )
    store = spark.createDataFrame(
        [(10, [0.0, 0.0], 3), (11, [0.6, 0.8], 3)],
        "vec_id long, embedding array<float>, label long",
    )
    rows = hard_negatives(qs, store, k=5).collect()
    assert [(r.qid, r.vec_id) for r in rows] == [(1, 11)]


def test_label_propagation_zero_norm_excluded(spark):
    """Zero-norm seeds never vote and zero-norm unlabeled rows get no
    prediction — in BOTH the expr path and the Arrow kernel."""
    from webloghunter_spark.functions.similarity import (
        label_propagation,
        label_propagation_fast,
    )

    seeds = spark.createDataFrame(
        [(0, [0.0, 0.0], 9), (1, [1.0, 0.0], 2), (2, [0.9, 0.1], 2)],
        "vec_id long, embedding array<double>, label long",
    )
    unl = spark.createDataFrame(
        [(10, [0.0, 0.0]), (11, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    for fn in (label_propagation, label_propagation_fast):
        rows = fn(unl, seeds, k=3).collect()
        assert [(r.vec_id, r.pred_label, r.votes) for r in rows] == [
            (11, 2, 2)
        ], fn.__name__


def test_cluster_label_purity_contingency(spark):
    """Purity audit: majority label per cluster with smallest-label
    tie-break, NULL labels excluded, purity_bp round-half-up."""
    from webloghunter_spark.pipelines.kmeans import cluster_label_purity

    assigned = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1), (7, 1)],
        "vec_id long, cent_id long",
    )
    labels = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 3),          # cluster 0: 7x2, 3x1
         (4, 5), (5, 2), (6, None), (7, 5)],  # cluster 1: 5x2, 2x1
        "vec_id long, label int",
    )
    rows = {r.cent_id: r for r in
            cluster_label_purity(assigned, labels).collect()}
    c0, c1 = rows[0], rows[1]
    assert (c0.n_total, c0.n_labels, c0.top_label, c0.top_n) == (3, 2, 7, 2)
    assert c0.purity_bp == 6667  # 2/3 -> 6666.67 -> round-half-up
    assert (c1.n_total, c1.n_labels, c1.top_label, c1.top_n) == (3, 2, 5, 2)
    # tie-break: equal counts pick the SMALLEST label
    tied = spark.createDataFrame(
        [(1, 9), (2, 4)], "vec_id long, label int"
    )
    t = cluster_label_purity(
        spark.createDataFrame([(1, 0), (2, 0)], "vec_id long, cent_id long"),
        tied,
    ).collect()[0]
    assert (t.top_label, t.top_n, t.purity_bp) == (4, 1, 5000)


def test_source_scorecard_cut_decision_row(spark):
    """The which-source-do-we-cut screener: self vs cross near-dup
    pair counts land on the right sources, containment attrition
    rides containment_drop's keep-best decisions, NULL sources get a
    row joined through the ''-bucket, and card hygiene columns come
    through."""
    from webloghunter_spark.pipelines.select import source_scorecard

    long = " ".join(f"t{j}" for j in range(30))
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{j} x{j} y{j}" for j in range(12))
    rows = [
        # 3 identical docs: (1,2) self-s1 near-dup, (1,3)+(2,3) cross
        (1, "s1", "en", long),
        (2, "s1", "en", long),
        (3, "s2", "en", long),
        # containment: 4 (s2) inside 5 (s1)
        (4, "s2", "en", short),
        (5, "s1", "en", f"{filler} {short} unique tail words here"),
        # NULL source, empty text
        (6, None, None, ""),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string"
    )
    out = {r.source: r for r in source_scorecard(df).collect()}
    assert set(out) == {"s1", "s2", None}
    s1, s2, nul = out["s1"], out["s2"], out[None]
    assert (s1.n_docs, s2.n_docs, nul.n_docs) == (3, 2, 1)
    assert s1.self_dup_pairs == 1 and s2.self_dup_pairs == 0
    assert s1.cross_dup_pairs == 2 and s2.cross_dup_pairs == 2
    # exact-dup share: docs 1,2 both count in s1 -> 2/3
    assert s1.dup_doc_bp == round(2 / 3 * 10000)
    # containment keep-best on the identical trio drops 2 (s1) and
    # 3 (s2); the doc-in-doc pair drops 4 (s2)
    assert s1.contained_docs == 1 and s2.contained_docs == 2
    assert s2.contained_bp == 10000
    assert nul.empty_bp == 10000 and nul.contained_docs == 0
    assert s1.top_lang == "en" and nul.top_lang is None


def test_dataset_card_composition_and_hygiene(spark):
    """Dataset card: token totals, lang mix with NULL langs excluded
    from the mix but counted in totals, exact-dup share counts BOTH
    copies, empty docs flagged, lang tie breaks lexicographically."""
    from webloghunter_spark.pipelines.select import dataset_card

    df = spark.createDataFrame(
        [(1, "a b c", "en", "web"),
         (2, "a b c", "en", "web"),     # exact dup of 1
         (3, "x y", "fr", "web"),
         (4, "", None, "web"),          # empty + NULL lang
         (5, "p q r s", "de", "books"),
         (6, "t u", "en", "books")],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.source: r for r in dataset_card(df).collect()}
    web, books = rows["web"], rows["books"]
    assert (web.n_docs, web.n_tokens) == (4, 8)
    assert (web.n_langs, web.top_lang, web.top_lang_bp) == (2, "en", 5000)
    assert web.dup_doc_bp == 5000   # 2 of 4 docs are in a dup group
    assert web.empty_bp == 2500
    assert (books.n_docs, books.n_tokens, books.n_langs) == (2, 6, 2)
    # tie: de and en both 1 doc -> lexicographically smaller wins
    assert (books.top_lang, books.top_lang_bp) == ("de", 5000)
    assert (books.dup_doc_bp, books.empty_bp) == (0, 0)


def test_quality_classifier_learns_separation(spark):
    """3 GD rounds separate disjoint-vocabulary corpora: target-like
    docs score above 5000 bp, raw-like below; weights are
    deterministic ints; an empty doc sits at the 5000 bp prior."""
    from webloghunter_spark.pipelines.classify import (
        quality_classifier_scores,
        train_quality_classifier,
    )

    target = spark.createDataFrame(
        [(i, "science physics quantum energy theory") for i in range(20)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, "buy cheap pills casino winner click") for i in range(20)]
        + [(200, "")],
        "doc_id long, text string",
    )
    w1 = train_quality_classifier(target, raw)
    w2 = train_quality_classifier(target, raw)
    assert w1 == w2 and len(w1) == 128  # deterministic int weights
    assert any(wm != 0 for _, wm in w1)
    scores = {
        r.doc_id: r.prob_bp
        for r in quality_classifier_scores(
            target.unionByName(raw), w1
        ).collect()
    }
    assert scores[0] > 5000 > scores[100]  # separation
    assert scores[200] == 5000  # empty doc = prior
    assert all(scores[i] == scores[0] for i in range(20))  # same text


def test_quality_classifier_shared_features_identical(spark):
    """The train-then-score composition can reuse the training pass's
    materialized (id, b, x) feature frame (return_features — the
    round-13 optimization that drops the second tokenize+explode+
    aggregate pass): scores through the shared frame are IDENTICAL to
    a fresh doc_features pass, because doc_features is a pure function
    of the (id, text) row set."""
    from webloghunter_spark.pipelines.classify import (
        quality_classifier_scores,
        train_quality_classifier,
    )
    from webloghunter_spark.session import release_materialized

    target = spark.createDataFrame(
        [(i, "science physics quantum energy theory") for i in range(10)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100 + i, "buy cheap pills casino winner click") for i in range(10)]
        + [(200, "")],
        "doc_id long, text string",
    )
    docs = target.unionByName(raw)
    try:
        w_plain = train_quality_classifier(target, raw)
        fresh = sorted(
            map(tuple, quality_classifier_scores(docs, w_plain).collect())
        )
        w, feat = train_quality_classifier(
            target, raw, return_features=True
        )
        assert w == w_plain
        shared = sorted(
            map(
                tuple,
                quality_classifier_scores(docs, w, features=feat).collect(),
            )
        )
        assert shared == fresh
    finally:
        release_materialized()


def test_dsir_weights_prefer_target_like_docs(spark):
    """Docs sharing the target's vocabulary score higher than docs in
    pure raw-pool vocabulary; weights are deterministic and n_grams
    matches token counts."""
    from webloghunter_spark.pipelines.select import dsir_weights

    target = spark.createDataFrame(
        [(1000 + i, "science physics quantum theory energy") for i in range(5)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "science physics quantum theory energy"),
         (2, "casino jackpot lucky winner bonus"),
         (3, "casino jackpot lucky winner bonus")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dsir_weights(raw, target).collect()}
    assert set(out) == {1, 2, 3}
    assert all(r.n_grams == 5 for r in out.values())
    assert out[1].weight_micro > out[2].weight_micro
    assert out[2].weight_micro == out[3].weight_micro
    again = {r.doc_id: r.weight_micro
             for r in dsir_weights(raw, target).collect()}
    assert again == {k: v.weight_micro for k, v in out.items()}


def test_score_calibration_per_group_quantiles(spark):
    """Quantiles are the smallest score reaching ceil(p*n/10000)
    running count, computed per group; validates against a known
    1..100 score ladder and a skewed group."""
    from webloghunter_spark.pipelines.select import score_calibration

    rows = [(f"d{i}", "a", i) for i in range(1, 101)]      # 1..100
    rows += [(f"e{i}", "b", 10) for i in range(9)]          # 9x 10
    rows += [("e9", "b", 99)]                               # 1x 99
    df = spark.createDataFrame(rows, "doc_id string, source string, score int")
    out = {r.source: r for r in
           score_calibration(df, score_col="score").collect()}
    assert out["a"].n_docs == 100
    assert (out["a"].p2500_bp, out["a"].p5000_bp, out["a"].p7500_bp) == (25, 50, 75)
    # group b: 9 tens + one 99 -> p25/p50/p75 all land on 10
    assert out["b"].n_docs == 10
    assert (out["b"].p2500_bp, out["b"].p5000_bp, out["b"].p7500_bp) == (10, 10, 10)
    import pytest

    with pytest.raises(ValueError):
        score_calibration(df, score_col="score", ps_bp=(0,))


def test_component_representatives_pick_best_quality(spark):
    """Exactly one is_rep per component; highest score wins, ties to
    the lowest id; singletons are their own representative."""
    from webloghunter_spark.pipelines.dedup import component_representatives

    cc = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 8)], "doc_id long, rep long"
    )
    scores = spark.createDataFrame(
        [(1, 50), (2, 90), (3, 90), (7, 10), (8, 0)],
        "doc_id long, quality_bp int",
    )
    out = {r.doc_id: r for r in
           component_representatives(cc, scores).collect()}
    assert {d for d, r in out.items() if r.is_rep} == {2, 7, 8}
    # component 1: docs 2 and 3 tie at 90 -> lowest id (2) wins
    assert out[2].is_rep and not out[3].is_rep and not out[1].is_rep
    assert out[7].is_rep and out[8].is_rep  # singletons
    assert sum(1 for r in out.values() if r.is_rep) == 3


def test_jsonl_source_roundtrip_and_error_channel(spark, tmp_path):
    """Well-formed lines parse to typed rows; malformed JSON and
    id-less objects land in the errors frame with their raw text;
    blank lines are skipped; writer round-trips."""
    import json as _json

    from webloghunter_spark.sources.jsonl import (
        read_jsonl_documents,
        write_jsonl_documents,
    )

    src = tmp_path / "docs.jsonl"
    lines = [
        _json.dumps({"doc_id": 1, "text": "hello world", "lang": "en",
                     "source": "s0", "n_chars": 11}),
        "",
        _json.dumps({"text": "no id here"}),       # id-less -> error
        "{not json at all",                         # malformed -> error
        _json.dumps({"doc_id": 2, "text": "zwei", "lang": "de",
                     "source": "s1", "n_chars": 4}),
    ]
    src.write_text("\n".join(lines))
    docs, errors = read_jsonl_documents(spark, str(src))
    got = {r.doc_id: r for r in docs.collect()}
    assert set(got) == {1, 2}
    assert got[1].text == "hello world" and got[2].lang == "de"
    assert got[1].source_file.endswith("docs.jsonl")
    errs = [r.raw for r in errors.collect()]
    assert len(errs) == 2 and "{not json at all" in errs
    # round-trip through the writer
    out = tmp_path / "out_jsonl"
    write_jsonl_documents(docs.drop("source_file"), str(out))
    back, back_err = read_jsonl_documents(spark, str(out))
    assert back.count() == 2 and back_err.count() == 0


def test_compression_ratio_flags_repetition(spark):
    """Repetitive text compresses far below varied text; empty/null
    text yields NULL; deterministic across calls."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.text import compression_ratio_udf

    udf = compression_ratio_udf()
    df = spark.createDataFrame(
        [
            (1, "buy " * 500),
            (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(500))),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.bp for r in
           df.select("doc_id", udf(F.col("text")).alias("bp")).collect()}
    assert out[3] is None and out[4] is None
    assert 0 < out[1] < 500          # 'buy buy buy' squeezes tiny
    assert out[2] > 2 * out[1]       # varied text compresses less
    again = {r.doc_id: r.bp for r in
             df.select("doc_id", udf(F.col("text")).alias("bp")).collect()}
    assert again == out


def test_incremental_near_dedup_asymmetric(spark):
    """Batch docs near-duplicating a corpus doc are dropped; novel
    batch docs survive — including new-vs-new duplicates (asymmetry
    is the contract); corpus is untouched by construction."""
    from webloghunter_spark.pipelines.dedup import incremental_near_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of 1
         (11, "totally novel content nothing shared here at all"),
         (12, "totally novel content nothing shared here at all")],  # new-vs-new
        "doc_id long, text string",
    )
    out = sorted(
        r.doc_id
        for r in incremental_near_dedup(
            new, corpus, threshold=0.8, num_hashes=4, band_size=2
        ).collect()
    )
    assert out == [11, 12]


def test_corpus_ops_tolerate_empty_and_null_inputs(spark):
    """Zero-row and NULL-text inputs must not crash any curation
    operator — the empty-partition / bad-record reality of a 100 TB
    ingest. Each op returns a well-formed (possibly empty) frame."""
    from webloghunter_spark.pipelines.decontam import contamination_spans
    from webloghunter_spark.pipelines.dedup import (
        incremental_near_dedup,
        repeated_window_spans,
    )
    from webloghunter_spark.pipelines.select import (
        dsir_weights,
        oov_rate,
        score_calibration,
        token_budget_select,
    )
    from webloghunter_spark.pipelines.split import mix_temperature

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    nulls = spark.createDataFrame(
        [(1, None, "s0"), (2, "", "s0"), (3, "ok text here", "s1")],
        "doc_id long, text string, source string",
    )
    some = spark.createDataFrame(
        [(9, "a b c d e", "s9")], "doc_id long, text string, source string"
    )

    assert repeated_window_spans(empty, window=3).count() == 0
    assert repeated_window_spans(nulls, window=3).count() == 0
    assert oov_rate(empty).count() == 0
    ov = {r.doc_id: r for r in oov_rate(nulls).collect()}
    assert ov[1].ntok == 0 and ov[2].ntok == 0 and ov[3].ntok == 3
    assert mix_temperature(empty).count() == 0
    mt = mix_temperature(nulls).collect()
    assert {r.source for r in mt} == {"s0", "s1"}
    assert score_calibration(
        empty.selectExpr("source", "doc_id as quality_bp")
    ).count() == 0
    scored = nulls.selectExpr("doc_id", "text", "doc_id as score")
    sel = token_budget_select(scored, 100, score_col="score")
    assert all(r.selected for r in sel.collect())
    assert token_budget_select(
        empty.selectExpr("doc_id", "text", "doc_id as score"),
        100,
        score_col="score",
    ).count() == 0
    assert dsir_weights(empty, some).count() == 0
    # null/empty-text raw docs simply contribute no grams
    dw = dsir_weights(nulls, some)
    assert {r.doc_id for r in dw.collect()} == {3}
    assert contamination_spans(empty, some, n=2).count() == 0
    assert contamination_spans(nulls, some, n=2).count() == 0
    assert incremental_near_dedup(empty, some).count() == 0
    # empty corpus: everything in the batch survives
    assert incremental_near_dedup(some, empty).count() == 1


def test_token_budget_boundary_guard_and_zero_token_admission(spark):
    """Zero-token docs in the boundary bucket are admitted without a
    driver round-trip; an over-deep boundary bucket trips the guard
    instead of collecting it."""
    import pytest

    from webloghunter_spark.pipelines.select import token_budget_select

    rows = [(1, "t " * 10, 900)]
    rows += [(10 + i, "t " * 4, 500) for i in range(6)]   # boundary
    rows += [(50, "", 500), (51, None, 500)]               # zero-token
    df = spark.createDataFrame(rows, "doc_id long, text string, score int")
    # budget 18: bucket 900 eats 10; remaining 8 admits ids 10,11 (4+4)
    out = {r.doc_id: r.selected for r in
           token_budget_select(df, 18, score_col="score").collect()}
    assert out[1] and out[10] and out[11]
    assert not any(out[i] for i in (12, 13, 14, 15))
    assert out[50] and out[51]  # zero-token boundary docs always fit
    with pytest.raises(ValueError, match="boundary score bucket"):
        token_budget_select(df, 18, score_col="score", max_boundary_rows=3)


def test_distribution_drift_js_properties(spark):
    """JS is ~0 for identical halves, grows with disjoint vocabulary,
    is symmetric, and bounded by ln 2 (in nano-nats)."""
    from webloghunter_spark.pipelines.select import distribution_drift

    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(40)],
        "doc_id long, text string",
    )
    a = same.filter("doc_id % 2 = 0")
    b = same.filter("doc_id % 2 = 1")
    low = distribution_drift(a, b).collect()[0]
    assert low.n_a == low.n_b == 80
    assert abs(low.js_nano) < 1_000_000  # ~0 vs ln2 ~ 6.9e8 nano-nats

    other = spark.createDataFrame(
        [(i, "zeta eta theta iota") for i in range(20)],
        "doc_id long, text string",
    )
    hi = distribution_drift(a, other).collect()[0]
    assert hi.js_nano > 20 * abs(low.js_nano) + 10_000_000
    assert hi.js_nano < 693_147_181 + 1_000_000  # <= ln 2 + slack
    # symmetric
    rev = distribution_drift(other, a).collect()[0]
    assert rev.js_nano == hi.js_nano


def test_embedding_drift_detects_region_shift(spark):
    """Identical vector sets show ~0 JS; a 90-degree-rotated set lands
    in different LSH buckets and shows large drift; symmetric."""
    import math

    from webloghunter_spark.pipelines.select import embedding_drift

    rows = [
        (i, [math.cos(i * 0.1), math.sin(i * 0.1)] + [0.0] * 62)
        for i in range(40)
    ]
    a = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    same = embedding_drift(a, a, num_planes=4).collect()[0]
    assert abs(same.js_nano) < 1_000_000
    rot = spark.createDataFrame(
        [(i, [-v[1], v[0]] + v[2:]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )
    hi = embedding_drift(a, rot, num_planes=4).collect()[0]
    assert hi.js_nano > 10 * abs(same.js_nano) + 5_000_000
    assert embedding_drift(rot, a, num_planes=4).collect()[0].js_nano == hi.js_nano


def test_label_propagation_majority_and_ties(spark):
    """kNN vote on hand-built 2D vectors: a vector between two
    clusters takes the majority of its k nearest seeds; an exact vote
    tie breaks to the smaller label; NULL-labeled seeds never vote."""
    from webloghunter_spark.functions.similarity import label_propagation

    seeds = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1), (1, [0.9, 0.1], 1), (2, [0.8, 0.2], 1),
            (3, [0.0, 1.0], 2), (4, [0.1, 0.9], 2),
            (5, [0.5, 0.5], None),  # unlabeled seed: excluded
        ],
        "vec_id long, embedding array<double>, label long",
    )
    unl = spark.createDataFrame(
        [
            (10, [1.0, 0.05]),   # deep in cluster 1
            (11, [0.05, 1.0]),   # deep in cluster 2
            (12, [1.0, 1.0]),    # equidistant-ish; k=4 -> 2 votes each,
                                 # tie breaks to label 1
        ],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: (r.pred_label, r.votes)
           for r in label_propagation(unl, seeds, k=3).collect()}
    assert out[10] == (1, 3)   # all three nearest are cluster-1 seeds
    assert out[11] == (2, 2)   # both cluster-2 seeds + one stray 1
    assert out[12] == (1, 2)   # nearest 3 split 2-1 for label 1
    # k=4 pulls a second label-1 seed into vec 11's neighborhood:
    # exact 2-2 vote tie breaks to the smaller label
    out4 = {r.vec_id: (r.pred_label, r.votes)
            for r in label_propagation(unl, seeds, k=4).collect()}
    assert out4[11] == (1, 2)
    # NULL seed never contributes: with only the NULL seed available
    # there are no votes at all
    only_null = seeds.filter("vec_id = 5")
    assert label_propagation(unl, only_null, k=3).count() == 0


def test_semantic_contam_flags_same_bucket_neighbors(spark):
    """A train vector colinear with an eval vector is contaminated
    (cosine 1.0, same LSH bucket by construction); an anti-parallel
    one is not; every train row comes back exactly once with a
    zero-filled miss row."""
    from webloghunter_spark.pipelines.decontam import semantic_contam

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    anti = [-1.0] + [0.0] * (dim - 1)
    train = spark.createDataFrame(
        [(1, base), (2, anti), (3, [0.0, 1.0] + [0.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [(100, [2.0] + [0.0] * (dim - 1))],
        "vec_id long, embedding array<double>",
    )
    out = {r.vec_id: (r.n_contam, r.max_cos_bp, r.contaminated)
           for r in semantic_contam(
               train, ev, threshold=0.9, num_planes=2, dim=dim
           ).collect()}
    assert len(out) == 3
    assert out[1] == (1, 10000, True)      # cosine 1.0 -> 10000 bp
    assert out[2] == (0, 0, False)         # anti-parallel: cosine -1
    assert out[3] == (0, 0, False)         # orthogonal: cosine 0


def test_label_propagation_fast_matches_expr(spark):
    """The Arrow kernel reproduces the expr path row-for-row,
    including cosine-boundary and vote ties, on md5-derived
    deterministic vectors."""
    import hashlib

    from webloghunter_spark.functions.similarity import (
        label_propagation,
        label_propagation_fast,
    )

    def vec(i, d=8):
        return [
            (int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:2], 16) - 128)
            / 128.0
            for j in range(d)
        ]

    seeds = spark.createDataFrame(
        [(i, vec(i), i % 3) for i in range(30)],
        "vec_id long, embedding array<double>, label long",
    )
    unl = spark.createDataFrame(
        [(100 + i, vec(1000 + i)) for i in range(40)]
        # exact copies of seed vectors: cosine 1.0 ties across seeds
        + [(200 + i, vec(i)) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(map(tuple, label_propagation(unl, seeds, k=7).collect()))
    b = sorted(map(tuple, label_propagation_fast(unl, seeds, k=7).collect()))
    assert a == b and len(a) == 45


def test_token_budget_by_group_independent_budgets(spark):
    """Each group spends only its own budget: a generous group admits
    everything, a tight one cuts; greedy-skip and zero-token
    admission apply per group; a data group missing from the plan
    raises."""
    import pytest
    from pyspark.sql import functions as F

    from webloghunter_spark.pipelines.select import token_budget_by_group

    rows = [
        # group a: 3 docs x 5 tokens, scores 100/90/90
        (1, "a", 100, "w w w w w"), (2, "a", 90, "w w w w w"),
        (3, "a", 90, "w w w w w"),
        # group b: same shape
        (11, "b", 100, "w w w w w"), (12, "b", 90, "w w w w w"),
        (13, "b", 90, "w w w w w"),
        # zero-token doc at b's boundary score: always admitted
        (14, "b", 90, ""),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, grp string, score int, text string"
    )
    # a gets room for everything; b for the top doc + one boundary doc
    out = {r.doc_id: r.selected for r in token_budget_by_group(
        df, {"a": 100, "b": 10}, group_col="grp", score_col="score"
    ).collect()}
    assert all(out[i] for i in (1, 2, 3))        # a: all fit
    assert out[11] and out[12] and not out[13]   # b: greedy id order
    assert out[14]                               # zero-token: free
    with pytest.raises(ValueError, match="have no budget"):
        token_budget_by_group(df, {"a": 100}, group_col="grp",
                              score_col="score").collect()


def test_span_corruption_plan_replay_and_digest(spark):
    """The mask replays from (seed, id, pos) in pure Python: flags,
    span count (adjacent runs collapse), corrupt rate, and the
    masked-text digest all match; empty docs emit zeroed rows."""
    import hashlib

    from webloghunter_spark.pipelines.pack import span_corruption_plan

    rows = [(i, " ".join(f"w{j}" for j in range(30))) for i in range(10)]
    rows += [(99, ""), (100, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_corruption_plan(
        df, seed="s", rate_bp=3000).collect()}
    texts = dict(rows)
    for d, r in out.items():
        toks = (texts[d] or "").split()
        flags = [
            int(hashlib.md5(f"s|{d}|{i}".encode()).hexdigest()[:8], 16)
            % 10000 < 3000
            for i in range(1, len(toks) + 1)
        ]
        n_spans = sum(
            1 for i, f in enumerate(flags) if f and (i == 0 or not flags[i - 1])
        )
        assert r.ntok == len(toks)
        assert r.n_corrupted == sum(flags)
        assert r.n_spans == n_spans, d
        masked = " ".join("<X>" if f else t for t, f in zip(toks, flags))
        assert r.masked_digest == hashlib.md5(masked.encode()).hexdigest()
    assert out[99].ntok == 0 and out[99].n_spans == 0
    assert out[100].n_corrupted == 0 and out[100].corrupt_bp == 0
    # at 30% some doc has adjacent corrupted tokens: spans < corrupted
    assert any(0 < out[d].n_spans < out[d].n_corrupted for d in range(10))


def test_triplet_mining_hardest_pos_and_neg(spark):
    """Each anchor pairs with its most-similar same-label and
    different-label store vectors; an anchor whose label has no
    store twin gets a NULL pos side; NULL-label rows never appear."""
    from webloghunter_spark.functions.similarity import triplet_mining

    qs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 1.0], 2), (2, [0.5, 0.5], 3),
         (3, [1.0, 1.0], None)],
        "vec_id long, embedding array<double>, label long",
    )
    store = spark.createDataFrame(
        [
            (10, [0.9, 0.1], 1), (11, [0.8, 0.2], 1),
            (12, [0.1, 0.9], 2),
            (13, [0.7, 0.7], 2),    # near anchor 0 but wrong label
            (14, [0.0, 0.5], None),  # unlabeled: excluded
        ],
        "vec_id long, embedding array<double>, label long",
    )
    out = {r.qid: r for r in triplet_mining(qs, store).collect()}
    assert set(out) == {0, 1, 2}  # NULL-label anchor dropped
    assert out[0].pos_id == 10 and out[0].neg_id == 13
    assert out[0].margin_bp == out[0].pos_bp - out[0].neg_bp
    assert out[1].pos_id == 12 and out[1].neg_id in (13, 11, 10)
    # label 3 has no same-label store vector: NULL pos, 0 bp
    assert out[2].pos_id is None and out[2].pos_bp == 0
    assert out[2].neg_id is not None


def test_triplet_mining_contract_edges(spark):
    """Zero-norm vectors are excluded on both sides; an anchor facing
    a store with no labeled rows still gets its row (NULL ids, 0 bp)."""
    from webloghunter_spark.functions.similarity import triplet_mining

    qs = spark.createDataFrame(
        [(0, [1.0, 0.0], 1), (1, [0.0, 0.0], 2)],  # anchor 1: zero norm
        "vec_id long, embedding array<double>, label long",
    )
    empty_store = spark.createDataFrame(
        [(10, [0.5, 0.5], None), (11, [0.0, 0.0], 1)],  # no usable rows
        "vec_id long, embedding array<double>, label long",
    )
    out = {r.qid: r for r in triplet_mining(qs, empty_store).collect()}
    assert set(out) == {0}  # zero-norm anchor excluded
    r = out[0]
    assert r.pos_id is None and r.neg_id is None
    assert (r.pos_bp, r.neg_bp, r.margin_bp) == (0, 0, 0)


def test_snapshot_diff_null_text_classifies_by_presence(spark):
    """A NULL-text row is a present (empty) document — changed when
    the other side differs, removed/unchanged by presence, never
    misread as 'added'."""
    from webloghunter_spark.pipelines.curate import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "now has text"), (2, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "changed", 2: "unchanged", 3: "removed"}


# ------------------------------------------------- topic / interleave (r7c)


def test_topic_classify_argmax_ties_and_none(spark):
    from webloghunter_spark.pipelines.classify import topic_classify

    rows = [
        (0, "query join scan table row"),        # query 3, storage 2
        (1, "table query"),                      # 1-1 tie -> declaration order
        (2, "zzz yyy xxx"),                      # no hits -> none
        (3, None),                               # NULL text -> none
        (4, "fast slow merge stream"),           # perf 3, streaming 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in topic_classify(df).collect()}
    assert out[0].topic == "query" and out[0].topic_hits == 3
    assert out[0].total_hits == 5 and out[0].confidence_bp == 6000
    assert out[1].topic == "query"  # tie -> first-declared lexicon wins
    assert out[2].topic == "none" and out[2].confidence_bp == 0
    assert out[3].topic == "none" and out[3].total_hits == 0
    assert out[4].topic == "perf" and out[4].confidence_bp == 7500


def test_interleave_audit_runs_same_rate_and_expectation(spark):
    from webloghunter_spark.pipelines.shard import interleave_audit

    rows = [
        (0, 0, "a"), (0, 1, "a"), (0, 2, "b"),   # runs: aa|b
        (1, 0, "b"),                               # single-row shard
    ]
    df = spark.createDataFrame(
        rows, "shard_id int, position long, source string"
    )
    out = {r.shard_id: r for r in interleave_audit(df).collect()}
    s0 = out[0]
    assert (s0.n_rows, s0.n_runs, s0.n_adj_same, s0.max_run) == (3, 2, 1, 2)
    assert s0.same_bp == 5000  # 1 same-pair / 2 adjacent pairs
    s1 = out[1]
    assert s1.n_rows == 1 and s1.same_bp is None
    # global: a=2, b=2, N=4 -> sum c(c-1)=4, N(N-1)=12 -> 3333 bp
    assert s0.expected_same_bp == 3333 == s1.expected_same_bp


def test_train_order_carry_cols_matches_bare_order(spark):
    from webloghunter_spark.pipelines.shard import train_order

    rows = [(i, f"s{i % 3}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    bare = {
        r.doc_id: (r.shard_id, r.position)
        for r in train_order(df, n_shards=4, seed="t").collect()
    }
    carried = train_order(
        df, n_shards=4, seed="t", carry_cols=("source",)
    ).collect()
    assert {r.doc_id: (r.shard_id, r.position) for r in carried} == bare
    assert all(r.source == f"s{r.doc_id % 3}" for r in carried)


def test_lang_consistency_code_switch_and_empty(spark):
    from webloghunter_spark.functions.text import lang_consistency

    en = "the and of to is alpha beta gamma delta epsilon"   # 10 toks, en
    de = "der die das und ist eins zwei drei vier funf"      # 10 toks, de
    rows = [
        (0, en + " " + de),       # 2 segments, en|de -> tie -> en
        (1, "   "),               # blank -> 0 segments
        (2, "xx yy zz"),          # 1 segment, no markers -> und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in lang_consistency(df, seg_tokens=10).collect()}
    d0 = out[0]
    assert (d0.n_segments, d0.n_langs, d0.code_switch) == (2, 2, True)
    assert d0.majority_lang == "en" and d0.agreement_bp == 5000
    d1 = out[1]
    assert d1.n_segments == 0 and d1.majority_lang == "und"
    assert d1.agreement_bp is None and d1.code_switch is False
    d2 = out[2]
    assert (d2.majority_lang, d2.agreement_bp, d2.code_switch) == (
        "und", 10000, False,
    )


def test_contamination_matrix_per_set_counts_and_zero_overlap(spark):
    from webloghunter_spark.pipelines.decontam import contamination_matrix

    train = _df(spark, [
        (0, "alpha beta gamma delta epsilon"),   # hits setA's gram
        (1, "one two three four five"),          # clean
    ])
    evals = {
        "setA": _df(spark, [(100, "alpha beta gamma delta")]),   # 1 gram
        "setB": _df(spark, [(200, "zz yy xx ww vv")]),           # 2 grams, 0 hits
        "setC": _df(spark, [(300, "too short")]),                # 0 grams
    }
    out = {r.eval_set: r for r in
           contamination_matrix(train, evals, n=4).collect()}
    a = out["setA"]
    assert (a.n_eval_grams, a.n_hit_grams, a.n_docs_hit) == (1, 1, 1)
    assert a.coverage_bp == 10000
    b = out["setB"]
    assert (b.n_eval_grams, b.n_hit_grams, b.n_docs_hit) == (2, 0, 0)
    assert b.coverage_bp == 0
    c = out["setC"]
    assert c.n_eval_grams == 0 and c.coverage_bp is None

    with pytest.raises(ValueError):
        contamination_matrix(train, {})


def test_text_normalize_nfc_controls_whitespace_and_duckdb_parity(spark):
    import duckdb

    from webloghunter_spark.functions.text import text_normalize

    decomposed = "cafe\u0301 du  parc"   # e + combining acute, double space
    composed = "caf\u00e9 du parc"
    rows = [
        (0, decomposed),
        (1, "a\x00b\x07c\ttabbed\nline "),   # controls + ws collapse
        (2, None),
        (3, "already clean"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text_normalize(df).collect()}
    assert out[0].text == composed and out[0].changed
    assert out[0].n_chars_raw == len(decomposed)
    assert out[0].n_chars_norm == len(composed)
    assert out[1].text == "abc tabbed line" and out[1].changed
    assert out[2].text == "" and out[2].changed is False
    assert out[3].changed is False

    # cross-engine: DuckDB's nfc_normalize + the oracle regexes agree
    con = duckdb.connect()
    for i, raw in rows:
        got = con.execute(
            "SELECT trim(regexp_replace(regexp_replace("
            "nfc_normalize(coalesce(?, '')),"
            " '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),"
            " '\\s+', ' ', 'g'))",
            [raw],
        ).fetchone()[0]
        assert got == out[i].text, (i, got, out[i].text)


def test_sample_exact_k_deterministic_and_size(spark):
    from webloghunter_spark.pipelines.split import sample_exact_k

    rows = [(i, f"s{i % 3}", f"text {i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    grouped = sample_exact_k(df, k=4, group_col="source").collect()
    per = {}
    for r in grouped:
        per.setdefault(r.source, set()).add(r.doc_id)
    assert all(len(v) == 4 for v in per.values()) and len(per) == 3
    again = sample_exact_k(df, k=4, group_col="source").collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in grouped}

    # global path: distributed top-k, exact size, reproducible
    g1 = {r.doc_id for r in sample_exact_k(df, k=7).collect()}
    g2 = {r.doc_id for r in sample_exact_k(df, k=7).collect()}
    assert len(g1) == 7 and g1 == g2
    # different seed -> (almost surely) different winners
    g3 = {r.doc_id for r in sample_exact_k(df, k=7, seed="other").collect()}
    assert g3 != g1
    # small group passes through whole
    tiny = sample_exact_k(df.filter(F.col("doc_id") < 2), k=5)
    assert tiny.count() == 2

    with pytest.raises(ValueError):
        sample_exact_k(df, k=0)


def test_longest_repeat_binary_search_exact(spark):
    """Longest repeated token n-gram: open-ended k (not fixed-k),
    tie counting at the max length, overlap-correct, and 0/0 for
    repeat-free, short, empty, and NULL docs."""
    from webloghunter_spark.functions.text import longest_repeat

    df = spark.createDataFrame(
        [
            (1, "a b c d a b c e"),          # longest: 'a b c' (k=3)
            (2, "x y x y x y"),              # 'x y x y' (k=4, overlap)
            (3, "p q r s"),                  # no repeat
            (4, "w"),                        # < 2 tokens
            (5, ""),
            (6, None),
            (7, "m n m n o p o p"),          # k=2: two distinct grams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: (r.ntok, r.longest_len, r.n_longest)
            for r in longest_repeat(df).collect()}
    assert rows[1] == (8, 3, 1)
    assert rows[2] == (6, 4, 1)
    assert rows[3] == (4, 0, 0)
    assert rows[4] == (1, 0, 0)
    assert rows[5] == (0, 0, 0)
    assert rows[6] == (0, 0, 0)
    assert rows[7] == (8, 2, 2)


def test_longest_repeat_tokenizes_like_tokens_expr(spark):
    """ADVICE r8: the kernel must see EXACTLY the tokens_expr stream
    (F.trim strips only spaces; Java \\s+ split keeps a leading empty
    token for tab/newline-padded text). '\\tfoo bar' is 3 tokens
    ('', 'foo', 'bar'), not 2 — and the empty leading token can even
    participate in repeats."""
    from webloghunter_spark.functions.text import (
        longest_repeat,
        token_count_expr,
    )

    df = spark.createDataFrame(
        [
            (1, "\tfoo bar"),        # leading tab -> leading '' token
            (2, "foo bar\n"),        # trailing newline -> trailing ''
            (3, "\t a b \n a b"),    # mixed padding + a real repeat
            (4, " spaces only "),    # F.trim handles these
            (5, "\t\n"),             # whitespace-only, not space-only
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.ntok, r.longest_len, r.n_longest)
           for r in longest_repeat(df).collect()}
    ntok = {r.doc_id: r.n
            for r in df.select("doc_id",
                               token_count_expr("text").alias("n")).collect()}
    # ntok always agrees with the JVM tokens_expr count
    for d, (n, _, _) in got.items():
        assert n == ntok[d], (d, n, ntok[d])
    assert got[1] == (3, 0, 0)
    assert got[2] == (3, 0, 0)
    assert got[3][1] == 2 and got[3][0] == ntok[3]   # 'a b' repeats
    assert got[4] == (2, 0, 0)


def test_url_blocklist_gate_suffix_and_specificity(spark):
    """Blocklist: exact and subdomain matches block, longest domain
    wins, lookalike suffixes without the dot don't match, non-URLs
    pass with host ''."""
    from webloghunter_spark.functions.url import url_blocklist_gate

    df = spark.createDataFrame(
        [
            (1, "https://ads.example.org/x"),     # most specific wins
            (2, "https://cdn.example.org/x"),     # parent domain
            (3, "https://example.org/x"),         # exact
            (4, "https://notexample.org/x"),      # no dot boundary: pass
            (5, "https://Sub.ADS.example.ORG/x"), # case-insensitive
            (6, "ftp://example.org/x"),           # not http(s): host ''
            (7, "-"),
        ],
        "doc_id long, url string",
    )
    out = {r.doc_id: (r.host, r.blocked_by, r.blocked)
           for r in url_blocklist_gate(
               df, ["example.org", "ads.example.org"]).collect()}
    assert out[1] == ("ads.example.org", "ads.example.org", True)
    assert out[2] == ("cdn.example.org", "example.org", True)
    assert out[3] == ("example.org", "example.org", True)
    assert out[4] == ("notexample.org", None, False)
    assert out[5] == ("Sub.ADS.example.ORG", "ads.example.org", True)
    assert out[6] == ("", None, False)
    assert out[7] == ("", None, False)


def test_url_blocklist_join_matches_gate_form(spark):
    """The broadcast suffix-join form (the 100k-list scale path) is
    row-for-row identical to the CASE-chain form on the same list —
    exact/subdomain matches, longest-domain-wins specificity, case
    folding, non-URL pass-through, and a domain list larger than any
    sane CASE chain."""
    from webloghunter_spark.functions.url import (
        url_blocklist_gate,
        url_blocklist_join,
    )

    rows = [
        (1, "https://ads.example.org/x"),
        (2, "https://cdn.example.org/x"),
        (3, "https://example.org/x"),
        (4, "https://notexample.org/x"),
        (5, "https://Sub.ADS.example.ORG/x"),
        (6, "ftp://example.org/x"),
        (7, "-"),
        (8, None),
        (9, "https://blk123.example/q"),       # hits the big list
        (10, "https://deep.a.blk9.example/q"), # subdomain, big list
        (11, "https://blk99999.example/q"),    # not on the list
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    # parity on a list already past hand-written size but still CASE-
    # plannable; the join form then runs a list the CASE chain can't
    small = [f"blk{i}.example" for i in range(300)] + [
        "example.org",
        "ads.example.org",
    ]
    gate = {r.doc_id: (r.host, r.blocked_by, r.blocked)
            for r in url_blocklist_gate(df, small).collect()}
    join = {r.doc_id: (r.host, r.blocked_by, r.blocked)
            for r in url_blocklist_join(df, small).collect()}
    assert gate == join
    big = [f"blk{i}.example" for i in range(20000)] + ["example.org"]
    out = {r.doc_id: (r.host, r.blocked_by, r.blocked)
           for r in url_blocklist_join(df, big).collect()}
    assert out[9] == ("blk123.example", "blk123.example", True)
    assert out[10] == ("deep.a.blk9.example", "blk9.example", True)
    assert out[11] == ("blk99999.example", None, False)
    # non-URL -> host ''; NULL url -> NULL host (both forms agree)
    assert out[7] == ("", None, False) and out[8] == (None, None, False)
    # empty-string domain would silently fork from the CASE form
    with pytest.raises(ValueError, match="empty domain"):
        url_blocklist_join(df, ["example.org", ""])


def test_filter_track_attrition_by_band(spark):
    """The attrition matrix: raw counts partition by (group, band),
    stage counts are monotone non-increasing along the funnel, and a
    planted duplicate dies in the exact tier while its original
    survives."""
    from webloghunter_spark.pipelines.curate import filter_track

    text = " ".join(f"tok{j} the of and" for j in range(10))
    rows = [
        (1, "a", text),
        (2, "a", text),            # exact dup of 1: dies in exact tier
        (3, "a", "tiny"),          # gated (min_tokens)
        (4, "b", " ".join(f"w{j} the is on" for j in range(12))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = filter_track(
        docs, eval_df=None, min_quality_bp=0, min_tokens=10,
        max_tokens=5000, near_dedup_threshold=0.9,
    )
    rows_out = out.collect()
    assert sum(r.n_raw for r in rows_out) == 4
    for r in rows_out:
        assert (r.n_raw >= r.n_gate >= r.n_exact >= r.n_near
                >= r.n_contain >= r.n_clean)
    a = {r.quality_band: r for r in rows_out if r.source == "a"}
    band_of_dup = [b for b, r in a.items() if r.n_gate >= 2]
    assert band_of_dup, "docs 1+2 share a band and both pass the gate"
    r = a[band_of_dup[0]]
    assert r.n_gate - r.n_exact == 1  # the dup died in the exact tier
    assert r.survived_bp == (r.n_clean * 20000 + r.n_raw) // (2 * r.n_raw)


def test_shard_balance_shares_and_deviation(spark):
    """Balance audit: doc/token sums per md5 shard, shares sum to
    ~10000 bp, deviation is the exact integer cross-multiply of
    |share - 1/n|, and an empty-text corpus reports 0 shares."""
    from webloghunter_spark.pipelines.shard import shard_balance

    rows = [(i, " ".join(f"w{j}" for j in range(i % 7 + 1)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = shard_balance(df, n_shards=4, seed="t").collect()
    assert {r.shard_id for r in out} <= {0, 1, 2, 3}
    tot = sum(r.n_tokens for r in out)
    assert sum(r.n_docs for r in out) == 40
    for r in out:
        assert r.token_share_bp == (r.n_tokens * 20000 + tot) // (2 * tot)
        assert r.dev_bp == (
            abs(r.n_tokens * 4 - tot) * 20000 + tot * 4
        ) // (2 * tot * 4)
    assert 9990 <= sum(r.token_share_bp for r in out) <= 10010
    empty = spark.createDataFrame([(1, ""), (2, None)],
                                  "doc_id long, text string")
    for r in shard_balance(empty, n_shards=2, seed="t").collect():
        assert (r.n_tokens, r.token_share_bp, r.dev_bp) == (0, 0, 0)


def test_time_split_audit_leakage_only(spark):
    """Only groups on BOTH sides of the cut appear; counts and the
    earliest post-cut epoch are exact; a clean split is empty."""
    from webloghunter_spark.pipelines.split import time_split_audit

    rows = [
        (1, "2024-01-01 00:00:00"),  # user 1: both sides
        (1, "2024-02-01 00:00:30"),
        (1, "2024-02-02 00:00:00"),
        (2, "2024-01-05 00:00:00"),  # user 2: train only
        (3, "2024-02-05 00:00:00"),  # user 3: test only
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts_s string"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    out = time_split_audit(df, "2024-01-15 00:00:00").collect()
    assert len(out) == 1 and out[0].user_id == 1
    assert (out[0].n_train, out[0].n_test) == (1, 2)
    import calendar
    from datetime import datetime, timezone

    exp = calendar.timegm(
        datetime(2024, 2, 1, 0, 0, 30, tzinfo=timezone.utc).timetuple()
    )
    assert out[0].first_test_epoch == exp
    clean = time_split_audit(df, "2024-03-01 00:00:00")
    assert clean.count() == 0


def test_contamination_sensitivity_monotone(spark):
    """Rates are monotone non-increasing in n (every n-gram hit
    contains smaller-gram hits) and the bp grid is exact."""
    from webloghunter_spark.pipelines.decontam import (
        contamination_sensitivity,
    )

    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta epsilon y"),  # 5-gram hit
            (2, "alpha beta gamma z q w"),              # 3-gram hit only
            (3, "no overlap at all here now"),
        ],
        "doc_id long, text string",
    )
    out = {r.n: (r.n_train, r.n_contaminated, r.contam_bp)
           for r in contamination_sensitivity(train, ev, ns=(3, 4, 5)).collect()}
    assert out[3] == (3, 2, (2 * 20000 + 3) // 6)
    assert out[4] == (3, 1, (1 * 20000 + 3) // 6)
    assert out[5] == (3, 1, (1 * 20000 + 3) // 6)
    ns = sorted(out)
    assert all(out[a][1] >= out[b][1] for a, b in zip(ns, ns[1:]))


def test_dataset_diff_status_and_stage_transitions(spark):
    """snapshot_diff x funnel: every planted scenario lands in the
    right (status, old_stage, new_stage) cell — a removed survivor,
    an added gate-dead stub, a rewrite that moves a doc OUT of the
    gate-dead band, and untouched docs on the diagonal."""
    from webloghunter_spark.pipelines.curate import dataset_diff

    good = lambda i: (i, " ".join(f"tok{i}x{j} the of and is on a"  # noqa: E731
                                  for j in range(8)))
    old_rows = [
        good(1),             # unchanged survivor
        good(2),             # will be REMOVED
        (3, "tiny"),         # gate-dead in old; rewritten good in new
        good(4),             # unchanged survivor
    ]
    new_rows = [
        good(1),
        (3, good(3)[1]),     # rewrite: stage 0 -> survivor
        good(4),
        (5, "stub"),         # ADDED, dies at the gate
        good(6),             # ADDED, survives
    ]
    old = spark.createDataFrame(old_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = {(r.status, r.old_stage, r.new_stage): r.n
           for r in dataset_diff(
               old, new, min_quality_bp=1000, min_tokens=5,
               near_dedup_threshold=0.8,
           ).collect()}
    # no eval_df -> decontam skipped, and nothing here is contained
    # in a not-smaller doc -> survivors carry the top tag 5 (a skipped
    # stage drops nothing; tags advance through it)
    assert out[("unchanged", 5, 5)] == 2        # docs 1, 4
    assert out[("removed", 5, -1)] == 1         # doc 2
    assert out[("changed", 0, 5)] == 1          # doc 3 rewrite
    assert out[("added", -1, 0)] == 1           # doc 5 stub
    assert out[("added", -1, 5)] == 1           # doc 6
    assert sum(out.values()) == 6


def test_containment_pairs_finds_doc_in_doc(spark):
    """Containment catches a short doc fully embedded in a long one
    (Jaccard ~0.1 — below any near-dup threshold), reports the
    direction correctly, excludes unrelated docs, and skips pairs
    sharing only ubiquitous shingles (df > max_df)."""
    from webloghunter_spark.pipelines.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    filler = " ".join(f"w{j} x{j} y{j}" for j in range(12))
    boiler = "all rights reserved"                          # 1 shingle
    rows = [
        (1, short),
        (2, f"{filler} {short} more unique tail words"),    # contains 1
        (3, "totally different content entirely here now"),
        (4, f"{boiler} aa bb"),
        (5, f"{boiler} cc dd"),
        (6, f"{boiler} ee ff"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.id_a, r.id_b): (r.n_common, r.contain_ab, r.contain_ba)
           for r in containment_pairs(docs, threshold=0.5).collect()}
    assert (1, 2) in out
    n, ab, ba = out[(1, 2)]
    assert ab == 1.0 and ba < 0.5       # all of A in B, B mostly not in A
    # the boiler trio shares shingles with df=3 <= max_df, but their
    # containment is far below 0.5... unless the docs are tiny — here
    # each has >= 3 distinct shingles of which they share <= 2
    for k in out:
        assert 3 not in k               # unrelated doc never appears

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        containment_pairs(docs, threshold=1.5)
    with _pytest.raises(ValueError, match="max_df"):
        containment_pairs(docs, max_df=1)


def test_containment_drop_policy(spark):
    """The intervention form: a doc fully contained in a larger doc is
    dropped; mutual same-size containment keeps the BEST (higher
    quality_bp, tie -> lower id); the size-ratio gate suppresses drops
    when the container is not big enough; empty/NULL docs survive."""
    from webloghunter_spark.pipelines.dedup import containment_drop

    short = "alpha beta gamma delta epsilon zeta"          # 4 shingles
    filler = " ".join(f"w{j} x{j} y{j}" for j in range(12))
    common = " ".join(f"c{j}" for j in range(20))           # 18 shingles
    rows = [
        (1, "s1", short),
        (2, "s2", f"{filler} {short} more unique tail words"),  # contains 1
        # mutual pair, same shingle count (20), X clean / Y punct-heavy
        (3, "s1", f"{common} xx yy"),
        (4, "s2", f"{common} zz... ww!!!"),
        (5, "s1", ""),
        (6, "s2", None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r.doc_id: r for r in containment_drop(docs).collect()}
    assert len(out) == 6
    assert out[1].dropped == 1 and out[1].n_containers == 1   # 1 inside 2
    assert out[2].dropped == 0
    # mutual: quality decides — punctuation-heavy 4 loses to 3
    assert out[3].quality_bp > out[4].quality_bp
    assert out[3].dropped == 0 and out[4].dropped == 1
    assert out[5].dropped == 0 and out[5].n_shingles == 0
    assert out[6].dropped == 0 and out[6].n_shingles == 0

    # mutual EXACT tie (identical text => same quality): lower id kept
    twins = spark.createDataFrame(
        [(10, "s1", common), (11, "s2", common)],
        "doc_id long, source string, text string",
    )
    t = {r.doc_id: r for r in containment_drop(twins).collect()}
    assert t[10].dropped == 0 and t[11].dropped == 1

    # size-ratio gate: container must be >= 2x — no drop at 1.5x
    gated = spark.createDataFrame(
        [(20, "s1", short),
         (21, "s2", f"{short} only three more")],  # 7 shingles vs 4: 1.75x
        "doc_id long, source string, text string",
    )
    g = {r.doc_id: r for r in
         containment_drop(gated, size_ratio_bp=20000).collect()}
    assert g[20].dropped == 0 and g[21].dropped == 0
    # same pair WITHOUT the gate: the contained doc is dropped
    g1 = {r.doc_id: r for r in containment_drop(gated).collect()}
    assert g1[20].dropped == 1 and g1[21].dropped == 0

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold_bp"):
        containment_drop(docs, threshold_bp=4000)
    with _pytest.raises(ValueError, match="size_ratio_bp"):
        containment_drop(docs, size_ratio_bp=5000)
    with _pytest.raises(ValueError, match="max_df"):
        containment_drop(docs, max_df=1)


def test_host_suffixes_expr_edges(spark):
    """Suffix chain: multi-label order (longest first), single label,
    trailing dot (yields an empty last element — never matches a real
    domain), and empty host."""
    from webloghunter_spark.functions.url import host_suffixes_expr

    df = spark.createDataFrame(
        [(1, "a.b.example.org"), (2, "org"), (3, "example.org."), (4, "")],
        "i long, h string",
    )
    out = {r.i: list(r.s)
           for r in df.select("i", host_suffixes_expr("h").alias("s")).collect()}
    assert out[1] == ["a.b.example.org", "b.example.org", "example.org", "org"]
    assert out[2] == ["org"]
    assert out[3] == ["example.org.", "org.", ""]
    assert out[4] == [""]


def test_unimax_alloc_waterfill(spark):
    """Hand-computed ascending-capacity waterfill: counts (10, 100,
    100), cap = 2 epochs, budget = 1.5x total = 315. Small source
    capped at 20; the two large ones split the remainder 147/148
    (integer floor gives the later rank the extra token)."""
    from webloghunter_spark.pipelines.select import unimax_alloc

    df = spark.createDataFrame(
        [("a", " ".join(["w"] * 10)), ("b", " ".join(["w"] * 100)),
         ("c", " ".join(["w"] * 100))],
        "source string, text string",
    )
    out = {r.source: r.asDict()
           for r in unimax_alloc(df, budget_bp_of_total=15000,
                                 max_epochs=2).collect()}
    assert out["a"]["alloc_tokens"] == 20 and out["a"]["capped"]
    # ties on capacity rank by source: b before c
    assert out["b"]["alloc_tokens"] == 147 and not out["b"]["capped"]
    assert out["c"]["alloc_tokens"] == 148 and not out["c"]["capped"]
    assert out["a"]["epochs_bp"] == 20000
    assert sum(r["alloc_tokens"] for r in out.values()) == 315


def test_unimax_alloc_invariants(spark):
    """alloc <= cap everywhere; allocations non-decreasing in
    (capacity, source) order; budget exhausted when not everyone is
    capped; surplus budget -> every source capped at max_epochs."""
    from webloghunter_spark.pipelines.select import unimax_alloc

    rows = [(f"s{i}", " ".join(["w"] * (7 + 13 * i))) for i in range(9)]
    df = spark.createDataFrame(rows, "source string, text string")
    got = sorted(
        (r.cap_tokens, r.source, r.alloc_tokens, r.capped, r.c_tokens)
        for r in unimax_alloc(df, budget_bp_of_total=12000,
                              max_epochs=3).collect()
    )
    total = sum(g[4] for g in got)
    budget = total * 12000 // 10000
    assert all(a <= cap for cap, _, a, _, _ in got)
    allocs = [a for _, _, a, _, _ in got]
    assert allocs == sorted(allocs)
    if not all(c for _, _, _, c, _ in got):
        assert sum(allocs) == budget
    # surplus budget: everyone takes full capacity
    full = unimax_alloc(df, budget_bp_of_total=50000, max_epochs=3).collect()
    assert all(r.capped and r.alloc_tokens == 3 * r.c_tokens for r in full)
    assert all(r.epochs_bp == 30000 for r in full if r.c_tokens > 0)


def test_unimax_alloc_edges(spark):
    """Empty frame -> empty result with the schema; NULL group fails
    loudly (cross-engine NULL ordering); bad params raise."""
    import pytest as _pytest

    from webloghunter_spark.pipelines.select import unimax_alloc

    empty = spark.createDataFrame([], "source string, text string")
    assert unimax_alloc(empty).count() == 0
    nulls = spark.createDataFrame(
        [(None, "w w w")], "source string, text string"
    )
    with _pytest.raises(ValueError, match="NULL group"):
        unimax_alloc(nulls)
    df = spark.createDataFrame([("a", "w")], "source string, text string")
    with _pytest.raises(ValueError, match="max_epochs"):
        unimax_alloc(df, max_epochs=0)
    with _pytest.raises(ValueError, match="budget_bp_of_total"):
        unimax_alloc(df, budget_bp_of_total=-1)


def test_dup_source_matrix(spark):
    """Constructed near-dups across known sources: one cross-source
    pair (a<->b), one within-source pair (a<->a), one unique doc.
    Matrix rows carry exact counts, half-up integer shares, and the
    cross flag; the unique doc appears nowhere."""
    from webloghunter_spark.pipelines.dedup import dup_source_matrix

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight nine"
    rows = [
        (1, "a", t1), (2, "b", t1),          # cross-source dup
        (3, "a", t2), (4, "a", t2),          # within-source dup
        (5, "c", "lone wolf document text"), # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_lo, r.source_hi): (r.n_pairs, r.share_bp, r.cross_source)
        for r in dup_source_matrix(
            df, threshold=0.8, num_hashes=4, band_size=2
        ).collect()
    }
    assert got == {
        ("a", "a"): (1, 5000, False),
        ("a", "b"): (1, 5000, True),
    }


def test_dedup_sensitivity(spark):
    """Constructed pairs at jaccard 1.0 (identical) and a partial
    overlap: the curve is monotone non-increasing, the identical pair
    survives every threshold, the partial one only the lower ones."""
    from webloghunter_spark.pipelines.dedup import dedup_sensitivity
    import pytest as _pytest

    t_dup = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # 8 shared tokens of 12 -> shared shingle block, jaccard between
    # 0.5 and 0.9 -> drops out at 9000 but 1.0-pair stays
    t_part = t_dup + " extra tokens"
    rows = [(1, t_dup), (2, t_dup), (3, t_part)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.t_bp: (r.n_pairs, r.n_docs_dropped)
           for r in dedup_sensitivity(
               df, thresholds_bp=(5000, 8000, 10000),
               num_hashes=4, band_size=2).collect()}
    # identical pair (1,2) has jaccard 1.0 -> in every bucket
    assert got[10000][0] >= 1
    # monotone non-increasing
    pairs = [got.get(t, (0, 0)) for t in (5000, 8000, 10000)]
    assert pairs[0][0] >= pairs[1][0] >= pairs[2][0]
    assert pairs[0][1] >= pairs[1][1] >= pairs[2][1]
    with _pytest.raises(ValueError, match="thresholds_bp"):
        dedup_sensitivity(df, thresholds_bp=(10001,))


def test_ivf_probe_curve(spark):
    """Monotone non-decreasing recall in n_probe; probing EVERY list
    recovers brute force exactly (recall_bp == 10000); params raise."""
    import pytest as _pytest

    from webloghunter_spark.functions.similarity import ivf_probe_curve

    rows = [
        (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
        for i in range(1, 40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qvec = [1.0, -2.0, 3.0, 0.5, -1.0, 2.0, -0.5, 1.5]
    got = {r.n_probe: (r.n_common, r.recall_bp)
           for r in ivf_probe_curve(
               df, qvec, k=5, n_centroids=4, probes=(1, 2, 4)).collect()}
    recalls = [got[n][1] for n in (1, 2, 4)]
    assert recalls == sorted(recalls)
    # probing all 4 lists == brute force
    assert got[4] == (5, 10000)
    with _pytest.raises(ValueError, match="probe count"):
        ivf_probe_curve(df, qvec, probes=(0,))
    with _pytest.raises(ValueError, match="non-empty"):
        ivf_probe_curve(df, qvec, probes=())


def test_ngram_jaccard_pairs_carry_cols(spark):
    """carry_cols rides per-doc columns through the verify joins as
    <col>_a/<col>_b without touching the pair semantics."""
    from webloghunter_spark.pipelines.dedup import (
        lsh_candidate_pairs,
        ngram_jaccard_pairs,
    )

    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, "x", t), (2, "y", t)],
        "doc_id long, source string, text string",
    )
    pairs = lsh_candidate_pairs(df, num_hashes=4, band_size=2)
    plain = ngram_jaccard_pairs(df, pairs).collect()
    carried = ngram_jaccard_pairs(
        df, pairs, carry_cols=("source",)
    ).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in plain] == [
        (r.id_a, r.id_b, r.jaccard) for r in carried
    ]
    assert carried[0].source_a == "x" and carried[0].source_b == "y"


def test_winnow_pairs(spark):
    """Two docs sharing a long literal block surface as a pair with
    overlap_bp on the integer grid; a short unique doc never pairs;
    identical docs hit overlap_bp 10000; params raise."""
    import pytest as _pytest

    from webloghunter_spark.pipelines.dedup import winnow_pairs

    block = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, block + " alpha ending one"),
        (2, block + " totally different tail text"),
        (3, "short unique"),
        (4, "zz completely unrelated content block qq"),
        (5, block + " alpha ending one"),  # identical to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.n_shared, r.overlap_bp)
           for r in winnow_pairs(df, max_df=4, min_shared=2).collect()}
    assert (1, 5) in got and got[(1, 5)][1] == 10000
    assert (1, 2) in got and 0 < got[(1, 2)][1] <= 10000
    assert not any(3 in p for p in got)
    with _pytest.raises(ValueError, match="max_df"):
        winnow_pairs(df, max_df=1)
    with _pytest.raises(ValueError, match="min_shared"):
        winnow_pairs(df, min_shared=0)


def test_quantize_recall_registry(spark):
    """The registry quantize_recall returns one row with recall on the
    bp grid and n_common <= k (sf0.001 fixture)."""
    from webloghunter_spark.benchqueries import QUERIES

    row = QUERIES["quantize_recall"](spark, "/root/testdata/sf0.001").collect()
    assert len(row) == 1
    r = row[0]
    assert 0 <= r.n_common <= 10 and r.recall_bp == r.n_common * 1000


def test_padding_curve(spark):
    """Hand-checked sums at two lengths: docs of 3/5/9 tokens at L=4
    -> seqs 1+2+3=6, pad 24-17=7; at L=16 -> 3 seqs, pad 48-17=31.
    n_seqs monotone non-increasing in L; waste on the half-up bp grid;
    params raise."""
    import pytest as _pytest

    from webloghunter_spark.pipelines.pack import padding_curve

    rows = [(1, "a b c"), (2, "a b c d e"), (3, " ".join("x" * 1 for _ in range(9)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.seq_len: r.asDict()
           for r in padding_curve(df, seq_lens=(4, 16)).collect()}
    assert got[4]["n_seqs"] == 6 and got[4]["pad_tokens"] == 7
    assert got[16]["n_seqs"] == 3 and got[16]["pad_tokens"] == 31
    assert got[4]["n_docs"] == 3 and got[4]["n_tokens"] == 17
    # half-up bp: 7/24 -> 2917, 31/48 -> 6458
    assert got[4]["waste_bp"] == (7 * 20000 + 24) // 48
    assert got[16]["n_seqs"] <= got[4]["n_seqs"]
    with _pytest.raises(ValueError, match="seq_lens"):
        padding_curve(df, seq_lens=())
    with _pytest.raises(ValueError, match="seq_lens"):
        padding_curve(df, seq_lens=(0,))


def test_heaps_fit_growth_and_template_corpora(spark):
    """Vocabulary that keeps growing fits beta >> 0; a fixed-template
    corpus (same tokens forever) fits beta ~ 0; per-point vocab and
    cumulative token counts replay a pure-Python spec."""
    from webloghunter_spark.pipelines.select import heaps_fit

    # growing: doc i introduces a brand-new token alongside a shared one
    growing = spark.createDataFrame(
        [(i, f"shared tok{i}") for i in range(32)], "doc_id long, text string"
    )
    rows = heaps_fit(growing, n_points=4).collect()
    assert [r.denom for r in rows] == [8, 4, 2, 1]
    for r in rows:
        # prefix of p docs: vocab = p new + 1 shared, tokens = 2p
        p = r.n_prefix_docs
        assert r.cum_tokens == 2 * p and r.vocab == p + 1
    assert rows[0].beta_micro > 500_000  # near-linear growth

    template = spark.createDataFrame(
        [(i, "a b c") for i in range(32)], "doc_id long, text string"
    )
    rows = heaps_fit(template, n_points=4).collect()
    assert all(r.vocab == 3 for r in rows)
    assert rows[0].beta_micro == 0  # flat: ln V constant -> slope 0


def test_heaps_fit_drops_empty_prefix_points(spark):
    """A leading empty doc makes the smallest prefix all-empty:
    that grid point is dropped (ln undefined), the rest survive."""
    from webloghunter_spark.pipelines.select import heaps_fit

    rows_in = [(0, ""), (1, None)] + [(i, f"w{i}") for i in range(2, 16)]
    df = spark.createDataFrame(rows_in, "doc_id long, text string")
    out = heaps_fit(df, n_points=4).collect()
    # denom=8 -> prefix 2 docs, both empty -> dropped
    assert [r.denom for r in out] == [4, 2, 1]
    assert all(r.cum_tokens > 0 and r.vocab > 0 for r in out)


def test_effective_data_decay_and_dedup(spark):
    """Exact duplicates inside a source don't count toward unique
    tokens; 1 epoch is 10000 bp efficient; efficiency is strictly
    decreasing in epochs; effective tokens are capped at U*(1+R*)."""
    from math import exp, floor

    from webloghunter_spark.pipelines.select import effective_data

    rows = [
        (0, "a b c", "s0"),
        (1, "a  B c ", "s0"),   # same normalized text -> dedup'd
        (2, "d e", "s0"),
        (3, "x y z w", "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.source, r.epochs): r
           for r in effective_data(df, epochs_grid=(1, 2, 8, 32)).collect()}
    assert out[("s0", 1)].unique_tokens == 5   # 3 + 2, dup dropped
    assert out[("s1", 1)].unique_tokens == 4
    assert out[("s0", 1)].efficiency_bp == 10000
    effs = [out[("s0", e)].efficiency_bp for e in (1, 2, 8, 32)]
    assert effs == sorted(effs, reverse=True) and effs[-1] < effs[0]
    # pure-python replay of the paper formula at epochs=8
    u, rstar, e = 5, 15.39, 8
    dprime = u + u * rstar * (1.0 - exp((1 - e) / rstar))
    assert out[("s0", 8)].effective_tokens == floor(dprime + 0.5)
    assert all(r.effective_tokens <= floor(r.unique_tokens * (1 + 15.39) + 0.5)
               for r in out.values())


def test_tail_index_pure_python_replay_and_edge(spark):
    """Hill alpha replays a pure-Python reference on a known frequency
    ladder; fewer than k+1 types -> 0 rows (no tail to estimate)."""
    from math import floor, log

    from webloghunter_spark.pipelines.select import tail_index

    # frequency ladder: tok_i appears (9 - i) times, i = 0..8 -> 9 types
    docs = []
    did = 0
    for i in range(9):
        for _ in range(9 - i):
            docs.append((did, f"t{i}")); did += 1
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = tail_index(df, k=4).collect()
    assert len(out) == 1
    r = out[0]
    freqs = [9, 8, 7, 6, 5]  # top-5: f_1..f_4 and threshold f_5
    s_ln = sum(int(floor(abs(log(f) * 1e9) + 0.5)) for f in freqs[:4])
    h = (s_ln / 1e9) / 4.0 - log(freqs[4])
    assert r.k_used == 4 and r.f_threshold == 5
    assert r.alpha_micro == floor(1.0 / h * 1e6 + 0.5)

    tiny = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    assert tail_index(tiny, k=4).count() == 0  # only 3 types


def test_len_quantiles_nearest_rank_replay(spark):
    """Per-source p10/p50/p90 replay a pure-Python nearest-rank spec
    (rank = ceil(q*n), value = smallest length whose cumcount reaches
    it); empty docs count as length 0."""
    from math import ceil

    from webloghunter_spark.pipelines.select import len_quantiles

    lens = {"a": [0, 1, 2, 3, 4, 5, 6, 7, 8, 9], "b": [5, 5, 5], "c": [7]}
    rows, did = [], 0
    for src, ls in lens.items():
        for L in ls:
            rows.append((did, " ".join(["w"] * L), src)); did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.source, r.q_bp): r for r in
           len_quantiles(df, qs_bp=(1000, 5000, 9000)).collect()}
    for src, ls in lens.items():
        s = sorted(ls); n = len(s)
        for q in (1000, 5000, 9000):
            rank = max(1, ceil(q * n / 10000))
            r = out[(src, q)]
            assert (r.n_docs, r.ntok) == (n, s[rank - 1]), (src, q)
