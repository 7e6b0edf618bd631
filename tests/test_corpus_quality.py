"""Coverage for the round-3 corpus-quality additions: segment_dedup,
domain_mix, cms_heavy_hitters, charset_stats_exprs — plus the
algebraic invariants of domain_mix and pack_chunks (composition
honored at the feasible total; packed token conservation)."""

import pytest
from pyspark.sql import functions as F

from webloghunter_spark.functions.text import charset_stats_exprs
from webloghunter_spark.pipelines.dedup import segment_dedup
from webloghunter_spark.pipelines.pack import pack_chunks
from webloghunter_spark.pipelines.split import domain_mix
from webloghunter_spark.streaming.vocab import cms_heavy_hitters


# --- segment_dedup -----------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_dedup_keeps_first_occurrence(spark):
    # doc 1 and doc 2 share identical boilerplate; doc 1 wins by id order
    boiler = " ".join(f"w{i}" for i in range(10))  # exactly one segment
    df = _docs(spark, [(1, boiler), (2, boiler), (3, "unique text here")])
    out = {r.doc_id: r for r in segment_dedup(df, seg_tokens=10).collect()}
    assert out[1].n_kept == 1 and out[1].new_text == boiler
    assert out[2].n_kept == 0 and out[2].new_text == ""
    assert out[3].n_kept == 1 and out[3].new_text == "unique text here"


def test_segment_dedup_reassembles_in_segment_order(spark):
    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    df = _docs(spark, [(1, f"{seg_a} {seg_b}")])
    row = segment_dedup(df, seg_tokens=10).collect()[0]
    assert row.n_seg == 2 and row.n_kept == 2
    assert row.new_text == f"{seg_a} {seg_b}"


def test_segment_dedup_null_text_all_zero(spark):
    df = _docs(spark, [(1, None), (2, "alive")])
    out = {r.doc_id: r for r in segment_dedup(df, seg_tokens=10).collect()}
    # n_seg/n_kept/new_text must be consistently zeroed, never NULL
    assert (out[1].n_seg, out[1].n_kept, out[1].new_text) == (0, 0, "")
    assert out[2].n_kept == 1


# --- domain_mix --------------------------------------------------------------

def _mix_corpus(spark, counts):
    rows = []
    nid = 0
    for lang, n in counts.items():
        for _ in range(n):
            rows.append((nid, lang))
            nid += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_domain_mix_limiting_group_fully_kept(spark):
    # lang 'b' is limiting: count/share = 100/0.5 = 200 < 900/0.5 = 1800
    df = _mix_corpus(spark, {"a": 900, "b": 100})
    out = domain_mix(df, {"a": 0.5, "b": 0.5})
    kept = {r.lang: r.cnt for r in
            out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # the limiting group keeps EVERY row (the epsilon guard's contract);
    # the other group lands near share*T = 100 up to md5-bucket variance
    assert kept["b"] == 100
    assert 70 <= kept["a"] <= 130


def test_domain_mix_composition_near_target(spark):
    df = _mix_corpus(spark, {"a": 2000, "b": 2000, "c": 500})
    out = domain_mix(df, {"a": 0.25, "b": 0.25, "c": 0.5})
    kept = {r.lang: r.cnt for r in
            out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    # T = min(2000/.25, 2000/.25, 500/.5) = 1000
    assert kept["c"] == 500  # limiting group intact
    for g in ("a", "b"):  # expect ~250 each, basis-point + hash variance
        assert 180 <= kept[g] <= 320
    # absent target group is dropped entirely
    assert set(kept) == {"a", "b", "c"}


def test_domain_mix_is_repartition_stable(spark):
    df = _mix_corpus(spark, {"a": 300, "b": 300})
    ids1 = sorted(r.doc_id for r in domain_mix(df, {"a": 0.5, "b": 0.5}).collect())
    ids2 = sorted(
        r.doc_id
        for r in domain_mix(df.repartition(7), {"a": 0.5, "b": 0.5}).collect()
    )
    assert ids1 == ids2


# --- cms_heavy_hitters -------------------------------------------------------

def test_cms_heavy_hitters_superset_of_true(spark):
    # 'hot' appears 50 times, 'warm' 10, singles once each
    rows = [(i, "hot") for i in range(50)]
    rows += [(100 + i, "warm") for i in range(10)]
    rows += [(200 + i, f"cold{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.token: r.est for r in cms_heavy_hitters(df, threshold=10).collect()}
    # one-sided estimate: every true >=10 hitter MUST be present, with
    # est >= true count
    assert got.get("hot", 0) >= 50
    assert got.get("warm", 0) >= 10
    # and nothing with true count < threshold can sneak in unless a
    # collision inflated it — est still >= threshold by construction
    assert all(v >= 10 for v in got.values())


# --- charset_stats_exprs -----------------------------------------------------

def test_charset_stats_on_mojibake(spark):
    df = spark.createDataFrame(
        [(1, "abc\x00\x01XY12"), (2, "café ��"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in
           df.select("doc_id", *charset_stats_exprs("text")).collect()}
    r1 = out[1]
    assert r1.n_chars == 9 and r1.n_ctrl == 2 and r1.n_repl == 0
    # controls count toward the non-printable ratio (documented overlap)
    assert r1.non_printable_ascii_ratio == pytest.approx(2 / 9, abs=1e-6)
    assert r1.digit_ratio == pytest.approx(2 / 9, abs=1e-6)
    assert r1.upper_ratio == pytest.approx(2 / 9, abs=1e-6)
    r2 = out[2]
    assert r2.n_repl == 2  # U+FFFD replacement chars
    assert r2.non_printable_ascii_ratio == pytest.approx(3 / 7, abs=1e-6)  # é + 2×FFFD
    r3 = out[3]
    assert r3.n_chars == 0 and r3.non_printable_ascii_ratio == 0.0


# --- pack_chunks conservation ------------------------------------------------

def test_pack_chunks_token_conservation(spark):
    rows = [
        (i, "s0", " ".join(["tok"] * n))
        for i, n in enumerate([7, 3, 12, 0, 5, 9, 1])
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_chunks(df, budget=8).collect()
    total = sum(r.ntok for r in out)
    # the token stream is sliced contiguously: the last chunk index must
    # be exactly floor((total-1)/budget), and every doc's span must
    # cover ceil(ntok/budget) <= n_chunks <= ceil(ntok/budget)+1 chunks
    # (the +1 when it straddles a boundary)
    assert max(r.last_chunk for r in out) == (total - 1) // 8
    for r in out:
        lo = max(1, -(-r.ntok // 8))
        assert lo <= r.n_chunks <= (r.ntok // 8) + 2


def test_pack_chunks_contiguous_spans_per_shard(spark):
    rows = [(i, f"s{i % 2}", " ".join(["w"] * (3 + i))) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = sorted(
        pack_chunks(df, budget=5).collect(), key=lambda r: (r.source, r.doc_id)
    )
    for shard in ("s0", "s1"):
        prefix = 0
        for r in [x for x in out if x.source == shard]:
            assert r.first_chunk == prefix // 5
            end = prefix + r.ntok - 1 if r.ntok else prefix
            assert r.last_chunk == end // 5
            prefix += r.ntok


# --- tfidf on NULL / empty documents ----------------------------------------

def test_tfidf_salted_path_identical(spark):
    """tfidf_topk has one (unsalted) join layout; on a fixture with
    NULL and empty documents those docs emit no rows but still count
    in N, and the scores follow tf * ln(N/df) on the 1e-4 grid."""
    from webloghunter_spark.functions.text import tfidf_topk

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog ate the cat food"),
        (3, "quantum flux capacitor the"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(map(tuple, tfidf_topk(df).collect()))
    assert {r[0] for r in out} == {1, 2, 3}
    doc1 = {r[1]: (r[2], r[3]) for r in out if r[0] == 1}
    assert doc1["the"] == (2, 1.0217)       # 2 * ln(5/3)
    assert doc1["cat"] == (1, 0.9163)       # ln(5/2)
    assert doc1["mat"] == (1, 1.6094)       # ln(5)


# --- bigram LM scoring -------------------------------------------------------

def test_bigram_logprob_ranks_gibberish_below_fluent(spark):
    from math import log

    from webloghunter_spark.functions.lm import bigram_logprob

    rows = [
        (1, "the cat sat"), (2, "the cat sat"), (3, "the cat sat"),
        (4, "zq xv jk"),          # bigrams never repeat -> low likelihood
        (5, "one"),               # < 2 tokens -> no score
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_logprob(df, alpha=0.5).collect()}
    assert out[1].avg_ll == out[2].avg_ll == out[3].avg_ll
    assert out[4].avg_ll < out[1].avg_ll
    assert out[5].n_bigrams == 0 and out[5].avg_ll is None
    assert out[6].n_bigrams == 0 and out[6].avg_ll is None
    # hand-check: "the cat" occurs 3x, "the ·" starts 3 bigrams, V=7
    # distinct lowercased tokens -> ln((3+.5)/(3+.5*7)); same for
    # "cat sat", so the doc average equals the single-term value
    expected = round(log(3.5 / 6.5), 4)
    assert out[1].avg_ll == expected


def test_perplexity_bands_matches_ntile_and_flags_empty(spark):
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.lm import bigram_logprob, perplexity_bands

    # 7 scoreable en docs (ntile sizes 3/2/2), 2 de docs (sizes 1/1/0),
    # plus an unscoreable doc per lang
    rows = [
        (1, "en", "the cat sat"), (2, "en", "the cat sat"),
        (3, "en", "the cat sat"), (4, "en", "the cat ran"),
        (5, "en", "a dog ran"), (6, "en", "zq xv jk"),
        (7, "en", "qq ww ee"), (8, "en", "one"),
        (9, "de", "der hund lief"), (10, "de", "zz yy xx"),
        (11, "de", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r for r in perplexity_bands(df).collect()}
    assert len(out) == 11
    # empties band as 'empty' and are never kept
    assert out[8].band == "empty" and not out[8].kept
    assert out[11].band == "empty" and not out[11].kept
    # reference banding: plain per-lang ntile(3) over (llq desc, id)
    sc = (
        df.join(bigram_logprob(df), "doc_id")
        .filter(F.col("n_bigrams") > 0)
        .select("doc_id", "lang",
                F.floor(F.col("avg_ll") * 10000 + F.lit(0.5)).alias("llq"))
        .collect()
    )
    by_lang = {}
    for r in sc:
        by_lang.setdefault(r.lang, []).append((-r.llq, r.doc_id))
    for lang, docs in by_lang.items():
        docs.sort()
        n = len(docs)
        sizes = [n // 3 + (1 if i < n % 3 else 0) for i in range(3)]
        want, i = {}, 0
        for b, s in zip(["head", "middle", "tail"], sizes):
            for _, d in docs[i:i + s]:
                want[d] = b
            i += s
        for d, b in want.items():
            assert out[d].band == b, (lang, d, b, out[d].band)
            assert out[d].kept == (b != "tail")
    # every lang's scoreable set splits 3/2/2 (en) and 1/1/0 (de)
    en_bands = [out[d].band for d in range(1, 8)]
    assert sorted(en_bands).count("head") == 3
    assert en_bands.count("middle") == 2 and en_bands.count("tail") == 2


def test_pmi_collocations_hand_computed(spark):
    """PMI against a hand-computed corpus: 'strong coffee' always
    co-occurs (high PMI), 'the dog'/'the cat' split 'the''s mass
    (lower PMI); min_count drops singletons; micro-nat values match
    a pure-Python replay of the same formula."""
    from math import floor, log

    from webloghunter_spark.functions.lm import pmi_collocations

    rows = [(i, "strong coffee") for i in range(3)]
    rows += [(10 + i, "the dog") for i in range(3)]
    rows += [(20 + i, "the cat") for i in range(3)]
    rows += [(30, "rare pair")]  # n_pair=1 < min_count -> dropped
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.w1, r.w2): (r.n_pair, r.pmi_micro)
           for r in pmi_collocations(df, min_count=3, k=10).collect()}
    assert ("rare", "pair") not in out
    n = 10.0  # total bigrams
    expect = {
        ("strong", "coffee"): (3, 3.0 * n / (3.0 * 3.0)),
        ("the", "dog"): (3, 3.0 * n / (6.0 * 3.0)),
        ("the", "cat"): (3, 3.0 * n / (6.0 * 3.0)),
    }
    assert set(out) == set(expect)
    for pair, (np_, ratio) in expect.items():
        assert out[pair] == (np_, floor(log(ratio) * 1e6 + 0.5)), pair
    assert out[("strong", "coffee")][1] > out[("the", "dog")][1]


def test_perplexity_bands_null_lang_is_own_partition(spark):
    """NULL lang forms its own tercile partition (the oracle's ntile
    semantics) instead of three-value-logic'ing every row to 'tail'."""
    from webloghunter_spark.functions.lm import perplexity_bands

    rows = [
        (1, None, "the cat sat"), (2, None, "the cat sat"),
        (3, None, "zq xv jk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {r.doc_id: r.band for r in perplexity_bands(df).collect()}
    assert sorted(out.values()) == ["head", "middle", "tail"]
    assert out[3] == "tail"  # the gibberish doc is the worst-modeled


def test_perplexity_bands_boundary_guard(spark):
    import pytest

    from webloghunter_spark.functions.lm import perplexity_bands

    rows = [(i, "en", "the cat sat") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # all six docs share one score cell -> boundary depth 6 > 2
    with pytest.raises(ValueError, match="boundary cells hold"):
        perplexity_bands(df, max_boundary_rows=2).collect()


# --- quality_gate ------------------------------------------------------------

def test_quality_gate_reasons_fire_in_order(spark):
    from webloghunter_spark.pipelines.gate import quality_gate

    fluent = ("the cat is on the mat and the dog is in the house "
              "for a walk to the park in the morning and this text "
              "keeps going with plenty of common words to pass") * 2
    rows = [
        (1, fluent),                               # keep
        (2, "too short"),                          # too_short
        (3, " ".join(["w"] * 6000)),               # too_long
        (4, ("café " * 20 + fluent)[:600]),   # heavy non-ascii -> encoding
        (5, ("!!!??? " * 30 + "word " * 5)),       # punctuation soup -> low_quality
        (6, None),                                 # no tokens -> too_short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_gate(
        df, min_tokens=20, max_tokens=5000, max_nonprintable_bp=200,
        min_quality_bp=5000, min_avg_ll=None,
    ).collect()}
    assert out[1].keep and out[1].reason == ""
    assert out[2].reason == "too_short"
    assert out[3].reason == "too_long"
    assert out[4].reason == "encoding"
    assert out[5].reason == "low_quality"
    assert out[6].reason == "too_short"


def test_quality_gate_lm_rule(spark):
    from webloghunter_spark.pipelines.gate import quality_gate

    fluent = ("the cat is on the mat and the dog is in the house "
              "for a walk to the park in the morning and this text "
              "keeps going with plenty of common words to pass")
    # gibberish has the same shape but bigrams that never repeat
    gibberish = " ".join(f"zx{i}q" for i in range(40))
    df = spark.createDataFrame(
        [(1, fluent), (2, fluent), (3, gibberish)],
        "doc_id long, text string",
    )
    # derive a threshold between the fluent and gibberish scores so the
    # test pins the RULE (gate fires on the LM score), not a fragile
    # hand-computed constant
    from webloghunter_spark.functions.lm import bigram_logprob

    ll = {r.doc_id: r.avg_ll for r in bigram_logprob(df).collect()}
    assert ll[3] < ll[1]
    cut = (ll[3] + min(ll[1], ll[2])) / 2
    out = {r.doc_id: r for r in quality_gate(
        df, min_tokens=10, min_quality_bp=0, max_nonprintable_bp=10000,
        min_avg_ll=cut,
    ).collect()}
    assert out[1].keep and out[2].keep
    assert not out[3].keep and out[3].reason == "low_lm"


def test_gate_keep_expr_matches_quality_gate_keep(spark):
    """The row-local funnel gate filter (round-13 guide-§2.4 join
    removal) reproduces quality_gate's keep verdict exactly — every
    rule boundary, NULL/empty text, and non-default thresholds."""
    from webloghunter_spark.pipelines.gate import gate_keep_expr, quality_gate

    fluent = ("the cat is on the mat and the dog is in the house "
              "for a walk to the park in the morning and this text "
              "keeps going with plenty of common words to pass") * 2
    rows = [
        (1, fluent),
        (2, "too short"),
        (3, " ".join(["w"] * 6000)),
        (4, ("café " * 20 + fluent)[:600]),
        (5, ("!!!??? " * 30 + "word " * 5)),
        (6, None),
        (7, ""),
        (8, "   "),
        (9, " ".join(["word"] * 20)),     # exactly min_tokens
        (10, " ".join(["word"] * 5000)),  # exactly max_tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for kw in (
        dict(min_tokens=20, max_tokens=5000, max_nonprintable_bp=200,
             min_quality_bp=5000),
        dict(min_tokens=1, max_tokens=10, max_nonprintable_bp=10000,
             min_quality_bp=0),
    ):
        verdict = {
            r.doc_id: r.keep
            for r in quality_gate(df, min_avg_ll=None, **kw).collect()
        }
        kept = {
            r.doc_id
            for r in df.filter(gate_keep_expr("text", **kw)).collect()
        }
        assert kept == {i for i, k in verdict.items() if k}, kw


# --- novelty / source overlap ------------------------------------------------

def test_novelty_frac_first_occurrence_wins(spark):
    from webloghunter_spark.pipelines.overlap import novelty_frac

    text = "a b c d e"           # grams: "a b c", "b c d", "c d e"
    rows = [(1, text), (2, text), (3, "x y z w"), (4, "t u")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_grams, r.n_novel)
           for r in novelty_frac(df, k=3).collect()}
    assert out[1] == (3, 3)     # everything first here
    assert out[2] == (3, 0)     # all grams already seen at id 1
    assert out[3] == (2, 2)
    assert out[4] == (0, 0)     # < k tokens


def test_source_overlap_counts(spark):
    from webloghunter_spark.pipelines.overlap import source_overlap

    rows = [
        (1, "s1", "a b c d"),     # grams: {a b c, b c d}
        (2, "s2", "a b c"),       # grams: {a b c}
        (3, "s3", "p q r"),       # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {(r.src_a, r.src_b): (r.n_a, r.n_b, r.n_common)
           for r in source_overlap(df, k=3).collect()}
    assert out[("s1", "s2")] == (2, 1, 1)
    assert out[("s1", "s3")] == (2, 1, 0)
    assert out[("s2", "s3")] == (1, 1, 0)


# --- token entropy -----------------------------------------------------------

def test_token_entropy_repetition_signal(spark):
    from math import log

    from webloghunter_spark.functions.text import token_entropy

    rows = [
        (1, "spam spam spam spam"),      # H = 0
        (2, "a b c d"),                  # H = ln(4)
        (3, "a a b b"),                  # H = ln(2)
        (4, ""), (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(df).collect()}
    assert out[1].entropy == 0.0
    assert out[2].entropy == round(log(4), 4)
    assert out[3].entropy == round(log(2), 4)
    assert out[4].ntok == 0 and out[4].entropy is None
    assert out[5].ntok == 0 and out[5].entropy is None


def test_flesch_readability_hand_computed(spark):
    """Flesch ingredients and score against a hand count; fragment
    floors sentences at 1; empty doc scores the 0 sentinel."""
    from math import floor

    from webloghunter_spark.functions.text import flesch_exprs

    rows = [
        (1, "The cat sat. The dog ran!"),  # 6 words, 2 sents, 6 syll
        (2, "no terminal punctuation here"),  # 4 words, 1 sent (floor)
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    e = flesch_exprs("text")
    out = {r.doc_id: r for r in df.select(
        "doc_id", e["ntok"].alias("ntok"), e["n_sent"].alias("n_sent"),
        e["n_syll"].alias("n_syll"), e["flesch_centi"].alias("fc"),
    ).collect()}
    assert (out[1].ntok, out[1].n_sent, out[1].n_syll) == (6, 2, 6)
    want = floor((206.835 - 1.015 * (6 / 2) - 84.6 * (6 / 6)) * 100 + 0.5)
    assert out[1].fc == want
    assert out[2].n_sent == 1 and out[2].ntok == 4
    assert out[3].fc == 0 and out[3].ntok == 0
    assert out[4].fc == 0 and out[4].ntok == 0
    # NULL text must zero the counts, not NULL them (oracle parity)
    assert out[4].n_syll == 0 and out[4].n_sent == 1


def test_fim_splits_partition_and_digest(spark):
    """Span lengths always sum to n_chars; the digest equals a
    hashlib replay of the 0x1f-separated reconstruction; a new seed
    re-cuts; empty docs emit zero spans."""
    import hashlib

    from webloghunter_spark.pipelines.pack import fim_splits

    rows = [(i, "abcdefghij" * (1 + i % 3)) for i in range(20)] + [(99, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in fim_splits(df, seed="s").collect()}
    texts = dict(rows)
    for d, r in out.items():
        assert r.n_prefix + r.n_middle + r.n_suffix == r.n_chars
        t = texts[d]
        # replay the cuts from (seed, id) alone
        n = len(t)
        if n:
            h1 = int(hashlib.md5(f"s|1|{d}".encode()).hexdigest()[:8], 16) % n
            h2 = int(hashlib.md5(f"s|2|{d}".encode()).hexdigest()[:8], 16) % n
            lo, hi = min(h1, h2), max(h1, h2)
        else:
            lo = hi = 0
        assert (r.n_prefix, r.n_middle, r.n_suffix) == (lo, hi - lo, n - hi)
        want = hashlib.md5(
            (t[:lo] + "\x1f" + t[lo:hi] + "\x1f" + t[hi:]).encode()
        ).hexdigest()
        assert r.fim_digest == want, d
    out2 = {r.doc_id: r for r in fim_splits(df, seed="other").collect()}
    assert any(out[d].n_prefix != out2[d].n_prefix for d in out if texts[d])


# --- gopher_rules ------------------------------------------------------------

def test_gopher_rules_each_rule_fires_independently(spark):
    from webloghunter_spark.pipelines.gate import gopher_rules

    ok = " ".join(["the", "of", "apple"] + [f"word{i}" for i in range(47)])
    rows = [
        (1, ok),                                     # passes everything
        (2, "the of " + " ".join(f"www{i}" for i in range(3))),  # too short
        (3, "the of " + " ".join("#" * 4 for _ in range(48))),  # symbols
        (4, "the of " + " ".join("12345" for _ in range(48))),  # non-alpha
        (5, " ".join(f"word{i}" for i in range(50))),           # no stopwords
        (6, "the of apple\n" + "\n".join(f"- item {i} extra words here pad pad pad" for i in range(47))),  # bullets
        (7, "the of apple\n" + "\n".join(f"line {i} trails off pad pad pad pad ..." for i in range(47))),  # ellipses
        (8, None),                                              # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df).collect()}

    assert out[1].pass_all and out[1].n_failed == 0
    assert not out[2].r_word_count and out[2].n_failed == 1
    assert not out[3].r_symbol_ratio  # '#' runs also contain no alpha
    assert not out[3].r_alpha_words and out[3].n_failed == 2
    assert not out[4].r_alpha_words
    assert not out[5].r_stopwords and out[5].n_failed == 1
    assert not out[6].r_bullet_lines
    assert not out[7].r_ellipsis_lines
    # NULL text: word_count and stopwords (both COUNT rules) fail;
    # every RATIO rule passes vacuously via the 0-vs-0 cross-multiply
    assert not out[8].r_word_count and not out[8].r_stopwords
    assert out[8].n_failed == 2


def test_gopher_rules_stopwords_counted_distinct(spark):
    from webloghunter_spark.pipelines.gate import gopher_rules

    # "the" repeated 30 times is ONE distinct stopword -> rule fails
    df = spark.createDataFrame(
        [(1, " ".join(["the"] * 30 + [f"word{i}" for i in range(30)]))],
        "doc_id long, text string",
    )
    row = gopher_rules(df, min_stopwords=2).collect()[0]
    assert not row.r_stopwords


def test_gopher_rules_mean_word_len_integer_boundary(spark):
    from webloghunter_spark.pipelines.gate import gopher_rules

    # 50 tokens x 3 chars: mean exactly 3.0 -> sumlen*10 == 30*ntok, inclusive
    df = spark.createDataFrame(
        [(1, "the and " + " ".join(["abc"] * 48))], "doc_id long, text string"
    )
    row = gopher_rules(df, min_mwl_deci=30).collect()[0]
    assert row.r_mean_word_len


# --- boilerplate_segments -----------------------------------------------------

def test_boilerplate_removed_from_every_copy_including_first(spark):
    from webloghunter_spark.pipelines.dedup import boilerplate_segments

    boiler = " ".join(f"b{i}" for i in range(5))
    uniq = {d: " ".join(f"u{d}x{i}" for i in range(5)) for d in (1, 2, 3)}
    df = _docs(spark, [(d, f"{boiler} {uniq[d]}") for d in (1, 2, 3)])
    out = {r.doc_id: r for r in
           boilerplate_segments(df, seg_tokens=5, min_df=3).collect()}
    for d in (1, 2, 3):
        # unlike segment_dedup, doc 1 loses its copy too
        assert out[d].n_seg == 2 and out[d].n_kept == 1
        assert out[d].new_text == uniq[d]


def test_remove_boilerplate_rejects_string_key_model(spark):
    """A model persisted before the 60-bit BIGINT key format has string
    seg_keys, which match nothing: applying it raises instead of
    silently removing no boilerplate."""
    from webloghunter_spark.pipelines.dedup import (
        boilerplate_keys,
        remove_boilerplate,
    )

    boiler = " ".join(f"b{i}" for i in range(5))
    df = _docs(spark, [(d, f"{boiler} u{d}") for d in (1, 2, 3)])
    model = boilerplate_keys(df, seg_tokens=5, min_df=3)
    assert remove_boilerplate(df, model, seg_tokens=5).count() == 3
    stale = model.select(F.col("seg_key").cast("string").alias("seg_key"))
    with pytest.raises(TypeError, match="seg_key"):
        remove_boilerplate(df, stale, seg_tokens=5)


def test_boilerplate_below_min_df_is_kept(spark):
    from webloghunter_spark.pipelines.dedup import boilerplate_segments

    shared = " ".join(f"s{i}" for i in range(5))
    df = _docs(spark, [(1, shared), (2, shared), (3, "one two three")])
    out = {r.doc_id: r for r in
           boilerplate_segments(df, seg_tokens=5, min_df=3).collect()}
    assert out[1].n_kept == 1 and out[2].n_kept == 1  # df=2 < 3: kept


def test_boilerplate_df_counts_documents_not_occurrences(spark):
    from webloghunter_spark.pipelines.dedup import boilerplate_segments

    seg = " ".join(f"r{i}" for i in range(5))
    # seg appears 3 times but in only 2 documents -> df=2, not boilerplate
    df = _docs(spark, [(1, f"{seg} {seg}"), (2, seg)])
    out = {r.doc_id: r for r in
           boilerplate_segments(df, seg_tokens=5, min_df=3).collect()}
    assert out[1].n_kept == 2 and out[2].n_kept == 1


def test_boilerplate_null_text_all_zero(spark):
    from webloghunter_spark.pipelines.dedup import boilerplate_segments

    df = _docs(spark, [(1, None), (2, "alpha beta gamma delta eps")])
    out = {r.doc_id: r for r in
           boilerplate_segments(df, seg_tokens=5, min_df=2).collect()}
    assert out[1].n_seg == 0 and out[1].n_kept == 0 and out[1].new_text == ""
    assert out[2].n_kept == 1


# --- BM25 retrieval probe ------------------------------------------------------

def test_bm25_topk_matches_pure_python(spark):
    from math import log

    from webloghunter_spark.functions.text import bm25_topk

    rows = [
        (1, "spark query spark table"),
        (2, "the dog ate the cat food"),
        (3, "query plan for the big table join join join"),
        (4, None),
        (5, ""),
        (6, "SPARK Spark spark"),  # case folding
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "query", "join"]
    got = {r.doc_id: (r.dl, r.bm25) for r in bm25_topk(df, terms, k=10).collect()}

    docs = {i: (t or "").lower().split() for i, t in rows}
    n = len(docs)
    avgdl = sum(len(v) for v in docs.values()) / n
    dfreq = {t: sum(1 for v in docs.values() if t in v) for t in terms}
    k1, b = 1.2, 0.75
    exp = {}
    for i, toks in docs.items():
        s = 0.0
        for t in terms:
            tf = toks.count(t)
            idf = log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * len(toks) / avgdl))
        if round(s, 4) > 0:
            exp[i] = (len(toks), round(s, 4))
    assert set(got) == set(exp)  # zero-score docs (2,4,5) dropped
    for i in got:
        assert got[i][0] == exp[i][0]
        assert abs(got[i][1] - exp[i][1]) < 1e-9


def test_bm25_topk_order_and_limit(spark):
    from webloghunter_spark.functions.text import bm25_topk

    rows = [(i, "spark " * (i + 1)) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["spark"], k=3).collect()
    assert len(out) == 3
    scores = [r.bm25 for r in out]
    assert scores == sorted(scores, reverse=True)


# --- per-doc char entropy and split coherence -----------------------------------

def test_char_entropy_known_values(spark):
    from math import floor, log

    from webloghunter_spark.functions.text import char_entropy

    rows = [
        (0, "aaaa"),        # single char: entropy 0
        (1, "abab"),        # two chars 50/50: ln 2
        (2, ""),
        (3, None),
        (4, "  ab  "),      # trimmed -> 'ab'
        (5, "\tab\n"),      # SQL trim() keeps tab/newline: 4 chars
        (6, " \tab\n "),    # outer spaces stripped, inner \t\n kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in char_entropy(df).collect()}
    assert (out[0].n_chars, out[0].n_distinct, out[0].entropy_nano) == (4, 1, 0)
    half = int(floor(-(0.5 * log(0.5)) * 1e9 + 0.5))
    assert out[1].entropy_nano == 2 * half  # ~ln2 in nano-nats
    assert (out[2].n_chars, out[2].entropy_nano) == (0, 0)
    assert (out[3].n_chars, out[3].entropy_nano) == (0, 0)
    assert out[4].n_chars == 2 and out[4].n_distinct == 2
    # Parity with SQL trim(): space-only strip — tabs/newlines are
    # characters in the histogram (duckdb length(trim(e'\tab\n')) = 4).
    assert out[5].n_chars == 4 and out[5].n_distinct == 4
    quarter = int(floor(-(0.25 * log(0.25)) * 1e9 + 0.5))
    assert out[5].entropy_nano == 4 * quarter  # ~ln4, uniform over 4
    assert out[6].n_chars == 4 and out[6].n_distinct == 4


def test_split_coherence_glued_vs_repetitive(spark):
    from webloghunter_spark.functions.text import split_coherence

    rep = "a b c d " * 8                    # halves share all shingles
    glued = "a b c d e f g h " + "q r s t u v w x "  # disjoint halves
    rows = [(0, rep.strip()), (1, glued.strip()), (2, "one two"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in split_coherence(df).collect()}
    assert out[0].coherence_bp > 5000
    assert out[1].coherence_bp == 0 and out[1].n_union > 0
    # too short for any shingle: union 0 -> bp 0
    assert out[2].n_union == 0 and out[2].coherence_bp == 0
    assert out[3].n_tokens == 0 and out[3].coherence_bp == 0


def test_bm25_drift_frozen_vs_fresh(spark):
    """Self-drift is zero: with ref == corpus the frozen and fresh
    sides are the same model, so every row has rank_frozen ==
    rank_fresh and equal scores. Under growth (ref = subset) the
    frozen side still ranks, sentinels (0) mark docs missing from
    one side, and the fresh side equals bm25_topk on the full
    corpus."""
    from webloghunter_spark.functions.text import bm25_drift, bm25_topk

    rows = [
        (1, "spark query spark table"),
        (2, "the dog ate the cat food"),
        (3, "query plan for the big table join join join"),
        (4, "table join table join"),
        (5, "spark spark spark spark"),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ["spark", "query"]

    same = bm25_drift(df, df, terms, k=10).collect()
    assert same and all(
        r.rank_frozen == r.rank_fresh and r.bm25_frozen == r.bm25_fresh
        for r in same
    )

    ref = df.filter(F.col("doc_id") <= 3)
    out = {r.doc_id: r for r in bm25_drift(ref, df, terms, k=10).collect()}
    fresh = bm25_topk(df, terms, k=10).collect()
    for rank, r in enumerate(fresh, start=1):
        assert out[r.doc_id].rank_fresh == rank
        assert out[r.doc_id].bm25_fresh == r.bm25
    # every row is in at least one top-k; sentinel 0 marks absence
    for r in out.values():
        assert r.rank_frozen > 0 or r.rank_fresh > 0
        assert (r.rank_frozen == 0) == (r.bm25_frozen == 0.0)

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_drift(ref, df, [])


def test_bm25_batch_matches_per_query_topk(spark):
    """Each query's batch rows equal a standalone bm25_topk run with
    the same terms (the shared-stats pass changes nothing), and rows
    group per qid in (bm25 desc, id) order."""
    from webloghunter_spark.functions.text import bm25_batch, bm25_topk

    rows = [
        (1, "spark query spark table"),
        (2, "the dog ate the cat food"),
        (3, "query plan for the big table join join join"),
        (4, "table join table join"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    queries = {"a": ["spark", "query"], "b": ["table", "join"]}
    got = {}
    for r in bm25_batch(df, queries, k=3).collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.dl, r.bm25))
    for qid, terms in queries.items():
        solo = [(r.doc_id, r.dl, r.bm25)
                for r in bm25_topk(df, terms, k=3).collect()]
        assert got[qid] == solo, qid
