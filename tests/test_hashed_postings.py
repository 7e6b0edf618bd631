"""Round-13 hashed-postings migration: containment_drop,
containment_pairs_against, and containment_drop_against now scan
60-bit md5-prefix int shingles (pipelines/dedup.hashed_shingles_expr)
instead of strings. These tests pin the migration's core claim — the
hashed operators produce IDENTICAL pair/drop sets to string-shingle
semantics — by recomputing every expected frame from an independent
pure-Python STRING-shingle reference (tokenize, k-gram, df-bounded
candidates, exact intersect, the documented decision rules) and
asserting exact equality. A 60-bit collision inside any fixture doc
pair would fail these; none exists (and the paired DuckDB oracles
hash identically anyway, so the registry gate is collision-proof by
construction)."""

import re
from collections import Counter, defaultdict

from pyspark.sql import functions as F


def _py_shingles(text, k=3):
    """Pure-Python mirror of functions/text.shingles_expr semantics:
    F.trim strips SPACES only; split on \\s+; space-joined k-grams;
    empty set below k tokens / blank / NULL."""
    if text is None:
        return set()
    t = text.strip(" ")
    if not t:
        return set()
    toks = re.split(r"\s+", t)
    if len(toks) < k:
        return set()
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _grid4(x):
    """grid_round_expr(x, 4) mirror: floor(x * 1e4 + 0.5) / 1e4 in
    double — identical FP steps to the Column form."""
    import math

    return math.floor(x * 10000.0 + 0.5) / 10000.0


def _fixture_rows():
    small = " ".join(f"q{j} r{j}" for j in range(15))
    wrapper = (
        " ".join(f"pre{j} nav{j}" for j in range(20))
        + " " + small + " "
        + " ".join(f"post{j} foot{j}" for j in range(20))
    )
    twin = " ".join(f"tw{j} the of and is on" for j in range(6))
    rows = [
        (1, small, "farm"),           # contained in 2 -> dropped
        (2, wrapper, "s0"),           # container
        (3, twin, "s0"),              # mutual twins: keep-best
        (4, twin + " ", "s1"),        # trailing space: same shingles
        (5, "too short", "s1"),       # < 3 tokens: empty shingle set
        (6, None, "s1"),              # NULL text
    ] + [
        (10 + i,
         " ".join(f"u{i}w{j} the of and is on" for j in range(8)),
         "s0")
        for i in range(6)
    ]
    return rows


def _ref_machinery(sh, cand_pairs):
    """Exact verify on string shingle sets for given candidate pairs:
    (a, b) -> (n_common, na, nb)."""
    return {
        (a, b): (len(sh[a] & sh[b]), len(sh[a]), len(sh[b]))
        for a, b in cand_pairs
    }


def _ref_self_pairs(rows, k=3, max_df=20):
    """containment_pairs' candidate discipline on STRING shingles:
    inverted index over discriminative grams (2 <= df <= max_df),
    id_a < id_b."""
    sh = {i: _py_shingles(t, k) for i, t, _ in rows}
    sh = {i: s for i, s in sh.items() if s}
    df = Counter(g for s in sh.values() for g in s)
    disc = {g for g, c in df.items() if 2 <= c <= max_df}
    byg = defaultdict(list)
    for i, s in sh.items():
        for g in s & disc:
            byg[g].append(i)
    cand = {
        (a, b)
        for ids in byg.values()
        for a in ids
        for b in ids
        if a < b
    }
    return sh, _ref_machinery(sh, cand)


def _quality_bp(spark, rows):
    """quality_bp_expr is text-based (migration-independent); use the
    engine's own values as the reference's quality input."""
    from webloghunter_spark.functions.text import quality_bp_expr

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = docs.select(
        "doc_id",
        F.coalesce(quality_bp_expr("text"), F.lit(0))
        .cast("long")
        .alias("q"),
    ).collect()
    return {r.doc_id: r.q for r in out}


def test_containment_drop_matches_string_reference(spark):
    """The hashed containment_drop reproduces the STRING-shingle
    decision frame exactly: pair machinery, bp drop rules, keep-best
    mutual resolution, per-doc stats (incl. empty/NULL-text rows)."""
    from webloghunter_spark.pipelines.dedup import containment_drop

    rows = _fixture_rows()
    sh_all = {i: _py_shingles(t) for i, t, _ in rows}
    sh, ex = _ref_self_pairs(rows)
    q = _quality_bp(spark, rows)

    n_containers = Counter()
    for (a, b), (n, na, nb) in ex.items():
        a_in_b = n * 10000 >= 8000 * na and nb * 10000 >= 10000 * na
        b_in_a = n * 10000 >= 8000 * nb and na * 10000 >= 10000 * nb
        if a_in_b and (not b_in_a or q[a] < q[b]):
            n_containers[a] += 1
        elif b_in_a and (not a_in_b or q[a] >= q[b]):
            n_containers[b] += 1
    expected = sorted(
        (i, src, len(sh_all[i]), q[i], n_containers[i],
         int(n_containers[i] > 0))
        for i, t, src in rows
    )

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    got = sorted(map(tuple, containment_drop(docs).collect()))
    assert got == expected
    # the fixture actually exercises the interesting rows
    by_id = {r[0]: r for r in got}
    assert by_id[1][5] == 1          # contained small doc dropped
    assert by_id[2][5] == 0          # container survives
    assert by_id[3][5] != by_id[4][5]  # twins: exactly one survives
    assert by_id[5][2] == 0 and by_id[6][2] == 0  # empty shingle rows


def test_ngram_jaccard_pairs_matches_string_reference(spark):
    """The jaccard verify (ngram_jaccard_pairs — migrated to hashed
    postings in the round-13 wave that carried the containment family)
    reproduces STRING-shingle Jaccard exactly on candidate pairs:
    |A∩B|/|A∪B| over the 60-bit md5-prefix int sets equals the
    string-set value whenever the hash is injective on the corpus
    slice, and the fixture (twins, containment, shared boilerplate
    grams) pins that equality pair by pair."""
    from webloghunter_spark.pipelines.dedup import ngram_jaccard_pairs

    rows = _fixture_rows()
    sh = {i: _py_shingles(t) for i, t, _ in rows}
    ids = [i for i, s in sh.items() if s]
    cand = [(a, b) for a in ids for b in ids if a < b]
    expected = sorted(
        (a, b, _grid4(len(sh[a] & sh[b]) / len(sh[a] | sh[b])))
        for a, b in cand
    )

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    pairs = spark.createDataFrame(cand, "id_a long, id_b long")
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, pairs, threshold=0.0).collect()
    )
    assert got == expected
    # the fixture exercises both extremes
    jm = {(a, b): v for a, b, v in got}
    assert jm[(3, 4)] == 1.0          # trailing-space twins: identical sets
    assert 0.0 < jm[(1, 2)] < 1.0     # containment pair: partial overlap


def test_near_dedup_drop_set_matches_string_reference(spark):
    """near_dedup's drop decisions (lower-id-wins at >= threshold) are
    unchanged by the hashed verify: recompute the drop set from the
    pure-Python string-shingle Jaccard over ALL pairs (a superset of
    the LSH candidates, so any candidate the bands surface decides
    identically) and assert the survivor set matches."""
    from webloghunter_spark.pipelines.dedup import near_dedup

    rows = _fixture_rows()
    sh = {i: _py_shingles(t) for i, t, _ in rows}
    dropped = set()
    for b in sh:
        for a in sh:
            if a < b and sh[a] and sh[b]:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= 0.8:
                    dropped.add(b)
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    kept = sorted(
        r.doc_id
        for r in near_dedup(
            docs, threshold=0.8, num_hashes=8, band_size=2
        ).collect()
    )
    # LSH candidates are a subset of all pairs; every kept doc must be
    # un-dropped under the string reference, and every string-dropped
    # doc that LSH surfaces must be gone. The twins (3, 4) are
    # guaranteed same-signature, so 4 MUST be dropped.
    assert 4 not in kept
    assert all(i not in kept or i not in dropped or i == 4 for i in sh)
    assert set(kept) <= (set(i for i, _, _ in rows) - {4})


def test_containment_against_matches_string_reference(spark):
    """The hashed *_against forms reproduce the STRING-shingle
    frozen-corpus results exactly: corpus-df discipline (probe never
    contributes), pairs frame, and the authoritative drop gate."""
    from webloghunter_spark.pipelines.dedup import (
        containment_drop_against,
        containment_pairs_against,
    )

    rows = _fixture_rows()
    probe_rows = [r for r in rows if r[0] % 2 == 1]
    corpus_rows = [r for r in rows if r[0] % 2 == 0]
    psh = {i: _py_shingles(t) for i, t, _ in probe_rows}
    csh = {i: _py_shingles(t) for i, t, _ in corpus_rows}
    cdf = Counter(g for s in csh.values() if s for g in s)
    disc = {g for g, c in cdf.items() if c <= 20}
    cand = {
        (a, b)
        for a, sa in psh.items()
        if sa
        for b, sb in csh.items()
        if sb and (sa & sb & disc)
    }
    ex = {
        (a, b): (len(psh[a] & csh[b]), len(psh[a]), len(csh[b]))
        for a, b in cand
    }
    exp_pairs = sorted(
        (a, b, n, _grid4(n / na), _grid4(n / nb))
        for (a, b), (n, na, nb) in ex.items()
        if max(n / na, n / nb) >= 0.5
    )
    drops = Counter()
    for (a, b), (n, na, nb) in ex.items():
        if n * 10000 >= 8000 * na and nb * 10000 >= 10000 * na:
            drops[a] += 1
    exp_drop = sorted(
        (i, len(psh[i]), drops[i], int(drops[i] > 0))
        for i, _, _ in probe_rows
    )

    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    got_pairs = sorted(
        map(tuple, containment_pairs_against(probe, corpus).collect())
    )
    assert got_pairs == exp_pairs
    got_drop = sorted(
        map(tuple, containment_drop_against(probe, corpus).collect())
    )
    assert got_drop == exp_drop
    assert any(r[3] == 1 for r in got_drop)  # the gate actually fires

def test_gram_stat_riders_match_string_reference(spark):
    """The round-13 wave-5 riders (dup_ngram_frac, novelty_frac,
    source_overlap — migrated to 60-bit hashed gram keys) reproduce
    the STRING-gram statistics exactly on a fixture with shared
    boilerplate, twins and empty/NULL docs."""
    from webloghunter_spark.pipelines.dedup import dup_ngram_frac
    from webloghunter_spark.pipelines.overlap import (
        novelty_frac,
        source_overlap,
    )

    rows = _fixture_rows()
    sh = {i: _py_shingles(t) for i, t, _ in rows}
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )

    # dup_ngram_frac: df over string grams
    df_ct = Counter(g for s in sh.values() for g in s)
    exp = sorted(
        (
            i,
            len(sh[i]),
            sum(1 for g in sh[i] if df_ct[g] >= 2),
            (sum(1 for g in sh[i] if df_ct[g] >= 2) * 10000)
            // len(sh[i]) if sh[i] else 0,
        )
        for i, _, _ in rows
    )
    got = sorted(map(tuple, dup_ngram_frac(docs).collect()))
    assert got == exp
    assert any(r[2] > 0 for r in got)          # shared grams exist

    # novelty_frac: first occurrence by min id
    first = {}
    for i in sorted(sh):
        for g in sh[i]:
            first.setdefault(g, i)
    exp = sorted(
        (i, len(sh[i]), sum(1 for g in sh[i] if first[g] == i))
        for i, _, _ in rows
    )
    got = sorted(map(tuple, novelty_frac(docs).collect()))
    assert got == exp

    # source_overlap: per-source distinct gram sets, pairwise
    by_src = defaultdict(set)
    for i, _, src in rows:
        by_src[src] |= sh[i]
    srcs = sorted(by_src)
    exp = sorted(
        (a, b, len(by_src[a]), len(by_src[b]),
         len(by_src[a] & by_src[b]))
        for a in srcs for b in srcs if a < b
    )
    got = sorted(map(tuple, source_overlap(docs).collect()))
    assert got == exp
    assert any(r[4] > 0 for r in got)          # cross-source overlap


def test_leakage_values_match_string_reference(spark):
    """boundary_leakage / batch_leakage keep STRING shingle arrays
    (the round-13 wave-5 probe measured the hashed form LOSING here:
    each gram is intersected ~once, so the md5 pass costs more than
    the narrower sort/intersect saves). This pin holds either way:
    every emitted pair's n_inter/n_union/jaccard_bp equals the
    string-shingle set computation."""
    from webloghunter_spark.pipelines.shard import (
        batch_leakage,
        boundary_leakage,
    )

    rows = _fixture_rows()
    sh = {i: _py_shingles(t) for i, t, _ in rows}
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    for op, kw in ((boundary_leakage, {}), (batch_leakage,
                                            {"batch_size": 4})):
        out = op(docs, n_shards=4, **kw).collect()
        assert out, op.__name__
        for r in out:
            n_inter = len(sh[r.id_a] & sh[r.id_b])
            n_union = len(sh[r.id_a]) + len(sh[r.id_b]) - n_inter
            assert (r.n_inter, r.n_union) == (n_inter, n_union), r
            assert r.jaccard_bp == (
                (n_inter * 10000) // n_union if n_union > 0 else 0
            ), r


def _py_tokens(text):
    """tokens_expr mirror: trim spaces, split \\s+, [] for blank/NULL."""
    if text is None:
        return []
    t = text.strip(" ")
    return re.split(r"\s+", t) if t else []


def _seg_fixture_rows():
    nav = "home about contact login sitemap"          # 5-token template
    foot = "copyright terms privacy legal help"       # 5-token template
    return [
        (1, nav + " alpha beta gamma delta eps " + foot),  # template + body
        (2, nav + " zeta eta theta iota kappa " + foot),   # same templates
        (3, nav + " " + foot),                             # boilerplate-only
        (4, nav + " alpha beta gamma delta eps " + foot),  # exact dup of 1
        (5, "one two"),                                    # < seg_tokens
        (6, ""),                                           # blank
        (7, None),                                         # NULL
        (8, "solo unique words never repeated anywhere at all ok fine"),
    ]


def test_segment_family_matches_string_reference(spark):
    """Round-14 posting compression: segment_dedup and
    boilerplate_segments key their exchanges on 60-bit md5-prefix
    BIGINTs instead of md5 hex strings. This pins the keep/removal
    decisions (and the rebuilt text) to a pure-Python STRING-segment
    reference — a 60-bit collision inside the fixture would fail it."""
    from webloghunter_spark.pipelines.dedup import (
        boilerplate_segments,
        segment_dedup,
    )

    rows = _seg_fixture_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    st = 5

    def segs_of(text):
        toks = _py_tokens(text)
        n_seg = -(-len(toks) // st)
        return [
            (i, " ".join(toks[i * st:(i + 1) * st])) for i in range(n_seg)
        ]

    segs = {i: segs_of(t) for i, t in rows}

    # segment_dedup: keep the globally first (id, seg_idx) per STRING
    keeper = {}
    for i in sorted(segs):
        for idx, s in segs[i]:
            if s not in keeper:
                keeper[s] = (i, idx)
    exp = []
    for i, _ in rows:
        kept = [(idx, s) for idx, s in segs[i] if keeper[s] == (i, idx)]
        exp.append((i, len(segs[i]), len(kept),
                    " ".join(s for _, s in sorted(kept))))
    got = sorted(map(tuple, segment_dedup(docs, seg_tokens=st).collect()))
    assert got == sorted(exp)
    assert any(r[1] > 0 and r[2] == 0 for r in got)  # a fully-dup'd doc

    # boilerplate_segments: remove every segment with df >= 2 (by doc)
    seg_docs = defaultdict(set)
    for i, _ in rows:
        for _, s in segs[i]:
            seg_docs[s].add(i)
    boiler = {s for s, ds in seg_docs.items() if len(ds) >= 2}
    exp = []
    for i, _ in rows:
        kept = [(idx, s) for idx, s in segs[i] if s not in boiler]
        exp.append((i, len(segs[i]), len(kept),
                    " ".join(s for _, s in sorted(kept))))
    got = sorted(map(tuple, boilerplate_segments(
        docs, seg_tokens=st, min_df=2).collect()))
    assert got == sorted(exp)
    assert boiler                                     # templates caught


def test_window_span_family_matches_string_reference(spark):
    """Round-14 posting compression: repeated_window_spans and
    remove_repeated_spans key the repeat-set aggregate and semi-join
    on 60-bit md5-prefix BIGINTs. Pins span stats and the rewritten
    text to a pure-Python STRING-window reference."""
    from webloghunter_spark.pipelines.dedup import (
        remove_repeated_spans,
        repeated_window_spans,
    )

    w = 4
    chorus = "la li lu le lo na ne no"               # 8 tokens, repeated
    rows = [
        (1, chorus + " middle words here " + chorus),  # self-repeat
        (2, "intro bit " + chorus + " outro bit"),     # cross-doc repeat
        (3, "completely fresh text with no repeats at all whatsoever"),
        (4, "tiny doc"),                               # < window tokens
        (5, None),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {i: _py_tokens(t) for i, t in rows}
    wins = {
        i: [" ".join(ts[p:p + w]) for p in range(len(ts) - w + 1)]
        for i, ts in toks.items()
    }
    ct = Counter(g for ws in wins.values() for g in ws)
    hits = {
        i: [p for p, g in enumerate(ws) if ct[g] >= 2]
        for i, ws in wins.items()
    }

    def union_len(ps):
        total, prev_end = 0, -1
        for p in ps:
            e = p + w
            total += max(0, e - max(p, prev_end))
            prev_end = max(prev_end, e)
        return total

    exp_spans = sorted(
        (i, len(toks[i]), len(ps), union_len(ps),
         int((union_len(ps) * 10000.0 / len(toks[i])) + 0.5) if toks[i] else 0)
        for i, ps in hits.items() if ps
    )
    got = sorted(map(tuple, repeated_window_spans(docs, window=w).collect()))
    assert got == exp_spans
    assert len(exp_spans) == 2                        # docs 1 and 2

    covered = {
        i: {q for p in ps for q in range(p, p + w)} for i, ps in hits.items()
    }
    exp_rm = sorted(
        (i, len(ts),
         len(ts) - len([t for q, t in enumerate(ts) if q not in covered[i]]),
         " ".join(t for q, t in enumerate(ts) if q not in covered[i]))
        for i, ts in toks.items()
    )
    got = sorted(map(tuple, remove_repeated_spans(docs, window=w).collect()))
    assert got == exp_rm
    assert any(r[2] > 0 for r in got)                 # spans removed
