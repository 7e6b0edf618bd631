"""Property-based invariants (hypothesis): parser totality, dedup
idempotence, sessionization gap law, rule-engine max semantics.

Each example builds a small row set and runs one Spark job; example
counts are kept low because a Spark round-trip is ~1s.
"""

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from webloghunter_spark.operators.dedup import remove_cross_source_dups
from webloghunter_spark.operators.sessionize import sessionize
from webloghunter_spark.rules.sigma import DEFAULT_RULES, apply_rules
from webloghunter_spark.sources.logparse import parse_lines

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

ip_st = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))
uri_st = st.text(
    alphabet="abcdefghijklmnop/._-?=&", min_size=1, max_size=30
).filter(lambda s: " " not in s)
method_st = st.sampled_from(["GET", "POST", "PUT", "HEAD", "DELETE"])


@given(
    rows=st.lists(
        st.tuples(ip_st, method_st, uri_st, st.integers(100, 599), st.integers(0, 10**6)),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_parser_totality_apache(spark, rows):
    # every well-formed apache combined line parses to exactly its fields
    lines = [
        (
            f'{ip} - - [10/Oct/2024:13:55:36 +0000] "{m} {u} HTTP/1.1" {s} {z} "-" "UA"',
            "t.log",
            i,
        )
        for i, (ip, m, u, s, z) in enumerate(rows)
    ]
    df = spark.createDataFrame(lines, "value string, source string, ordinal long")
    parsed, errors = parse_lines(df)
    got = {r.ordinal: r for r in parsed.collect()}
    assert errors.count() == 0
    assert len(got) == len(rows)
    for i, (ip, m, u, s, z) in enumerate(rows):
        r = got[i]
        assert (r.ip, r.method, r.request_uri, r.status, r.resp_size) == (ip, m, u, s, z)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 3), st.integers(0, 5000)),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_sessionize_gap_law(spark, rows):
    threshold = 60
    data = [
        (src, f"10.0.0.{ip}", datetime(2024, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=sec))
        for src, ip, sec in rows
    ]
    df = spark.createDataFrame(data, "source string, ip string, utc_timestamp timestamp")
    out = sessionize(df, threshold=threshold).collect()
    # (1) dense global ids
    ids = sorted({r.cluster for r in out})
    assert ids == list(range(len(ids)))
    # (2) gap law per group over time-sorted rows
    groups = {}
    for r in out:
        groups.setdefault((r.source, r.ip), []).append(r)
    for rs in groups.values():
        rs.sort(key=lambda r: r.utc_timestamp)
        for prev, cur in zip(rs, rs[1:]):
            gap = (cur.utc_timestamp - prev.utc_timestamp).total_seconds()
            if gap >= threshold:
                assert cur.cluster != prev.cluster
            else:
                assert cur.cluster == prev.cluster
    # (3) clusters never span groups
    seen = {}
    for r in out:
        key = seen.setdefault(r.cluster, (r.source, r.ip))
        assert key == (r.source, r.ip)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a.log", "b.log"]),
            st.sampled_from(["1.1.1.1", "2.2.2.2"]),
            st.sampled_from(["/x", "/y", "/X "]),   # case/space variants normalize equal
            st.integers(200, 500),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(**SETTINGS)
def test_dedup_idempotent(spark, rows):
    data = [
        dict(
            timestamp="10/Oct/2024:13:55:36 +0000", ip=ip, method="GET",
            request_uri=u, status=s, resp_size=1, user_agent="ua", referrer="-",
            source=src, ordinal=i,
        )
        for i, (src, ip, u, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data)
    once = remove_cross_source_dups(df)
    twice = remove_cross_source_dups(once)
    a = sorted(r.ordinal for r in once.collect())
    b = sorted(r.ordinal for r in twice.collect())
    assert a == b


RULE_SCORES = {r["title"]: float(r["tags"][0]["risk_score"]) for r in DEFAULT_RULES}


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 600),            # request_count
            st.sampled_from([200, 201, 403, 404, 500, 503]),
            st.integers(0, 200),            # resp_size
            st.integers(0, 100),            # uri_risk
            st.sampled_from(["GET", "POST"]),
            st.booleans(),                  # fofa referrer
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_rules_pick_max_matching(spark, rows):
    data = [
        (
            i, "/uri" if i % 2 else "/cgi?cmd=whoami", s, z, m, rc, u,
            90 if s in (201, 500) else 30,
            "https://fofa.info/x" if fofa else "-", "ua", "1.1.1.1",
        )
        for i, (rc, s, z, u, m, fofa) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "i long, request_uri string, status int, resp_size long, method string, "
        "request_count long, uri_risk int, status_risk int, referrer string, "
        "user_agent string, ip string",
    )
    out = {r.i: r for r in apply_rules(df, DEFAULT_RULES).collect()}

    def matches(row):
        rc, s, z, u, m, fofa = row
        got = []
        if rc >= 500 and s in (500, 502, 503, 504) and z >= 25:
            got.append("Large Request Count & Server Error")
        if u >= 70 and s in (200, 201, 202) and z >= 25:
            got.append("Suspicious URI & OK Status")
        return got  # (subset is enough: these two dominate on score)

    for i, row in enumerate(rows):
        expected_min = max(
            (RULE_SCORES[t] for t in matches(row)), default=0.0
        )
        assert out[i].risk_score >= expected_min
        if out[i].rule_applied:
            assert out[i].risk_score == RULE_SCORES[out[i].rule_applied]


word_st = st.text(alphabet="abcdefgh", min_size=1, max_size=5)
doc_st = st.lists(word_st, min_size=0, max_size=12).map(" ".join)


@given(docs=st.lists(doc_st, min_size=1, max_size=10))
@settings(**SETTINGS)
def test_near_dedup_invariants(spark, docs):
    """near_dedup: output is a subset of input; identical texts with >=
    k tokens never both survive; the lowest id of any surviving
    duplicate-text group survives."""
    from webloghunter_spark.pipelines.dedup import near_dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in near_dedup(df, threshold=0.99).collect())
    assert set(kept) <= set(range(len(docs)))
    # identical long-enough docs: only the first id may survive
    by_text = {}
    for i, t in rows:
        if len(t.split()) >= 3 and t.strip():
            by_text.setdefault(" ".join(t.split()), []).append(i)
    for ids in by_text.values():
        surviving = [i for i in ids if i in kept]
        assert surviving == ids[:1], (ids, surviving, kept)


@given(docs=st.lists(doc_st, min_size=1, max_size=8))
@settings(**SETTINGS)
def test_tfidf_invariants(spark, docs):
    """tfidf_topk: k bounds the per-doc rows; a token present in every
    document scores exactly 0; tf matches a direct count."""
    from webloghunter_spark.functions.text import tfidf_topk

    rows = [(i, (t + " common").strip()) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk(df, "text", "doc_id", k=3).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rs in per_doc.items():
        assert len(rs) <= 3
        for r in rs:
            expected_tf = rows[doc_id][1].lower().split().count(r.token)
            assert r.tf == expected_tf
            if r.token == "common":
                assert r.tfidf == 0.0


FP_EDGE_TEXTS = [
    None, "", "   ", "\t\n", "a", "hello world", "Hello   WORLD  ",
    "\xa0nbsp\xa0padded\xa0", "mixé unicodé ÀÉİß text",
    "tabs\tand\nnewlines\x0bmixed\x0cforms\r.",
    "x" * 500, ("the quick brown fox " * 40).strip(),
    "short7", "exactly11ch",  # around the kgram+window-1 = 11 boundary
]


def test_fingerprint_fast_twins_match_expr(spark):
    """The fingerprint UDFs, the token split and the exact-dedup key
    must be bit-identical to the registry's DuckDB oracles
    (SQL_DOC_FINGERPRINT, SQL_WINNOW, SQL_TOKEN_STATS, SQL_DEDUP_EXACT
    — an independent implementation) on edge inputs: empty/blank text,
    unicode whitespace (Java regex \\s is ASCII-only — Python re must
    not eat \\xa0), vertical tab (RE2 \\s omits it, Java \\s does
    not), non-ASCII letters, and lengths around the winnow minimum."""
    import duckdb
    import pandas as pd

    from webloghunter_spark.benchqueries import (
        SQL_DEDUP_EXACT,
        SQL_DOC_FINGERPRINT,
        SQL_TOKEN_STATS,
        SQL_WINNOW,
    )
    from webloghunter_spark.functions.text import (
        token_count_expr,
        with_rolling_fingerprint,
        with_winnowed_fingerprints,
    )
    from webloghunter_spark.pipelines.dedup import exact_dedup

    rows = [(i, t) for i, t in enumerate(FP_EDGE_TEXTS)]
    df = spark.createDataFrame(rows, "id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))

    got = {r.id: r.fp for r in
           with_rolling_fingerprint(df, "text", out_col="fp").collect()
           if r.fp is not None}
    want = dict(con.sql(SQL_DOC_FINGERPRINT).fetchall())
    assert got == want and len(want) > 0

    got_w = {r.id: list(r.w) for r in with_winnowed_fingerprints(
        df, "text", out_col="w", kgram=8, window=4).collect() if r.w}
    want_w: dict = {}
    for doc_id, fp in con.sql(SQL_WINNOW).fetchall():
        want_w.setdefault(doc_id, []).append(fp)
    assert got_w == {k: sorted(v) for k, v in want_w.items()}
    assert len(want_w) > 0

    got_n = {r.id: r.n for r in df.select(
        "id", token_count_expr("text").alias("n")).collect()}
    want_n = {i: n for i, n, *_ in con.sql(SQL_TOKEN_STATS).fetchall()}
    assert got_n == want_n

    got_k = {tuple(r) for r in exact_dedup(df, "text", "id").collect()}
    assert got_k == set(con.sql(SQL_DEDUP_EXACT).fetchall())


def test_minhash_simhash_udfs_match_oracles_on_edge_texts(spark):
    """minhash_signatures and simhash_udf tokenize like tokens_expr
    (Java whitespace class, spaces-only trim), so they match their
    DuckDB oracles SQL_MINHASH and SQL_SIMHASH on the edge texts and
    on a U+00A0 inside a document, which is part of a token, not a
    separator."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from webloghunter_spark.benchqueries import SQL_MINHASH, SQL_SIMHASH
    from webloghunter_spark.pipelines.dedup import (
        minhash_signatures,
        simhash_udf,
    )

    texts = FP_EDGE_TEXTS + ["alpha beta\xa0gamma delta epsilon"]
    rows = [(i, t, "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"]))

    got = {tuple(r) for r in minhash_signatures(df, num_hashes=4).collect()}
    assert got == set(con.sql(SQL_MINHASH).fetchall()) and len(got) > 0

    got_s = {(r.doc_id, r.s) for r in df.select(
        "doc_id", simhash_udf(3, 16)(F.col("text")).alias("s")).collect()
        if r.s is not None}
    assert got_s == set(con.sql(SQL_SIMHASH).fetchall()) and len(got_s) > 0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=0, max_size=40,
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed CC (relaxation + pointer jumping) agrees with a
    driver-side union-find on random graphs, including self-loops,
    duplicate edges, and isolated nodes."""
    from webloghunter_spark.pipelines.dedup import connected_components
    from webloghunter_spark.session import release_materialized

    nodes = list(range(25))
    parent = {i: i for i in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {i: find(i) for i in nodes}

    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    ndf = spark.createDataFrame([(i,) for i in nodes], "doc_id long")
    got = {r.doc_id: r.comp for r in
           connected_components(edf, ndf, id_col="doc_id").collect()}
    release_materialized()
    assert got == expected


word_st = st.text(alphabet="abcdefgh", min_size=1, max_size=5)
doc_text_st = st.lists(word_st, min_size=0, max_size=30).map(" ".join)


@settings(**SETTINGS)
@given(
    docs=st.lists(doc_text_st, min_size=1, max_size=12),
    budget=st.integers(0, 200),
)
def test_token_budget_select_invariants(spark, docs, budget):
    """Selected token mass never exceeds the budget (when any doc was
    rejected); selection is monotone: every selected id stays
    selected when the budget grows."""
    from webloghunter_spark.pipelines.select import token_budget_select

    rows = [(i, t, (i * 37) % 100) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, score int")
    out = token_budget_select(df, budget, score_col="score").collect()
    sel_tok = sum(r.ntok for r in out if r.selected)
    if any(not r.selected for r in out):
        assert sel_tok <= budget
    bigger = token_budget_select(df, budget + 50, score_col="score").collect()
    sel_small = {r.doc_id for r in out if r.selected}
    sel_big = {r.doc_id for r in bigger if r.selected}
    assert sel_small <= sel_big


@settings(**SETTINGS)
@given(docs=st.lists(doc_text_st, min_size=1, max_size=10))
def test_repeated_window_spans_invariants(spark, docs):
    """dup_tokens never exceeds ntok; every reported doc has >= 1
    repeated window; duplicating the whole corpus makes every doc
    with >= window tokens fully covered."""
    from webloghunter_spark.pipelines.dedup import repeated_window_spans

    w = 3
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for r in repeated_window_spans(df, window=w).collect():
        assert 0 < r.dup_tokens <= r.ntok
        assert r.n_rep_windows >= 1
    # union with an id-shifted copy: every window now repeats
    dup = df.union(
        df.selectExpr("doc_id + 1000 as doc_id", "text")
    )
    full = {r.doc_id: r for r in repeated_window_spans(dup, window=w).collect()}
    for i, t in rows:
        ntok = len(t.split()) if t.strip() else 0
        if ntok >= w:
            assert full[i].dup_tokens == ntok


@settings(**SETTINGS)
@given(docs=st.lists(doc_text_st, min_size=1, max_size=10))
def test_dedup_normalized_partition_invariants(spark, docs):
    """Exactly one kept doc per family; family sizes sum to the row
    count; normalization-insensitive copies share a family."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.text import normalized_text_expr

    rows = [(i, t) for i, t in enumerate(docs)]
    rows += [(100 + i, t.upper() + " ") for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    keyed = df.select(
        "doc_id", F.md5(normalized_text_expr("text")).alias("k")
    )
    fam = keyed.groupBy("k").agg(
        F.min("doc_id").alias("keep"), F.count("*").alias("n")
    ).collect()
    assert sum(r.n for r in fam) == len(rows)
    # the upper()+trailing-space twin always joins doc i's family
    kv = {r.doc_id: r.k for r in keyed.collect()}
    for i, _ in enumerate(docs):
        assert kv[i] == kv[100 + i]


@settings(**SETTINGS)
@given(docs=st.lists(doc_text_st, min_size=1, max_size=10), w=st.integers(2, 4))
def test_remove_repeated_spans_token_conservation(spark, docs, w):
    """For every doc: removed + kept tokens == ntok, removed matches
    the span audit's union length exactly, and a doc with no repeated
    window passes through whitespace-normalized."""
    from webloghunter_spark.pipelines.dedup import (
        remove_repeated_spans,
        repeated_window_spans,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    # id-shifted copy: every >=w-token doc becomes fully duplicated
    rows += [(1000 + i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    audit = {r.doc_id: r.dup_tokens
             for r in repeated_window_spans(df, window=w).collect()}
    out = {r.doc_id: r for r in remove_repeated_spans(df, window=w).collect()}
    assert set(out) == {i for i, _ in rows}
    for i, t in rows:
        r = out[i]
        kept = len(r.clean_text.split()) if r.clean_text else 0
        assert kept + r.removed_tokens == r.ntok
        assert r.removed_tokens == audit.get(i, 0)
        if i not in audit:
            assert r.clean_text == " ".join(t.split())


@settings(**SETTINGS)
@given(
    n=st.integers(1, 60),
    shards=st.integers(1, 8),
    seed=st.sampled_from(["a", "b", "xyz"]),
)
def test_train_order_is_bijective_and_stable(spark, n, shards, seed):
    """(shard, position) is a bijection onto contiguous per-shard
    ranges; adding MORE docs never changes an existing doc's shard
    (positions may shift — membership may not)."""
    from webloghunter_spark.pipelines.shard import train_order

    df = spark.createDataFrame(
        [(i,) for i in range(n)], "doc_id long"
    )
    o = {r.doc_id: (r.shard_id, r.position)
         for r in train_order(df, n_shards=shards, seed=seed).collect()}
    assert len(o) == n
    by_shard: dict = {}
    for s, p in o.values():
        by_shard.setdefault(s, []).append(p)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(len(ps)))
    bigger = spark.createDataFrame(
        [(i,) for i in range(n + 13)], "doc_id long"
    )
    o2 = {r.doc_id: r.shard_id
          for r in train_order(bigger, n_shards=shards, seed=seed).collect()}
    for d, (s, _) in o.items():
        assert o2[d] == s


@settings(**SETTINGS)
@given(
    vecs=st.lists(
        st.lists(
            st.sampled_from([-1.0, -0.5, -0.25, 0.125, 0.25, 0.5, 1.0]),
            min_size=3, max_size=3,
        ),
        min_size=2, max_size=9,
    ),
    lam_bp=st.sampled_from([0, 3000, 5000, 10000]),
    k=st.integers(1, 5),
)
def test_mmr_select_matches_reference_greedy(spark, vecs, lam_bp, k):
    """mmr_select reproduces an independent pure-Python greedy MMR:
    same picks, same ranks, same quantized scores — for any lambda
    (including the 0 and 10000 ends), any k, and any pool, with
    exact-binary-fraction coordinates so float32/double round-trips
    are exact."""
    import math

    from webloghunter_spark.pipelines.select import mmr_select

    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )

    def cos_bp(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = nb = 0.0
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return math.floor(
            dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5
        )

    q = vecs[0]
    pool = {i: v for i, v in rows[1:]}
    rel = {i: cos_bp(v, q) for i, v in pool.items()}
    ms: dict = {}
    expect = []
    for rank in range(1, k + 1):
        if not pool:
            break
        if rank == 1:
            pick = min(pool, key=lambda i: (-rel[i], i))
            pen = 0
        else:
            pick = min(
                pool,
                key=lambda i: (
                    -(lam_bp * rel[i] - (10000 - lam_bp) * ms[i]), i
                ),
            )
            pen = ms[pick]
        expect.append(
            (rank, pick, rel[pick],
             pen, lam_bp * rel[pick] - (10000 - lam_bp) * pen)
        )
        pv = pool.pop(pick)
        for i, v in pool.items():
            s = cos_bp(v, pv)
            ms[i] = max(ms[i], s) if i in ms else s
    got = [
        (r.sel_rank, r.vec_id, r.rel_bp, r.penalty_bp, r.score_micro)
        for r in mmr_select(df, k=k, lam_bp=lam_bp, query_id=0).collect()
    ]
    assert got == expect


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),     # group
            st.integers(0, 40),                   # score (coarse grid
                                                  #  -> boundary ties)
            st.integers(0, 12),                   # ntok
        ),
        min_size=1,
        max_size=40,
    ),
    budgets=st.tuples(
        st.integers(0, 60), st.integers(0, 60), st.integers(0, 60)
    ),
)
@settings(**SETTINGS)
def test_token_budget_by_group_matches_python_replay(spark, rows, budgets):
    """The per-group histogram-cutoff + greedy-boundary selection
    equals a direct pure-Python replay of the spec: per group, whole
    score buckets admit highest-first until one no longer fits (the
    cutoff); boundary-bucket docs admit zero-token free + greedy by
    id against the remainder; everything below the cutoff is out
    (a below-cutoff zero-token doc is NOT selected — rank order, not
    token cost, decides below the boundary)."""
    from webloghunter_spark.pipelines.select import token_budget_by_group

    data = [(i, g, sc, " ".join(["w"] * nt)) for i, (g, sc, nt) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, grp string, score long, text string"
    )
    plan = dict(zip("abc", budgets))
    got = {
        r.doc_id: r.selected
        for r in token_budget_by_group(
            df, plan, group_col="grp", score_col="score"
        ).collect()
    }
    # pure-Python spec replay (bucket-level cutoff walk, then the
    # boundary bucket's zero-free + greedy-by-id admission)
    want = {}
    by_group: dict = {}
    for i, (g, sc, nt) in enumerate(rows):
        by_group.setdefault(g, []).append((i, sc, nt))
    for g, docs in by_group.items():
        rem = plan[g]
        cutoff = None
        for sc in sorted({d[1] for d in docs}, reverse=True):
            btok = sum(nt for _, s2, nt in docs if s2 == sc)
            if btok > rem:
                cutoff = sc
                break
            rem -= btok
        for i, sc, nt in docs:
            if cutoff is None or sc > cutoff:
                want[i] = True
            elif sc < cutoff:
                want[i] = False
        if cutoff is not None:
            for i, sc, nt in sorted(
                (d for d in docs if d[1] == cutoff), key=lambda d: d[0]
            ):
                if nt == 0:
                    want[i] = True
                elif nt <= rem:
                    want[i] = True
                    rem -= nt
                else:
                    want[i] = False
    assert got == want


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["en", "de", None]),
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=6
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_perplexity_bands_matches_ntile_replay(spark, rows):
    """The histogram cut-walk + boundary tie-split equals a direct
    per-lang ntile(3) replay over (score desc, id) — including NULL
    langs as their own partition, heavy score ties (tiny vocab), and
    unscoreable docs banding 'empty'."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.lm import bigram_logprob, perplexity_bands

    data = [(i, lang, " ".join(toks)) for i, (lang, toks) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, lang string, text string")
    got = {r.doc_id: r.band for r in perplexity_bands(df).collect()}
    scores = {
        r.doc_id: (r.n_bigrams, r.avg_ll)
        for r in bigram_logprob(df).collect()
    }
    # python ntile replay
    want = {}
    by_lang: dict = {}
    for i, (lang, _toks) in enumerate(rows):
        nb, ll = scores[i]
        if nb == 0:
            want[i] = "empty"
        else:
            import math

            llq = math.floor(ll * 10000 + 0.5)  # ll is 4-digit-rounded
            by_lang.setdefault(lang, []).append((-llq, i))
    for lang, docs in by_lang.items():
        docs.sort()
        n = len(docs)
        sizes = [n // 3 + (1 if j < n % 3 else 0) for j in range(3)]
        k = 0
        for band, sz in zip(["head", "middle", "tail"], sizes):
            for _, d in docs[k:k + sz]:
                want[d] = band
            k += sz
    assert got == want


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_longest_repeat_matches_quadratic_reference(spark, docs):
    """The binary-search kernel equals the naive quadratic definition:
    longest_len = max k with a repeated k-gram, n_longest = distinct
    repeated grams at that k. A 4-letter alphabet forces collisions."""
    from webloghunter_spark.functions.text import longest_repeat

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.ntok, r.longest_len, r.n_longest)
           for r in longest_repeat(df).collect()}
    for i, toks in enumerate(docs):
        n = len(toks)
        best, cnt = 0, 0
        for k in range(1, n):
            seen, rep = set(), set()
            for j in range(n - k + 1):
                g = tuple(toks[j:j + k])
                (rep if g in seen else seen).add(g)
            if rep:
                best, cnt = k, len(rep)
        assert got[i] == (n, best, cnt), (i, toks)


@given(
    train=st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=2, max_size=8),
        min_size=2,
        max_size=5,
    ),
    held=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "q"]), min_size=0, max_size=8),
        min_size=1,
        max_size=4,
    ),
)
@settings(**SETTINGS)
def test_bpe_apply_invariants(spark, train, held):
    """Frozen-merge application: n_symbols <= ntok always, applying an
    empty merge table is the identity, and re-applying the training
    corpus's own merges reproduces bpe_encode row-for-row."""
    from webloghunter_spark.pipelines.bpe import (
        bpe_apply,
        bpe_encode,
        bpe_merge_learn,
    )

    tdf = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(train)],
        "doc_id long, text string",
    )
    hdf = spark.createDataFrame(
        [(100 + i, " ".join(t)) for i, t in enumerate(held)],
        "doc_id long, text string",
    )
    merges = [(int(r.step), r.sym_a, r.sym_b)
              for r in bpe_merge_learn(tdf, steps=3).collect()]
    out = {r.doc_id: (r.ntok, r.n_symbols, r.saved_bp)
           for r in bpe_apply(hdf, merges).collect()}
    for i, t in enumerate(held):
        ntok, nsym, bp = out[100 + i]
        assert ntok == len(t)
        assert 0 <= nsym <= ntok
        if ntok:
            assert bp == ((ntok - nsym) * 20000 + ntok) // (2 * ntok)
        else:
            assert (nsym, bp) == (0, 0)
    ident = {r.doc_id: r.n_symbols for r in bpe_apply(hdf, []).collect()}
    assert all(ident[100 + i] == len(t) for i, t in enumerate(held))
    enc = sorted(tuple(r) for r in bpe_encode(tdf, steps=3).collect())
    app = sorted(tuple(r) for r in bpe_apply(tdf, merges).collect())
    assert app == enc


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d", "e"]),
            min_size=0, max_size=12,
        ),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**SETTINGS)
def test_containment_pairs_matches_bruteforce(spark, docs, threshold):
    """containment_pairs equals the brute-force all-pairs definition
    RESTRICTED to its documented candidate contract: pairs sharing at
    least one discriminative shingle (2 <= df <= max_df). With max_df
    = len(docs) every shared-shingle pair is a candidate, so the
    operator must find EXACTLY the brute-force set."""
    from webloghunter_spark.pipelines.dedup import containment_pairs

    k = 3
    sets = []
    for toks in docs:
        sets.append({
            " ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)
        } if len(toks) >= k else set())
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.n_common, r.contain_ab, r.contain_ba)
           for r in containment_pairs(
               df, threshold=threshold, max_df=len(docs)).collect()}
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = sets[a] & sets[b]
            if not inter:
                continue  # no shared shingle -> never a candidate
            ca = len(inter) / len(sets[a])
            cb = len(inter) / len(sets[b])
            if max(ca, cb) >= threshold:
                want[(a, b)] = len(inter)
    assert set(got) == set(want)
    for key, n in want.items():
        assert got[key][0] == n
        a, b = key
        import math
        def grid(x):
            return math.copysign(math.floor(abs(x) * 1e4 + 0.5), x) / 1e4
        assert got[key][1] == grid(n / len(sets[a]))
        assert got[key][2] == grid(n / len(sets[b]))


@given(
    counts=st.lists(st.integers(min_value=0, max_value=100_000),
                    min_size=1, max_size=12),
    bp=st.integers(min_value=0, max_value=40_000),
    epochs=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=200, deadline=None)
def test_unimax_waterfill_invariants(counts, bp, epochs):
    """Pure-function invariants, no Spark: alloc <= cap everywhere;
    total alloc <= budget; allocations non-decreasing in processing
    order; if the LAST (largest-capacity) source is uncapped the
    budget is spent exactly (min(cap, rem // 1) = rem); if budget
    covers total capacity, everyone is capped."""
    from webloghunter_spark.pipelines.select import unimax_waterfill

    rows = unimax_waterfill(
        [(f"s{i}", c) for i, c in enumerate(counts)], bp, epochs
    )
    total = sum(counts)
    budget = total * bp // 10000
    allocs = [r[3] for r in rows]
    assert all(r[3] <= r[2] for r in rows)
    assert sum(allocs) <= budget
    assert allocs == sorted(allocs)
    last = rows[-1]
    if not last[4]:  # last source uncapped -> budget exhausted
        assert sum(allocs) == budget
    if budget >= epochs * total:
        assert all(r[4] for r in rows)
        assert sum(allocs) == epochs * total


@given(
    cnts=st.lists(st.integers(0, 10_000), min_size=1, max_size=60),
    lam=st.tuples(st.integers(1, 7), st.integers(2, 8)).filter(
        lambda t: t[0] < t[1]
    ),
    thr=st.integers(1, 5),
)
@settings(max_examples=200, deadline=None)
def test_ewma_fold_invariants(cnts, lam, thr):
    """Pure-function EWMA laws: output length matches; the first row
    seeds at cnt*MICRO with no alert; every smoothed value stays
    inside [min, max] of the counts seen so far (integer floor cannot
    escape a convex combination of integers); alert_t is exactly
    cnt_t*MICRO > thr*ewma_{t-1}; a constant series is a fixed point
    with no alerts."""
    from webloghunter_spark.detectors.ewma import MICRO, ewma_fold

    lam_num, lam_denom = lam
    out = ewma_fold(cnts, lam_num, lam_denom, thr)
    assert len(out) == len(cnts)
    assert out[0] == (cnts[0] * MICRO, 0, 0)
    lo = hi = cnts[0] * MICRO
    for t in range(1, len(cnts)):
        lo, hi = min(lo, cnts[t] * MICRO), max(hi, cnts[t] * MICRO)
        e, p, a = out[t]
        assert p == out[t - 1][0]
        assert lo <= e <= hi
        assert a == (1 if cnts[t] * MICRO > thr * p else 0)
    k = cnts[0]
    const = ewma_fold([k] * 10, lam_num, lam_denom, thr)
    assert all(e == k * MICRO and a == 0 for e, _, a in const)


@given(
    docs=st.lists(
        st.text(alphabet="ab xyq", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    terms=st.lists(
        st.sampled_from(["a", "b", "x", "q"]), min_size=1, max_size=3,
        unique=True,
    ),
)
@settings(**SETTINGS)
def test_bm25_matches_pure_reference(spark, docs, terms):
    """bm25_topk replays a pure-Python BM25 on arbitrary small corpora
    (whitespace-noise text, zero-score docs dropped, rank order by
    (score desc, id))."""
    from math import log

    from webloghunter_spark.functions.text import bm25_topk

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.doc_id, r.dl, r.bm25) for r in bm25_topk(df, terms, k=50).collect()]

    toks = {i: (t or "").lower().split() for i, t in rows}
    n = len(rows)
    sum_dl = sum(len(v) for v in toks.values())
    avgdl = sum_dl / n if n and sum_dl else 1.0  # all-empty: operator's guard
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    k1, b = 1.2, 0.75
    exp = []
    for i, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            idf = log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * len(tk) / avgdl)
            )
        import math as _m

        bp = _m.copysign(_m.floor(abs(s) * 1e4 + 0.5), s) / 1e4
        if bp > 0:
            exp.append((i, len(tk), bp))
    exp.sort(key=lambda t: (-t[2], t[0]))
    assert got == exp


@given(
    st.lists(st.sampled_from(["a", "b", "c", "d"]), max_size=14),
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        max_size=10,
    ),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_bpe_indexed_kernel_equals_replace_chain(toks, pair_picks, data):
    """The present-pair-indexed merge chain (_kernel_apply_fn's fast
    path) is bit-equal to the literal up-to-3-pass str.replace chain
    on randomized CHAINED tables — merged symbols feed later merges,
    duplicate pairs, same-symbol runs, and separator-colliding raw
    tokens included. This is the development-time 0/4000 differential
    test, pinned into the suite (no Spark needed: both sides are the
    pure per-doc kernels)."""
    from webloghunter_spark.pipelines.bpe import BPE_SEP, _kernel_apply_fn

    # chained table: each step may reference any earlier symbol
    symbols = ["a", "b", "c", "d"]
    table = []
    for stp, (i, j) in enumerate(pair_picks):
        a = symbols[i % len(symbols)]
        b = symbols[j % len(symbols)]
        table.append((stp, a, b))
        symbols.append(a + BPE_SEP + b)
    # occasionally splice in a separator-colliding raw token
    if data.draw(st.booleans()) and table:
        toks = list(toks) + [table[-1][1] + BPE_SEP + table[-1][2]]

    s0 = " " + " ".join(toks) + " " if toks else "  "

    def replace_chain(s):
        for _, a, b in sorted(table):
            pat, rep = f" {a} {b} ", f" {a}{BPE_SEP}{b} "
            for _ in range(3):
                if pat not in s:
                    break
                s = s.replace(pat, rep)
        return s

    fast = _kernel_apply_fn(sorted(table))
    assert fast(s0) == replace_chain(s0)
