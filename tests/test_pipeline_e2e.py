"""End-to-end: raw log files on disk -> scored, filterable DataFrame."""

import pytest

from webloghunter_spark.engine import EngineConfig, build_pipeline, query


@pytest.fixture(scope="module")
def logdir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    apache = d / "access1.log"
    lines = []
    # a normal browsing session
    for i in range(5):
        lines.append(
            f'10.0.0.1 - - [10/Oct/2024:13:00:{i:02d} +0000] "GET /page{i}.html HTTP/1.1" 200 1000 "-" "Mozilla/5.0"'
        )
    # a suspicious hit: whoami with status 200
    lines.append(
        '10.0.0.2 - - [10/Oct/2024:14:00:00 +0000] "GET /cgi?cmd=whoami HTTP/1.1" 200 120 "-" "curl/8"'
    )
    # static asset (filtered out by default extension ignore)
    lines.append(
        '10.0.0.1 - - [10/Oct/2024:13:00:10 +0000] "GET /app.js HTTP/1.1" 200 50 "-" "Mozilla/5.0"'
    )
    # comment + garbage
    lines.append("# comment line")
    lines.append("complete garbage")
    apache.write_text("\n".join(lines) + "\n")

    iis = d / "access2.log"
    iis.write_text(
        "2024-10-10 15:00:00 W3SVC1 GET /iis.aspx - 443 - 9.9.9.9 UA - 201 0 0 64\n"
    )
    return str(d)


def test_pipeline_end_to_end(spark, logdir):
    scored, errors = build_pipeline(spark, logdir)
    rows = scored.collect()
    # 7 parseable lines across both files (5 pages + whoami + app.js + iis)
    assert len(rows) == 8
    assert errors.count() == 1

    by_uri = {r.request_uri: r for r in rows}
    # whoami rule fired (71.1)
    assert by_uri["/cgi?cmd=whoami"].risk_score == 71.1
    # iis 201 -> status_risk 90 -> Status Code Risk rule 40
    assert by_uri["/iis.aspx"].risk_score == 40.0
    # session ids assigned, request_count present
    assert all(r.cluster is not None and r.request_count >= 1 for r in rows)


def test_materialized_scope_releases_cache(spark, logdir):
    """Pipeline persist()s intermediates (engine barrier, tool-scanner
    row keys); materialized_scope must unpersist them all once the
    consuming action is done — a long-lived session running many
    pipelines must not accumulate cached frames."""
    from webloghunter_spark.session import materialized_scope, release_materialized

    release_materialized()  # start clean regardless of earlier tests
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    with materialized_scope():
        scored, errors = build_pipeline(spark, logdir)
        assert scored.count() == 8  # consuming action while persisted
        assert jsc.getPersistentRDDs().size() > 0
    assert jsc.getPersistentRDDs().size() == 0


def test_pipeline_filters(spark, logdir):
    scored, _ = build_pipeline(spark, logdir)
    # default extension ignore drops /app.js
    out = query(scored)
    uris = [r.request_uri for r in out.collect()]
    assert "/app.js" not in uris
    # all_extensions keeps it
    out = query(scored, all_extensions=True)
    assert "/app.js" in [r.request_uri for r in out.collect()]
    # risk filter
    out = query(scored, risk_score=70)
    assert [r.request_uri for r in out.collect()] == ["/cgi?cmd=whoami"]
    # CIDR include / exclude
    out = query(scored, ip_include=["10.0.0.0/24"], all_extensions=True)
    assert {r.ip for r in out.collect()} == {"10.0.0.1", "10.0.0.2"}
    out = query(scored, ip_ignore=["10.0.0.0/24"])
    assert {r.ip for r in out.collect()} == {"9.9.9.9"}
    # ordering by (source, utc_timestamp)
    out = query(scored, all_extensions=True).collect()
    assert [r.source for r in out] == sorted(r.source for r in out)


def _funnel_fixture(spark):
    """(docs, eval_df) exercising every curate_corpus stage."""

    def body(i):  # unique 30-token body per doc (pairwise J ~ 0)
        return " ".join(f"w{i}x{j}" for j in range(30))

    rows = [(i, body(i), "s0") for i in range(10)]
    rows += [(100, "tiny", "s0")]                      # gate: too short
    rows += [(101, body(0).upper(), "s0")]             # normalized dup of 0
    rows += [(102, body(1) + " extra", "s0")]          # near dup of 1
    eval_df = spark.createDataFrame(
        [(900, body(5))], "doc_id long, text string"
    )                                                   # contaminates doc 5
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    return docs, eval_df


def test_curate_corpus_full_funnel(spark):
    """The one-call funnel: plumbing order, attrition bookkeeping,
    and stage skipping — each stage's semantics are pinned by its own
    oracle/tests elsewhere."""
    from webloghunter_spark.pipelines.curate import curate_corpus

    docs, eval_df = _funnel_fixture(spark)
    out, funnel = curate_corpus(
        docs, eval_df=eval_df, min_quality_bp=1000,
        near_dedup_threshold=0.8, decontam_n=8,
    )
    stages = [s for s, _, _ in funnel]
    assert stages == ["quality_gate", "normalized_dedup", "near_dedup",
                      "containment_drop", "decontaminate"]
    # monotone attrition, rows_in chains
    for (s1, i1, o1), (s2, i2, o2) in zip(funnel, funnel[1:]):
        assert o1 == i2 and o1 <= i1
    ids = {r.doc_id for r in out.collect()}
    assert 100 not in ids     # gated
    assert 101 not in ids     # normalized dup (upper-case twin)
    assert 102 not in ids     # near dup
    assert 5 not in ids       # contaminated
    assert {0, 1, 2, 3, 4, 6, 7, 8, 9} <= ids

    # skipping every stage is identity with an empty funnel
    out2, f2 = curate_corpus(
        docs, min_quality_bp=None, near_dedup_threshold=None,
        containment_threshold_bp=None,
    )
    assert f2 == [] and out2.count() == docs.count()

    # budget stage derives quality on the fly when score_col is None
    out3, f3 = curate_corpus(
        docs, min_quality_bp=1000, near_dedup_threshold=None,
        token_budget=200,
    )
    assert f3[-1][0] == "token_budget"
    assert f3[-1][2] <= f3[-1][1]


@pytest.mark.parametrize("containment_bp", [8000, None])
@pytest.mark.parametrize("with_eval", [True, False])
def test_stage_tags_count_each_curate_stage(spark, containment_bp, with_eval):
    """funnel_stage_tags runs curate_corpus's stage list: for the same
    parameters, the docs tagged k or higher are stage k's rows_out,
    and a skipped stage repeats the count of the stage before it."""
    from webloghunter_spark.pipelines.curate import curate_corpus, funnel_stage_tags
    from webloghunter_spark.session import materialized_scope

    docs, eval_df = _funnel_fixture(spark)
    small = " ".join(f"c{j}" for j in range(30))
    wrapper = " ".join(f"p{j}" for j in range(30)) + f" {small} " + " ".join(
        f"f{j}" for j in range(30)
    )                                                   # contains doc 200
    docs = docs.unionByName(spark.createDataFrame(
        [(200, small, "s0"), (201, wrapper, "s0")], docs.schema
    ))
    params = dict(
        eval_df=eval_df if with_eval else None, min_quality_bp=1000,
        min_tokens=5, max_tokens=100_000, near_dedup_threshold=0.8,
        dedup_num_hashes=8, dedup_band_size=2, dedup_shingle_k=3,
        containment_threshold_bp=containment_bp, decontam_n=8,
    )
    with materialized_scope():
        _, funnel = curate_corpus(docs, **params)
        tags = [r.last_stage for r in funnel_stage_tags(docs, **params).collect()]
    rows_out = {stage: n for stage, _, n in funnel}
    expected, n = [], None
    for stage in ("quality_gate", "normalized_dedup", "near_dedup",
                  "containment_drop", "decontaminate"):
        n = rows_out.get(stage, n)
        expected.append(n)
    dropped_c, dropped_e = int(containment_bp is not None), int(with_eval)
    assert expected == [14, 13, 12, 12 - dropped_c, 12 - dropped_c - dropped_e]
    assert [sum(t >= k for t in tags) for k in range(1, 6)] == expected


def test_build_training_dataset_round_trip(spark, tmp_path):
    """The one-call dataset builder: funnel runs, files land as
    epoch=E/shard_id=K partitions whose row order is the training
    order, and the returned manifest verifies against a digest
    recomputed from what was actually written."""
    import hashlib

    from webloghunter_spark.pipelines.dataset import build_training_dataset

    rows = []
    for i in range(60):
        # two sources, 90/10 token skew so the tail upsamples
        src = "big" if i < 40 else "small"
        ntok = 40 if src == "big" else 12
        rows.append((i, src, " ".join(f"w{i}x{j}" for j in range(ntok))))
    rows.append((200, "big", "dup " * 20))
    rows.append((201, "big", "dup " * 20))      # exact dup: one survives
    rows.append((202, "big", "tiny"))           # gated out (< min_tokens)
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    path = str(tmp_path / "ds")
    report = build_training_dataset(
        docs, path, min_quality_bp=None, near_dedup_threshold=0.9,
        alpha=0.7, max_epochs=4, n_shards=2, seed="s",
    )
    stages = [s for s, _, _ in report["funnel"]]
    assert "gate" in " ".join(stages) or len(stages) >= 1
    assert report["n_documents"] <= 62          # dup + tiny dropped
    assert report["n_instances"] >= report["n_documents"]
    # re-read: per (epoch, shard) file row order IS position order,
    # and the digest over the delivered order matches the manifest
    got = spark.read.parquet(path).collect()
    by_cell: dict = {}
    for r in got:
        by_cell.setdefault((int(r.epoch), int(r.shard_id)), []).append(r)
    recomputed = []
    for (e, sh), rs in by_cell.items():
        positions = [int(r.position) for r in rs]
        assert sorted(positions) == list(range(len(rs)))
        d = 0
        for r in rs:
            h = hashlib.md5(f"{r.doc_id}@{r.position}".encode()).hexdigest()
            d ^= int(h[:15], 16)
        recomputed.append((e, sh, len(rs), d))
    assert sorted(recomputed) == report["manifest"]
    # the upsampled tail source appears in more than one epoch
    assert max(e for e, _, _, _ in report["manifest"]) >= 1
    # the consumer-side verifier — digests from PHYSICAL file row
    # order — agrees with the manifest on every shard
    from webloghunter_spark.pipelines.dataset import verify_training_dataset

    verdicts = verify_training_dataset(spark, path, report["manifest"])
    assert verdicts and all(v[-1] for v in verdicts)
    assert {(v[0], v[1]) for v in verdicts} == {
        (e, s) for e, s, _, _ in report["manifest"]
    }


def test_verify_training_dataset_catches_corruption(spark, tmp_path):
    """Corrupting one shard's row ORDER (same rows, same position
    column values — only the physical file order flips) fails exactly
    that shard; a missing shard and a phantom manifest cell are
    reported as not-ok, not silently skipped."""
    from webloghunter_spark.pipelines.dataset import (
        build_training_dataset,
        verify_training_dataset,
    )

    rows = [
        (i, "src", " ".join(f"w{i}x{j}" for j in range(20)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    path = str(tmp_path / "ds")
    report = build_training_dataset(
        docs, path, min_quality_bp=None, near_dedup_threshold=None,
        max_epochs=1, n_shards=2, seed="s",
    )
    ok = verify_training_dataset(spark, path, report["manifest"])
    assert all(v[-1] for v in ok)
    # rewrite one shard with its row order REVERSED (position column
    # kept verbatim, so only the physical order lies)
    e0, s0 = report["manifest"][0][0], report["manifest"][0][1]
    cell = f"{path}/epoch={e0}/shard_id={s0}"
    pdfs = spark.read.parquet(cell).toPandas()[::-1].reset_index(drop=True)
    spark.createDataFrame(pdfs).coalesce(1).write.mode("overwrite").parquet(cell)
    verdicts = verify_training_dataset(spark, path, report["manifest"])
    bad = {(v[0], v[1]) for v in verdicts if not v[-1]}
    assert bad == {(e0, s0)}
    # missing shard on disk and phantom manifest cell both flag
    import shutil

    shutil.rmtree(cell)
    phantom = report["manifest"] + [(9, 9, 1, 123)]
    verdicts = verify_training_dataset(spark, path, phantom)
    flags = {(v[0], v[1]): v[-1] for v in verdicts}
    assert flags[(e0, s0)] is False and flags[(9, 9)] is False
    assert all(
        v
        for (e, s), v in flags.items()
        if (e, s) not in {(e0, s0), (9, 9)}
    )


def test_verify_training_dataset_multi_file_shard_order(spark, tmp_path):
    """A shard cell split across MULTIPLE part files: the verifier
    orders rows by (file name, in-file row index), so a manifest built
    from that contract verifies, and swapping the two files' contents
    (same rows, different physical placement) breaks it."""
    import hashlib

    from webloghunter_spark.pipelines.dataset import verify_training_dataset

    cell = tmp_path / "ds" / "epoch=0" / "shard_id=0"
    a = spark.createDataFrame(
        [(1, 0), (2, 1)], "doc_id long, position long"
    )
    b = spark.createDataFrame(
        [(3, 2), (4, 3)], "doc_id long, position long"
    )
    a.coalesce(1).write.parquet(str(cell / "_tmp_a"))
    b.coalesce(1).write.parquet(str(cell / "_tmp_b"))
    import glob
    import shutil

    # place as deterministically-named sibling files inside the cell
    for tag, tmp in (("aaaa", "_tmp_a"), ("bbbb", "_tmp_b")):
        (src,) = glob.glob(str(cell / tmp / "part-*.parquet"))
        shutil.move(src, str(cell / f"part-{tag}.parquet"))
        shutil.rmtree(str(cell / tmp))

    def dig(ids):
        d = 0
        for pos, i in enumerate(ids):
            d ^= int(
                hashlib.md5(f"{i}@{pos}".encode()).hexdigest()[:15], 16
            )
        return d

    manifest = [(0, 0, 4, dig([1, 2, 3, 4]))]  # file aaaa before bbbb
    out = verify_training_dataset(spark, str(tmp_path / "ds"), manifest)
    assert out == [(0, 0, 4, dig([1, 2, 3, 4]), 4, dig([1, 2, 3, 4]), True)]
    # a manifest claiming the other interleave must NOT verify
    bad = [(0, 0, 4, dig([3, 4, 1, 2]))]
    out = verify_training_dataset(spark, str(tmp_path / "ds"), bad)
    assert out[0][-1] is False


def test_funnel_counts_equal_count_actions(spark, monkeypatch):
    """The funnel's rows come from each settle()'s checkpoint job
    (session.settled_rows); they must equal what a separate count()
    per stage boundary returns, for both funnels."""
    from webloghunter_spark.pipelines import curate
    from webloghunter_spark.session import materialized_scope

    docs, eval_df = _funnel_fixture(spark)
    batch = docs.filter("doc_id >= 5")
    corpus = docs.filter("doc_id < 5")
    runs = {
        "corpus": lambda: curate.curate_corpus(
            docs, eval_df=eval_df, min_quality_bp=1000, token_budget=200,
        ),
        "against": lambda: curate.curate_against(
            batch, corpus, eval_df=eval_df, min_quality_bp=1000,
        ),
    }
    folded = {}
    with materialized_scope():
        for name, run in runs.items():
            folded[name] = run()[1]
    monkeypatch.setattr(curate, "settled_rows", lambda df: df.count())
    with materialized_scope():
        for name, run in runs.items():
            assert run()[1] == folded[name], name
    assert len(folded["corpus"]) == 6 and len(folded["against"]) == 5


def test_curate_repeat_compiles_no_new_code(spark):
    """A repeat of the funnel reuses every generated class: the session's
    codegen cache holds the whole working set, so the second run does
    no Janino compilation. With Spark's 100-entry default the LRU
    evicted each class before its next use and every repeat
    recompiled nearly all of them.

    AQE is off here so both runs plan identically: with it on, a
    re-plan that depends on which stage finished first (a broadcast
    build side swapped, stages renumbered) now and then generates a
    class no earlier run produced — a new class, not a cache miss."""
    from webloghunter_spark.pipelines.curate import curate_corpus
    from webloghunter_spark.session import materialized_scope

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles(action):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        out = action()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before, out

    # the metric sees a class no earlier test generated (the literal is
    # inlined into the generated code)
    n, _ = compiles(lambda: spark.range(3).selectExpr("id * 7919013").collect())
    assert n > 0

    docs, eval_df = _funnel_fixture(spark)

    def run():
        with materialized_scope():
            out, funnel = curate_corpus(
                docs, eval_df=eval_df, min_quality_bp=1000, token_budget=200,
            )
            return sorted(r.doc_id for r in out.collect()), funnel

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        _, first = compiles(run)
        n, second = compiles(run)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert n == 0
    assert second == first
