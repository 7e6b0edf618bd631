"""Sessionize / dedup / request_count / UTC-normalize semantics."""

from datetime import datetime, timezone

from pyspark.sql import functions as F

from webloghunter_spark.operators.counts import with_request_count
from webloghunter_spark.operators.dedup import remove_cross_source_dups
from webloghunter_spark.operators.sessionize import sessionize
from webloghunter_spark.operators.timeutil import with_utc_timestamp


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)


def test_sessionize_gap_semantics(spark):
    # gaps: 0, 30, 59 -> same session; 60 -> NEW session (>= threshold);
    # first row of a group continues session 0 (diff().fillna(0) < 60).
    rows = [
        ("a.log", "1.1.1.1", _ts("2024-01-01 00:00:00")),
        ("a.log", "1.1.1.1", _ts("2024-01-01 00:00:30")),
        ("a.log", "1.1.1.1", _ts("2024-01-01 00:01:29")),  # +59 -> same
        ("a.log", "1.1.1.1", _ts("2024-01-01 00:02:29")),  # +60 -> new
        ("a.log", "2.2.2.2", _ts("2024-01-01 00:05:00")),  # other ip
        ("b.log", "1.1.1.1", _ts("2024-01-01 00:00:10")),  # other source
    ]
    df = spark.createDataFrame(rows, "source string, ip string, utc_timestamp timestamp")
    out = sessionize(df, threshold=60).orderBy("source", "ip", "utc_timestamp").collect()
    clusters = [r.cluster for r in out]
    # factorize order: (a.log,1.1.1.1,local0)=0, (a.log,1.1.1.1,local1)=1,
    # (a.log,2.2.2.2,0)=2, (b.log,1.1.1.1,0)=3
    assert clusters == [0, 0, 0, 1, 2, 3]


def test_dedup_cross_source_only(spark):
    base = dict(
        timestamp="10/Oct/2024:13:55:36 +0000", ip="1.1.1.1", method="GET",
        request_uri="/x", status=200, resp_size=10, user_agent="ua", referrer="-",
    )
    rows = [
        # key group spans two sources -> every non-first occurrence in the
        # group is dropped, including the intra-file repeat (reference
        # duplicated(keep='first') & multi-source-group, dataframe.py:188-195)
        {**base, "source": "a.log", "ordinal": 0},
        {**base, "source": "a.log", "ordinal": 1},
        {**base, "source": "b.log", "ordinal": 2, "method": "get",
         "user_agent": '"UA"'},
        # distinct row: kept
        {**base, "source": "b.log", "ordinal": 3, "request_uri": "/y"},
        # intra-file-only repeat group: BOTH kept (single source)
        {**base, "source": "c.log", "ordinal": 4, "request_uri": "/z"},
        {**base, "source": "c.log", "ordinal": 5, "request_uri": "/z"},
    ]
    df = spark.createDataFrame(rows)
    out = remove_cross_source_dups(df)
    kept = {(r.source, r.ordinal) for r in out.collect()}
    assert kept == {("a.log", 0), ("b.log", 3), ("c.log", 4), ("c.log", 5)}


def test_request_count(spark):
    rows = [
        ("a", "1.1.1.1", 0, "GET", "/x"),
        ("a", "1.1.1.1", 0, "GET", "/x"),
        ("a", "1.1.1.1", 0, "GET", "/y"),
        ("a", "1.1.1.1", 1, "GET", "/x"),
    ]
    df = spark.createDataFrame(rows, "source string, ip string, cluster long, method string, request_uri string")
    out = with_request_count(df)
    counts = {(r.request_uri, r.cluster): r.request_count for r in out.collect()}
    assert counts[("/x", 0)] == 2
    assert counts[("/y", 0)] == 1
    assert counts[("/x", 1)] == 1


def test_utc_timestamp_formats(spark):
    rows = [
        ("10/Oct/2024:13:55:36 +0200",),
        ("2024-10-10 13:55:36",),
        ("10/Oct/2024:13:55:36 +0000",),
    ]
    df = spark.createDataFrame(rows, "timestamp string")
    out = with_utc_timestamp(df).collect()
    assert out[0].utc_timestamp == _ts("2024-10-10 11:55:36").replace(tzinfo=None) or \
        out[0].utc_timestamp.hour == 11
    assert out[1].utc_timestamp.hour == 13
    assert out[2].utc_timestamp.hour == 13


def test_time_offset(spark):
    df = spark.createDataFrame([("2024-10-10 13:55:36",)], "timestamp string")
    out = with_utc_timestamp(df, time_offset=300).collect()
    assert out[0].utc_timestamp.minute == 0 and out[0].utc_timestamp.hour == 14


def test_rolling_fingerprint(spark):
    from webloghunter_spark.functions.text import (
        RH_BASE, RH_MOD, with_rolling_fingerprint,
    )

    rows = [(1, "Hello  World"), (2, "hello world"), (3, ""), (4, None), (5, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.rh for r in with_rolling_fingerprint(df, "text", "rh").collect()}
    # normalization: case + whitespace collapse make 1 and 2 equal
    assert got[1] == got[2]
    assert got[3] is None and got[4] is None
    # closed form for a single char
    assert got[5] == ord("x") % RH_MOD
    # two chars: h*B + e
    df2 = spark.createDataFrame([(1, "he")], "doc_id long, text string")
    (r,) = with_rolling_fingerprint(df2, "text", "rh").collect()
    assert r.rh == (ord("h") * RH_BASE + ord("e")) % RH_MOD


def test_winnowed_fingerprints(spark):
    from webloghunter_spark.functions.text import with_winnowed_fingerprints

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "too short"),          # < kgram + window - 1 after norm? len 9 < 11
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: list(r.winnow_fps)
           for r in with_winnowed_fingerprints(df, "text").collect()}
    assert len(got[1]) > 0
    assert got[1] == sorted(set(got[1]))          # sorted distinct
    assert got[2] == [] and got[3] == []
    # winnowing property: fps are a subset of all k-gram hashes and a
    # shared long substring yields shared fingerprints
    rows2 = [(10, "AAAA the quick brown fox jumps BBBB"),
             (11, "CCCC the quick brown fox jumps DDDD")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string")
    g2 = {r.doc_id: set(r.winnow_fps)
          for r in with_winnowed_fingerprints(df2, "text").collect()}
    assert g2[10] & g2[11], "shared substring must share fingerprints"


def test_ivf_topk_matches_bruteforce_on_probed_lists(spark):
    from webloghunter_spark.functions.similarity import (
        cosine_topk, cosine_topk_ivf, ivf_assign,
    )
    import pyspark.sql.functions as F
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[1][1]
    ivf = cosine_topk_ivf(df, q, k=5, n_centroids=4, n_probe=4).collect()
    # probing ALL lists == exact brute force
    exact = cosine_topk(df, q, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in ivf] == [
        (r.vec_id, r.cosine) for r in exact
    ]
    # assignment is total and single-valued
    cents = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("centroid")
    )
    asg = ivf_assign(df, cents).collect()
    assert len(asg) == 40
    assert len({r.vec_id for r in asg}) == 40


def test_salted_join_equals_plain(spark):
    from webloghunter_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [(i % 3, i, float(i)) for i in range(300)], "k long, id long, v double"
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (9, "never")], "k long, tag string"
    )
    plain = {(r.id, r.tag) for r in left.join(right, "k").collect()}
    salted = {(r.id, r.tag)
              for r in salted_join(left, right, on="k", n_salt=4,
                                   salt_src="id").collect()}
    assert salted == plain and len(salted) == 300
    # a hot key's rows really spread across salts
    import pyspark.sql.functions as F
    salts = (
        left.withColumn("_salt", F.pmod(F.hash("id"), F.lit(4)))
        .filter(F.col("k") == 0).select("_salt").distinct().count()
    )
    assert salts > 1


def test_salted_collect_set_equals_plain(spark):
    import pyspark.sql.functions as F
    from webloghunter_spark.operators.skew import salted_collect_set

    df = spark.createDataFrame(
        [(i % 2, f"v{i % 7}") for i in range(100)], "k long, val string"
    )
    plain = {
        r.k: set(r.s)
        for r in df.groupBy("k").agg(F.collect_set("val").alias("s")).collect()
    }
    got = {
        r.k: set(r.values)
        for r in salted_collect_set(df, ("k",), "val", n_salt=4).collect()
    }
    assert got == plain


def test_asof_join_semantics(spark):
    from webloghunter_spark.operators.asof import asof_join

    facts = spark.createDataFrame(
        [(1, 5, "e1"), (1, 10, "e2"), (1, 20, "e3"), (2, 7, "e4")],
        "k long, t long, name string",
    )
    versions = spark.createDataFrame(
        [(1, 10, "v10"), (1, 15, "v15"), (3, 1, "vX")],
        "k long, t long, ver string",
    )
    inner = {r.name: r.ver for r in asof_join(
        facts, versions, by=["k"], left_ts="t", right_ts="t").collect()}
    # e1 (t=5): no version <= 5 -> dropped (inner)
    # e2 (t=10): tie with v10 -> INCLUDED (>= semantics)
    # e3 (t=20): latest is v15
    # e4 (k=2): no versions for key -> dropped
    assert inner == {"e2": "v10", "e3": "v15"}
    left = {r.name: r.ver for r in asof_join(
        facts, versions, by=["k"], left_ts="t", right_ts="t",
        how="left").collect()}
    assert left == {"e1": None, "e2": "v10", "e3": "v15", "e4": None}


def test_asof_join_multicol_null_payload(spark):
    """Payload columns must travel atomically: a NULL in one value
    column of the matched version must NOT pull that column's value
    from an older version, and a NULL first payload column must not
    drop a genuinely matched row under how='inner'."""
    from webloghunter_spark.operators.asof import asof_join

    facts = spark.createDataFrame(
        [(1, 12, "e1"), (1, 25, "e2"), (2, 5, "e3")],
        "k long, t long, name string",
    )
    # v@10 has both cols; v@20 has NULL a (and is still the match for e2).
    versions = spark.createDataFrame(
        [(1, 10, "a10", "b10"), (1, 20, None, "b20")],
        "k long, t long, a string, b string",
    )
    rows = {r.name: (r.a, r.b) for r in asof_join(
        facts, versions, by=["k"], left_ts="t", right_ts="t",
        how="inner").collect()}
    # e2 matches v@20 atomically: a is genuinely NULL, b is b20 — NOT
    # a carried-over a10, and NOT dropped by the inner filter.
    assert rows == {"e1": ("a10", "b10"), "e2": (None, "b20")}
    left = {r.name: (r.a, r.b) for r in asof_join(
        facts, versions, by=["k"], left_ts="t", right_ts="t",
        how="left").collect()}
    assert left["e3"] == (None, None)
    # Empty value_cols: degenerates to an existence (semi-join) check.
    sem = sorted(r.name for r in asof_join(
        facts, versions, by=["k"], left_ts="t", right_ts="t",
        value_cols=[], how="inner").collect())
    assert sem == ["e1", "e2"]


def test_fan_is_noop_on_parallel_input(spark, tmp_path):
    """_fan must not inject a round-robin exchange when the scan already
    arrives with enough splits (a real multi-file table)."""
    from webloghunter_spark.benchqueries import _fan

    p = str(tmp_path / "many")
    spark.range(0, 10_000).repartition(32).write.parquet(p)
    df = spark.read.parquet(p)
    fanned = _fan(df)
    assert "roundrobin" not in fanned._jdf.queryExecution().executedPlan().toString().lower()

    single = spark.range(0, 100).coalesce(1)
    fanned1 = _fan(single)
    assert fanned1.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_ivf_with_kmeans_centroids(spark):
    """Trained-centroid IVF (production path): probing all lists equals
    exact brute force, same as with the deterministic stand-in."""
    import random

    from webloghunter_spark.functions.similarity import (
        cosine_topk, cosine_topk_ivf, kmeans_centroids,
    )

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_centroids(df, n_centroids=4, max_iter=5)
    assert cents.count() == 4
    q = rows[2][1]
    ivf = cosine_topk_ivf(df, q, k=5, n_probe=4, centroids=cents).collect()
    exact = cosine_topk(df, q, k=5).collect()
    assert [(r.vec_id, r.cosine) for r in ivf] == [(r.vec_id, r.cosine) for r in exact]


def test_ecdf_bp_matches_percent_rank_semantics(spark):
    """ecdf_bp equals floor(strict-rank-below / N * 10000): ties share
    a percentile, min score gets 0, and the histogram construction
    agrees with a brute-force computation."""
    from webloghunter_spark.operators.outliers import ecdf_bp

    vals = [5, 5, 7, 9, 9, 9, 12, 20]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, score long"
    )
    out = {r.doc_id: r.pctile_bp for r in ecdf_bp(df, "score").collect()}
    n = len(vals)
    for i, v in enumerate(vals):
        below = sum(1 for x in vals if x < v)
        assert out[i] == (below * 10000) // n
    assert out[0] == 0  # min score at percentile 0


def test_hll_registers_merge_and_estimate_accuracy(spark):
    """Registers are mergeable by max (sketch of a union == max of the
    sketches), and the raw estimate lands within the textbook
    ~1.04/sqrt(64) error band on a 5k-distinct set."""
    from webloghunter_spark.functions.sketches import (
        hll_distinct,
        hll_registers,
    )

    rows_a = [("g", f"tok{i}") for i in range(0, 3000)]
    rows_b = [("g", f"tok{i}") for i in range(2000, 5000)]
    a = spark.createDataFrame(rows_a, "g string, v string")
    b = spark.createDataFrame(rows_b, "g string, v string")
    u = a.union(b)

    def regmap(df):
        return {
            r.bucket: r.reg
            for r in hll_registers(df, "v", ["g"]).collect()
        }

    ra, rb, ru = regmap(a), regmap(b), regmap(u)
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == ru

    row = hll_distinct(u, "v", ["g"]).collect()[0]
    assert row.n_exact == 5000
    assert abs(row.hll_est - 5000) / 5000 < 0.35  # ~2.7 sigma of 13%


def test_hll_rho_edge_cases(spark):
    """rho is 1-based leading-zero count in the 50-bit field and the
    all-zero remainder maps to 51 — pinned against hand computation."""
    import hashlib

    from pyspark.sql import functions as F

    from webloghunter_spark.functions.sketches import hll_rho_expr

    vals = ["alpha", "beta", "gamma", "x"]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r.v: (r.br.bucket, r.br.rho)
        for r in df.select("v", hll_rho_expr(F.col("v")).alias("br")).collect()
    }
    for v in vals:
        h = int(hashlib.md5(v.encode()).hexdigest()[:14], 16)
        bucket, rem = h % 64, h // 64
        rho = 51 if rem == 0 else 50 - rem.bit_length() + 1
        assert got[v] == (bucket, rho), v


def test_gapfill_zero_fills_missing_cells(spark):
    """A planted 2-hour gap appears as zero rows for every type, and
    filled counts match the raw aggregate."""
    from pyspark.sql import functions as F

    rows = [
        ("a", "2024-01-01 00:10:00"),
        ("a", "2024-01-01 00:50:00"),
        ("b", "2024-01-01 03:05:00"),   # hours 1 and 2 are a gap
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    counts = (
        ev.select(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .groupBy("h", "event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("mn"),
        F.date_trunc("hour", F.max("ts")).alias("mx"),
    )
    spine = bounds.select(
        F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("h")
    )
    types = ev.select("event_type").distinct()
    full = (
        spine.crossJoin(F.broadcast(types))
        .join(counts, ["h", "event_type"], "left")
        .select(
            F.hour("h").alias("hh"), "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    ).collect()
    cells = {(r.hh, r.event_type): r.n for r in full}
    assert len(cells) == 4 * 2  # 4 hours x 2 types, gaps included
    assert cells[(0, "a")] == 2 and cells[(3, "b")] == 1
    assert cells[(1, "a")] == 0 and cells[(2, "b")] == 0


def test_value_quantiles_match_numpy_on_grid(spark):
    """Histogram quantiles equal the 'smallest value whose rank
    reaches ceil(p*n)' definition on a known set (inverted-CDF /
    type-1 quantile), per group."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    vals = {"a": [1, 2, 3, 4, 5, 6, 7, 8, 9, 10], "b": [5, 5, 5, 100]}
    rows = [(t, float(v)) for t, vs in vals.items() for v in vs]
    ev = spark.createDataFrame(rows, "event_type string, value double")
    cell = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    hist = ev.select("event_type", cell.alias("v")).groupBy(
        "event_type", "v"
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "event_type", "v", F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )

    def q(p):
        return F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(p) * F.col("n")), F.col("v"))
        )

    got = {
        r.event_type: (r.p50, r.p90)
        for r in cum.groupBy("event_type")
        .agg(q(0.5).alias("p50"), q(0.9).alias("p90"))
        .collect()
    }
    import math

    for t, vs in vals.items():
        s = sorted(vs)
        want50 = s[math.ceil(0.5 * len(s)) - 1] * 100
        want90 = s[math.ceil(0.9 * len(s)) - 1] * 100
        assert got[t] == (want50, want90), t


def test_interval_join_semantics_and_bucketization(spark):
    """Inclusive start / exclusive end; intervals spanning bucket
    boundaries still catch points in every overlapped bucket; keys
    restrict matches; result equals a brute-force inequality join."""
    from pyspark.sql import functions as F

    from webloghunter_spark.operators.intervals import interval_join

    pts = spark.createDataFrame(
        [(1, "a", "2024-01-01 00:00:00"),
         (2, "a", "2024-01-01 00:59:59"),
         (3, "a", "2024-01-01 01:00:00"),   # == end -> excluded
         (4, "b", "2024-01-01 00:30:00")],  # wrong key
        "pid long, k string, ts_s string",
    ).select("pid", "k", F.to_timestamp("ts_s").alias("ts"))
    ivs = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "k string, s_s string, e_s string",
    ).select("k", F.to_timestamp("s_s").alias("s"),
             F.to_timestamp("e_s").alias("e"))
    for bucket in (60, 900, 7200):   # boundary-heavy and oversized
        got = {
            r.pid
            for r in interval_join(
                pts, ivs, "ts", "s", "e", bucket_seconds=bucket,
                keys=["k"],
            ).collect()
        }
        assert got == {1, 2}, bucket


def test_interval_join_degenerate_intervals_dropped_pre_explode(spark):
    """end <= start intervals match nothing AND must not fan out
    through the descending-sequence gotcha: a year-long inverted
    interval at bucket=60 would explode to ~525k rows per interval
    if the guard were a post-filter instead of a pre-filter."""
    from pyspark.sql import functions as F

    from webloghunter_spark.operators.intervals import interval_join

    pts = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00")], "pid long, ts_s string"
    ).select("pid", F.to_timestamp("ts_s").alias("ts"))
    ivs = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00"),   # good
         ("2024-01-01 00:40:00", "2024-01-01 00:40:00"),   # empty
         ("2025-01-01 00:00:00", "2024-01-01 00:00:00")],  # inverted, 1y
        "s_s string, e_s string",
    ).select(F.to_timestamp("s_s").alias("s"),
             F.to_timestamp("e_s").alias("e"))
    out = interval_join(pts, ivs, "ts", "s", "e", bucket_seconds=60)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].pid == 1


def test_blocked_fuzzy_join_matches_and_depth_guard(spark):
    """Within-block levenshtein matches come back with dist; a
    degenerate block key (all rows share the 16-char prefix) trips
    the depth guard BEFORE the quadratic join instead of running it —
    the 32x-probe pathology, enforced in the operator."""
    import pytest

    from webloghunter_spark.operators.fuzzy import blocked_fuzzy_join

    corpus = spark.createDataFrame(
        [(i, f"Customer Record {i:04d} alpha") for i in range(50)],
        "cid long, name string",
    )
    probes = spark.createDataFrame(
        [(7, "Customer Record 0007 alphX")], "pid long, pname string"
    )
    got = blocked_fuzzy_join(
        probes, corpus, "pname", "name", block_len=16, max_dist=1
    ).collect()
    assert [(r.cid, r.dist) for r in got] == [(7, 1)]
    # degenerate key: every corpus row shares the block prefix
    with pytest.raises(ValueError, match="deeper than"):
        blocked_fuzzy_join(
            probes, corpus, "pname", "name",
            block_len=16, max_dist=1, max_block_depth=10,
        )
    # explicit opt-out skips the histogram entirely
    got = blocked_fuzzy_join(
        probes, corpus, "pname", "name",
        block_len=16, max_dist=1, max_block_depth=None,
    ).collect()
    assert len(got) == 1
    # broadcast probes are exempt from the guard (small-by-declaration
    # side): a degenerate PROBE key against a corpus with distinct
    # block prefixes runs
    ok_corpus = spark.createDataFrame(
        [(i, f"{i:016d} record") for i in range(20)], "cid long, name string"
    )
    deep_probes = spark.createDataFrame(
        [(i, f"Customer Record {i:04d}") for i in range(30)],
        "pid long, pname string",
    )
    blocked_fuzzy_join(
        deep_probes, ok_corpus, "pname", "name",
        block_len=16, max_dist=1, max_block_depth=10,
    ).collect()


def test_weighted_sample_is_deterministic_and_weight_sensitive(spark):
    """Same inputs -> same sample; heavier rows are sampled with
    visibly higher frequency than near-zero-weight rows."""
    from webloghunter_spark.pipelines.split import weighted_sample

    rows = [(i, 1000 if i < 50 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    a = sorted(r.doc_id for r in weighted_sample(df, "w", k=60).collect())
    b = sorted(r.doc_id for r in weighted_sample(df, "w", k=60).collect())
    assert a == b
    heavy = sum(1 for i in a if i < 50)
    assert heavy >= 40  # 50 heavy rows at 1000x weight dominate
    # zero/negative weights are ineligible
    z = spark.createDataFrame(
        [(1, 0), (2, -5), (3, 7)], "doc_id long, w long"
    )
    got = [r.doc_id for r in weighted_sample(z, "w", k=1).collect()]
    assert got == [3]
    # ... even when k exceeds the eligible row count (round-6 fix:
    # the old key-0.0 fallback leaked them back in exactly this case)
    got = [r.doc_id for r in weighted_sample(z, "w", k=10).collect()]
    assert got == [3]


def test_decontam_bloom_equals_exact_decontaminate(spark):
    """The two-stage bloom path returns exactly the one-stage survivor
    set — even with a tiny filter whose false positives must all be
    removed by the exact pass."""
    from webloghunter_spark.pipelines.decontam import (
        decontaminate,
        decontaminate_bloom,
    )

    ev = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    rows = [(i, f"w{i} x{i} y{i} z{i} " * 2 + ("the quick brown fox jumps" if i % 3 == 0 else "clean text here")) for i in range(1, 31)]
    tr = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(r.doc_id for r in decontaminate(tr, ev, n=4).collect())
    # None = the auto-sized default (round 6): m derived from the
    # eval-side distinct gram count, survivors must be identical
    for m in (1 << 16, 64, None):
        got = sorted(
            r.doc_id
            for r in decontaminate_bloom(tr, ev, n=4, m=m).collect()
        )
        assert got == want, m


def test_round_half_up_matches_sql_round_semantics():
    """The numpy kernels must round half AWAY FROM ZERO like
    F.round/DuckDB, not np.round's half-to-even: exact 5e-7 midpoints
    are where the engines would otherwise diverge."""
    import numpy as np

    from webloghunter_spark.functions.numeric import round_half_up

    x = np.array([0.0000005, 0.0000015, -0.0000005, -0.0000015, 1.25])
    got = round_half_up(x, 6).tolist()
    assert got == [0.000001, 0.000002, -0.000001, -0.000002, 1.25]
    # np.round would give half-to-even here: 0.0 and 0.000002
    assert np.round(0.0000005, 6) == 0.0  # the divergence being fixed
    assert round_half_up(np.array([2.5]), 0).tolist() == [3.0]
    assert round_half_up(np.array([-2.5]), 0).tolist() == [-3.0]


def test_auto_bloom_m_sizing_rule():
    """~12 bits/eval gram, whole 32-bit words, 64 Kbit floor — pure
    integer arithmetic so the rule is engine-reproducible."""
    from webloghunter_spark.pipelines.decontam import (
        BLOOM_M,
        auto_bloom_m,
    )

    assert auto_bloom_m(0) == BLOOM_M
    assert auto_bloom_m(1000) == BLOOM_M  # below the floor
    assert auto_bloom_m(BLOOM_M) == 12 * BLOOM_M  # 12 bits/gram
    assert auto_bloom_m(BLOOM_M) % 32 == 0
    # rounds UP to a whole word
    assert auto_bloom_m(100_003) == 32 * (-(-12 * 100_003 // 32))
    assert auto_bloom_m(100_003) >= 12 * 100_003


def test_blocked_fuzzy_join_same_column_name(spark):
    """probe_col == corpus_col (matching a column against itself) must
    work, with the corpus side renamed <name>_corpus in the output —
    not an ambiguous-reference error (round-6 review finding)."""
    from webloghunter_spark.operators.fuzzy import blocked_fuzzy_join

    corpus = spark.createDataFrame(
        [(i, f"Person Record {i:04d} name") for i in range(30)],
        "cid long, name string",
    )
    probes = spark.createDataFrame(
        [(1, "Person Record 0003 namX")], "pid long, name string"
    )
    got = blocked_fuzzy_join(
        probes, corpus, "name", "name", block_len=16, max_dist=1
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert r.cid == 3 and r.dist == 1
    assert r.name_corpus == "Person Record 0003 name"


def test_query_order_breaks_ties_by_ordinal(spark):
    """(source, utc_timestamp) is not a total order: rows that tie on it
    come back in input line order (`ordinal`), whatever order they were
    fed in."""
    from webloghunter_spark.operators.filters import apply_filters

    rows = [("a.log", _ts("2024-01-01 00:00:00"), f"/p{o}", o)
            for o in range(7, -1, -1)]
    rows.append(("a.log", _ts("2023-12-31 23:59:59"), "/first", 9))
    df = spark.createDataFrame(
        rows, "source string, utc_timestamp timestamp, request_uri string, "
        "ordinal long",
    ).coalesce(1)
    assert [r.ordinal for r in apply_filters(df).collect()] == [9] + list(range(8))
