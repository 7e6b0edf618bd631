"""Batch vs streaming parity: the streaming operators replay a batch
fixture and must agree with the batch detectors; the one documented
divergence (sessionizer at gap == threshold) is pinned here so a
behavior change in either path fails loudly."""

import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from webloghunter_spark.operators.sessionize import sessionize
from webloghunter_spark.streaming.sessions import sessionize_stream


def _drain(spark, q, table, min_rows=1, deadline_s=120):
    """Poll a memory sink (processAllAvailable livelocks with
    ProcessingTimeTimeout state — see module notes in streaming tests)."""
    got = []
    deadline = time.time() + deadline_s
    while time.time() < deadline:
        if q.exception():
            raise AssertionError(str(q.exception()))
        got = spark.sql(f"SELECT * FROM {table}").collect()
        if len(got) >= min_rows:
            break
        time.sleep(2)
    return got


def test_sessionize_boundary_gap_equals_threshold(spark):
    """gap == threshold: batch starts a NEW session (>= semantics,
    dataframe.py:630-636); session_window keeps the SAME session.
    This divergence is documented in streaming/sessions.py:8-14 — this
    test pins both sides of it."""
    rows = [
        ("a.log", "1.1.1.1", "2024-01-01 00:00:00"),
        ("a.log", "1.1.1.1", "2024-01-01 00:30:00"),   # +1800s exactly
        ("a.log", "1.1.1.1", "2024-01-01 00:59:59"),   # +1799s -> same (both)
    ]
    batch = spark.createDataFrame(
        rows, "source string, ip string, ts_s string"
    ).select("source", "ip", F.to_timestamp("ts_s").alias("utc_timestamp"))

    clusters = [r.cluster for r in sessionize(batch, threshold=1800)
                .orderBy("utc_timestamp").collect()]
    assert clusters == [0, 1, 1], "batch: gap >= threshold starts a new session"

    stream_sessions = (
        batch.groupBy(F.session_window("utc_timestamp", "1800 seconds"), "ip")
        .count()
        .collect()
    )
    assert len(stream_sessions) == 1, (
        "session_window: exact-threshold gap merges — documented divergence"
    )


def test_burst_batch_stream_parity(spark, tmp_path):
    """The same fixture through the batch burst detector and
    burst_stream yields the same qualifying bursts."""
    from webloghunter_spark.detectors.burst import find_bursts
    from webloghunter_spark.streaming.bursts import burst_stream

    rows = []
    for i in range(5):      # qualifying: 5 errors, 1 s apart
        rows.append(("s.log", "1.1.1.1", 0, "/x", "GET", 500, f"2024-01-01 00:00:0{i}"))
    for i in range(3):      # gap too big: never qualifies
        rows.append(("s.log", "2.2.2.2", 0, "/y", "GET", 500, f"2024-01-01 00:{i}0:00"))
    for i in range(6):      # non-errors: never count
        rows.append(("s.log", "3.3.3.3", 0, "/z", "GET", 200, f"2024-01-01 00:00:0{i}"))
    batch = spark.createDataFrame(
        rows,
        "source string, ip string, cluster long, request_uri string, "
        "method string, status int, ts_s string",
    ).select("source", "ip", "cluster", "request_uri", "method", "status",
             F.to_timestamp("ts_s").alias("utc_timestamp"))

    expected = {
        (r.ip, r.request_uri, r.method, r.burst_count)
        for r in find_bursts(batch, min_requests=5, max_gap_seconds=2.0).collect()
    }
    assert expected == {("1.1.1.1", "/x", "GET", 5)}

    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        burst_stream(stream, min_requests=5, max_gap_seconds=2.0)
        .writeStream.outputMode("append").format("memory")
        .queryName("parity_burst")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        got = _drain(spark, q, "parity_burst")
    finally:
        q.stop()
    assert {(r.ip, r.request_uri, r.method, r.burst_count) for r in got} == expected


def test_tool_batch_stream_parity_mixed_case(spark, tmp_path):
    """The same fixture — including MIXED-CASE URIs — through the batch
    tool_scanner and tool_stream flags the same IPs."""
    from webloghunter_spark.detectors.tools import tool_scanner
    from webloghunter_spark.streaming.tools import tool_stream

    rows = [
        # ip=a completes within 60 s, with mixed-case URIs
        ("s.log", "a", 0, "/ADMIN/panel", "2024-01-01 00:00:00", 0),
        ("s.log", "a", 0, "/Login",       "2024-01-01 00:00:10", 1),
        ("s.log", "a", 0, "/DUMP.SQL",    "2024-01-01 00:00:20", 2),
        # ip=b spreads past the window: no detection
        ("s.log", "b", 0, "/admin/panel", "2024-01-01 00:00:00", 3),
        ("s.log", "b", 0, "/login",       "2024-01-01 00:05:00", 4),
        ("s.log", "b", 0, "/dump.sql",    "2024-01-01 00:10:00", 5),
    ]
    batch = spark.createDataFrame(
        rows,
        "source string, ip string, cluster long, request_uri string, "
        "ts_s string, ordinal long",
    ).select("source", "ip", "cluster", "request_uri",
             F.to_timestamp("ts_s").alias("utc_timestamp"), "ordinal")
    sigs = [{"tool": "SC01", "name": "S", "description": "d",
             "keyword": ["/admin", "/LOGIN", "/dump.sql"], "time_window": 60}]

    stamped = tool_scanner(batch, sigs)
    batch_ips = {r.ip for r in stamped.filter(F.col("tool") != "").collect()}
    assert batch_ips == {"a"}

    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        tool_stream(stream, sigs)
        .writeStream.outputMode("append").format("memory")
        .queryName("parity_tool")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        got = _drain(spark, q, "parity_tool")
    finally:
        q.stop()
    assert {(r.ip, r.tool) for r in got} == {("a", "SC01")}
    (det,) = got
    assert det.n_hits == 3


def test_tool_stream_span_retry_after_window_break(spark, tmp_path):
    """A span that fails from the first candidate but succeeds from a
    later one: batch finds {A@50, B@70} (span 20s <= 60s window) after
    the t=0 start fails; the stream must emit the same detection
    instead of discarding accumulated keywords on window expiry."""
    from webloghunter_spark.detectors.tools import tool_scanner
    from webloghunter_spark.streaming.tools import tool_stream

    rows = [
        ("s.log", "a", 0, "/kwA/1", "2024-01-01 00:00:00", 0),
        ("s.log", "a", 0, "/kwA/2", "2024-01-01 00:00:50", 1),
        ("s.log", "a", 0, "/kwB/1", "2024-01-01 00:01:10", 2),
    ]
    batch = spark.createDataFrame(
        rows,
        "source string, ip string, cluster long, request_uri string, "
        "ts_s string, ordinal long",
    ).select("source", "ip", "cluster", "request_uri",
             F.to_timestamp("ts_s").alias("utc_timestamp"), "ordinal")
    sigs = [{"tool": "T1", "name": "t", "description": "d",
             "keyword": ["/kwA", "/kwB"], "time_window": 60}]

    stamped = tool_scanner(batch, sigs)
    batch_hits = sorted(r.ordinal for r in
                        stamped.filter(F.col("tool") != "").collect())
    assert batch_hits == [1, 2], "batch retries the span from t=50"

    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        tool_stream(stream, sigs)
        .writeStream.outputMode("append").format("memory")
        .queryName("parity_tool_retry")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        got = _drain(spark, q, "parity_tool_retry")
    finally:
        q.stop()
    assert len(got) == 1
    (det,) = got
    assert det.tool == "T1" and det.n_hits == 2
    assert det.last_ts_epoch - det.first_ts_epoch == 20.0


def test_sessionize_stream_exact_matches_batch(spark, tmp_path):
    """The stateful exact sessionizer reproduces the batch boundary rule
    (gap >= threshold starts a new session, including the exact-equal
    boundary session_window merges); after the idle flush, the session
    set equals the batch sessionizer's per-group aggregate."""
    from webloghunter_spark.streaming.sessions import sessionize_stream_exact

    rows = [
        ("a.log", "1.1.1.1", "2024-01-01 00:00:00"),
        ("a.log", "1.1.1.1", "2024-01-01 00:00:01"),
        ("a.log", "1.1.1.1", "2024-01-01 00:00:03"),   # +2s exactly -> NEW
        ("a.log", "2.2.2.2", "2024-01-01 00:00:05"),
        ("b.log", "1.1.1.1", "2024-01-01 00:00:10"),
    ]
    batch = spark.createDataFrame(
        rows, "source string, ip string, ts_s string"
    ).select("source", "ip", F.to_timestamp("ts_s").alias("utc_timestamp"))

    b = sessionize(batch, threshold=2)
    expected = {
        (r.source, r.ip, r.local, r.n) for r in
        b.groupBy("source", "ip", "cluster")
         .agg(F.count(F.lit(1)).alias("n"),
              F.min("utc_timestamp").alias("s"))
         .withColumn("local", F.col("cluster") - F.min("cluster").over(
             Window.partitionBy("source", "ip")))
         .collect()
    }
    assert expected == {
        ("a.log", "1.1.1.1", 0, 2), ("a.log", "1.1.1.1", 1, 1),
        ("a.log", "2.2.2.2", 0, 1), ("b.log", "1.1.1.1", 0, 1),
    }

    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        sessionize_stream_exact(stream, threshold=2, idle_timeout_ms=4000)
        .writeStream.outputMode("append").format("memory")
        .queryName("parity_sess_exact")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        got = _drain(spark, q, "parity_sess_exact", min_rows=4)
    finally:
        q.stop()
    assert {(r.source, r.ip, r.local_session, r.n_events) for r in got} == expected


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the session kernel's
    state transitions without driving a real streaming query."""

    def __init__(self, tup=None, timed_out=False):
        self._tup = tup
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self._tup is not None

    @property
    def get(self):
        return self._tup

    def update(self, t):
        self._tup = tuple(t)

    def remove(self):
        self.removed = True
        self._tup = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


def test_session_timeout_flush_keeps_counter():
    """Idle flush must emit the open session but PRESERVE the per-key
    local_session counter — removing state would restart ids at 0 and
    emit a duplicate (source, ip, local_session) identity when the key
    returns after an idle period."""
    import pandas as pd

    from webloghunter_spark.streaming.sessions import _session_fn

    fn = _session_fn(threshold=60.0, idle_timeout_ms=4000)
    key = ("a.log", "1.1.1.1")

    # open session (local=3, 2 events) times out -> flushed, counter kept
    st = _FakeState(tup=(3, 100.0, 130.0, 2), timed_out=True)
    [flush] = list(fn(key, iter([]), st))
    assert flush.iloc[0]["local_session"] == 3 and flush.iloc[0]["n_events"] == 2
    assert not st.removed and st.get == (4, 0.0, 0.0, 0)
    assert st.timeout_ms == 4000

    # the key returns: next closed session carries local_session 4
    st.hasTimedOut = False
    pdf = pd.DataFrame({"epoch": [1000.0, 1010.0, 2000.0]})  # gap 990 closes one
    [out] = list(fn(key, iter([pdf]), st))
    assert list(out["local_session"]) == [4]
    assert st.get[0] == 5  # open session local id

    # idle fire with NOTHING open: no emit, state (and counter) retained
    st2 = _FakeState(tup=(7, 0.0, 0.0, 0), timed_out=True)
    [empty] = list(fn(key, iter([]), st2))
    assert len(empty) == 0 and not st2.removed and st2.get == (7, 0.0, 0.0, 0)


def test_sessionize_stream_exact_rejects_short_timeout(spark):
    import pytest as _pytest

    from webloghunter_spark.streaming.sessions import sessionize_stream_exact

    df = spark.createDataFrame(
        [("a", "1.1.1.1", "2024-01-01 00:00:00")],
        "source string, ip string, ts_s string",
    ).select("source", "ip", F.to_timestamp("ts_s").alias("utc_timestamp"))
    with _pytest.raises(ValueError, match="idle_timeout_ms"):
        sessionize_stream_exact(df, threshold=60, idle_timeout_ms=1000)


def test_decontaminate_batch_stream_parity(spark, tmp_path):
    """foreachBatch decontamination over a streamed train corpus equals
    the batch operator (same eval shingle set, same survivors)."""
    from webloghunter_spark.pipelines.decontam import decontaminate
    from webloghunter_spark.streaming.decontam import decontaminate_stream_writer

    eval_df = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    train_rows = [
        (10, "a b the quick brown fox jumps c d"),      # contaminated
        (11, "totally original content right here"),     # clean
        (12, "x lorem ipsum dolor sit amet y"),          # contaminated
        (13, "another clean training document words"),   # clean
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    expected = {r.doc_id for r in decontaminate(train, eval_df, n=5).collect()}
    assert expected == {11, 13}

    src = str(tmp_path / "train_src")
    train.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(train.schema).parquet(src)

    got_ids = set()

    def sink(df, batch_id):
        got_ids.update(r.doc_id for r in df.collect())

    fn = decontaminate_stream_writer(eval_df, sink, n=5)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_decon"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    assert got_ids == expected


def test_dist_drift_batch_stream_parity(spark, tmp_path):
    """Sum-merged streaming drift vs a frozen reference equals the
    batch distribution_drift over the union of micro-batches exactly
    (histograms merge by sum; the JS arithmetic is the batch formula
    replayed on identical integers)."""
    from webloghunter_spark.pipelines.select import distribution_drift
    from webloghunter_spark.streaming.drift import dist_drift_stream_writer

    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon") for i in range(30)],
        "doc_id long, text string",
    )
    stream_rows = [
        (100 + i, "alpha beta zeta eta " + ("theta" if i % 3 else "iota"))
        for i in range(40)
    ]
    cur = spark.createDataFrame(stream_rows, "doc_id long, text string")
    expected = distribution_drift(ref, cur).collect()[0]

    src = tmp_path / "drift_src"
    cur.filter(F.col("doc_id") < 120).write.parquet(str(src / "a"))
    cur.filter(F.col("doc_id") >= 120).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(cur.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"last": None, "batches": 0}

    def sink(row, batch_id):
        seen["last"] = row
        seen["batches"] += 1

    fn = dist_drift_stream_writer(ref, sink)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_drift"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    assert seen["batches"] >= 2
    assert seen["last"] == [(expected.n_a, expected.n_b, expected.js_nano)]


def test_quality_scores_batch_stream_parity(spark, tmp_path):
    """Frozen-weights streaming scorer equals the batch scorer
    row-for-row over multiple micro-batches (row-local scoring,
    frozen-model family)."""
    from webloghunter_spark.pipelines.classify import (
        quality_classifier_scores,
        train_quality_classifier,
    )
    from webloghunter_spark.streaming.classify import (
        quality_scores_stream_writer,
    )

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(50 + i, "zeta eta theta iota") for i in range(10)],
        "doc_id long, text string",
    )
    w = train_quality_classifier(target, raw)
    feed = spark.createDataFrame(
        [(100 + i, ["alpha beta kappa", "zeta eta mu", ""][i % 3])
         for i in range(12)],
        "doc_id long, text string",
    )
    expected = sorted(
        (r.doc_id, r.ntok, r.logit_micro, r.prob_bp)
        for r in quality_classifier_scores(feed, w).collect()
    )

    src = tmp_path / "cls_src"
    feed.filter(F.col("doc_id") < 106).write.parquet(str(src / "a"))
    feed.filter(F.col("doc_id") >= 106).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"rows": [], "batches": 0}

    def sink(rows, batch_id):
        seen["rows"].extend(rows)
        seen["batches"] += 1

    fn = quality_scores_stream_writer(w, sink)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_cls"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 2
    assert sorted(seen["rows"]) == expected


def test_dist_drift_stream_replay_idempotent(spark):
    """foreachBatch is at-least-once: re-delivering a micro-batch with
    the same batch_id must re-emit but NOT re-add its counts (the
    sum-merge twins' replay guard)."""
    from webloghunter_spark.streaming.drift import dist_drift_stream_writer

    ref = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(2, "alpha zeta eta")], "doc_id long, text string"
    )
    emitted = []
    fn = dist_drift_stream_writer(ref, lambda row, bid: emitted.append(row))
    try:
        fn(batch, 0)
        first = list(fn.state)
        fn(batch, 0)  # replay: same batch_id
        assert fn.state == first  # no double count
        assert emitted[0] == emitted[1]  # but the sink still saw a row
        fn(batch, 1)  # a genuinely new batch does merge
        assert sum(c for _, c in fn.state) == 2 * sum(c for _, c in first)
    finally:
        fn.release()


def test_contam_matrix_stream_replay_idempotent(spark):
    """Replay guard for the matrix twin: the gram set-union is
    idempotent but the docs counter is not — a re-delivered batch_id
    must re-emit the current matrix without re-adding n_docs_hit."""
    from webloghunter_spark.streaming.decontam import (
        contamination_matrix_stream_writer,
    )

    evals = {
        "setA": spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        )
    }
    batch = spark.createDataFrame(
        [(0, "x alpha beta gamma delta y")], "doc_id long, text string"
    )
    emitted = []
    fn = contamination_matrix_stream_writer(
        evals, lambda rows, bid: emitted.append(rows), n=4
    )
    try:
        fn(batch, 0)
        first = {k: (len(v["grams"]), v["docs"]) for k, v in fn.state.items()}
        assert first["setA"][1] == 1
        fn(batch, 0)  # replay: same batch_id
        assert {
            k: (len(v["grams"]), v["docs"]) for k, v in fn.state.items()
        } == first  # docs counter NOT re-added
        assert emitted[0] == emitted[1]  # but the sink re-saw the matrix
        fn(batch, 1)  # a genuinely new batch does count
        assert fn.state["setA"]["docs"] == 2
    finally:
        fn.release()


def test_mix_temperature_stream_replay_idempotent(spark):
    """Replay guard for the mix twin: re-delivered batch_id must not
    re-add doc/token totals."""
    from webloghunter_spark.streaming.mix import mix_temperature_stream_writer

    batch = spark.createDataFrame(
        [("web", "a b c"), ("code", "d e")], "source string, text string"
    )
    emitted = []
    fn = mix_temperature_stream_writer(
        lambda rows, bid: emitted.append(rows)
    )
    fn(batch, 0)
    first = list(fn.state)
    fn(batch, 0)  # replay: same batch_id
    assert fn.state == first
    assert emitted[0] == emitted[1]
    fn(batch, 1)  # a genuinely new batch does merge
    assert {g: [d, t] for g, d, t in fn.state}["web"] == [2, 6]


def test_incremental_dedup_stream_replay_idempotent(spark):
    """Replay for the incremental-dedup twin: the frozen index makes
    the survivors deterministic, so a replayed batch re-emits the same
    rows to the sink."""
    from webloghunter_spark.streaming.incdedup import (
        incremental_dedup_stream_writer,
    )

    corpus = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "completely novel words appearing nowhere in the corpus")],
        "doc_id long, text string",
    )
    emitted = []
    fn = incremental_dedup_stream_writer(
        lambda rows, bid: emitted.append(rows),
        corpus,
    )
    try:
        fn(batch, 0)
        assert emitted == [[(10,)]]
        fn(batch, 0)  # replay: same batch_id
        assert emitted[0] == emitted[1]  # sink re-saw the same rows
    finally:
        fn.release()


def test_contam_spans_batch_stream_parity(spark, tmp_path):
    """foreachBatch contamination-span triage over a streamed train
    corpus (forced into multiple micro-batches) equals the batch
    operator row-for-row: the signal is row-local, so accumulating
    per-batch outputs IS the batch result with the same frozen eval
    gram set."""
    from webloghunter_spark.pipelines.decontam import contamination_spans
    from webloghunter_spark.streaming.decontam import (
        contamination_spans_stream_writer,
    )

    eval_df = spark.createDataFrame(
        [(0, "the quick brown fox jumps"), (1, "lorem ipsum dolor sit amet")],
        "doc_id long, text string",
    )
    train_rows = [
        (10, "a b the quick brown fox jumps c d"),        # one run
        (11, "totally original content right here"),       # clean
        (12, "x lorem ipsum dolor sit amet y the quick brown fox jumps z"),
        (13, "another clean training document words"),     # clean
        (14, "the quick brown fox jumps"),                 # IS the item
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    expected = sorted(
        (r.doc_id, r.n_pos_hits, r.max_run)
        for r in contamination_spans(train, eval_df, n=5).collect()
    )
    assert [d for d, _, _ in expected] == [10, 12, 14]

    # two files + maxFilesPerTrigger=1 -> at least two micro-batches,
    # so the accumulated state must merge across batches
    src = tmp_path / "contam_src"
    train.filter(F.col("doc_id") < 12).write.parquet(str(src / "a"))
    train.filter(F.col("doc_id") >= 12).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )

    seen = {"rows": [], "batches": 0}

    def sink(rows, batch_id):
        seen["rows"].extend(rows)
        seen["batches"] += 1

    fn = contamination_spans_stream_writer(eval_df, sink, n=5)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_spans"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    assert seen["batches"] >= 2
    assert sorted(seen["rows"]) == expected


def test_semantic_dedup_batch_stream_parity(spark, tmp_path):
    """Stateful streaming SemDeDup equals the batch pair scan when ids
    arrive in order (single micro-batch here)."""
    from webloghunter_spark.pipelines.semdedup import semantic_dup_flags
    from webloghunter_spark.streaming.semdedup import semantic_dup_flags_stream

    # two well-separated clusters, near-dup pairs inside each
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (2, [0.99, 0.1, 0.0]),    # near-dup of 0
        (3, [0.05, 0.99, 0.0]),   # near-dup of 1
        (4, [0.7, 0.6, 0.4]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    centroids = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("centroid")
    )
    expected = {
        (r.vec_id, r.cent_id, r.max_sim, r.is_dup)
        for r in semantic_dup_flags(df, centroids=centroids, tau=0.9).collect()
    }

    src = str(tmp_path / "vec_src")
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        semantic_dup_flags_stream(stream, centroids, tau=0.9)
        .writeStream.outputMode("append").format("memory")
        .queryName("parity_semdedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_sem"))
        .start()
    )
    try:
        got = _drain(spark, q, "parity_semdedup", min_rows=len(vecs))
    finally:
        q.stop()
    assert {
        (r.vec_id, r.cent_id, r.max_sim, r.is_dup) for r in got
    } == expected


def test_quality_gate_batch_stream_parity(spark, tmp_path):
    """The frozen-LM streaming gate over a streamed corpus equals the
    batch self-trained gate when the reference corpus IS the corpus."""
    from webloghunter_spark.pipelines.gate import quality_gate
    from webloghunter_spark.streaming.gate import quality_gate_stream_writer

    fluent = ("the cat is on the mat and the dog is in the house "
              "for a walk to the park in the morning and plenty of "
              "common words fill this text so rules pass cleanly")
    rows = [
        (1, fluent), (2, fluent),
        (3, "too short"),
        (4, " ".join(f"zx{i}q" for i in range(40))),  # gibberish
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    kwargs = dict(min_tokens=10, max_tokens=5000, max_nonprintable_bp=10000,
                  min_quality_bp=0, min_avg_ll=-4.0)
    expected = {
        (r.doc_id, r.keep, r.reason)
        for r in quality_gate(corpus, **kwargs).collect()
    }

    src = str(tmp_path / "gate_src")
    corpus.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    got = set()

    def sink(df, batch_id):
        got.update((r.doc_id, r.keep, r.reason) for r in df.collect())

    fn = quality_gate_stream_writer(corpus, sink, **kwargs)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_gate"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    assert got == expected


def test_semdedup_timeout_branch_yields_typed_empty_frame():
    """ADVICE r4: the hasTimedOut branch must yield an empty frame with
    OUT_SCHEMA-compatible dtypes (int64/int64/float64/bool) — an
    all-object empty frame is version-sensitive under Arrow in the
    applyInPandasWithState path. Unit-drive _cluster_fn with a fake
    timed-out state."""
    import pandas as pd

    from webloghunter_spark.streaming import semdedup as sd

    class FakeState:
        hasTimedOut = True
        exists = False
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    fn = sd._cluster_fn(tau=0.9, round_digits=6, idle_timeout_ms=100)
    out = list(fn((7,), iter([]), st))
    assert st.removed
    assert len(out) == 1 and len(out[0]) == 0
    dtypes = {c: str(t) for c, t in out[0].dtypes.items()}
    assert dtypes == {
        "vec_id": "int64",
        "cent_id": "int64",
        "max_sim": "float64",
        "is_dup": "bool",
    }


def test_semantic_dedup_stream_eviction(spark, tmp_path):
    """With idle_timeout_ms set, an idle cluster's state is evicted:
    a later near-dup of a pre-eviction vector is NOT flagged, because
    the sketch it would have matched against is gone. Also exercises
    the timed-out empty-frame Arrow conversion end-to-end."""
    from webloghunter_spark.streaming.semdedup import semantic_dup_flags_stream

    centroids = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "cent_id long, centroid array<double>",
    )
    schema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "evict_src")
    b1 = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema
    )
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = (
        semantic_dup_flags_stream(
            stream, centroids, tau=0.9, idle_timeout_ms=500
        )
        .writeStream.outputMode("append").format("memory")
        .queryName("evict_sem")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .start()
    )
    try:
        _drain(spark, q, "evict_sem", min_rows=2)
        # > idle_timeout_ms with no traffic: Spark schedules empty
        # micro-batches to service processing-time timeouts, so both
        # clusters' state is evicted through the hasTimedOut branch
        # (the Arrow empty-frame conversion under test) during this gap
        time.sleep(3)
        # near-dup of vec 1 — cluster-1's sketch was evicted, so it
        # must NOT be flagged (with NoTimeout it would be: the batch
        # parity test above shows the same geometry flagging)
        spark.createDataFrame([(4, [0.01, 1.0])], schema).write.mode(
            "append"
        ).parquet(src)
        got = {r.vec_id: r for r in _drain(spark, q, "evict_sem", min_rows=3)}
    finally:
        q.stop()
    assert not got[4].is_dup  # evicted cluster: sketch gone, no flag
    assert got[4].max_sim is None  # NULL = no lower-id sketch (batch conv.)


def test_mix_resample_batch_stream_parity(spark, tmp_path):
    """Frozen-rates streaming mix_resample equals the batch operator
    when the reference corpus IS the streamed corpus — copy counts are
    a pure function of (id, rate), so arrival slicing cannot change
    them. Also pins the release() hook."""
    from webloghunter_spark.pipelines.split import mix_resample
    from webloghunter_spark.streaming.resample import (
        mix_resample_stream_writer,
    )

    rows = [(i, "big" if i < 40 else "small") for i in range(50)]
    corpus = spark.createDataFrame(rows, "doc_id long, lang string")
    expected = sorted(
        (r.doc_id, r.lang, r.rep)
        for r in mix_resample(corpus, "lang", temperature=4.0).collect()
    )

    src = str(tmp_path / "mix_src")
    corpus.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)

    got = []

    def sink(df, batch_id):
        got.extend((r.doc_id, r.lang, r.rep) for r in df.collect())

    fn = mix_resample_stream_writer(corpus, sink, "lang", temperature=4.0)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_mix"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(got) == expected
    fn.release()


def test_sliding_chunks_is_stream_safe(spark, tmp_path):
    """sliding_chunks is a stateless narrow transformation: applying
    it directly to a readStream produces exactly the batch chunks."""
    from webloghunter_spark.pipelines.pack import sliding_chunks

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(i + 3))) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = sorted(map(tuple, sliding_chunks(docs, 4, 3).collect()))

    src = str(tmp_path / "chunk_src")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        sliding_chunks(stream, 4, 3)
        .writeStream.outputMode("append").format("memory")
        .queryName("chunk_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_chunk"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM chunk_stream").collect())
    )
    assert got == expected


def test_hll_batch_stream_parity_exact(spark, tmp_path):
    """HLL registers merge by max, so the streamed sketch equals the
    batch sketch EXACTLY — not approximately — however the corpus is
    sliced into micro-batches. Estimates therefore agree to the last
    digit."""
    from webloghunter_spark.functions.sketches import hll_distinct
    from webloghunter_spark.streaming.hll import hll_distinct_stream_writer

    rows = [("g1" if i % 3 else "g2", f"tok{i % 700}") for i in range(2000)]
    corpus = spark.createDataFrame(rows, "grp string, v string")
    batch = {
        (r.grp,): r.hll_est
        for r in hll_distinct(corpus, "v", ["grp"]).collect()
    }

    src = str(tmp_path / "hll_src")
    # two separate files -> at least the chance of multiple batches;
    # parity must hold regardless
    corpus.filter("v < 'tok4'").write.mode("overwrite").parquet(src)
    corpus.filter("v >= 'tok4'").write.mode("append").parquet(src)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    seen = []
    fn = hll_distinct_stream_writer(lambda rows, bid: seen.append(rows), "v", ["grp"])
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_hll"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(g,): est for g, est in fn.current()}
    assert got == batch
    assert len(seen) >= 2  # really ran as multiple micro-batches


def test_mix_temperature_batch_stream_parity(spark, tmp_path):
    """Per-source totals merge by sum, so the streamed temperature
    weights equal the batch operator's rows exactly after the last
    micro-batch, however the corpus is sliced."""
    from webloghunter_spark.pipelines.split import mix_temperature
    from webloghunter_spark.streaming.mix import (
        mix_temperature_stream_writer,
    )

    rows = [
        (i, "tok " * (5 + i % 7), f"src{i % 3}") for i in range(300)
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    batch = sorted(
        tuple(r) for r in mix_temperature(corpus, "source", 0.7).collect()
    )

    src = str(tmp_path / "mix_src")
    corpus.filter("doc_id < 120").write.mode("overwrite").parquet(src)
    corpus.filter("doc_id >= 120").write.mode("append").parquet(src)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    seen = []
    fn = mix_temperature_stream_writer(
        lambda rows, bid: seen.append(rows), "source", "text", 0.7
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_mix"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(fn.current()) == batch
    assert len(seen) >= 2


def test_incremental_dedup_batch_stream_parity(spark, tmp_path):
    """The asymmetric contract (batch docs compared only against the
    frozen corpus) makes per-batch survivor unions equal the batch
    operator exactly, however ingestion is sliced."""
    from webloghunter_spark.pipelines.dedup import incremental_near_dedup
    from webloghunter_spark.streaming.incdedup import (
        incremental_dedup_stream_writer,
    )

    corpus = spark.createDataFrame(
        [(i, f"c{i} alpha beta gamma delta epsilon zeta") for i in range(10)]
        + [(50, "shared shingle run one two three four five six")],
        "doc_id long, text string",
    )
    new_rows = [(100 + i, f"n{i} fresh words nothing like corpus {i}")
                for i in range(8)]
    new_rows += [(200, "shared shingle run one two three four five six")]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    want = sorted(
        r.doc_id
        for r in incremental_near_dedup(
            new, corpus, threshold=0.8, num_hashes=4, band_size=2
        ).collect()
    )

    src = str(tmp_path / "inc_src")
    new.filter("doc_id < 104").write.mode("overwrite").parquet(src)
    new.filter("doc_id >= 104").write.mode("append").parquet(src)
    stream = spark.readStream.schema(new.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    seen = []
    fn = incremental_dedup_stream_writer(
        lambda rows, bid: seen.append(rows), corpus,
        threshold=0.8, num_hashes=4, band_size=2,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    survivors = [i for rows in seen for (i,) in rows]
    assert sorted(survivors) == want
    assert 200 not in survivors  # the planted corpus near-dup died
    assert len(seen) >= 2


def test_oov_rate_batch_stream_parity_frozen_vocab(spark, tmp_path):
    """Scoring is stateless against a frozen vocab, so per-batch
    outputs union to exactly the batch operator's rows when the
    batch side uses the same frozen vocabulary."""
    from pyspark.sql import functions as F

    from webloghunter_spark.functions.text import (
        token_count_expr,
        tokens_expr,
    )
    from webloghunter_spark.streaming.oov import (
        frozen_vocab,
        oov_rate_stream_writer,
    )

    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(20)],
        "doc_id long, text string",
    )
    feed = spark.createDataFrame(
        [(100, "alpha beta zzz1"), (101, "alpha beta gamma"),
         (102, "zzz2 zzz3 zzz4 zzz5"), (103, "")],
        "doc_id long, text string",
    )
    vocab = frozen_vocab(ref, vocab_size=4)
    # batch reference: same frozen vocab, same scoring exprs
    toks = feed.select("doc_id", F.explode(tokens_expr("text")).alias("_tok"))
    oov = (toks.join(F.broadcast(vocab), "_tok", "left_anti")
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_oov")))
    want = sorted(
        tuple(r)
        for r in feed.select(
            "doc_id", token_count_expr("text").cast("long").alias("ntok")
        )
        .join(oov, "doc_id", "left")
        .select(
            "doc_id", "ntok",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(F.col("ntok") > 0,
                   F.floor(F.coalesce("n_oov", F.lit(0)) * 10000.0
                           / F.col("ntok") + F.lit(0.5)))
            .otherwise(F.lit(0)).cast("long").alias("oov_bp"),
        ).collect()
    )

    src = str(tmp_path / "oov_src")
    feed.filter("doc_id < 102").write.mode("overwrite").parquet(src)
    feed.filter("doc_id >= 102").write.mode("append").parquet(src)
    stream = spark.readStream.schema(feed.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    seen = []
    fn = oov_rate_stream_writer(lambda rows, bid: seen.extend(rows), vocab)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_oov"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        vocab.unpersist()
    assert sorted(seen) == want
    got = {r[0]: r for r in seen}
    assert got[100][3] == 3333 and got[102][3] == 10000 and got[103][1] == 0


def test_mix_temperature_stream_zero_token_groups_no_crash(spark, tmp_path):
    """A micro-batch whose docs are all empty/NULL text must neither
    ZeroDivisionError the stream nor break row parity with the batch
    operator (the round-6 review finding)."""
    from webloghunter_spark.pipelines.split import mix_temperature
    from webloghunter_spark.streaming.mix import (
        mix_temperature_stream_writer,
    )

    corpus = spark.createDataFrame(
        [(1, "tok tok tok", "full"), (2, "", "emptysrc"),
         (3, None, "emptysrc")],
        "doc_id long, text string, source string",
    )
    batch = sorted(
        tuple(r) for r in mix_temperature(corpus, "source", 0.7).collect()
    )
    src = str(tmp_path / "mixz_src")
    corpus.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(corpus.schema).parquet(src)
    fn = mix_temperature_stream_writer(
        lambda rows, bid: None, "source", "text", 0.7
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_mixz"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(fn.current()) == batch
    z = dict((g, (rb, tb, bb)) for g, _, _, rb, tb, bb in fn.current())
    assert z["emptysrc"] == (0, 0, 0)


def test_bigram_ll_batch_stream_parity(spark, tmp_path):
    """Frozen-LM streaming scorer: the LM trains once on a reference
    corpus; the stream scores a feed in micro-batches. Scoring the
    TRAINING corpus reproduces batch bigram_logprob exactly (every
    bigram is in-model, so the frozen left joins reduce to the batch
    inner joins); unseen-bigram feeds take the smoothed floor."""
    from math import log

    from webloghunter_spark.functions.lm import (
        bigram_lm_model,
        bigram_logprob,
    )
    from webloghunter_spark.streaming.lm import bigram_ll_stream_writer

    corpus = spark.createDataFrame(
        [(i, ["the cat sat", "a dog ran fast", "the dog sat", ""][i % 4])
         for i in range(12)],
        "doc_id long, text string",
    )
    model = bigram_lm_model(corpus)
    expected = sorted(
        (r.doc_id, r.n_bigrams, r.avg_ll)
        for r in bigram_logprob(corpus).collect()
    )

    src = tmp_path / "lm_src"
    corpus.filter(F.col("doc_id") < 4).write.parquet(str(src / "a"))
    corpus.filter((F.col("doc_id") >= 4) & (F.col("doc_id") < 8)).write.parquet(str(src / "b"))
    corpus.filter(F.col("doc_id") >= 8).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"rows": [], "batches": 0}

    def sink(rows, batch_id):
        seen["rows"].extend(rows)
        seen["batches"] += 1

    fn = bigram_ll_stream_writer(model, sink)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_lm"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 3
    assert sorted(seen["rows"]) == expected
    # out-of-model feed: an unseen left token scores the smoothed
    # floor ln(1/V) per bigram
    from webloghunter_spark.functions.lm import bigram_logprob_frozen

    feed = spark.createDataFrame(
        [(100, "zz yy")], "doc_id long, text string"
    )
    r = bigram_logprob_frozen(feed, model).collect()[0]
    assert r.n_bigrams == 1
    assert r.avg_ll == round(log(1.0 / model["v"]), 4)
    for frame in (model["cb"], model["cu"]):
        frame.unpersist()


def test_semantic_contam_batch_stream_parity(spark, tmp_path):
    """Frozen-eval-side streaming decontamination equals the batch
    probe row-for-row across micro-batches (row-local verdicts
    against a persisted bucketed eval frame)."""
    from webloghunter_spark.pipelines.decontam import semantic_contam
    from webloghunter_spark.streaming.decontam import (
        semantic_contam_stream_writer,
    )

    dim = 8
    ev = spark.createDataFrame(
        [(100, [1.0] + [0.0] * (dim - 1)), (101, [0.0, 1.0] + [0.0] * (dim - 2))],
        "vec_id long, embedding array<double>",
    )
    train = spark.createDataFrame(
        [(i, [float(i % 3 == 0), float(i % 3 == 1), float(i % 3 == 2)]
          + [0.0] * (dim - 3)) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    expected = sorted(
        (r.vec_id, r.n_contam, r.max_cos_bp, r.contaminated)
        for r in semantic_contam(
            train, ev, threshold=0.9, num_planes=2, dim=dim
        ).collect()
    )
    src = tmp_path / "sc_src"
    train.filter(F.col("vec_id") < 6).write.parquet(str(src / "a"))
    train.filter(F.col("vec_id") >= 6).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"rows": [], "batches": 0}

    def sink(rows, batch_id):
        seen["rows"].extend(rows)
        seen["batches"] += 1

    fn = semantic_contam_stream_writer(
        ev, sink, threshold=0.9, num_planes=2, dim=dim
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_sc"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 2
    assert sorted(seen["rows"]) == expected
    fn.release()


def test_upsample_epochs_batch_stream_parity(spark, tmp_path):
    """Frozen-plan streaming repetition equals batch upsample_epochs
    over the same corpus: the plan (boost_bp per source) freezes from
    a batch mix over the full corpus, the stream replays documents in
    micro-batches, and the accumulated (id, group, epoch, n_epochs)
    rows match row-for-row."""
    from webloghunter_spark.pipelines.split import (
        mix_temperature,
        upsample_epochs,
    )
    from webloghunter_spark.streaming.mix import (
        upsample_epochs_stream_writer,
    )

    rows = [(i, "big", "w " * 90) for i in range(16)]
    rows += [(100 + i, "small", "w " * 10) for i in range(16)]
    corpus = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    plan = {
        r.source: r.boost_bp
        for r in mix_temperature(corpus, "source", 0.7).collect()
    }
    expected = sorted(
        (r.doc_id, r.source, r.epoch, r.n_epochs)
        for r in upsample_epochs(corpus, "source", alpha=0.7,
                                 max_epochs=4).collect()
    )
    src = tmp_path / "ups_src"
    corpus.filter(F.col("doc_id") < 8).write.parquet(str(src / "a"))
    corpus.filter((F.col("doc_id") >= 8) & (F.col("doc_id") < 104)).write.parquet(str(src / "b"))
    corpus.filter(F.col("doc_id") >= 104).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"union": [], "batches": 0}

    def sink(rows_, batch_id):
        seen["union"].extend(rows_)
        seen["batches"] += 1

    fn = upsample_epochs_stream_writer(plan, sink)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_ups"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 3
    # stateless twin: the UNION of per-batch deltas equals the batch
    # result (each sink call carries only its own batch's rows)
    assert sorted(seen["union"]) == expected


def test_contam_matrix_batch_stream_parity(spark, tmp_path):
    """Cumulative streaming contamination matrix equals the batch
    matrix over the docs streamed so far: doc counts sum across
    disjoint batches, hit-grams dedup against the bounded driver-held
    seen set (⊆ eval gram index)."""
    from webloghunter_spark.pipelines.decontam import contamination_matrix
    from webloghunter_spark.streaming.decontam import (
        contamination_matrix_stream_writer,
    )

    train = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta one"),
            (1, "alpha beta gamma delta two"),     # same A-gram again
            (2, "p q r s t"),
            (3, "zz yy xx ww vv"),                 # hits setB
            (4, "alpha beta gamma delta three"),   # A-gram, 3rd batch
            (5, "clean text with no overlap here"),
        ],
        "doc_id long, text string",
    )
    evals = {
        "setA": spark.createDataFrame(
            [(100, "alpha beta gamma delta")], "doc_id long, text string"
        ),
        "setB": spark.createDataFrame(
            [(200, "zz yy xx ww vv")], "doc_id long, text string"
        ),
    }
    expected = sorted(
        tuple(r) for r in contamination_matrix(train, evals, n=4).collect()
    )
    src = tmp_path / "cm_src"
    train.filter(F.col("doc_id") < 2).write.parquet(str(src / "a"))
    train.filter(
        (F.col("doc_id") >= 2) & (F.col("doc_id") < 4)
    ).write.parquet(str(src / "b"))
    train.filter(F.col("doc_id") >= 4).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"last": None, "batches": 0}

    def sink(rows, batch_id):
        seen["last"] = rows
        seen["batches"] += 1

    fn = contamination_matrix_stream_writer(evals, sink, n=4)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_cm"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 3
    assert sorted(seen["last"]) == expected
    fn.release()


def test_boilerplate_batch_stream_parity(spark, tmp_path):
    """Frozen boilerplate set: learned once from the full corpus, the
    stream cleans the SAME corpus in three file-batches — per-doc
    removal is stateless given the set, so the accumulated stream
    output equals batch boilerplate_segments exactly."""
    from webloghunter_spark.pipelines.dedup import (
        boilerplate_keys,
        boilerplate_segments,
    )
    from webloghunter_spark.streaming.dedup import boilerplate_stream_writer

    boiler_txt = " ".join(f"b{i}" for i in range(5))
    rows = [
        (i, f"{boiler_txt} " + " ".join(f"u{i}w{j}" for j in range(5)))
        for i in range(9)
    ]
    rows.append((9, None))
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    expected = sorted(
        (r.doc_id, r.n_seg, r.n_kept, r.new_text)
        for r in boilerplate_segments(corpus, seg_tokens=5, min_df=3).collect()
    )

    src = tmp_path / "bp_src"
    corpus.filter(F.col("doc_id") < 3).write.parquet(str(src / "a"))
    corpus.filter((F.col("doc_id") >= 3) & (F.col("doc_id") < 6)).write.parquet(str(src / "b"))
    corpus.filter(F.col("doc_id") >= 6).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"rows": [], "batches": 0}

    def sink(out_rows, batch_id):
        seen["rows"].extend(out_rows)
        seen["batches"] += 1

    boiler = boilerplate_keys(corpus, seg_tokens=5, min_df=3)
    fn = boilerplate_stream_writer(boiler, sink, seg_tokens=5)
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_bp"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        fn.release()
    assert seen["batches"] >= 3
    assert sorted(seen["rows"]) == expected


def test_density_sample_batch_stream_parity(spark, tmp_path):
    """Cumulative streaming density_sample equals the batch operator
    over everything streamed so far at EVERY prefix: buckets and the
    seeded order key are pure functions of the data, so the bounded
    per-bucket (count, top-cap kept set) driver state reproduces the
    batch window exactly — including a later arrival displacing an
    earlier winner."""
    import numpy as np

    from webloghunter_spark.pipelines.semdedup import density_sample
    from webloghunter_spark.streaming.semdedup import (
        density_sample_stream_writer,
    )

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(x) for x in rng.randn(8)]) for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    src = tmp_path / "dens_src"
    emb.filter(F.col("vec_id") < 20).write.parquet(str(src / "a"))
    emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 40)
    ).write.parquet(str(src / "b"))
    emb.filter(F.col("vec_id") >= 40).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"last": None, "batches": 0}

    def sink(out_rows, batch_id):
        seen["last"] = out_rows
        seen["batches"] += 1

    fn = density_sample_stream_writer(
        sink, cap=3, num_planes=3, dim=8
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_dens"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 3
    expected = sorted(
        tuple(r)
        for r in density_sample(
            emb, cap=3, num_planes=3, dim=8
        ).collect()
    )
    assert sorted(seen["last"]) == expected


def test_density_sample_stream_replay_idempotent(spark):
    """Replay guard: a re-delivered batch_id must not re-add bucket
    counts (kept-set merge is idempotent; the counter is not)."""
    from webloghunter_spark.streaming.semdedup import (
        density_sample_stream_writer,
    )

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [-1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    emitted = []
    fn = density_sample_stream_writer(
        lambda rows, bid: emitted.append(rows), cap=5, num_planes=3, dim=8
    )
    fn(emb, 0)
    first = {b: s["n"] for b, s in fn.state.items()}
    fn(emb, 0)  # replay
    assert {b: s["n"] for b, s in fn.state.items()} == first
    assert emitted[0] == emitted[1]
    fn(emb, 1)  # genuinely new batch merges
    assert {b: s["n"] for b, s in fn.state.items()} == {
        b: 2 * n for b, n in first.items()
    }


def test_gopher_rules_stream_stateless_parity(spark, tmp_path):
    """gopher_rules is one stateless projection: accumulated streaming
    output equals the batch matrix row-for-row."""
    from webloghunter_spark.pipelines.gate import gopher_rules
    from webloghunter_spark.streaming.gate import gopher_rules_stream

    rows = [
        (1, " ".join(f"word{i} the and" for i in range(30))),
        (2, "short"),
        (3, None),
        (4, "- a\n- b\n- c\nnormal line with the and of words " * 10),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = sorted(tuple(r) for r in gopher_rules(docs).collect())
    src = tmp_path / "goph_src"
    docs.filter(F.col("doc_id") <= 2).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") > 2).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out_dir = tmp_path / "goph_out"
    q = (
        gopher_rules_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt_goph"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(str(out_dir)).collect())
    assert got == expected


def test_bpe_apply_stream_frozen_merges_parity(spark, tmp_path):
    """bpe_apply under a FROZEN merge table is stateless: streaming the
    held-out corpus through the twin equals the batch operator."""
    from webloghunter_spark.pipelines.bpe import bpe_apply, bpe_merge_learn
    from webloghunter_spark.streaming.gate import bpe_apply_stream

    train = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "the cat sat on a hat")],
        "doc_id long, text string",
    )
    merges = [
        (int(r.step), r.sym_a, r.sym_b)
        for r in bpe_merge_learn(train, steps=3).collect()
    ]
    held = spark.createDataFrame(
        [(10, "the cat sat on a log"), (11, "unrelated words here")],
        "doc_id long, text string",
    )
    expected = sorted(tuple(r) for r in bpe_apply(held, merges).collect())
    src = tmp_path / "bpea_src"
    held.filter(F.col("doc_id") == 10).write.parquet(str(src / "a"))
    held.filter(F.col("doc_id") == 11).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(held.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out_dir = tmp_path / "bpea_out"
    q = (
        bpe_apply_stream(stream, merges)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt_bpea"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(str(out_dir)).collect())
    assert got == expected


def test_shard_balance_batch_stream_parity_and_replay(spark, tmp_path):
    """Sum-merge twin: per-shard totals over any batch slicing equal
    the batch operator at every prefix; a replayed batch_id re-emits
    without re-adding."""
    from webloghunter_spark.pipelines.shard import shard_balance
    from webloghunter_spark.streaming.mix import shard_balance_stream_writer

    rows = [(i, " ".join(f"w{j}" for j in range(i % 9 + 1)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    src = tmp_path / "sb_src"
    docs.filter(F.col("doc_id") < 25).write.parquet(str(src / "a"))
    docs.filter(F.col("doc_id") >= 25).write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"last": None, "batches": 0}
    fn = shard_balance_stream_writer(
        lambda r, b: seen.update(last=r, batches=seen["batches"] + 1),
        n_shards=4, seed="t",
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_sb"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 2
    expected = sorted(
        tuple(r) for r in shard_balance(docs, n_shards=4, seed="t").collect()
    )
    assert sorted(seen["last"]) == expected
    # replay guard
    first = list(fn.state)
    fn(docs.limit(5), 0)  # stale batch_id: must not merge
    assert fn.state == first


def test_time_split_batch_stream_parity_and_replay(spark, tmp_path):
    """(sum, sum, min)-merge twin: the leaked-group list equals the
    batch audit at every prefix, only both-sides groups emit, and a
    stale batch_id only re-emits."""
    from webloghunter_spark.pipelines.split import time_split_audit
    from webloghunter_spark.streaming.mix import time_split_stream_writer

    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-02-01 00:00:30"),
        (2, "2024-01-05 00:00:00"),
        (2, "2024-02-02 00:00:00"),
        (3, "2024-01-06 00:00:00"),   # train only: never emits
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string"
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    cut = "2024-01-15 00:00:00"
    src = tmp_path / "ts_src"
    ev.filter(F.col("ts") < "2024-01-20").write.parquet(str(src / "a"))
    ev.filter(F.col("ts") >= "2024-01-20").write.parquet(str(src / "b"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    seen = {"last": None, "batches": 0}
    fn = time_split_stream_writer(
        lambda r, b: seen.update(last=r, batches=seen["batches"] + 1), cut
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_ts"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen["batches"] >= 2
    expected = sorted(
        tuple(r) for r in time_split_audit(ev, cut).collect()
    )
    assert sorted(seen["last"]) == expected
    first = {k: list(v) for k, v in fn.totals.items()}
    fn(ev, 0)  # stale batch_id
    assert {k: list(v) for k, v in fn.totals.items()} == first


def test_stream_twins_null_keys_no_crash(spark):
    """NULL group/doc_id keys (dirty ingest) must not crash the
    driver-side sorts in the merge twins — the batch operators keep
    NULL-keyed rows, so the twins do too."""
    from webloghunter_spark.streaming.mix import (
        mix_temperature_stream_writer,
        shard_balance_stream_writer,
        time_split_stream_writer,
    )

    out = []
    fn = time_split_stream_writer(
        lambda r, b: out.append(r), "2024-01-15 00:00:00"
    )
    ev = spark.createDataFrame(
        [(None, "2024-01-01 00:00:00"), (None, "2024-02-01 00:00:00"),
         (1, "2024-01-02 00:00:00"), (1, "2024-02-02 00:00:00")],
        "user_id long, ts_s string",
    ).select("user_id", F.to_timestamp("ts_s").alias("ts"))
    fn(ev, 0)
    assert [g for g, *_ in out[-1]] == [None, 1]  # NULL group first

    fn2 = shard_balance_stream_writer(
        lambda r, b: out.append(r), n_shards=2, seed="t"
    )
    docs = spark.createDataFrame(
        [(None, "a b c"), (1, "d e"), (2, "f")],
        "doc_id long, text string",
    )
    fn2(docs, 0)
    shards = [sh for sh, *_ in out[-1]]
    assert shards[0] is None and sum(
        t for _, _, t, _, _ in out[-1]
    ) == 6

    fn3 = mix_temperature_stream_writer(lambda r, b: out.append(r))
    mx = spark.createDataFrame(
        [(None, "a b"), ("web", "c")], "source string, text string"
    )
    fn3(mx, 0)
    assert [g for g, *_ in out[-1]] == [None, "web"]


def test_contamination_sensitivity_rejects_bad_n(spark):
    import pytest as _pytest

    from webloghunter_spark.pipelines.decontam import (
        contamination_sensitivity,
    )

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="every n must be >= 1"):
        contamination_sensitivity(df, df, ns=(0, 4))


def _run_file_stream(spark, tmp_path, tag, parts, schema, xform):
    """Write each `parts` frame as its own parquet dir, stream them
    maxFilesPerTrigger=1 through `xform`, return collected rows."""
    src = tmp_path / f"{tag}_src"
    for i, p in enumerate(parts):
        p.write.parquet(str(src / f"p{i}"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out_dir = tmp_path / f"{tag}_out"
    q = (
        xform(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sorted(tuple(r) for r in spark.read.parquet(str(out_dir)).collect())


def test_longest_repeat_stream_stateless_parity(spark, tmp_path):
    """Row-local repetition stat: streaming the corpus through the
    twin equals the batch operator, any batch slicing."""
    from webloghunter_spark.functions.text import longest_repeat
    from webloghunter_spark.streaming.gate import longest_repeat_stream

    docs = spark.createDataFrame(
        [(1, "a b c a b c d"), (2, "x y x y"), (3, "p q r"),
         (4, ""), (5, None), (6, "\tm n m n")],
        "doc_id long, text string",
    )
    expected = sorted(tuple(r) for r in longest_repeat(docs).collect())
    got = _run_file_stream(
        spark, tmp_path, "lrep",
        [docs.filter(F.col("doc_id") <= 3),
         docs.filter(F.col("doc_id") > 3)],
        docs.schema, longest_repeat_stream,
    )
    assert got == expected


def test_url_blocklist_stream_stateless_parity(spark, tmp_path):
    """Gate-form blocklist on a stream equals the batch gate."""
    from webloghunter_spark.functions.url import url_blocklist_gate
    from webloghunter_spark.streaming.gate import url_blocklist_stream

    docs = spark.createDataFrame(
        [(1, "https://ads.example.org/x"), (2, "https://cdn.example.org/x"),
         (3, "https://other.net/x"), (4, "-"), (5, None)],
        "doc_id long, url string",
    )
    domains = ["example.org", "ads.example.org"]
    expected = sorted(
        tuple(r) for r in url_blocklist_gate(docs, domains).collect()
    )
    got = _run_file_stream(
        spark, tmp_path, "ubl",
        [docs.filter(F.col("doc_id") % 2 == 0),
         docs.filter(F.col("doc_id") % 2 == 1)],
        docs.schema, lambda s: url_blocklist_stream(s, domains),
    )
    assert got == expected


def test_readability_stream_stateless_parity(spark, tmp_path):
    """Flesch projection on a stream equals the batch query shape."""
    from webloghunter_spark.functions.text import flesch_exprs
    from webloghunter_spark.streaming.gate import readability_stream

    docs = spark.createDataFrame(
        [(1, "The cat sat. It ran! Did it?"), (2, "word"),
         (3, ""), (4, None)],
        "doc_id long, text string",
    )
    e = flesch_exprs("text")
    expected = sorted(
        tuple(r)
        for r in docs.select(
            "doc_id",
            e["ntok"].alias("ntok"),
            e["n_sent"].alias("n_sent"),
            e["n_syll"].alias("n_syll"),
            e["flesch_centi"].alias("flesch_centi"),
        ).collect()
    )
    got = _run_file_stream(
        spark, tmp_path, "read",
        [docs.filter(F.col("doc_id") <= 2),
         docs.filter(F.col("doc_id") > 2)],
        docs.schema, readability_stream,
    )
    assert got == expected


def test_char_entropy_stream_stateless_parity(spark, tmp_path):
    """Row-local char-histogram entropy: streaming through the twin
    equals the batch kernel, any slicing — incl. whitespace-padded
    and NULL rows."""
    from webloghunter_spark.functions.text import char_entropy
    from webloghunter_spark.streaming.gate import char_entropy_stream

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, ""), (4, None),
         (5, "  ab  "), (6, "\tab\n")],
        "doc_id long, text string",
    )
    expected = sorted(tuple(r) for r in char_entropy(docs).collect())
    got = _run_file_stream(
        spark, tmp_path, "cent",
        [docs.filter(F.col("doc_id") <= 3),
         docs.filter(F.col("doc_id") > 3)],
        docs.schema, char_entropy_stream,
    )
    assert got == expected


def test_split_coherence_stream_stateless_parity(spark, tmp_path):
    """Row-local half-vs-half shingle overlap: stream == batch."""
    from webloghunter_spark.functions.text import split_coherence
    from webloghunter_spark.streaming.gate import split_coherence_stream

    rep = ("a b c d " * 8).strip()
    glued = "a b c d e f g h q r s t u v w x"
    docs = spark.createDataFrame(
        [(1, rep), (2, glued), (3, "one two"), (4, None)],
        "doc_id long, text string",
    )
    expected = sorted(tuple(r) for r in split_coherence(docs).collect())
    got = _run_file_stream(
        spark, tmp_path, "scoh",
        [docs.filter(F.col("doc_id") % 2 == 0),
         docs.filter(F.col("doc_id") % 2 == 1)],
        docs.schema, split_coherence_stream,
    )
    assert got == expected


def test_bm25_frozen_stream_parity(spark, tmp_path):
    """Frozen-stats BM25: (a) scoring the reference corpus under its
    own model reproduces bm25_topk's scores (before filter/top-k);
    (b) streaming a probe feed through the twin equals the batch
    frozen scorer on the union, any slicing — stats pinned from the
    reference, never from the probe batches."""
    from webloghunter_spark.functions.text import (
        bm25_model,
        bm25_score_frozen,
        bm25_topk,
    )
    from webloghunter_spark.streaming.gate import bm25_frozen_stream

    ref = spark.createDataFrame(
        [(1, "spark query spark table"),
         (2, "the dog ate the cat food"),
         (3, "query plan for the big table join join join"),
         (4, "table join table join"),
         (5, "")],
        "doc_id long, text string",
    )
    terms = ["spark", "QUERY"]  # mixed case: model lowercases
    model = bm25_model(ref, terms)
    # (a) self-scoring parity vs bm25_topk
    topk = [(r.doc_id, r.dl, r.bm25)
            for r in bm25_topk(ref, terms, k=10).collect()]
    frozen = sorted(
        ((r.doc_id, r.dl, r.bm25)
         for r in bm25_score_frozen(ref, model).collect()
         if r.bm25 > 0),
        key=lambda t: (-t[2], t[0]),
    )
    assert frozen == topk
    # (b) stream parity on a DIFFERENT probe feed
    probe = spark.createDataFrame(
        [(10, "spark spark spark"), (11, "query the table"),
         (12, "nothing relevant"), (13, ""), (14, None)],
        "doc_id long, text string",
    )
    expected = sorted(
        tuple(r) for r in bm25_score_frozen(probe, model).collect()
    )
    got = _run_file_stream(
        spark, tmp_path, "bm25f",
        [probe.filter(F.col("doc_id") <= 11),
         probe.filter(F.col("doc_id") > 11)],
        probe.schema, lambda s: bm25_frozen_stream(s, model),
    )
    assert got == expected

    import pytest as _pytest
    with _pytest.raises(ValueError, match="non-empty"):
        bm25_model(ref, [])


def test_containment_stream_matches_batch_any_slicing(spark):
    """Asymmetric probe-vs-corpus containment: the union of per-batch
    sink rows equals the one-shot batch operator over the union of
    all batches, for two different slicings — and a replayed batch
    re-emits identical rows (frozen index, zero cross-batch state)."""
    from webloghunter_spark.pipelines.dedup import containment_pairs_against
    from webloghunter_spark.streaming.incdedup import (
        containment_stream_writer,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{j} x{j} y{j}" for j in range(10))
    corpus = spark.createDataFrame(
        [(0, f"{filler} {short} unique container tail"),
         (1, "another corpus document with different words entirely")],
        "doc_id long, text string",
    )
    probes = [
        (10, short),                                   # contained in 0
        (11, "no overlap with anything here at all"),
        (12, f"{short} extra bits"),                   # mostly in 0
        (13, ""),
        (14, None),
    ]
    pdf = spark.createDataFrame(probes, "doc_id long, text string")
    expected = sorted(
        tuple(r)
        for r in containment_pairs_against(pdf, corpus,
                                           threshold=0.5).collect()
    )
    for slicing in ([[10, 11], [12, 13, 14]], [[10], [11, 12], [13, 14]]):
        got = []
        fn = containment_stream_writer(
            lambda rows, bid: got.extend(rows), corpus, threshold=0.5
        )
        try:
            for bid, ids in enumerate(slicing):
                fn(pdf.filter(F.col("doc_id").isin(ids)), bid)
            assert sorted(got) == expected
            # replay: same rows re-emitted, union unchanged
            before = sorted(got)
            fn(pdf.filter(F.col("doc_id").isin(slicing[0])), 0)
            assert sorted(set(got)) == sorted(set(before))
        finally:
            fn.release()
    assert any(r[0] == 10 and r[1] == 0 and r[3] == 1.0 for r in expected)


def test_containment_drop_stream_matches_batch_any_slicing(spark):
    """The incremental containment INTERVENTION: per-batch drop
    decisions against a frozen corpus union to the one-shot
    containment_drop_against over the union, for two slicings; a
    same-size corpus container still drops the probe (corpus is
    authoritative — no keep-best); replay re-emits identically."""
    from webloghunter_spark.pipelines.dedup import containment_drop_against
    from webloghunter_spark.streaming.incdedup import (
        containment_drop_stream_writer,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{j} x{j} y{j}" for j in range(10))
    same = " ".join(f"s{j}" for j in range(12))
    corpus = spark.createDataFrame(
        [(0, f"{filler} {short} unique container tail"),
         (1, "another corpus document with different words entirely"),
         (2, same)],
        "doc_id long, text string",
    )
    probes = [
        (10, short),                  # contained in 0 -> dropped
        (11, "no overlap with anything here at all"),
        (12, same),                   # SAME SIZE as corpus 2 -> dropped
        (13, ""),
        (14, None),
    ]
    pdf = spark.createDataFrame(probes, "doc_id long, text string")
    batch = {r.doc_id: r for r in
             containment_drop_against(pdf, corpus).collect()}
    assert set(batch) == {10, 11, 12, 13, 14}
    assert batch[10].dropped == 1 and batch[10].n_containers == 1
    assert batch[11].dropped == 0
    assert batch[12].dropped == 1          # no keep-best: corpus wins
    assert batch[13].dropped == 0 and batch[13].n_shingles == 0
    assert batch[14].dropped == 0

    expected = sorted(
        tuple(r) for r in containment_drop_against(pdf, corpus).collect()
    )
    for slicing in ([[10, 11], [12, 13, 14]], [[10], [11, 12], [13, 14]]):
        got = []
        fn = containment_drop_stream_writer(
            lambda rows, bid: got.extend(rows), corpus
        )
        try:
            for bid, ids in enumerate(slicing):
                fn(pdf.filter(F.col("doc_id").isin(ids)), bid)
            assert sorted(got) == expected
            before = sorted(got)
            fn(pdf.filter(F.col("doc_id").isin(slicing[0])), 0)
            assert sorted(set(got)) == sorted(set(before))
        finally:
            fn.release()

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold_bp"):
        containment_drop_against(pdf, corpus, threshold_bp=100)
    with _pytest.raises(ValueError, match="size_ratio_bp"):
        containment_drop_stream_writer(
            lambda r, b: None, corpus, size_ratio_bp=1)


def test_unimax_alloc_batch_stream_parity_and_replay(spark, tmp_path):
    """Sum-merge + shared-waterfill twin: the re-planned allocation
    over any batch slicing equals the batch operator at EVERY prefix
    (budget is relative to the streamed-so-far total, so the plan is
    prefix-consistent by construction); a stale batch_id re-emits
    without re-adding; a NULL group fails loudly like the batch form."""
    import pytest as _pytest

    from webloghunter_spark.pipelines.select import unimax_alloc
    from webloghunter_spark.streaming.mix import unimax_alloc_stream_writer

    rows = [(i, f"s{i % 5}", " ".join(f"w{j}" for j in range(i % 11 + 1)))
            for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    src = tmp_path / "ua_src"
    # one file per cut so maxFilesPerTrigger=1 batches align with
    # the prefix boundaries the assertions replay
    docs.filter(F.col("doc_id") < 20).coalesce(1).write.parquet(str(src / "a"))
    docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 40)).coalesce(
        1).write.parquet(str(src / "b"))
    docs.filter(F.col("doc_id") >= 40).coalesce(1).write.parquet(str(src / "c"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    prefixes = []
    fn = unimax_alloc_stream_writer(
        lambda r, b: prefixes.append(list(r)),
        budget_bp_of_total=14000, max_epochs=3,
    )
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(tmp_path / "ckpt_ua"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(prefixes) >= 3
    # every-prefix parity: replay each file-cut boundary through the
    # batch operator (files arrive in lexicographic a/b/c order)
    cuts = [20, 40, 60]
    for got, hi in zip(prefixes, cuts):
        exp = sorted(
            tuple(r)
            for r in unimax_alloc(
                docs.filter(F.col("doc_id") < hi),
                budget_bp_of_total=14000, max_epochs=3,
            ).collect()
        )
        assert sorted(got) == exp
    first = list(fn.state)
    fn(docs.limit(5), 0)  # stale batch_id: must not merge
    assert fn.state == first
    nulls = spark.createDataFrame(
        [(None, "w w")], "source string, text string"
    )
    with _pytest.raises(ValueError, match="NULL group"):
        fn(nulls, 99)


def test_ewma_alerts_batch_stream_parity_and_replay(spark, tmp_path):
    """Count-merge twin: replaying the spine fold over merged counts
    equals the batch operator at every prefix; a NULL-ts row extends
    nothing but keeps its type in the dim; stale batch_id only
    re-emits."""
    from webloghunter_spark.detectors.ewma import ewma_alerts
    from webloghunter_spark.streaming.drift import ewma_alerts_stream_writer

    rows = [
        ("click", "2024-01-01 00:10:00"),
        ("click", "2024-01-01 00:40:00"),
        ("error", "2024-01-01 01:05:00"),
        ("click", "2024-01-01 02:10:00"),
        ("click", "2024-01-01 03:10:00"),
        ("error", "2024-01-01 03:20:00"),
    ]
    ev = spark.createDataFrame(rows, "event_type string, ts_s string").select(
        "event_type", F.to_timestamp("ts_s").alias("ts")
    )
    fn = ewma_alerts_stream_writer(lambda r, b: None)
    # feed in two hour-sliced batches; check parity at each prefix
    for i, hi in enumerate(["2024-01-01 02:00:00", "2024-01-01 23:00:00"]):
        prefix = ev.filter(F.col("ts") < hi)
        fn(prefix if i == 0 else ev.filter(
            (F.col("ts") >= "2024-01-01 02:00:00") & (F.col("ts") < hi)
        ), i)
        exp = sorted(
            tuple(r) for r in ewma_alerts(prefix).collect()
        )
        assert sorted(fn.current()) == exp
    first = dict(fn.counts)
    fn(ev, 0)  # stale batch_id: must not merge
    assert dict(fn.counts) == first
    # NULL ts: type enters the dim with zero counts, span unchanged
    nulls = spark.createDataFrame(
        [("ghost", None)], "event_type string, ts timestamp"
    )
    fn(nulls, 99)
    got = fn.current()
    ghost = [t for t in got if t[0] == "ghost"]
    assert len(ghost) == 4 and all(g[2] == 0 for g in ghost)


def test_keep_best_batch_stream_parity_and_replay(spark):
    """(max-bp, min-id, sum-count)-merge twin: equals the batch
    keep-best dedup at every prefix, survives a winner arriving in a
    LATER batch than a weaker duplicate, NULL text, and replays."""
    from webloghunter_spark.pipelines.dedup import dedup_keep_best
    from webloghunter_spark.streaming.dedup import keep_best_stream_writer

    rows = [
        (0, "plain words here", "a"),
        (1, "tiny", "a"),
        (2, "PLAIN   WORDS    HERE", "b"),   # same fp as 0, later batch
        (3, None, "a"),
        (4, "plain words here", "c"),        # third member of the fp group
        (5, None, "b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    fn = keep_best_stream_writer(lambda r, b: None)
    for i, (lo, hi) in enumerate([(0, 2), (2, 4), (4, 6)]):
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        fn(batch, i)
        prefix = df.filter(F.col("doc_id") < hi)
        exp = sorted(
            (tuple(r) for r in dedup_keep_best(prefix).collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )
        assert fn.current() == exp
    snap = {k: list(v) for k, v in fn.state.items()}
    fn(df, 0)  # stale batch_id: must not merge
    assert {k: list(v) for k, v in fn.state.items()} == snap


def test_len_quantiles_batch_stream_parity_and_replay(spark):
    """Histogram sum-merge twin: quantile rows equal the batch
    operator at every prefix for arbitrary slicing; stale batch_id
    only re-emits."""
    from webloghunter_spark.pipelines.select import len_quantiles
    from webloghunter_spark.streaming.mix import len_quantiles_stream_writer

    rows = [
        (i, " ".join(["w"] * ((i * 7) % 11)), "s%d" % (i % 3))
        for i in range(24)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    fn = len_quantiles_stream_writer(lambda r, b: None)
    for i, (lo, hi) in enumerate([(0, 9), (9, 10), (10, 24)]):
        fn(df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i)
        prefix = df.filter(F.col("doc_id") < hi)
        exp = sorted(
            (tuple(r) for r in len_quantiles(prefix).collect()),
            key=lambda t: (t[0] is not None, t[0], t[1]),
        )
        assert fn.current() == exp
    snap = list(fn.state)
    fn(df, 0)
    assert fn.state == snap


def test_prefix_modal_batch_stream_parity(spark):
    """Count sum-merge twin: the modal prefix (incl. tie-to-smaller)
    equals the batch operator at every prefix even when the modal
    winner only emerges in a later batch."""
    from webloghunter_spark.pipelines.curate import prefix_modal
    from webloghunter_spark.streaming.mix import prefix_modal_stream_writer

    rows = (
        [(0, "z z z tail", "t"), (1, "a a a body", "t")]
        + [(2, "a a a more", "t"), (3, "a a a again", "t")]   # 'a a a' wins late
        + [(4, "", "e"), (5, None, "e")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    fn = prefix_modal_stream_writer(lambda r, b: None)
    for i, (lo, hi) in enumerate([(0, 2), (2, 6)]):
        fn(df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)), i)
        prefix = df.filter(F.col("doc_id") < hi)
        exp = sorted(
            (tuple(r) for r in prefix_modal(prefix).collect()),
            key=lambda t: (t[0] is not None, t[0]),
        )
        assert fn.current() == exp
    # after batch 0 the tie 'a a a'/'z z z' resolves to 'a a a' (lex);
    # after batch 1 'a a a' wins outright at 3/4
    t_row = [r for r in fn.current() if r[0] == "t"][0]
    assert t_row[3] == "a a a" and t_row[4] == 3 and t_row[5] == 7500
    # replay guard: a re-delivered batch_id must not re-add its counts
    snap, rows = dict(fn.counts), fn.current()
    fn(df, 1)
    assert dict(fn.counts) == snap and fn.current() == rows


def test_containment_drop_twin_every_prefix_vs_registry(spark):
    """The foreachBatch twin asserted against the REGISTRY query
    itself (benchqueries.q_containment_drop_against on the sf0.001
    documents fixture, odd probes vs even frozen corpus): after EVERY
    batch, the union of emissions so far equals the registry operator
    restricted to the probes streamed so far — and after the final
    batch, the full registry output exactly."""
    from webloghunter_spark.benchqueries import q_containment_drop_against
    from webloghunter_spark.pipelines.dedup import containment_drop_against
    from webloghunter_spark.streaming.incdedup import (
        containment_drop_stream_writer,
    )

    sf = "/root/testdata/sf0.001"
    full = {
        r.doc_id: tuple(r)
        for r in q_containment_drop_against(spark, sf).collect()
    }
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    probe = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    cuts = [170, 340, 10**9]   # three uneven batches by doc_id
    got: list[tuple] = []
    fn = containment_drop_stream_writer(
        lambda rows, bid: got.extend(rows), corpus
    )
    try:
        lo = -1
        for bid, hi in enumerate(cuts):
            fn(
                probe.filter(
                    (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
                ),
                bid,
            )
            seen = {r[0] for r in got}
            # every-prefix parity: emissions so far == the one-shot
            # batch operator over exactly the probes streamed so far
            exp = {
                r.doc_id: tuple(r)
                for r in containment_drop_against(
                    probe.filter(F.col("doc_id") <= hi), corpus
                ).collect()
            }
            assert {r[0]: r for r in got} == exp
            assert all(full[i] == exp[i] for i in seen)
            lo = hi
    finally:
        fn.release()
    assert {r[0]: tuple(r) for r in got} == full
    assert sum(r[3] for r in got) > 0   # fixture exercises real drops


def test_curate_against_twin_every_prefix_vs_registry(spark):
    """The COMPOSED foreachBatch twin of curate_against (gate ->
    exact-against -> near-against -> containment-against -> decontam,
    one closure of frozen per-stage artifacts) asserted against the
    REGISTRY query itself (benchqueries.q_curate_incremental's split
    on the sf0.001 documents fixture): after EVERY batch, the union
    of survivor emissions equals the one-shot curate_against over the
    batches streamed so far — the slicing-independence the *_against
    stages guarantee — and after the final batch, the registry
    output's id set exactly."""
    from webloghunter_spark.benchqueries import q_curate_incremental
    from webloghunter_spark.pipelines.curate import curate_against
    from webloghunter_spark.session import release_materialized
    from webloghunter_spark.streaming.curate import (
        curate_against_stream_writer,
    )

    sf = "/root/testdata/sf0.001"
    full = {r.doc_id for r in q_curate_incremental(spark, sf).collect()}
    release_materialized()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    batch = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 50 != 0)
    )
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    params = dict(
        min_quality_bp=3000, min_tokens=10, max_tokens=5000,
        near_dedup_threshold=0.8, dedup_num_hashes=4, dedup_band_size=2,
        containment_threshold_bp=8000, containment_size_ratio_bp=10000,
        containment_max_df=20, decontam_n=4,
    )
    got: list[tuple] = []
    fn = curate_against_stream_writer(
        lambda rows, bid: got.extend(rows), corpus, eval_df=ev, **params
    )
    try:
        cuts = [170, 340, 10**9]  # three uneven batches by doc_id
        lo = -1
        for bid, hi in enumerate(cuts):
            fn(
                batch.filter(
                    (F.col("doc_id") > lo) & (F.col("doc_id") <= hi)
                ),
                bid,
            )
            exp, _funnel = curate_against(
                batch.filter(F.col("doc_id") <= hi), corpus,
                eval_df=ev, **params,
            )
            exp_ids = sorted(
                r.doc_id for r in exp.select("doc_id").collect()
            )
            release_materialized()  # curate_against settle()s stages
            assert sorted(r[0] for r in got) == exp_ids
            lo = hi
    finally:
        fn.release()
        release_materialized()
    assert {r[0] for r in got} == full
    assert 0 < len(got) < batch.count()  # stages actually dropped docs


def _merge_twin(name, spark, sink):
    """(writer, batch operator over a frame, projected to the sink
    columns) for one merge twin."""
    from webloghunter_spark.functions.sketches import hll_distinct
    from webloghunter_spark.pipelines.select import (
        distribution_drift,
        len_quantiles,
        unimax_alloc,
    )
    from webloghunter_spark.pipelines.shard import shard_balance
    from webloghunter_spark.pipelines.split import mix_temperature
    from webloghunter_spark.streaming import drift, hll, mix

    ref = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "beta delta")],
        "doc_id long, text string",
    )
    make, batch_op = {
        "mix_temperature": (
            lambda: mix.mix_temperature_stream_writer(sink),
            mix_temperature,
        ),
        "shard_balance": (
            lambda: mix.shard_balance_stream_writer(sink, n_shards=3),
            lambda d: shard_balance(d, n_shards=3),
        ),
        "unimax_alloc": (
            lambda: mix.unimax_alloc_stream_writer(sink),
            unimax_alloc,
        ),
        "len_quantiles": (
            lambda: mix.len_quantiles_stream_writer(sink),
            len_quantiles,
        ),
        "dist_drift": (
            lambda: drift.dist_drift_stream_writer(ref, sink),
            lambda d: distribution_drift(ref, d),
        ),
        "hll_distinct": (
            lambda: hll.hll_distinct_stream_writer(sink, "text", ["source"]),
            lambda d: hll_distinct(d, "text", ["source"]).select(
                "source", "hll_est"
            ),
        ),
    }[name]
    return make(), batch_op


def _jobs_in(sc, group, action):
    """Spark job ids `action()` runs, tagged through a job group."""
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize(
    "name",
    ["mix_temperature", "shard_balance", "unimax_alloc", "len_quantiles",
     "dist_drift", "hll_distinct"],
)
def test_merge_twin_replay_reemits_without_a_job(spark, name):
    """The merge runner's one replay guard, per twin: a replayed
    batch_id re-emits the last rows and leaves the state alone without
    running a Spark job; the next batch_id merges, so the sink then
    holds the batch operator over both deliveries."""
    from webloghunter_spark.streaming.runner import _sorted_rows

    emitted = []
    fn, batch_op = _merge_twin(
        name, spark, lambda rows, bid: emitted.append(rows)
    )
    b = spark.createDataFrame(
        [(0, "web", "alpha beta gamma"), (1, "web", "alpha zeta"),
         (2, "code", "beta beta eta theta")],
        "doc_id long, source string, text string",
    )
    sc = spark.sparkContext
    try:
        fn(b, 0)
        state, rows = list(fn.state), emitted[-1]
        assert _jobs_in(sc, f"replay-{name}", lambda: fn(b, 0)) == []
        assert fn.state == state and emitted[-1] == rows == fn.current()
        assert _jobs_in(sc, f"merge-{name}", lambda: fn(b, 1))
        assert emitted[-1] == _sorted_rows(batch_op(b.unionByName(b)))
    finally:
        fn.release()
