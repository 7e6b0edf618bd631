"""Multimodal plumbing (binary columns + mapInPandas) and Structured
Streaming variants."""

from pyspark.sql import functions as F

from webloghunter_spark.functions.multimodal import (
    decode_media,
    media_embedding_udf,
    sample_frames,
    with_media_metadata,
)
from webloghunter_spark.streaming.sessions import sessionize_stream


def _media(spark):
    rows = [(i, bytes(f"payload-{i}".encode()) * 50) for i in range(8)]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_media_metadata_native(spark):
    out = with_media_metadata(_media(spark), mime="image/png").collect()
    assert all(r.media_meta.mime == "image/png" for r in out)
    assert all(r.media_meta.n_bytes == len(r.payload) for r in out)
    assert all(len(r.media_meta.sha1) == 40 for r in out)


def test_decode_media_deterministic(spark):
    df = _media(spark)
    a = {r.media_id: (r.width, r.height, r.channels) for r in decode_media(df).collect()}
    b = {r.media_id: (r.width, r.height, r.channels) for r in decode_media(df).collect()}
    assert a == b
    # no image header in these payloads: NULL dims, not made-up ones
    assert set(a.values()) == {(None, None, None)}


def _png_bytes(w=3, h=2, color_type=2):
    """Minimal valid PNG built with stdlib only (real IHDR + IDAT)."""
    import struct
    import zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    raw = b"".join(b"\x00" + b"\x80" * (w * nch) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _wav_bytes(rate=8000, nch=2, nframes=400):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x00" * nch * nframes)
    return buf.getvalue()


def test_sniff_dimensions_stdlib():
    """Header sniffer reads REAL dimensions from PNG/GIF/BMP/JPEG."""
    import struct

    from webloghunter_spark.functions.multimodal import sniff_dimensions

    assert sniff_dimensions(_png_bytes(3, 2, 2)) == (3, 2, 3)
    assert sniff_dimensions(_png_bytes(7, 5, 6)) == (7, 5, 4)
    gif = b"GIF89a" + struct.pack("<HH", 11, 9) + b"\x00" * 20
    assert sniff_dimensions(gif) == (11, 9, 3)
    bmp = (b"BM" + b"\x00" * 16 + struct.pack("<ii", 6, -4)
           + b"\x01\x00" + struct.pack("<H", 24) + b"\x00" * 10)
    assert sniff_dimensions(bmp) == (6, 4, 3)
    # JPEG: SOI, APP0 (len 4), SOF0 with h=5, w=8, 3 components
    jpg = (b"\xff\xd8" + b"\xff\xe0\x00\x04\x00\x00"
           + b"\xff\xc0\x00\x11\x08" + struct.pack(">HH", 5, 8) + b"\x03"
           + b"\x00" * 10)
    assert sniff_dimensions(jpg) == (8, 5, 3)
    assert sniff_dimensions(b"not an image") is None
    assert sniff_dimensions(b"") is None


def test_decode_media_real_without_pil(spark):
    """decode_media needs no codec library: the stdlib sniffer gives
    real dims for known formats, NULLs for junk payloads."""
    rows = [(0, _png_bytes(3, 2, 2)), (1, _png_bytes(7, 5, 6)), (2, b"junk")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: (r.width, r.height, r.channels)
           for r in decode_media(df).collect()}
    assert out[0] == (3, 2, 3)
    assert out[1] == (7, 5, 4)
    assert out[2] == (None, None, None)


def test_decode_audio_real_wav(spark):
    """decode_audio reads REAL WAV metadata with the stdlib wave module."""
    from webloghunter_spark.functions.multimodal import decode_audio

    rows = [(0, _wav_bytes(8000, 2, 400)), (1, _wav_bytes(16000, 1, 1600)),
            (2, b"not audio")]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r.media_id: (r.sample_rate, r.n_channels, r.n_frames, r.duration_ms)
           for r in decode_audio(df).collect()}
    assert out[0] == (8000, 2, 400, 50)
    assert out[1] == (16000, 1, 1600, 100)
    assert out[2] == (None, None, None, None)


def test_decode_audio_pcm_md5(spark):
    """with_pcm_md5 reads the sample buffer back THROUGH the codec and
    digests it as md5-of-uppercase-hex (the md5(hex(bytes)) convention
    shared with SQL oracles); non-WAV rows get NULL."""
    import hashlib

    from webloghunter_spark.functions.multimodal import decode_audio

    wav = _wav_bytes(8000, 1, 100)
    df = spark.createDataFrame(
        [(0, wav), (1, b"junk")], "media_id long, payload binary"
    )
    out = {r.media_id: r.pcm_md5
           for r in decode_audio(df, with_pcm_md5=True).collect()}
    # the PCM data chunk is the tail of the file past the 44-byte header
    want = hashlib.md5(wav[44:].hex().upper().encode()).hexdigest()
    assert out[0] == want
    assert out[1] is None


def test_media_embedding_shape(spark):
    udf = media_embedding_udf(dim=16)
    out = _media(spark).select("media_id", udf("payload").alias("emb")).collect()
    assert all(len(r.emb) == 16 for r in out)
    assert all(-1.0 <= v <= 1.0 for r in out for v in r.emb)


def test_frame_sampling_fanout(spark):
    out = sample_frames(_media(spark), num_frames=4).collect()
    assert len(out) == 8 * 4
    by_media = {}
    for r in out:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 1, 2, 3] for v in by_media.values())


def test_sessionize_stream_memory_sink(spark, tmp_path):
    # Write a small event batch, drive it through session_window via the
    # file source, and check the aggregate against a batch groupBy.
    src = str(tmp_path / "stream_src")
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 02:00:00"),                      # > 30 min gap -> new session
        (2, "2024-01-01 00:00:00"),
    ]
    batch = spark.createDataFrame(rows, "user_id long, ts_s string").select(
        "user_id", F.to_timestamp("ts_s").alias("ts")
    )
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = sessionize_stream(stream, gap_seconds=1800, watermark="10 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM sess_out").collect()
    finally:
        q.stop()
    per_user = {}
    for r in out:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]


def test_resize_media_stub(spark):
    from webloghunter_spark.functions.multimodal import resize_media

    out = resize_media(_media(spark), target_w=8, target_h=4).collect()
    assert len(out) == 8
    assert all(len(r.payload) == 8 * 4 for r in out)
    assert all((r.width, r.height) == (8, 4) for r in out)
    # deterministic
    again = resize_media(_media(spark), target_w=8, target_h=4).collect()
    assert {r.media_id: bytes(r.payload) for r in out} == {
        r.media_id: bytes(r.payload) for r in again
    }


def test_burst_stream_stateful(spark, tmp_path):
    """Streaming burst detector: a 5-error run with <= 2 s gaps fires
    once at min_requests; a slow drip and a 200-status run never do."""
    from webloghunter_spark.streaming.bursts import burst_stream

    src = str(tmp_path / "burst_src")
    rows = []
    # qualifying burst: 5 errors 1s apart on (a, /x, GET)
    for i in range(5):
        rows.append(("a", "/x", "GET", 500, f"2024-01-01 00:00:0{i}"))
    # non-qualifying: 3 errors 10s apart (gap too big)
    for i in range(3):
        rows.append(("b", "/y", "GET", 500, f"2024-01-01 00:{i}0:00"))
    # non-errors never count
    for i in range(6):
        rows.append(("c", "/z", "GET", 200, f"2024-01-01 00:00:0{i}"))
    batch = spark.createDataFrame(
        rows, "ip string, request_uri string, method string, status int, ts_s string"
    ).select("ip", "request_uri", "method", "status",
             F.to_timestamp("ts_s").alias("utc_timestamp"))
    batch.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch.schema).parquet(src)
    bursts = burst_stream(stream, min_requests=5, max_gap_seconds=2.0)
    q = (
        bursts.writeStream.outputMode("append")
        .format("memory")
        .queryName("burst_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # NOTE: processAllAvailable() livelocks here — ProcessingTimeTimeout
    # keeps scheduling timeout-evaluation batches, so "all available"
    # never drains. Poll the sink with a deadline instead.
    import time

    try:
        got = []
        deadline = time.time() + 120
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = spark.sql("SELECT * FROM burst_out").collect()
            if got:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert len(got) == 1
    r = got[0]
    assert (r.ip, r.request_uri, r.method, r.burst_count) == ("a", "/x", "GET", 5)
    assert r.max_time_epoch - r.min_time_epoch == 4.0


def test_tool_stream_stateful(spark, tmp_path):
    """Streaming tool detection: signature completes within its window
    -> one record; keywords spread past the window -> none."""
    from webloghunter_spark.streaming.tools import tool_stream

    src = str(tmp_path / "tool_src")
    rows = [
        # ip=a completes {admin, login, dump} within 60s
        ("a", "/admin/x",  "2024-01-01 00:00:00"),
        ("a", "/login",    "2024-01-01 00:00:10"),
        ("a", "/nothing",  "2024-01-01 00:00:15"),   # non-candidate row
        ("a", "/dump.sql", "2024-01-01 00:00:20"),
        # ip=b never completes inside the 60s window
        ("b", "/admin/x",  "2024-01-01 00:00:00"),
        ("b", "/login",    "2024-01-01 00:05:00"),
        ("b", "/dump.sql", "2024-01-01 00:10:00"),
    ]
    batch = spark.createDataFrame(
        rows, "ip string, request_uri string, ts_s string"
    ).select("ip", "request_uri", F.to_timestamp("ts_s").alias("utc_timestamp"))
    batch.write.mode("overwrite").parquet(src)

    sigs = [{"tool": "SC01", "keyword": ["/admin", "/login", "/dump.sql"],
             "time_window": 60}]
    stream = spark.readStream.schema(batch.schema).parquet(src)
    det = tool_stream(stream, sigs)
    q = (
        det.writeStream.outputMode("append")
        .format("memory")
        .queryName("tool_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    import time

    try:
        got = []
        deadline = time.time() + 120
        while time.time() < deadline:
            if q.exception():
                raise AssertionError(str(q.exception()))
            got = spark.sql("SELECT * FROM tool_out").collect()
            if got:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert len(got) == 1
    r = got[0]
    assert (r.ip, r.tool, r.n_hits) == ("a", "SC01", 3)
    assert r.last_ts_epoch - r.first_ts_epoch == 20.0


def test_dedup_stream_first_occurrence(spark, tmp_path):
    """Streaming exact dedup keeps one row per fingerprint (watermark-
    bounded state); batch dropDuplicates over the same data agrees on
    the surviving key set."""
    from webloghunter_spark.streaming.dedup import dedup_stream

    rows = [
        ("fp1", "2024-01-01 00:00:00"), ("fp1", "2024-01-01 00:00:10"),
        ("fp2", "2024-01-01 00:00:05"), ("fp3", "2024-01-01 00:00:07"),
        ("fp2", "2024-01-01 00:00:20"),
    ]
    batch = spark.createDataFrame(rows, "fingerprint string, ts_s string").select(
        "fingerprint", F.to_timestamp("ts_s").alias("ts")
    )
    src = str(tmp_path / "src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        dedup_stream(stream, ["fingerprint"], watermark="10 minutes")
        .writeStream.outputMode("append").format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(r.fingerprint for r in spark.table("dedup_stream_t").collect())
    assert got == ["fp1", "fp2", "fp3"]


def test_lsh_pairs_stream_matches_batch(spark, tmp_path):
    """Streaming LSH candidates (stateful per-bucket memory) drain to
    the same distinct pair set as the batch banding self-join."""
    from webloghunter_spark.pipelines.dedup import lsh_candidate_pairs
    from webloghunter_spark.streaming.neardup import lsh_pairs_stream

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy dog"),
        (3, "completely different words entirely here now folks"),
        (4, "tiny"),
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {(r.id_a, r.id_b) for r in
                lsh_candidate_pairs(batch, num_hashes=4, band_size=2).collect()}
    assert (0, 1) in expected

    src = str(tmp_path / "docs")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        lsh_pairs_stream(stream, num_hashes=4, band_size=2)
        .writeStream.outputMode("append").format("memory")
        .queryName("lsh_stream_t")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r.id_a, r.id_b)
           for r in spark.table("lsh_stream_t").select("id_a", "id_b").distinct().collect()}
    assert got == expected
