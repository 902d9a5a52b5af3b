"""Streaming shell + multimodal plumbing tests.

Streaming: file-source availableNow micro-batches through foreachBatch must
produce EXACTLY the batch plan's result (the shell reuses batch transforms,
so this is the delivery-semantics check).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
    attach_fake_media,
    decode_image,
    extract_features,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.registry import (
    load_table,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.ingest import (
    foreach_batch_pipeline,
    run_available_now,
    stream_observations,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.windows import (
    session_window_stats,
    windowed_observation_stats,
)

OBS_SCHEMA = "event_id long, data_datetime timestamp, event_type string, value double"


@pytest.fixture()
def landing(tmp_path, spark, sf_dir):
    """Land the events table as JSON files (3 chunks = 3 source splits)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", F.col("ts").alias("data_datetime"), "event_type", "value")
        .collect()
    )
    d = tmp_path / "landing"
    d.mkdir()
    chunk = len(ev) // 3 + 1
    for i in range(3):
        with open(d / f"part-{i}.json", "w") as f:
            for r in ev[i * chunk : (i + 1) * chunk]:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "data_datetime": r.data_datetime.isoformat(),
                            "event_type": r.event_type,
                            "value": r.value,
                        }
                    )
                    + "\n"
                )
    return str(d)


def test_streaming_matches_batch_windows(spark, sf_dir, landing, tmp_path):
    stream = stream_observations(spark, landing, OBS_SCHEMA, watermark="10 minutes")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    epoch_fn = foreach_batch_pipeline(
        lambda df: windowed_observation_stats(df, "1 hour", key_cols=("event_type",)),
        sink,
    )
    q = run_available_now(stream, epoch_fn, ckpt)
    q.awaitTermination(120)

    # foreachBatch ran per micro-batch; re-aggregate epochs for comparison
    got = (
        spark.read.parquet(sink)
        .groupBy("window_start", "window_end", "event_type")
        .agg(F.sum("n_obs").alias("n_obs"))
        .collect()
    )
    batch = (
        windowed_observation_stats(
            load_table(spark, sf_dir, "events").select(
                "event_id", F.col("ts").alias("data_datetime"), "event_type", "value"
            ),
            "1 hour",
            key_cols=("event_type",),
        )
        .select("window_start", "window_end", "event_type", "n_obs")
        .collect()
    )
    gset = {(r.window_start, r.window_end, r.event_type, r.n_obs) for r in got}
    bset = {(r.window_start, r.window_end, r.event_type, r.n_obs) for r in batch}
    assert gset == bset


def test_streaming_rate_source_global_rate_limit_across_epochs(spark, tmp_path):
    """SURVEY §4.3's last untested fidelity claim: the token-bucket
    enrichment keeps the reference's GLOBAL request spacing (wdf.py:419,
    1 req/s) when driven from a stream — including ACROSS micro-batch
    boundaries, where a per-invocation bucket would burst. Uses the
    rate-micro-batch source (deterministic rows per epoch) at 20 req/s so
    the test runs in ~1 s."""
    import time as _time

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.enrich import (
        enrich_map_in_pandas,
    )

    rate = 20.0  # req/s — interval 50 ms
    rows_per_batch = 4
    out_schema = StructType(
        [
            StructField("timestamp", TimestampType()),
            StructField("value", LongType()),
            StructField("fetched_at", DoubleType()),
        ]
    )

    def fetcher(row):
        return {"fetched_at": _time.monotonic()}

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", 1)
        .load()
    )
    sink = str(tmp_path / "rate_sink")
    ckpt = str(tmp_path / "rate_ckpt")
    epoch_fn = foreach_batch_pipeline(
        lambda df: enrich_map_in_pandas(
            df,
            fetcher,
            out_schema,
            rate_per_sec=rate,
            single_partition=True,
            bucket="test-global-rate",
        ),
        sink,
    )
    q = (
        stream.writeStream.foreachBatch(epoch_fn)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            done = 0
            try:
                done = spark.read.parquet(sink).count()
            except Exception:
                pass
            if done >= 3 * rows_per_batch:
                break
            _time.sleep(0.3)
    finally:
        q.stop()

    got = spark.read.parquet(sink).orderBy("fetched_at").collect()
    assert len(got) >= 3 * rows_per_batch
    epochs = {r.epoch_id for r in got}
    assert len(epochs) >= 2, "need multiple micro-batches to test the boundary"
    times = [r.fetched_at for r in got]
    gaps = [b - a for a, b in zip(times, times[1:])]
    # every consecutive fetch, INCLUDING across epoch boundaries, must be
    # spaced by ≥ the interval (5% tolerance for sleep/clock slop)
    min_interval = 1.0 / rate
    assert min(gaps) >= min_interval * 0.95, (
        f"burst detected: min gap {min(gaps)*1000:.1f} ms < {min_interval*1000:.0f} ms"
    )


def test_streaming_restart_is_incremental(spark, landing, tmp_path):
    """A second availableNow run over the same checkpoint must process
    nothing new (the xlsx-snapshot-state analog, done right)."""
    stream = stream_observations(spark, landing, OBS_SCHEMA)
    sink = str(tmp_path / "sink2")
    ckpt = str(tmp_path / "ckpt2")
    epoch_fn = foreach_batch_pipeline(lambda df: df, sink)
    q = run_available_now(stream, epoch_fn, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(sink).count()

    q2 = run_available_now(
        stream_observations(spark, landing, OBS_SCHEMA), epoch_fn, ckpt
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == n1


def test_streaming_change_detect_dedups_across_epochs(spark, tmp_path):
    """Keys already folded into the snapshot must not re-emit in later
    epochs — the xlsx-diff state machine (wdf.py:376-399) done with
    parquet snapshot state."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.ingest import (
        foreach_batch_change_detect,
    )

    d = tmp_path / "landing"
    d.mkdir()
    # epoch 1: keys A,B — epoch 2: keys B,C (B is a repeat)
    (d / "f1.json").write_text(
        '{"location_name": "A", "province_name": "P1", "value": 1.0}\n'
        '{"location_name": "B", "province_name": "P1", "value": 2.0}\n'
    )
    schema = "location_name string, province_name string, value double"
    snap = str(tmp_path / "snap")
    sink = str(tmp_path / "novel")
    ckpt = str(tmp_path / "ckpt3")
    epoch_fn = foreach_batch_change_detect(
        spark, ("location_name", "province_name"), snap, sink
    )

    stream = spark.readStream.schema(schema).json(str(d))
    q = stream.writeStream.foreachBatch(epoch_fn).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    (d / "f2.json").write_text(
        '{"location_name": "B", "province_name": "P1", "value": 9.0}\n'
        '{"location_name": "C", "province_name": "P2", "value": 3.0}\n'
    )
    stream2 = spark.readStream.schema(schema).json(str(d))
    q2 = stream2.writeStream.foreachBatch(epoch_fn).option(
        "checkpointLocation", ckpt
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)

    novel = spark.read.parquet(sink)
    keys = sorted(
        (r.location_name, r.province_name) for r in novel.collect()
    )
    # B appears once (epoch 1), never re-emitted in epoch 2.
    assert keys == [("A", "P1"), ("B", "P1"), ("C", "P2")]
    snap_keys = sorted(
        (r.location_name, r.province_name)
        for r in spark.read.parquet(snap).collect()
    )
    assert snap_keys == [("A", "P1"), ("B", "P1"), ("C", "P2")]


def test_multimodal_feature_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    media = attach_fake_media(docs)
    feats = extract_features(media)
    rows = feats.select("doc_id", "n_bytes", "byte_entropy", "checksum").collect()
    assert len(rows) == 50
    assert all(r.n_bytes > 0 and r.byte_entropy > 0 for r in rows)
    # deterministic: same input → same features
    rows2 = extract_features(media).select("checksum").collect()
    assert [r.checksum for r in rows2] == [r.checksum for r in rows]


def _encode_ppm_p6(pixels) -> bytes:
    """Minimal P6 encoder for fixtures: pixels is an (H, W, 3) nested list."""
    h, w = len(pixels), len(pixels[0])
    body = bytes(c for row in pixels for px in row for c in px)
    return b"P6\n# fixture\n%d %d\n255\n" % (w, h) + body


def _encode_bmp_24(pixels) -> bytes:
    """Minimal 24-bit BI_RGB BMP encoder (bottom-up, padded rows)."""
    import struct

    h, w = len(pixels), len(pixels[0])
    stride = (w * 3 + 3) & ~3
    rows = b""
    for row in reversed(pixels):  # bottom-up storage
        raw = bytes(c for px in row for c in (px[2], px[1], px[0]))  # BGR
        rows += raw + b"\x00" * (stride - len(raw))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return header + info + rows


_PIXELS = [
    [(255, 0, 0), (0, 255, 0), (0, 0, 255)],
    [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
]


def test_decode_ppm_and_bmp_roundtrip():
    """Real decode: both formats reproduce the exact pixel lattice."""
    for blob in (_encode_ppm_p6(_PIXELS), _encode_bmp_24(_PIXELS)):
        img = decode_image(blob)  # auto-sniffed
        assert img.shape == (2, 3, 3)
        assert [[tuple(int(c) for c in px) for px in row] for row in img] == [
            [tuple(px) for px in row] for row in _PIXELS
        ]
    # P3 ascii variant, including a maxval rescale (100 → 255)
    p3 = b"P3\n1 1\n100\n100 0 50\n"
    img = decode_image(p3)
    assert [tuple(int(c) for c in px) for px in img[0]] == [(255, 0, 128)]


def test_decode_rejects_compressed_and_corrupt():
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n")  # no codec libs in container
    with pytest.raises(ValueError):
        decode_image(b"P6\n3 2\n255\n\x00\x01")  # truncated pixel data
    with pytest.raises(ValueError):
        decode_image(b"")


def test_streaming_image_decode_e2e(spark, tmp_path):
    """The REAL image decoder under Structured Streaming: binary-encoded
    parquet blobs stream through extract_image_features (availableNow) —
    decode runs inside the micro-batch Arrow kernel, corrupt blobs yield
    NULL features, and the sink carries pixel-true channel means."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        extract_image_features,
    )

    src = str(tmp_path / "media_src")
    rows = [
        (1, _encode_ppm_p6(_PIXELS)),
        (2, _encode_bmp_24(_PIXELS)),
        (3, b"\x89PNG corrupt"),
    ]
    spark.createDataFrame(rows, "doc_id long, media_bytes binary").write.parquet(src)

    stream = spark.readStream.schema("doc_id long, media_bytes binary").parquet(src)
    feats = extract_image_features(stream)
    sink, ckpt = str(tmp_path / "feat_sink"), str(tmp_path / "feat_ckpt")
    q = (
        feats.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = {r.doc_id: r for r in spark.read.parquet(sink).collect()}
    for doc_id in (1, 2):
        assert (out[doc_id].img_width, out[doc_id].img_height) == (3, 2)
        assert (out[doc_id].mean_r, out[doc_id].mean_g, out[doc_id].mean_b) == (
            62.5, 67.5, 72.5,
        )
    assert out[3].img_width is None and out[3].mean_r is None


def test_sample_frames_video(spark):
    """Frame sampling: every_k-th frame of a concatenated-P6 video blob
    explodes into its own row; corrupt videos contribute zero rows."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        decode_image,
        sample_frames,
        split_ppm_frames,
    )

    frames = [
        _encode_ppm_p6([[(f * 10 + c, 0, 0) for c in range(3)] for _ in range(2)])
        for f in range(5)
    ]
    video = b"".join(frames)
    assert split_ppm_frames(video) == frames
    with pytest.raises(ValueError):
        split_ppm_frames(video[:-5])  # truncated final frame
    with pytest.raises(ValueError):
        split_ppm_frames(b"")

    rows = [(1, video), (2, video[: len(video) - 3]), (3, frames[0])]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    out = sample_frames(df, every_k=2).collect()
    got = sorted((r.doc_id, r.frame_idx) for r in out)
    assert got == [(1, 0), (1, 2), (1, 4), (3, 0)]  # doc 2 corrupt -> no rows
    by = {(r.doc_id, r.frame_idx): bytes(r.frame_bytes) for r in out}
    assert by[(1, 2)] == frames[2]
    img = decode_image(by[(1, 4)])
    assert int(img[0, 1, 0]) == 41  # frame 4, pixel col 1, red channel


def _encode_wav_pcm16(samples_int16, rate=8000, channels=1) -> bytes:
    """Minimal RIFF/WAVE PCM16 encoder for fixtures."""
    import struct

    data = b"".join(struct.pack("<h", s) for s in samples_int16)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16)
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_wav_roundtrip():
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        decode_wav,
    )

    samples, rate, n_ch = decode_wav(_encode_wav_pcm16([0, 16384, -32768, 32767]))
    assert (rate, n_ch) == (8000, 1)
    assert samples.shape == (4, 1)
    assert [round(v, 6) for v in samples[:, 0]] == [0.0, 0.5, -1.0, 0.999969]
    # stereo: interleaved frames split into channels
    st, _, ch2 = decode_wav(_encode_wav_pcm16([1, 2, 3, 4], channels=2))
    assert ch2 == 2 and st.shape == (2, 2)
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AIFF")
    with pytest.raises(ValueError):
        decode_wav(b"OggS compressed audio")


def test_audio_feature_extraction_e2e(spark):
    """WAV blobs through the Arrow kernel: rate/duration/RMS/peak for
    decodable blobs, NULLs for corrupt ones."""
    import math

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        extract_audio_features,
    )

    rows = [
        (1, _encode_wav_pcm16([16384, -16384, 16384, -16384])),  # square wave
        (2, b"not audio at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    out = {r.doc_id: r for r in extract_audio_features(df).collect()}
    r = out[1]
    assert (r.sample_rate, r.n_channels) == (8000, 1)
    assert r.duration_s == round(4 / 8000, 6)
    assert r.rms == 0.5 and r.peak == 0.5
    assert math.isnan(r.rms) is False
    assert out[2].sample_rate is None and out[2].rms is None


def test_resize_images_real(spark):
    """Real resize: decode -> nearest-neighbor resample -> P6 re-encode,
    all inside the Arrow kernel; corrupt blobs pass through untouched with
    NULL geometry."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        decode_image,
        resize_images,
    )

    rows = [
        (1, _encode_ppm_p6(_PIXELS)),  # 3x2 -> 6x4
        (2, _encode_bmp_24(_PIXELS)),  # BMP in, PPM out
        (3, b"not an image"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    out = {r.doc_id: r for r in resize_images(df, 6, 4).collect()}

    for doc_id in (1, 2):
        r = out[doc_id]
        assert (r.width, r.height) == (6, 4)
        img = decode_image(bytes(r.media_bytes))
        assert img.shape == (4, 6, 3)
        # 2x integer upscale: each source pixel becomes a 2x2 block
        for y in range(4):
            for x in range(6):
                assert tuple(int(c) for c in img[y, x]) == _PIXELS[y // 2][x // 2]
    assert out[3].width is None and bytes(out[3].media_bytes) == b"not an image"

    # downscale to 1x1 picks the geometrically nearest (center-rule) pixel
    one = resize_images(
        spark.createDataFrame(rows[:1], "doc_id long, media_bytes binary"), 1, 1
    ).collect()[0]
    img1 = decode_image(bytes(one.media_bytes))
    assert img1.shape == (1, 1, 3)
    assert tuple(int(c) for c in img1[0, 0]) == _PIXELS[1][1]


def test_image_feature_extraction_e2e(spark, tmp_path):
    """Generated PPM/BMP files through the Arrow kernel end-to-end:
    dims + channel means for decodable blobs, NULL features for corrupt
    ones — one mapInPandas stage, no shuffle."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.multimodal import (
        extract_image_features,
    )

    rows = [
        (1, _encode_ppm_p6(_PIXELS)),
        (2, _encode_bmp_24(_PIXELS)),
        (3, b"\x89PNG not decodable"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media_bytes binary")
    out = {r.doc_id: r for r in extract_image_features(df).collect()}
    for doc_id in (1, 2):  # same pixels, different container format
        r = out[doc_id]
        assert (r.img_width, r.img_height) == (3, 2)
        assert (r.mean_r, r.mean_g, r.mean_b) == (62.5, 67.5, 72.5)
    assert out[3].img_width is None and out[3].mean_r is None


def test_progress_listener_records_epochs(spark, landing, tmp_path):
    from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.metrics import (
        ProgressRecorder,
    )

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        stream = stream_observations(spark, landing, OBS_SCHEMA)
        sink = str(tmp_path / "msink")
        ckpt = str(tmp_path / "mckpt")
        q = run_available_now(
            stream, foreach_batch_pipeline(lambda df: df, sink), ckpt
        )
        q.awaitTermination(120)
        # listener callbacks are async; progress may trail termination
        import time as _t
        for _ in range(40):
            if rec.events:
                break
            _t.sleep(0.25)
    finally:
        spark.streams.removeListener(rec)
    assert rec.events, "no progress events captured"
    pdf = rec.progress_df(spark)
    rows = pdf.collect()
    assert sum(r.num_input_rows for r in rows) > 0
    assert all(r.batch_id >= 0 for r in rows)
    # stream_observations puts a watermark on the stream
    assert all(r.watermark for r in rows)


def test_watermark_drops_late_data_across_epochs(spark, tmp_path):
    """Append-mode windowed aggregation with a watermark: a row arriving in
    a later epoch whose event time is older than (max_seen - watermark)
    must NOT reopen its (already emitted) window — SURVEY §2.9's late-data
    contract, which the reference lacks entirely."""
    d = tmp_path / "wland"
    d.mkdir()
    schema = "data_datetime timestamp, event_type string, value double"
    sink = str(tmp_path / "wsink")
    ckpt = str(tmp_path / "wckpt")

    def run_pass():
        stream = (
            spark.readStream.schema(schema).json(str(d))
            .withWatermark("data_datetime", "10 minutes")
        )
        agg = (
            stream.groupBy(F.window("data_datetime", "1 hour").alias("w"), "event_type")
            .count()
            .select(F.col("w.start").alias("ws"), "event_type", "count")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # epoch 1: two events at 01:00h and one at 05:00h — watermark advances
    # to 04:50, so the 01:00 window is finalized and emitted.
    (d / "b1.json").write_text(
        '{"data_datetime": "2024-12-01T01:10:00", "event_type": "click", "value": 1.0}\n'
        '{"data_datetime": "2024-12-01T01:20:00", "event_type": "click", "value": 1.0}\n'
        '{"data_datetime": "2024-12-01T05:00:00", "event_type": "click", "value": 1.0}\n'
    )
    run_pass()
    first = {(r.ws, r.event_type): r["count"] for r in spark.read.parquet(sink).collect()}
    import datetime as dt
    w1 = dt.datetime(2024, 12, 1, 1, 0)
    assert first.get((w1, "click")) == 2  # finalized with both on-time rows

    # epoch 2: a LATE row for the 01:00 window (behind the watermark).
    (d / "b2.json").write_text(
        '{"data_datetime": "2024-12-01T01:30:00", "event_type": "click", "value": 9.0}\n'
        '{"data_datetime": "2024-12-01T06:00:00", "event_type": "click", "value": 1.0}\n'
    )
    run_pass()
    rows = spark.read.parquet(sink).collect()
    # The 01:00 window was emitted once with count 2 and never re-emitted:
    w1_rows = [r for r in rows if r.ws == w1]
    assert len(w1_rows) == 1 and w1_rows[0]["count"] == 2


def test_streaming_session_window_e2e_with_late_data(spark, tmp_path):
    """Session windows end-to-end through a real micro-batch stream:
    sessions close when the watermark passes session_end (append mode), a
    late row behind the watermark cannot reopen an emitted session, and
    every emitted session matches the batch twin (both the native
    session_window batch run and the lag+cumsum sessionize oracle) —
    closing SURVEY §2.9's last declared capability."""
    import datetime as dt

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.timeseries import (
        session_stats,
    )

    d = tmp_path / "sland"
    d.mkdir()
    schema = "data_datetime timestamp, event_type string, value double"
    sink = str(tmp_path / "ssink")
    ckpt = str(tmp_path / "sckpt")

    def run_pass():
        stream = (
            spark.readStream.schema(schema).json(str(d))
            .withWatermark("data_datetime", "10 minutes")
        )
        agg = session_window_stats(
            stream, gap="30 minutes", event_time_col="data_datetime",
            key_cols=("event_type",), value_col="value",
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # pass 1: three events gap-merge into session A [01:00, 01:55); the
    # 03:00 event advances the watermark to 02:50 > 01:55, finalizing A.
    (d / "b1.json").write_text(
        '{"data_datetime": "2024-12-01T01:00:00", "event_type": "click", "value": 1.5}\n'
        '{"data_datetime": "2024-12-01T01:10:00", "event_type": "click", "value": 2.25}\n'
        '{"data_datetime": "2024-12-01T01:25:00", "event_type": "click", "value": 3.0}\n'
        '{"data_datetime": "2024-12-01T03:00:00", "event_type": "click", "value": 1.0}\n'
    )
    run_pass()
    a_start = dt.datetime(2024, 12, 1, 1, 0)
    out1 = {r.session_start: r for r in spark.read.parquet(sink).collect()}
    assert set(out1) == {a_start}
    a = out1[a_start]
    assert a.session_end == dt.datetime(2024, 12, 1, 1, 55)
    assert a.n_obs == 3 and a.sum_value == 6.75

    # pass 2: a late row inside session A's span but behind the watermark
    # is dropped; the 05:00 event pushes the watermark past session B's
    # end (03:30), emitting it.
    (d / "b2.json").write_text(
        '{"data_datetime": "2024-12-01T01:05:00", "event_type": "click", "value": 99.0}\n'
        '{"data_datetime": "2024-12-01T05:00:00", "event_type": "click", "value": 2.0}\n'
    )
    run_pass()
    rows = spark.read.parquet(sink).collect()
    by_start = {}
    for r in rows:
        assert r.session_start not in by_start, "session emitted twice"
        by_start[r.session_start] = r
    b_start = dt.datetime(2024, 12, 1, 3, 0)
    assert set(by_start) == {a_start, b_start}
    assert by_start[a_start].n_obs == 3 and by_start[a_start].sum_value == 6.75
    assert by_start[b_start].n_obs == 1 and by_start[b_start].sum_value == 1.0

    # batch parity on the on-time rows: every EMITTED session must equal
    # both the native batch session_window result and the lag+cumsum
    # sessionize composition (the DuckDB-oracle-paired operator).
    ontime = spark.createDataFrame(
        [
            (dt.datetime(2024, 12, 1, 1, 0), "click", 1.5),
            (dt.datetime(2024, 12, 1, 1, 10), "click", 2.25),
            (dt.datetime(2024, 12, 1, 1, 25), "click", 3.0),
            (dt.datetime(2024, 12, 1, 3, 0), "click", 1.0),
            (dt.datetime(2024, 12, 1, 5, 0), "click", 2.0),
        ],
        schema,
    )
    batch = {
        r.session_start: r
        for r in session_window_stats(
            ontime, gap="30 minutes", event_time_col="data_datetime",
            key_cols=("event_type",), value_col="value",
        ).collect()
    }
    for start, r in by_start.items():
        assert batch[start].n_obs == r.n_obs
        assert batch[start].sum_value == r.sum_value
        assert batch[start].session_end == r.session_end
    lag_based = {
        r.session_start: r
        for r in session_stats(
            ontime, key="event_type", ts="data_datetime",
            gap_seconds=1800, value_col="value",
        ).collect()
    }
    for start, r in by_start.items():
        assert lag_based[start].n_events == r.n_obs
        assert lag_based[start].sum_value == r.sum_value
