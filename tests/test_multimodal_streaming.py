"""Multimodal binary-column ops + streaming dress."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fetcho_spark import fixtures as fx
from fetcho_spark.operators import multimodal as MM


def _images(spark, n=12):
    return spark.createDataFrame(fx.gen_images(n), fx.IMAGES_SCHEMA)


@pytest.mark.spark
def test_image_features(spark):
    from fetcho_spark.functions.pure_codec import PureCodec
    # one real PNG beside the stand-in rows: the decoder follows the bytes
    real = list(fx.gen_images(1, encode=PureCodec.encode)[0])
    assert bytes(real[1][:4]) == b"\x89PNG"
    real[0] = "real-png"
    imgs = _images(spark).unionByName(
        spark.createDataFrame([tuple(real)], fx.IMAGES_SCHEMA))
    feats = MM.image_features(imgs).collect()
    assert len(feats) == 13
    by = {r["image_id"]: r for r in feats}
    assert by["real-png"]["fmt"] == "png"
    # features line up with the stored metadata + stored phash
    stored = {r["image_id"]: r for r in imgs.collect()}
    for iid, r in by.items():
        assert (r["w"], r["h"], r["fmt"]) == \
            (stored[iid]["w"], stored[iid]["h"], stored[iid]["fmt"])
        assert r["phash"] == stored[iid]["phash"]
        assert 0.0 <= r["brightness"] <= 255.0


@pytest.mark.spark
def test_image_resize(spark):
    bad = spark.createDataFrame([("bad", bytearray(b"nope"))],
                                "image_id string, bytes binary")
    imgs = _images(spark).select("image_id", "bytes").unionByName(bad)
    out = MM.image_resize(imgs, size=16).collect()
    assert len(out) == 13
    from fetcho_spark.functions.codec import decode
    for r in out:
        if r["image_id"] == "bad":
            assert r["bytes"] is None and r["w"] is None
            continue
        px, fmt = decode(bytes(r["bytes"]))
        assert px.shape == (16, 16, 3)


@pytest.mark.spark
def test_video_frame_sampling(spark):
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
              for _ in range(25)]
    vid = MM.fake_video(frames)
    df = spark.createDataFrame([("v1", bytearray(vid))],
                               "video_id string, bytes binary")
    out = MM.video_frame_sample(df, every_n=10).collect()
    assert sorted(r["frame_idx"] for r in out) == [0, 10, 20]
    from fetcho_spark.functions.codec import decode
    got, _ = decode(bytes(out[0]["frame_bytes"]))
    assert (got == frames[0]).all()


@pytest.mark.spark
def test_video_avi_demux(spark):
    """Real RIFF/AVI demux (stdlib chunk walk): a hand-built MJPEG-style
    AVI yields its frame payloads in order at the sampling cadence; a
    non-AVI, non-FSVD container still raises honestly."""
    frames = [f"frame-{i}-payload".encode() + (b"x" if i % 2 else b"")
              for i in range(23)]                 # odd sizes test padding
    avi = MM.mjpeg_avi(frames)
    got = list(MM.demux_avi(avi))
    assert [i for i, _ in got] == list(range(23))
    assert [f for _, f in got] == frames
    df = spark.createDataFrame(
        [("v1", bytearray(avi))], "video_id string, bytes binary")
    out = {r["frame_idx"]: bytes(r["frame_bytes"])
           for r in MM.video_frame_sample(df, every_n=10).collect()}
    assert sorted(out) == [0, 10, 20]
    assert out[10] == frames[10]
    # MP4 now demuxes for REAL (mediameta.mp4_video_samples): a moov-less
    # stub is a parse error, not a needs-ffmpeg stub
    with pytest.raises(Exception, match="no moov"):
        df2 = spark.createDataFrame(
            [("v2", bytearray(b"\x00\x00\x00\x18ftypisom-not-supported"))],
            "video_id string, bytes binary")
        MM.video_frame_sample(df2).collect()
    # non-container junk still raises the honest needs-ffmpeg stub
    with pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        df3 = spark.createDataFrame(
            [("v3", bytearray(b"random-not-a-video"))],
            "video_id string, bytes binary")
        MM.video_frame_sample(df3).collect()


def _wav_bytes(samples: np.ndarray, rate: int = 8000,
               nch: int = 1, width: int = 2) -> bytes:
    """Serialize float samples [-1, 1] to PCM WAV via stdlib wave."""
    import io
    import wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nch)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            w.writeframes((samples * 32767).astype("<i2").tobytes())
        elif width == 1:
            w.writeframes(((samples * 127) + 128).astype(np.uint8).tobytes())
        else:
            w.writeframes((samples * (2**31 - 1)).astype("<i4").tobytes())
    return buf.getvalue()


@pytest.mark.spark
def test_audio_features_pcm(spark):
    """Real WAV/PCM decode via stdlib wave: a 440 Hz sine at 8 kHz has a
    known duration, RMS ≈ 1/√2 of the amplitude, and ZCR ≈ 2f/rate."""
    rate, secs, freq, amp = 8000, 2.0, 440.0, 0.5
    t = np.arange(int(rate * secs)) / rate
    sine = amp * np.sin(2 * np.pi * freq * t)
    silence = np.zeros(rate)                      # 1 s of silence
    rows = [("sine", bytearray(_wav_bytes(sine, rate))),
            ("quiet", bytearray(_wav_bytes(silence, rate))),
            ("stereo", bytearray(_wav_bytes(
                np.stack([sine, sine], 1).reshape(-1), rate, nch=2))),
            ("u8", bytearray(_wav_bytes(sine, rate, width=1))),
            ("garbage", bytearray(b"\x00\x01nonsense-not-audio"))]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in MM.audio_features(df).collect()}
    s = got["sine"]
    assert abs(s["duration_s"] - secs) < 1e-9
    assert abs(s["rms"] - amp / np.sqrt(2)) < 0.01
    assert abs(s["zcr"] - 2 * freq / rate) < 0.005
    assert (s["sample_rate"], s["n_channels"]) == (rate, 1)
    assert got["quiet"]["rms"] == 0.0 and got["quiet"]["zcr"] == 0.0
    assert abs(got["stereo"]["rms"] - s["rms"]) < 0.01
    assert got["stereo"]["n_channels"] == 2
    assert abs(got["u8"]["zcr"] - s["zcr"]) < 0.01
    assert got["garbage"]["duration_s"] is None   # unparseable → null row


@pytest.mark.spark
def test_audio_compressed_null_row_default_strict_raises(spark):
    """Compressed-audio magic must NOT abort the job by default (ADVICE
    r3): it yields a null feature row with err='needs-ffmpeg' while WAV
    rows in the same batch still decode; strict=True restores the honest
    fail-fast NotImplementedError."""
    rate = 8000
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(rate) / rate)
    df = spark.createDataFrame(
        [("m", bytearray(b"ID3\x04rest-of-an-mp3")),
         ("o", bytearray(b"OggS\x00fake")),
         ("w", bytearray(_wav_bytes(sine, rate))),
         ("g", bytearray(b"\x00\x01junk"))],
        "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in MM.audio_features(df).collect()}
    assert got["m"]["err"] == got["o"]["err"] == "needs-ffmpeg"
    assert got["m"]["duration_s"] is None
    assert got["g"]["err"] == "unparseable"
    assert got["w"]["err"] is None and got["w"]["duration_s"] > 0
    with pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        MM.audio_features(df, strict=True).collect()


@pytest.mark.spark
def test_avi_hex_stream_ids_demuxed(spark):
    """AVI stream ids are two HEX digits: chunks of stream 0x0A ('0Adc')
    must demux like stream 00 (ADVICE r3 — decimal-only skipped them)."""
    frames = [b"\xff\xd8frame-a\xff\xd9", b"\xff\xd8frame-b\xff\xd9"]
    avi = MM.mjpeg_avi(frames)
    hexed = avi.replace(b"00dc", b"0Adc")
    got = [f for _, f in MM.demux_avi(hexed)]
    assert got == frames
    # non-hex ids (e.g. 'ixNN' index chunks would be 'NNix'; 'JUNK') skip
    junky = avi.replace(b"00dc", b"zzdc")
    assert [f for _, f in MM.demux_avi(junky)] == []


@pytest.mark.spark
def test_windowed_event_counts_batch_semantics(spark):
    import datetime as dt
    from fetcho_spark.streaming.loop import windowed_event_counts
    t0 = dt.datetime(2026, 1, 1)
    rows = [(t0 + dt.timedelta(minutes=m), "click") for m in (1, 5, 11, 25)]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {(r["window_start"].minute, r["event_type"]): r["n"]
           for r in windowed_event_counts(df, "10 minutes").collect()}
    assert out[(0, "click")] == 2
    assert out[(10, "click")] == 1
    assert out[(20, "click")] == 1


@pytest.mark.spark
@pytest.mark.slow
def test_stream_crawl_availablenow(spark, tmp_path):
    """The foreachBatch dress: frontier files streamed in → rounds run."""
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine, FRONTIER_SCHEMA
    from fetcho_spark.streaming.loop import stream_crawl

    cat = Catalog(spark, str(tmp_path / "cat"))
    cfg = CrawlConfig(max_chunk=20, n_seen_buckets=4, bits_per_bucket=1 << 12)
    eng = CrawlEngine(spark, cat, cfg)
    wg = fx.gen_webgraph(30, 6, 10)
    eng.init([], fx.webgraph_df(spark, 30, 6, 10), _images(spark, 10),
             fx.robots_df(spark, 6), fx.hosts_df(spark, 6))
    seeds = fx.gen_seeds(wg, 4)
    fdir = str(tmp_path / "stream-in")
    spark.createDataFrame(
        [(u, None, 0) for u in seeds],
        FRONTIER_SCHEMA).write.parquet(fdir)
    q = stream_crawl(eng, fdir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert eng.last_completed_round() is not None
    assert cat.read("fetched").count() > 0


def test_g711_luts_match_audioop_bit_exact():
    """Our μ-law/A-law LUTs (built from the G.711 formulas) must equal
    stdlib audioop's independent implementation on ALL 256 codes."""
    import audioop
    codes = bytes(range(256))
    exp_u = np.frombuffer(audioop.ulaw2lin(codes, 2), "<i2")
    exp_a = np.frombuffer(audioop.alaw2lin(codes, 2), "<i2")
    assert (MM._ULAW_LUT == exp_u).all()
    assert (MM._ALAW_LUT == exp_a).all()


def _riff_wav(fmt_tag, nch, rate, bits, block_align, payload):
    import struct
    fmt = struct.pack("<HHIIHH", fmt_tag, nch, rate,
                      rate * block_align, block_align, bits)
    body = (b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.mark.spark
def test_audio_features_g711_and_float_wav(spark):
    """μ-law / A-law / float32 WAVs (which stdlib wave rejects) decode for
    real: features match the PCM encoding of the same sine."""
    import audioop
    rate = 8000
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(2 * rate) / rate)
    pcm16 = (sine * 32767).astype("<i2").tobytes()
    rows = [
        ("pcm", bytearray(_wav_bytes(sine, rate))),
        ("ulaw", bytearray(_riff_wav(7, 1, rate, 8, 1,
                                     audioop.lin2ulaw(pcm16, 2)))),
        ("alaw", bytearray(_riff_wav(6, 1, rate, 8, 1,
                                     audioop.lin2alaw(pcm16, 2)))),
        ("f32", bytearray(_riff_wav(3, 1, rate, 32, 4,
                                    sine.astype("<f4").tobytes()))),
    ]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in MM.audio_features(df).collect()}
    ref = got["pcm"]
    for k in ("ulaw", "alaw", "f32"):
        r = got[k]
        assert r["err"] is None, k
        assert abs(r["duration_s"] - 2.0) < 1e-6, k
        assert abs(r["rms"] - ref["rms"]) < 0.01, k       # companding noise
        assert abs(r["zcr"] - ref["zcr"]) < 0.01, k
        assert r["sample_rate"] == rate


def _ima_encode(samples_i16, block_samples=505):
    """Independent forward IMA quantizer (spec direction; the module
    implements the inverse): 4-byte block header + packed nibbles."""
    steps, idx_tab = MM._IMA_STEPS, MM._IMA_INDEX
    out = bytearray()
    i = 0
    index = 0
    while i < len(samples_i16):
        block = samples_i16[i:i + block_samples]
        i += block_samples
        pred = int(block[0])
        out += int(pred).to_bytes(2, "little", signed=True)
        out += bytes([index, 0])
        nibbles = []
        for s in block[1:]:
            step = int(steps[index])
            diff = int(s) - pred
            code = 0
            if diff < 0:
                code = 8
                diff = -diff
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            # reconstruct exactly like the decoder to stay in sync
            d = step >> 3
            if code & 1:
                d += step >> 2
            if code & 2:
                d += step >> 1
            if code & 4:
                d += step
            pred = pred - d if code & 8 else pred + d
            pred = max(-32768, min(32767, pred))
            index = min(max(index + int(idx_tab[code & 0x0F]), 0), 88)
            nibbles.append(code)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[::2], nibbles[1::2]):
            out.append(lo | (hi << 4))
    return bytes(out)


@pytest.mark.spark
def test_audio_features_ima_adpcm(spark):
    rate = 8000
    sine = 0.5 * np.sin(2 * np.pi * 440.0 * np.arange(rate) / rate)
    s16 = (sine * 32767).astype(np.int16)
    payload = _ima_encode(s16)
    block_align = 4 + (505 - 1 + 1) // 2          # header + nibble bytes
    wav = _riff_wav(0x11, 1, rate, 4, block_align, payload)
    df = spark.createDataFrame([("ima", bytearray(wav))],
                               "audio_id string, bytes binary")
    r = MM.audio_features(df).collect()[0]
    assert r["err"] is None
    assert abs(r["duration_s"] - 1.0) < 0.01
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 0.02    # ADPCM noise floor
    assert abs(r["zcr"] - 2 * 440.0 / rate) < 0.01


def _ima_stereo_payload(left_i16, right_i16, block_samples=505):
    """Stereo WAVE-IMA payload per the Microsoft IMAADPCM block layout:
    one 4-byte header per channel, then 4-byte nibble words round-robin
    (L, R, L, R, …). Built by interleaving two independently mono-encoded
    channels — per-channel quantizer state is independent by spec."""
    mono_align = 4 + (block_samples - 1 + 1) // 2
    out = bytearray()
    pl, pr = _ima_encode(left_i16, block_samples), \
        _ima_encode(right_i16, block_samples)
    for o in range(0, len(pl), mono_align):
        bl, br = pl[o:o + mono_align], pr[o:o + mono_align]
        out += bl[:4] + br[:4]
        for w in range(4, max(len(bl), len(br)), 4):
            out += bl[w:w + 4].ljust(4, b"\x00")
            out += br[w:w + 4].ljust(4, b"\x00")
    return bytes(out)


def test_ima_stereo_block_channels_match_mono_bit_exact():
    """Decoding a stereo block must equal decoding each channel's mono
    block: same headers, same nibble words, independent state."""
    rng = np.random.default_rng(7)
    left = (rng.standard_normal(505) * 8000).astype(np.int16)
    right = (rng.standard_normal(505) * 2500).astype(np.int16)
    stereo = _ima_stereo_payload(left, right)
    flat = MM._ima_decode_block(stereo, nch=2)
    monoL = MM._ima_decode_block(_ima_encode(left))
    monoR = MM._ima_decode_block(_ima_encode(right))
    assert np.array_equal(flat[0::2], monoL)
    assert np.array_equal(flat[1::2], monoR)


@pytest.mark.spark
def test_audio_features_ima_adpcm_stereo(spark):
    """Stereo IMA ADPCM (formerly an honest NotImplementedError, ADVICE
    r3): features must match the stdlib-decoded stereo PCM of the same
    two sines within the ADPCM noise floor."""
    rate = 8000
    t = np.arange(2 * 505) / rate
    left = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    right = 0.25 * np.sin(2 * np.pi * 880.0 * t)
    payload = _ima_stereo_payload((left * 32767).astype(np.int16),
                                  (right * 32767).astype(np.int16))
    block_align = 8 + 2 * ((505 - 1 + 1) // 2)
    wav = _riff_wav(0x11, 2, rate, 4, block_align, payload)
    pcm = _wav_bytes(np.stack([left, right], axis=1), rate, nch=2)
    df = spark.createDataFrame(
        [("ad", bytearray(wav)), ("pcm", bytearray(pcm))],
        "audio_id string, bytes binary")
    got = {r["audio_id"]: r for r in MM.audio_features(df).collect()}
    r, ref = got["ad"], got["pcm"]
    assert r["err"] is None
    assert r["n_channels"] == 2
    assert abs(r["duration_s"] - ref["duration_s"]) < 1e-6
    assert abs(r["rms"] - ref["rms"]) < 0.02
    # zcr of a two-tone MIX flips on ADPCM noise near zero crossings —
    # channel exactness is pinned bit-exact by the structural test above
    assert abs(r["zcr"] - ref["zcr"]) < 0.03
