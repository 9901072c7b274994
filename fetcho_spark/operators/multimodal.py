"""Multimodal column operators (image / audio / video as opaque binary).

Treats media as ``binary`` payload columns with typed metadata, processed by
Arrow-batched ``mapInPandas`` / pandas UDFs — the Spark-side plumbing
(schemas, batch shapes, partition behavior) is real and tested. Decoders:

- **image**: ``functions/codec.decode`` picks the decoder from each
  payload's magic bytes — the deterministic stand-in for ``FSIM`` bytes,
  the REAL from-scratch PNG/JPEG/GIF/WebP/BMP/TIFF codecs for the rest.
  Re-encoding ops write the stand-in (``codec.encode``).
- **audio**: REAL for uncompressed WAV/PCM (stdlib ``wave`` + numpy),
  G.711/float32/IMA-ADPCM WAVE, and FLAC (from-scratch RFC 9639 decoder,
  functions/flac.py); mp3/ogg decode genuinely needs ffmpeg/libsndfile
  (container metadata still extracts).
- **video**: REAL RIFF/AVI container demux (stdlib chunk walk; an MJPEG
  AVI yields standalone JPEG payloads per frame) plus the FSVD test
  container; inter-frame codec *decode* (H.264 …) raises — it genuinely
  needs ffmpeg/pyav.

Ops: decode+feature-extract, resize (numpy), video frame-sampling (stub
decode, real sampling/batching), and content-addressed chunking for large
payloads (1 MiB cap parity with the reference's body cap, P15).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import decode, encode, phash64

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("brightness", T.DoubleType()),
    T.StructField("phash", T.LongType()),
])


def image_features(images: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Decode + per-image features, one Arrow batch at a time. Output is a
    fresh narrow frame (never pass wide exact-int columns through pandas).
    Undecodable payloads yield an all-null feature row."""
    src = images.select(F.col(id_col).alias("image_id"), F.col(bytes_col)
                        .alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, fmt = decode(bytes(data))
                except Exception:
                    rows.append((iid, None, None, None, None, None, None,
                                 None, None))
                    continue
                m = px.reshape(-1, 3).mean(axis=0)
                rows.append((iid, px.shape[1], px.shape[0], fmt,
                             float(m[0]), float(m[1]), float(m[2]),
                             float(m.mean()), phash64(px)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_FEATURES_SCHEMA.fields])

    return src.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])


def image_resize(images: DataFrame, size: int,
                 id_col: str = "image_id",
                 bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbour resize to (size×size), re-encoded lossless
    through the stand-in ``codec.encode`` — deterministic numpy.
    Undecodable payloads yield ``(image_id, None, None, None)``."""
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, _ = decode(bytes(data))
                except Exception:
                    out.append((iid, None, None, None))
                    continue
                ys = (np.arange(size) * px.shape[0]) // size
                xs = (np.arange(size) * px.shape[1]) // size
                small = px[ys][:, xs]
                out.append((iid, bytearray(encode(small, "png")), size, size))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h"])

    return src.mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def video_frame_sample(videos: DataFrame, every_n: int = 10,
                       id_col: str = "video_id",
                       bytes_col: str = "bytes") -> DataFrame:
    """Frame sampling over an opaque video binary column.

    Four REAL demuxers run without ffmpeg: RIFF/AVI containers
    (:func:`demux_avi` — pure-stdlib chunk walk; an MJPEG AVI yields raw
    JPEG frame payloads), ISO-BMFF/MP4 (``mediameta.mp4_video_samples`` —
    stsz/stsc/stco sample-table join; yields codec packets), animated GIF
    (``pure_codec.gif_frames`` — the one animation format decoded
    END-TO-END here: full GIF89a rendering model incl. transparency and
    disposal, sampled frames re-emitted as standalone PNG payloads), and
    the deterministic FSVD test container (:func:`_fake_demux`).
    Inter-frame *decode* of compressed codecs (H.264 etc.) genuinely
    needs ffmpeg/pyav and still raises — those sampled frames come back
    as opaque bytes for a downstream decoder (``codec.decode`` reads
    MJPEG frames directly).
    """
    from ..functions.mediameta import mp4_video_samples
    src = videos.select(F.col(id_col).alias("video_id"),
                        F.col(bytes_col).alias("bytes"))

    def _gif_demux(b: bytes):
        from ..functions.pure_codec import gif_frames, png_encode
        for i, (frame, _delay) in enumerate(gif_frames(b)):
            yield i, png_encode(frame)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                b = bytes(data)
                if b[:4] == b"RIFF":
                    demux = demux_avi
                elif len(b) >= 12 and b[4:8] == b"ftyp":
                    demux = mp4_video_samples
                elif b[:6] in (b"GIF87a", b"GIF89a"):
                    demux = _gif_demux
                else:
                    demux = _fake_demux
                for idx, frame in demux(b):
                    if idx % every_n == 0:
                        rows.append((vid, idx, bytearray(frame)))
            yield pd.DataFrame(rows, columns=["video_id", "frame_idx",
                                              "frame_bytes"])

    return src.mapInPandas(run, FRAME_SCHEMA)


IMAGE_META_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("err", T.StringType()),
])


def image_metadata(images: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Dimensions + format from image HEADERS only (mediameta.probe_image:
    JPEG SOF marker, PNG IHDR, GIF, WebP VP8/VP8L/VP8X, BMP) — answers the
    resolution-distribution / thumbnail-filter questions for a 100 TB
    corpus at I/O cost, decoding nothing. Formats we cannot decode at all
    (lossy-VP8 WebP; VP8L/GIF decode via the pure codec) report dims here. Unrecognized → err row."""
    from ..functions.mediameta import probe_image
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    m = probe_image(bytes(data))
                    rows.append((iid, m["format"], m["width"],
                                 m["height"], None))
                except Exception:
                    rows.append((iid, None, None, None, "unrecognized"))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_META_SCHEMA.fields])

    return src.mapInPandas(run, IMAGE_META_SCHEMA)


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType()),
    T.StructField("container", T.StringType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("codec", T.StringType()),
    T.StructField("err", T.StringType()),
])


def video_metadata(videos: DataFrame, id_col: str = "video_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Container metadata for every video payload, no decode: MP4-family
    (ISO-BMFF box walk → mvhd duration, tkhd dims, stsd codec fourcc) and
    RIFF/AVI (avih) via functions/mediameta; the FSVD test container
    reports its frame count. At corpus scale this is the cheap first pass
    (stats / filtering / decode-budget planning) before any codec work;
    unrecognized bytes yield a null row with err, never a failed job."""
    from ..functions.mediameta import probe_video
    src = videos.select(F.col(id_col).alias("video_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        for pdf in batches:
            rows = []
            for vid, data in zip(pdf["video_id"], pdf["bytes"]):
                b = bytes(data)
                if b[:4] == _VMAGIC:
                    (n,) = struct.unpack("<I", b[4:8])
                    rows.append((vid, "fsvd", float(n), None, None,
                                 "fsim", None))
                    continue
                try:
                    m = probe_video(b)
                    rows.append((vid, m["format"], m.get("duration_s"),
                                 m.get("width"), m.get("height"),
                                 m.get("codec"), None))
                except Exception:
                    rows.append((vid, None, None, None, None, None,
                                 "unrecognized"))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              VIDEO_META_SCHEMA.fields])

    return src.mapInPandas(run, VIDEO_META_SCHEMA)


def demux_avi(data: bytes):
    """RIFF/AVI demux, stdlib-only: walk the chunk tree to the ``movi``
    LIST and yield (frame_index, payload) for each video-stream chunk
    (``NNdc``/``NNdb`` compressed/uncompressed frame data). Chunks are
    word-aligned (odd sizes pad one byte). This is a container parse, not
    a codec: MJPEG AVIs yield standalone JPEG bytes per frame; inter-frame
    codecs yield packets a real decoder must consume."""
    import struct
    if data[:4] != b"RIFF" or data[8:12] not in (b"AVI ", b"AVIX"):
        raise NotImplementedError(
            "unsupported video container (RIFF/AVI and the FSVD test "
            "container demux natively; other formats need ffmpeg/pyav)")
    idx = 0

    def walk(off: int, end: int):
        nonlocal idx
        while off + 8 <= end:
            fourcc = data[off:off + 4]
            (size,) = struct.unpack("<I", data[off + 4:off + 8])
            body0, body1 = off + 8, off + 8 + size
            if fourcc == b"LIST":
                list_type = data[body0:body0 + 4]
                if list_type in (b"movi", b"rec "):
                    yield from walk(body0 + 4, body1)
            # stream ids are TWO HEX digits ('00dc' … 'FFdc'): streams 10+
            # use A-F (ADVICE r3 — decimal-only silently skipped them)
            elif fourcc[2:4] in (b"dc", b"db") and all(
                    c in b"0123456789abcdefABCDEF" for c in fourcc[:2]):
                yield idx, data[body0:body1]
                idx += 1
            off = body1 + (size & 1)  # word alignment

    yield from walk(12, len(data))


def mjpeg_avi(frames: list[bytes], w: int = 16, h: int = 16,
              fps: int = 25) -> bytes:
    """Minimal valid RIFF/AVI wrapper around per-frame payloads (test/
    fixture builder — the inverse of :func:`demux_avi`): hdrl with one
    video stream, movi with one ``00dc`` chunk per frame."""
    import struct

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    avih = struct.pack("<14I", 1_000_000 // fps, 0, 0, 0x10, len(frames),
                       0, 1, 0, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<I", 0)
            + struct.pack("<HHIIIIIIII", 0, 0, 0, 1, fps, 0, len(frames),
                          0, 0, 0) + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    return chunk(b"RIFF", b"AVI " + hdrl + movi)


_VMAGIC = b"FSVD"


def fake_video(frames: list[np.ndarray]) -> bytes:
    """Build a stand-in 'video': FSVD + count + length-prefixed FSIM frames."""
    import struct
    parts = [_VMAGIC, struct.pack("<I", len(frames))]
    for fr in frames:
        blob = encode(fr, "png")
        parts.append(struct.pack("<I", len(blob)))
        parts.append(blob)
    return b"".join(parts)


def _fake_demux(data: bytes):
    import struct
    if data[:4] != _VMAGIC:
        raise NotImplementedError(
            "real video demux requires ffmpeg/pyav (not in this container)")
    (n,) = struct.unpack("<I", data[4:8])
    off = 8
    for i in range(n):
        (ln,) = struct.unpack("<I", data[off:off + 4])
        off += 4
        yield i, data[off:off + ln]
        off += ln


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("audio_id", T.StringType()),
    T.StructField("duration_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("zcr", T.DoubleType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("err", T.StringType()),   # null = decoded; else reason
])

# magic prefixes of compressed audio containers we cannot FULLY decode —
# mp3/ogg genuinely need ffmpeg/libsndfile; FLAC is handled BEFORE this
# check by the repo's own from-scratch decoder (functions/flac.py) and only
# falls through here if its stream uses something the decoder rejects
_COMPRESSED_AUDIO_MAGIC = (b"ID3", b"\xff\xfb", b"\xff\xf3", b"\xff\xf2",
                           b"OggS", b"fLaC",
                           # ADTS AAC: syncword + layer 00 (± CRC, MPEG-2/4)
                           b"\xff\xf0", b"\xff\xf1", b"\xff\xf8", b"\xff\xf9")


def _flac_features(data: bytes) -> tuple[float, float, float, int, int]:
    """REAL FLAC decode (functions/flac.decode_flac — from-scratch RFC 9639
    implementation, CRC + STREAMINFO-MD5 verified) → the same feature
    contract as :func:`_wav_features`."""
    from ..functions.flac import decode_flac
    samples, rate, bps = decode_flac(data)
    x = samples.astype(np.float64) / float(1 << (bps - 1))
    nch = x.shape[1]
    x = x.mean(axis=1)
    dur = len(x) / rate if rate else 0.0
    if len(x) == 0:
        return dur, 0.0, 0.0, rate, nch
    rms = float(np.sqrt(np.mean(x * x)))
    if len(x) < 2:
        zcr = 0.0
    else:
        neg = x < 0
        zcr = float(np.mean(neg[1:] != neg[:-1]))
    return dur, rms, zcr, rate, nch


def _g711_luts():
    """256-entry decode LUTs for G.711 μ-law and A-law, built from the
    public companding formulas (cross-checked bit-exactly against stdlib
    audioop in tests — an independent implementation)."""
    codes = np.arange(256, dtype=np.int32)
    u = ~codes & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    ulaw = np.where(u & 0x80, -mag, mag).astype(np.int32)
    a = codes ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp, ((mant << 4) + 0x108) << np.maximum(exp - 1, 0),
                   (mant << 4) + 8)
    # A-law sign convention is INVERTED vs μ-law: 0x80 set = positive
    alaw = np.where(a & 0x80, mag, -mag).astype(np.int32)
    return ulaw, alaw


_ULAW_LUT, _ALAW_LUT = _g711_luts()

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int32)


def _ima_decode_block(block: bytes, nch: int = 1) -> np.ndarray:
    """One IMA-ADPCM block → flat channel-interleaved int16 samples, per
    the public DVI/IMA algorithm. WAVE multichannel layout (Microsoft
    IMAADPCM spec): one 4-byte state header per channel (pred:int16,
    index:u8, reserved), then 4-byte nibble words round-robin across
    channels — word *w* carries 8 consecutive samples of channel
    ``w % nch``; per-channel quantizer state is independent."""
    preds, idxs = [], []
    for c in range(nch):
        h = block[4 * c:4 * c + 4]
        preds.append(int(np.frombuffer(h[:2], "<i2")[0]))
        idxs.append(min(max(h[2], 0), 88))
    chans = [[preds[c]] for c in range(nch)]
    data = block[4 * nch:]
    for w in range(len(data) // 4 + (1 if len(data) % 4 else 0)):
        c = w % nch
        pred, index, out = preds[c], idxs[c], chans[c]
        for byte in data[4 * w:4 * w + 4]:
            for nib in (byte & 0x0F, byte >> 4):
                step = int(_IMA_STEPS[index])
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                index = min(max(index + int(_IMA_INDEX[nib]), 0), 88)
                out.append(pred)
        preds[c], idxs[c] = pred, index
    if nch == 1:
        return np.array(chans[0], dtype=np.int16)
    frames = min(len(ch) for ch in chans)
    arr = np.empty((frames, nch), dtype=np.int16)
    for c in range(nch):
        arr[:, c] = chans[c][:frames]
    return arr.reshape(-1)


def _wav_features_ext(data: bytes) -> tuple[float, float, float, int, int]:
    """Non-PCM WAVE formats the stdlib ``wave`` module rejects: G.711
    μ-law (tag 7) / A-law (tag 6) via LUT, IEEE float32 (tag 3), mono/multichannel
    IMA ADPCM (tag 0x11) via the DVI block algorithm. Same feature contract
    as :func:`_wav_features`."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAVE file")
    pos, fmt, payload = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (sz,) = np.frombuffer(data[pos + 4:pos + 8], "<u4")
        body = data[pos + 8:pos + 8 + sz]
        if tag == b"fmt ":
            fmt = np.frombuffer(body[:16], "<u2")  # view as 8 uint16
        elif tag == b"data":
            payload = body
        pos += 8 + int(sz) + (int(sz) & 1)
    if fmt is None or payload is None:
        raise ValueError("wav: missing fmt/data chunk")
    wtag = int(fmt[0])
    nch = int(fmt[1])
    rate = int(fmt[2]) | (int(fmt[3]) << 16)
    block_align = int(fmt[6])
    if wtag == 7:
        x = _ULAW_LUT[np.frombuffer(payload, np.uint8)] / 32768.0
    elif wtag == 6:
        x = _ALAW_LUT[np.frombuffer(payload, np.uint8)] / 32768.0
    elif wtag == 3:
        x = np.frombuffer(payload[: len(payload) // 4 * 4],
                          "<f4").astype(np.float64)
    elif wtag == 0x11:
        if nch < 1 or block_align <= 4 * nch:
            raise ValueError("wav: bad IMA-ADPCM block align")
        blocks = []
        for o in range(0, len(payload), block_align):
            b = payload[o:o + block_align]
            if len(b) <= 4 * nch:     # trailing fragment: headers only
                break
            blocks.append(_ima_decode_block(b, nch))
        x = (np.concatenate(blocks).astype(np.float64) / 32768.0
             if blocks else np.zeros(0))
    else:
        raise NotImplementedError(f"wav: format tag {wtag}")
    if nch > 1:
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    dur = len(x) / rate if rate else 0.0
    if len(x) == 0:
        return dur, 0.0, 0.0, rate, nch
    rms = float(np.sqrt(np.mean(x * x)))
    if len(x) < 2:
        zcr = 0.0
    else:
        neg = x < 0
        zcr = float(np.mean(neg[1:] != neg[:-1]))
    return dur, rms, zcr, rate, nch


def _wav_features(data: bytes) -> tuple[float, float, float, int, int]:
    """Uncompressed WAV/PCM → (duration_s, rms, zcr, rate, channels).

    stdlib ``wave`` + numpy only — no ffmpeg/libsndfile. Samples normalize
    to [-1, 1] (u8 centered at 128; i16/i32 two's-complement), channels
    average to a mono mix; ``rms`` is the root-mean-square of the mix and
    ``zcr`` the fraction of adjacent mix samples whose sign flips.
    """
    import io
    import wave
    with wave.open(io.BytesIO(data), "rb") as w:
        nch, width, rate, nframes = (w.getnchannels(), w.getsampwidth(),
                                     w.getframerate(), w.getnframes())
        raw = w.readframes(nframes)
    if width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
             - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    if nch > 1:
        x = x[: (len(x) // nch) * nch].reshape(-1, nch).mean(axis=1)
    dur = nframes / float(rate) if rate else 0.0
    if len(x) == 0:
        return dur, 0.0, 0.0, rate, nch
    rms = float(np.sqrt(np.mean(x * x)))
    if len(x) < 2:
        zcr = 0.0
    else:
        neg = x < 0
        zcr = float(np.mean(neg[1:] != neg[:-1]))
    return dur, rms, zcr, rate, nch


def audio_features(audio: DataFrame, id_col: str = "audio_id",
                   bytes_col: str = "bytes",
                   strict: bool = False) -> DataFrame:
    """Audio feature extraction over an opaque binary column.

    Uncompressed WAV/PCM decodes for real (stdlib ``wave`` + numpy — see
    :func:`_wav_features`), as do G.711/float32/IMA-ADPCM WAVE
    (:func:`_wav_features_ext`) and FLAC (:func:`_flac_features` — the
    repo's own RFC 9639 decoder, CRC- and MD5-verified). Every
    undecodable row yields a NULL feature row with a per-row ``err``
    reason instead of failing the job (ADVICE r3: one stray mp3 in a
    100 TB corpus must not abort the extraction): ``err='needs-ffmpeg'``
    for formats whose decode genuinely needs ffmpeg/libsndfile (mp3/ogg),
    ``err='unparseable'`` for garbage bytes, null ``err`` on success.
    ``strict=True`` restores the fail-fast contract: compressed magic
    raises ``NotImplementedError`` mid-job (the honest-stub behavior, for
    callers who'd rather crash than silently skip a modality).
    mapInPandas, Arrow batches, narrow output frame.
    """
    src = audio.select(F.col(id_col).alias("audio_id"),
                       F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, data in zip(pdf["audio_id"], pdf["bytes"]):
                b = bytes(data)
                if b[:4] == b"fLaC":
                    # full decode via the from-scratch FLAC codec; only a
                    # rejected stream falls through to metadata-only
                    try:
                        rows.append((aid, *_flac_features(b), None))
                        continue
                    except Exception:
                        pass
                if (any(b.startswith(m) for m in _COMPRESSED_AUDIO_MAGIC)
                        or (len(b) >= 12 and b[4:8] == b"ftyp")):
                    if strict:
                        raise NotImplementedError(
                            "compressed audio decode requires ffmpeg/"
                            "libsndfile (not in this container); WAV/PCM "
                            "decodes natively")
                    # no decode, but the CONTAINER metadata is real: rate/
                    # channels/duration from the spec headers (mp3 frame
                    # sync, FLAC STREAMINFO, Ogg id header + granule) —
                    # err='metadata-only' marks that rms/zcr need a real
                    # decoder while the filled fields are trustworthy
                    try:
                        from ..functions.mediameta import probe_audio
                        m = probe_audio(b)
                        rows.append((aid, m.get("duration_s"), None, None,
                                     m.get("sample_rate"),
                                     m.get("channels"), "metadata-only"))
                    except Exception:
                        rows.append((aid, None, None, None, None, None,
                                     "needs-ffmpeg"))
                    continue
                try:
                    dur, rms, zcr, rate, nch = _wav_features(b)
                except Exception:
                    try:
                        # stdlib wave rejects non-PCM tags: decode G.711
                        # μ/A-law, float32 and IMA ADPCM ourselves
                        dur, rms, zcr, rate, nch = _wav_features_ext(b)
                    except Exception:
                        rows.append((aid, None, None, None, None, None,
                                     "unparseable"))
                        continue
                rows.append((aid, dur, rms, zcr, rate, nch, None))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              AUDIO_FEATURES_SCHEMA.fields])

    return src.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


AUGMENT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("err", T.StringType()),
])

# deterministic pixel transforms — pure numpy views/ops, no interpolation
# randomness; each is its own row so downstream mixing is explicit
_AUGMENT_OPS = {
    "identity": lambda px: px,
    "hflip": lambda px: px[:, ::-1],
    "vflip": lambda px: px[::-1],
    "rot90": lambda px: np.rot90(px, 1),
    "rot180": lambda px: np.rot90(px, 2),
    "rot270": lambda px: np.rot90(px, 3),
    "gray": lambda px: np.repeat(
        # integer-exact Rec.601 luma: (299R + 587G + 114B) // 1000
        ((px[..., 0].astype(np.int64) * 299
          + px[..., 1].astype(np.int64) * 587
          + px[..., 2].astype(np.int64) * 114) // 1000)
        .astype(np.uint8)[..., None], 3, axis=2),
    "center_crop": lambda px: px[px.shape[0] // 4:
                                 px.shape[0] // 4 + max(px.shape[0] // 2, 1),
                                 px.shape[1] // 4:
                                 px.shape[1] // 4 + max(px.shape[1] // 2, 1)],
}


def image_augment(images: DataFrame, ops: tuple = ("hflip", "rot90"),
                  id_col: str = "image_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """Deterministic training-data augmentation fan-out: each input image
    yields one row PER op → ``(image_id, op, bytes, w, h, err)``, pixels
    re-encoded lossless (PNG) through the stand-in ``codec.encode``.

    Every transform is exact integer numpy (flips/rotations are views;
    gray is the integer Rec.601 luma; center_crop is the middle half), so
    augmented bytes are bit-reproducible across runs and machines — the
    property a deduplicated training corpus needs (a nondeterministic
    augmenter mints infinite "new" near-dups). Undecodable rows yield one
    err row per op set, never a failed job. mapInPandas, Arrow batches;
    output size is ``len(ops)`` × input — budget the fan-out explicitly.
    """
    unknown = [o for o in ops if o not in _AUGMENT_OPS]
    if unknown:
        raise ValueError(f"unknown augment ops: {unknown}")
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, _ = decode(bytes(data))
                except Exception:
                    rows.append((iid, None, None, None, None,
                                 "undecodable"))
                    continue
                for op in ops:
                    out = np.ascontiguousarray(_AUGMENT_OPS[op](px))
                    rows.append((iid, op, bytearray(encode(out, "png")),
                                 out.shape[1], out.shape[0], None))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              AUGMENT_SCHEMA.fields])

    return src.mapInPandas(run, AUGMENT_SCHEMA)
