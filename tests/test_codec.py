"""Payload codec invariants (BASELINE.json input_hint; SURVEY.md §2.8 C12)."""

import numpy as np
import pytest

from fetcho_spark.functions.codec import (
    decode, encode, hamming64, phash64, psnr, ref_sample_bytes,
    ref_sample_decode, sample_grid)
from fetcho_spark.functions.pure_codec import PureCodec


def _pixels(seed: int, s: int = 64) -> np.ndarray:
    return np.random.default_rng(seed).integers(0, 256, (s, s, 3), dtype=np.uint8)


def test_png_lossless_roundtrip():
    px = _pixels(1)
    dec, fmt = decode(encode(px, "png"))
    assert fmt == "png"
    assert (dec == px).all()
    assert psnr(dec, px) == float("inf")


def test_jpeg_lossy_psnr_over_40db():
    px = _pixels(2)
    dec, fmt = decode(encode(px, "jpeg"))
    assert fmt == "jpeg"
    assert not (dec == px).all()          # genuinely lossy
    assert psnr(dec, px) >= 40.0          # the input_hint invariant


def test_jpeg_decode_deterministic():
    px = _pixels(3)
    data = encode(px, "jpeg")
    a, _ = decode(data)
    b, _ = decode(data)
    assert (a == b).all()


def test_phash_stable_and_discriminative():
    a, b = _pixels(4), _pixels(5)
    assert phash64(a) == phash64(a)
    assert hamming64(phash64(a), phash64(b)) > 4


def test_phash_robust_to_lossy_roundtrip():
    px = _pixels(6)
    dec, _ = decode(encode(px, "jpeg"))
    assert hamming64(phash64(px), phash64(dec)) <= 2


def test_phash_various_sizes():
    for s in (8, 32, 64, 128, 100):
        v = phash64(_pixels(7, s))
        assert -(1 << 63) <= v < (1 << 63)


def test_unknown_format_stubbed():
    with pytest.raises(NotImplementedError):
        encode(_pixels(8), "webp")


def test_ref_sample_roundtrip_and_psnr():
    px = _pixels(9, 100)
    rs = ref_sample_decode(ref_sample_bytes(px))
    assert rs.shape == (16, 16, 3)
    assert (rs == sample_grid(px)).all()
    # lossy decode vs the original sample: finite and over the invariant
    dec, _ = decode(encode(px, "jpeg"))
    p = psnr(sample_grid(dec), rs)
    assert 40.0 <= p < float("inf")


# ----------------------------------------------------------- codec contract
# Stand-in and real-format payloads must both satisfy the payload
# invariants through the REAL Spark verify path with no configuration:
# codec.decode picks the decoder from each payload's magic bytes.

@pytest.mark.spark
@pytest.mark.parametrize("encoder", [encode, PureCodec.encode],
                         ids=["standin", "pure"])
def test_codec_contract_payload_invariants(spark, encoder):
    from fetcho_spark import fixtures as fx
    from fetcho_spark.operators.fetch import verify_payload
    df = spark.createDataFrame(fx.gen_images(12, encode=encoder),
                               fx.IMAGES_SCHEMA)
    got = verify_payload(df).collect()
    assert len(got) == 12
    for r in got:
        assert r["decode_ok"] and r["dims_ok"] and r["phash_ok"], r
        assert r["psnr_ok"] and r["psnr_db"] >= 40.0, r
        if r["fmt"] == "png":
            assert r["psnr_db"] == float("inf")
        else:
            assert r["psnr_db"] < float("inf")  # genuinely lossy


def test_corruption_detected():
    """The invariant must actually be able to fail (VERDICT r1 'What's
    wrong' #2): a payload that decodes fine but to the WRONG pixels must
    produce PSNR far below 40 dB vs the stored reference sample."""
    px = _pixels(10)
    ref = ref_sample_decode(ref_sample_bytes(px))
    other, _ = decode(encode(_pixels(11), "jpeg"))  # same dims, wrong content
    assert psnr(sample_grid(other), ref) < 20.0
    # and a 1-byte flip in the compressed stream must fail decode outright
    data = bytearray(encode(px, "jpeg"))
    data[len(data) // 2] ^= 0xFF
    with pytest.raises(Exception):
        decode(bytes(data))
