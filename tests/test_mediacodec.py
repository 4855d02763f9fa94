"""Real media decode: stdlib PNG codec + WAV parse, driven through the
multimodal Spark operators (PIL is preferred when installed; these tests
exercise whichever decoder the environment resolves — the contract is
identical)."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from cnics_to_fhir_spark.functions import mediacodec as mc
from cnics_to_fhir_spark.operators import multimodal as mm


def gradient_png(w=16, h=12, channels=3):
    """Deterministic gradient image — every pixel value distinct-ish so
    decode bugs can't hide behind uniform fills."""
    px = bytearray()
    for y in range(h):
        for x in range(w):
            for c in range(channels):
                px.append((x * 17 + y * 29 + c * 41) % 256)
    return mc.encode_png(bytes(px), w, h, channels), bytes(px)


def test_png_roundtrip_rgb():
    data, px = gradient_png(16, 12, 3)
    w, h, ch, out = mc.decode_png(data)
    assert (w, h, ch) == (16, 12, 3)
    assert out == px


def test_png_roundtrip_grey_and_rgba():
    for channels in (1, 4):
        data, px = gradient_png(9, 7, channels)
        w, h, ch, out = mc.decode_png(data)
        assert (w, h, ch) == (9, 7, channels)
        assert out == px


def test_png_all_filter_types_decode():
    """Re-encode a gradient with each scanline filter type and check the
    unfilter paths reproduce identical pixels."""
    w, h, ch = 8, 6, 3
    _, px = gradient_png(w, h, ch)
    stride = w * ch

    def encode_with_filter(ftype: int) -> bytes:
        lines = []
        prev = bytes(stride)
        for y in range(h):
            line = px[y * stride : (y + 1) * stride]
            if ftype == 0:
                filt = line
            elif ftype == 1:  # Sub
                filt = bytes(
                    (line[i] - (line[i - ch] if i >= ch else 0)) & 0xFF
                    for i in range(stride)
                )
            elif ftype == 2:  # Up
                filt = bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
            elif ftype == 3:  # Average
                filt = bytes(
                    (line[i] - (((line[i - ch] if i >= ch else 0) + prev[i]) >> 1))
                    & 0xFF
                    for i in range(stride)
                )
            else:  # Paeth
                filt = bytes(
                    (
                        line[i]
                        - mc._paeth(
                            line[i - ch] if i >= ch else 0,
                            prev[i],
                            prev[i - ch] if i >= ch else 0,
                        )
                    )
                    & 0xFF
                    for i in range(stride)
                )
            lines.append(bytes([ftype]) + filt)
            prev = line

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            mc.PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b"")
        )

    for ftype in range(5):
        got = mc.decode_png(encode_with_filter(ftype))
        assert got == (w, h, ch, px), f"filter {ftype}"


def test_decode_image_rejects_garbage():
    with pytest.raises((NotImplementedError, ValueError)):
        mc.decode_image(b"\x00\x01\x02 not an image")


def test_real_decode_through_spark(spark):
    data, px = gradient_png(16, 12, 3)
    a = np.frombuffer(px, dtype=np.uint8)
    df = spark.createDataFrame([(1, bytearray(data))], "doc_id long, payload binary")
    out = mm.decode_image_stub(df, real_decode=True).collect()[0]
    assert out["n_bytes"] == len(data)
    feat = out["feature"]
    assert feat[:3] == [16.0, 12.0, 3.0]
    assert feat[3] == pytest.approx(float(a.mean()), abs=1e-3)
    assert feat[7] == pytest.approx(16.0 / 12.0, abs=1e-5)


def make_wav(rate=8000, freq=440, ms=250, width=2):
    n = rate * ms // 1000
    t = np.arange(n) / rate
    samples = (np.sin(2 * np.pi * freq * t) * 0.5 * (2 ** (8 * width - 1) - 1)).astype(
        {2: np.int16, 4: np.int32}[width]
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue(), samples


def test_audio_features_through_spark(spark):
    data, samples = make_wav()
    df = spark.createDataFrame([(7, bytearray(data))], "doc_id long, payload binary")
    out = mm.audio_features(df).collect()[0]
    assert out["sample_rate"] == 8000
    assert out["n_channels"] == 1
    assert out["n_frames"] == 2000
    assert out["duration_ms"] == 250
    expect_rms = float(np.sqrt((samples.astype(np.float64) ** 2).mean()))
    assert out["rms"] == pytest.approx(expect_rms, rel=1e-9)
