"""Real media decoding with zero hard dependencies.

The reference pipeline has no media path; this engine's multimodal
operators (operators/multimodal.py) need an actual decode step to be more
than plumbing. Strategy:

- **PIL when importable** — full format coverage (jpeg/webp/...).
- **Pure-stdlib PNG codec otherwise** — zlib + struct are always present,
  and non-interlaced 8-bit PNG (grey/RGB/RGBA, the overwhelming majority
  of ML-corpus thumbnails) decodes in ~60 lines. Encoder included so
  catalog entries and tests can build fixtures without binary checkins.
- **Pure-stdlib WAV parse** — header + PCM frames via ``wave``/``struct``.

Everything here runs inside Arrow-batched mapInPandas workers; per-image
Python cost is the codec itself (numpy vectorized unfilter per scanline),
which is the same shape a PIL-based deployment has.
"""

from __future__ import annotations

import struct
import zlib

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# PNG color type -> channel count (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def encode_png(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Minimal PNG writer: 8-bit, filter 0 per scanline, one IDAT."""
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Decode non-interlaced 8-bit PNG → (width, height, channels, pixels).

    Supports color types 0 (grey), 2 (RGB), 4 (grey+alpha), 6 (RGBA) —
    8-bit depth, no interlace, no palette. Raises ValueError otherwise.
    """
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad magic)")
    pos, width = 8, None
    height = channels = 0
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth} (need 8)")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported PNG color type {color_type}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        off = y * (stride + 1)
        ftype = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                upleft = prev[i - channels] if i >= channels else 0
                line[i] = (line[i] + _paeth(left, prev[i], upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, channels, bytes(out)


def decode_image(data: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, 8-bit pixel bytes) for any supported image.

    PIL first (every format it knows); stdlib PNG decoder as the fallback;
    a clear error naming the missing dependency for anything else.
    """
    try:
        from io import BytesIO

        from PIL import Image  # optional dependency

        img = Image.open(BytesIO(data))
        if img.mode not in ("L", "LA", "RGB", "RGBA"):
            img = img.convert("RGB")
        return img.width, img.height, len(img.getbands()), img.tobytes()
    except ImportError:
        pass
    if data[:8] == PNG_MAGIC:
        return decode_png(data)
    raise NotImplementedError(
        "decoding non-PNG images requires the optional 'Pillow' package; "
        "PNG decodes via the built-in stdlib codec"
    )


def decode_wav(data: bytes) -> tuple[int, int, int, int, bytes]:
    """(sample_rate, n_channels, sample_width_bytes, n_frames, pcm bytes)."""
    import io
    import wave

    with wave.open(io.BytesIO(data), "rb") as w:
        return (
            w.getframerate(),
            w.getnchannels(),
            w.getsampwidth(),
            w.getnframes(),
            w.readframes(w.getnframes()),
        )
