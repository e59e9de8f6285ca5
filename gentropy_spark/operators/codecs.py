"""Media codecs for the multimodal keys, library-free (stdlib + numpy).

``decode_any`` dispatches on magic bytes to the decoders in
``DECODERS`` and returns one dict in the unified media schema:
    codec: 'wav' | 'png' | 'gif' | 'stub'
    width, height: pixel dims (images; for WAV, width is the frame
        count and height None)
    n_channels: samples per pixel / audio channels
    sample_rate: audio frame rate (None for images)
    mean_value: mean sample value over all channels (float; NULL on
        the stub)

What each decoder takes is what the registry keys can feed it:
- multimodal_decode (``multimodal.decode_features``) passes the UTF-8
  bytes of ``documents.text``. Such a payload can start with
  ``RIFF…WAVE`` or ``GIF87a``/``GIF89a``, so the WAV and GIF decoders
  take outside input; it can never start with PNG's 0x89. Everything
  else, and any payload a decoder rejects, ends on the all-NULL stub.
- multimodal_codec_verify (plans/streaming_plan.py) round-trips its own
  ``encode_png``/``encode_gif``/``encode_wav`` payloads. So ``decode_png``
  reads the one stream ``encode_png`` writes (8-bit RGB, not
  interlaced, row filters cycling 0..4); any other IHDR raises and
  lands on the stub.
"""

from __future__ import annotations

import struct
import wave
import zlib
from io import BytesIO

import numpy as np

from gentropy_spark.operators.gif import decode_gif

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


def sniff(payload: bytes) -> str:
    """Magic-byte container detection: a ``DECODERS`` key or
    'unknown'."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:8] == PNG_SIGNATURE:
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return "unknown"


def decode_wav(payload: bytes) -> dict:
    """PCM WAV via the stdlib wave module; PCM16 samples → numpy."""
    with wave.open(BytesIO(payload), "rb") as wf:
        n_channels = wf.getnchannels()
        rate = wf.getframerate()
        width = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2")
    elif width == 1:
        samples = np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128
    else:
        raise ValueError(f"unsupported sample width {width}")
    # r9 advisory fix: the decode schema types width/sample_rate as
    # INT32 at the Arrow boundary; a WAV beyond 2^31-1 frames (or an
    # absurd header rate) would overflow there. Clamp explicitly — the
    # codec itself is unbounded, the SCHEMA is the 32-bit contract.
    int32_max = 2**31 - 1
    return {
        "codec": "wav",
        "width": min(n_frames, int32_max),  # frames along the time axis
        "height": None,
        "n_channels": n_channels,
        "sample_rate": min(rate, int32_max),
        "mean_value": float(np.abs(samples).mean()) if samples.size else 0.0,
    }


def _png_chunks(payload: bytes):
    """Yield (type, data) chunks; stops at IEND or truncation."""
    i = 8  # past signature
    while i + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, i)
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        yield ctype, data
        i += 12 + length  # length + type + data + crc
        if ctype == b"IEND":
            return


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: bytes, height: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters → (height, stride) uint8.

    Sub (1) vectorises as a per-lane modular cumsum; Up (2) is a
    whole-row add against the previous reconstructed row; Average (3)
    and Paeth (4) carry an in-row left dependency, so they fall back
    to a per-byte loop — acceptable because this runs inside the
    Arrow-batched mapInPandas worker on bounded media payloads, never
    as a driver-side loop over rows of a DataFrame.
    """
    expected = height * (stride + 1)
    if len(raw) < expected:
        raise ValueError("IDAT underflow")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for r in range(height):
        ftype = raw[pos]
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += stride + 1
        if ftype == 0:
            recon = row.copy()
        elif ftype == 1:  # Sub: modular cumsum within each byte lane
            recon = row.copy()
            for lane in range(bpp):
                lane_vals = recon[lane::bpp].astype(np.uint32)
                recon[lane::bpp] = np.cumsum(lane_vals).astype(np.uint8)
        elif ftype == 2:  # Up
            recon = row + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential left dep
            recon = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                left = int(recon[x - bpp]) if x >= bpp else 0
                up = int(prev[x])
                ul = int(prev[x - bpp]) if x >= bpp else 0
                if ftype == 3:
                    pred = (left + up) >> 1
                else:
                    pred = _paeth(left, up, ul)
                recon[x] = (int(row[x]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[r] = recon
        prev = recon
    return out


def decode_png(payload: bytes) -> dict:
    """8-bit RGB, non-interlaced PNG via stdlib zlib + numpy filter
    reconstruction. Any other bit depth, colour type, interlace,
    compression or filter method raises."""
    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG")
    width = height = None
    idat = bytearray()
    for ctype, data in _png_chunks(payload):
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if (bit_depth, color_type, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG: bit depth {bit_depth}, color type "
                    f"{color_type}, interlace {interlace}"
                )
        elif ctype == b"IDAT":
            idat.extend(data)
    if width is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    pixels = _png_unfilter(zlib.decompress(bytes(idat)), height, width * 3, 3)
    return {
        "codec": "png",
        "width": width,
        "height": height,
        "n_channels": 3,
        "sample_rate": None,
        "mean_value": float(pixels.mean()) if pixels.size else 0.0,
    }


# The container kinds ``decode_any`` decodes, by ``sniff`` label.
DECODERS = {"wav": decode_wav, "png": decode_png, "gif": decode_gif}


def decode_any(payload: bytes) -> dict:
    """Dispatch on magic bytes; an unknown container, or a payload its
    decoder rejects, falls back to the all-NULL stub."""
    decoder = DECODERS.get(sniff(payload))
    if decoder is not None:
        try:
            return decoder(payload)
        except Exception:  # noqa: BLE001 — corrupt media must not kill a batch
            pass
    return {
        "codec": "stub",
        "width": None,
        "height": None,
        "n_channels": None,
        "sample_rate": None,
        "mean_value": None,
    }


# --- encoders (exact inverses of the decoders) ---------------------------
def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 8-bit RGB PNG bytes (exact inverse of
    decode_png). Row r uses filter r % 5, so one round trip of five or
    more rows runs all five unfilter paths."""
    h, w, c = pixels.shape
    if c != 3:
        raise ValueError(f"encode_png writes RGB, got {c} channels")
    pixels = pixels.astype(np.uint8)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for r in range(h):
        row = pixels[r].reshape(-1)
        ft = r % 5
        if ft == 0:
            filt = row.copy()
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(c, np.uint8), row[:-c]])
            filt = row - left
        elif ft == 2:  # Up
            filt = row - prev
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(c, np.uint8), row[:-c]])
            filt = row - (
                (left.astype(np.uint16) + prev.astype(np.uint16)) >> 1
            ).astype(np.uint8)
        else:  # Paeth
            filt = np.empty_like(row)
            for x in range(w * c):
                a = int(row[x - c]) if x >= c else 0
                b = int(prev[x])
                cc = int(prev[x - c]) if x >= c else 0
                filt[x] = (int(row[x]) - _paeth(a, b, cc)) & 0xFF
        raw.append(ft)
        raw.extend(filt.tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, rate: int = 16_000, channels: int = 1) -> bytes:
    """int16 samples → PCM16 WAV bytes."""
    buf = BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(channels)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()
