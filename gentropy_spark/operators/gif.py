"""Pure python+numpy GIF codec (LZW) for the multimodal pipeline.

Decodes GIF87a/GIF89a: global/local color tables, variable-width
LSB-first LZW, interlaced images, multi-frame animations (mean/dims
reported from the first frame, frame count surfaced to callers).
The encoder emits a valid single-frame GIF using the classic
clear-code technique (a CLEAR before each dictionary overflow keeps
every emitted code a literal — larger output, trivially correct),
which gives byte-exact round-trips for the unit tests.

``decode_gif`` is one of ``codecs.DECODERS``: a text payload of the
multimodal_decode key can start with ``GIF87a``/``GIF89a``, and
multimodal_codec_verify round-trips ``encode_gif(px, compress=True)``.
``decode_gif_pixels`` is the pixel-level reference the LZW round-trip
tests compare against. No external imaging library is involved.
"""

from __future__ import annotations

import struct

import numpy as np

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _color_table(data: bytes, pos: int, flags: int) -> tuple[np.ndarray | None, int]:
    """Read a color table if the descriptor flag says one follows."""
    if not flags & 0x80:
        return None, pos
    n = 2 << (flags & 0x07)
    table = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
    return table, pos + n * 3


def _sub_blocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks, return (payload, pos past block)."""
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated GIF sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError("truncated GIF sub-block")
        out += data[pos : pos + n]
        pos += n


def _lzw_decode(payload: bytes, min_code_size: int, n_pixels: int) -> np.ndarray:
    """Variable-width LSB-first LZW → palette indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    # dictionary: code -> bytes; rebuilt at every CLEAR
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    next_code = end + 1
    width = min_code_size + 1
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in payload:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = dict(base)
                next_code = end + 1
                width = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out[:n_out]
            if prev is None:
                entry = table[code]
            elif code in table:
                entry = table[code]
                if next_code < 4096:
                    table[next_code] = prev + entry[:1]
                    next_code += 1
            elif code == next_code:
                entry = prev + prev[:1]
                if next_code < 4096:
                    table[next_code] = entry
                    next_code += 1
            else:
                raise ValueError("corrupt LZW stream")
            if next_code == (1 << width) and width < 12:
                width += 1
            k = min(len(entry), n_pixels - n_out)
            out[n_out : n_out + k] = np.frombuffer(entry[:k], np.uint8)
            n_out += k
            if n_out >= n_pixels:
                return out
            prev = entry
    return out[:n_out]


def _deinterlace(idx: np.ndarray, h: int, w: int) -> np.ndarray:
    rows = idx.reshape(h, w)
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out.reshape(-1)


def decode_gif(payload: bytes) -> dict:
    """GIF → decode dict (first-frame stats + frame count).

    Same metadata contract as decode_png (operators/codecs.py); the
    animation frame count is returned under ``n_frames`` for callers
    that sample frames.
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    gct, pos = _color_table(payload, 13, flags)
    frames = 0
    first_mean = None
    first_dims = None
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02X}")
        _left, _top, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        lct, pos = _color_table(payload, pos, iflags)
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError("GIF image without color table")
        min_code_size = payload[pos]
        pos += 1
        data, pos = _sub_blocks(payload, pos)
        frames += 1
        if frames == 1:
            idx = _lzw_decode(data, min_code_size, w * h)
            if idx.size != w * h:
                raise ValueError("short LZW pixel stream")
            if iflags & 0x40:
                idx = _deinterlace(idx, h, w)
            rgb = palette[idx]
            first_mean = float(rgb.mean())
            first_dims = (w, h)
    if frames == 0 or first_dims is None:
        raise ValueError("GIF without image data")
    return {
        "codec": "gif",
        "width": first_dims[0],
        "height": first_dims[1],
        "n_channels": 3,
        "sample_rate": None,
        "mean_value": first_mean,
        "n_frames": frames,
    }


def decode_gif_pixels(payload: bytes) -> np.ndarray:
    """First frame as (h, w, 3) uint8 (test support)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    flags = payload[10]
    gct, pos = _color_table(payload, 13, flags)
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x21:
            pos += 1
            while pos < len(payload) and payload[pos] != 0:
                pos += 1 + payload[pos]
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError("no image block")
        _l, _t, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        lct, pos = _color_table(payload, pos, iflags)
        palette = lct if lct is not None else gct
        min_code_size = payload[pos]
        pos += 1
        data, pos = _sub_blocks(payload, pos)
        idx = _lzw_decode(data, min_code_size, w * h)
        if iflags & 0x40:
            idx = _deinterlace(idx, h, w)
        return palette[idx].reshape(h, w, 3)
    raise ValueError("no image block")


def _lzw_encode_literals(indices: np.ndarray, min_code_size: int) -> bytes:
    """LZW stream of pure literals with periodic CLEARs.

    After a CLEAR the first free code is end+1; emitting L literals
    grows the table to end+L, so keeping L <= 2^(w) - end - 2 for the
    post-clear width w means every code fits one fixed width — the
    standard "uncompressed GIF" construction. Decoders accept it
    because CLEAR resets before any grown code would be referenced.
    """
    clear = 1 << min_code_size
    end = clear + 1
    width = min_code_size + 1
    # max literals between clears BEFORE the width would have to grow
    span = (1 << width) - end - 2
    acc = 0
    nbits = 0
    out = bytearray()

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    for i, v in enumerate(indices.tolist()):
        if i and i % span == 0:
            put(clear)
        put(int(v))
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_compress(indices: np.ndarray, min_code_size: int) -> bytes:
    """Standard GIF LZW compressor: greedy longest-match dictionary,
    variable code width growing at powers of two, CLEAR + rebuild at
    4096 codes. Exercises the decoder's width-growth and
    dictionary-reset paths, which the literal-only encoder never
    reaches."""
    clear = 1 << min_code_size
    end = clear + 1
    acc = 0
    nbits = 0
    out = bytearray()
    width = min_code_size + 1

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    put(clear)
    seq = b""
    for v in indices.tolist():
        cand = seq + bytes([int(v)])
        if cand in table:
            seq = cand
            continue
        put(table[seq])
        # Register cand. Width must grow in LOCKSTEP with the decoder,
        # whose dictionary lags this one by exactly one entry (it
        # creates an entry only when it processes the NEXT code) — so
        # where the decoder grows at its next_code == 2^width, the
        # encoder's trigger is next_code == 2^width + 1.
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            put(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        seq = bytes([int(v)])
    if seq:
        put(table[seq])
    put(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(
    pixels: np.ndarray, interlace: bool = False, compress: bool = False
) -> bytes:
    """(h, w, 3) uint8 with <=256 distinct colors, or (h, w) gray →
    single-frame GIF87a (test support: exact round-trip).
    ``compress=True`` uses the real dictionary LZW compressor (width
    growth + 4096 reset) instead of the literal-only stream."""
    if pixels.ndim == 2:
        palette = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        idx = pixels.astype(np.uint8)
        h, w = pixels.shape
    else:
        h, w, _ = pixels.shape
        flat = pixels.reshape(-1, 3)
        colors, inverse = np.unique(flat, axis=0, return_inverse=True)
        if len(colors) > 256:
            raise ValueError("encode_gif needs <=256 distinct colors")
        palette = np.zeros((256, 3), dtype=np.uint8)
        palette[: len(colors)] = colors
        idx = inverse.astype(np.uint8)
    rows = idx.reshape(h, w)
    if interlace:
        order = []
        for start, step in _INTERLACE_PASSES:
            order.extend(range(start, h, step))
        rows = rows[np.array(order)]
    flat = rows.reshape(-1)
    stream = (
        _lzw_compress(flat, 8) if compress else _lzw_encode_literals(flat, 8)
    )
    out = bytearray(b"GIF87a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)  # 256-color GCT
    out += palette.tobytes()
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
    )
    out.append(8)  # LZW min code size
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
