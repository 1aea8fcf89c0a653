"""Minimal REAL PNG codec — stdlib ``zlib`` + ``struct`` + numpy, no Pillow.

PNG (RFC 2083 / the public W3C spec) is a chunked container: an 8-byte
signature, then length-tagged CRC-checked chunks. The pixel stream is the
zlib-inflated concatenation of IDAT chunk payloads: one filter-type byte
per scanline followed by the filtered bytes, where filters 0-4
(None/Sub/Up/Average/Paeth) are byte-wise predictors against the left /
up / up-left neighbors. Decoding = parse IHDR, inflate, reverse the filter
per scanline, reshape.

Scope (raises ``ValueError`` / ``NotImplementedError`` on anything else,
loudly — see ``_codec_util``):
- bit depth 8; color types 0 (gray), 2 (RGB), 3 (palette via PLTE — the
  dominant flavor for icons/logos in web crawls), 4 (gray+alpha), 6 (RGBA)
- interlace 0 (non-interlaced); Adam7 needs a 7-pass de-interleave this
  corpus path doesn't need
- CRC verified on every chunk (corrupt payloads fail instead of decoding
  into garbage pixels)

The encoder exists for test/synthesis symmetry (deterministic fixtures)
and supports a per-row filter type so the
decoder's reconstruction of ALL five filters is exercised against
hand-computed pixels, not just against this encoder's inverse.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from daft_minhash_dedupe_spark.extras._codec_util import check_dims, loud_decoder

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # 3 = palette: 1 index byte/px


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (spec pseudo-code, vectorized): nearest of a=left,
    b=up, c=up-left to p = a + b - c, ties broken a, then b, then c."""
    p = a.astype(np.int32) + b.astype(np.int32) - c.astype(np.int32)
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def _filter_scanlines(a: np.ndarray, filter_type: int) -> bytearray:
    """Apply one PNG scanline filter (0-4) to every row of (H,W,CH) uint8,
    returning the filter-tagged byte stream IDAT compresses."""
    h, w, ch = a.shape
    bpp = ch  # bytes per pixel at bit depth 8
    raw = bytearray()
    prev = np.zeros((w * ch,), dtype=np.uint8)
    for y in range(h):
        line = a[y].reshape(-1)
        left = np.concatenate([np.zeros(bpp, np.uint8), line[:-bpp]])
        up_left = np.concatenate([np.zeros(bpp, np.uint8), prev[:-bpp]])
        if filter_type == 0:
            filt = line
        elif filter_type == 1:
            filt = line - left
        elif filter_type == 2:
            filt = line - prev
        elif filter_type == 3:
            filt = line - (
                (left.astype(np.int32) + prev.astype(np.int32)) // 2
            ).astype(np.uint8)
        elif filter_type == 4:
            filt = line - _paeth(left, prev, up_left)
        else:
            raise ValueError(f"filter_type {filter_type}")
        raw.append(filter_type)
        raw.extend(filt.astype(np.uint8).tobytes())
        prev = line
    return raw


def encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """8-bit PNG writer: gray (H,W) / (H,W,1), RGB (H,W,3), RGBA (H,W,4).

    ``filter_type`` 0-4 is applied to EVERY scanline (real encoders choose
    per-line; a fixed choice keeps fixtures deterministic and lets tests
    target one filter at a time)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = _filter_scanlines(a, filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


@loud_decoder
def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced PNG to (H, W, channels) uint8."""
    if not payload.startswith(_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_SIG)
    width = height = None
    color_type = bit_depth = interlace = None
    plte: bytes | None = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        if pos + 12 + length > len(payload):
            raise ValueError("PNG chunk length overruns payload")
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"PNG IHDR body is {len(body)} bytes, want 13")
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
        elif tag == b"PLTE":
            plte = body
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} (only 8 supported)")
    if color_type not in _CHANNELS:
        raise NotImplementedError(f"PNG color type {color_type}")
    if color_type == 3 and (plte is None or len(plte) % 3 or not plte):
        raise ValueError("palette PNG missing/malformed PLTE chunk")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG not supported")
    check_dims(width, height, "PNG IHDR")
    ch = _CHANNELS[color_type]
    stride = width * ch
    if not idat:
        raise ValueError("PNG has no IDAT data")
    expected = height * (stride + 1)
    try:
        # bounded inflate: a deflate bomb (tiny IHDR, huge stream — can carry
        # valid CRCs) must not materialize past the declared pixel size, so
        # cap the inflation at expected+1 and reject any overrun
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise ValueError(f"PNG IDAT deflate stream corrupt: {e}") from e
    if len(raw) != expected or d.unconsumed_tail or (
        d.decompress(b"", 1) if not d.eof else b""
    ):
        raise ValueError("PNG pixel stream length mismatch")
    bpp = ch
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros((stride,), dtype=np.uint8)
    for y in range(height):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ft == 0:
            pass
        elif ft == 2:  # Up: whole-line vectorized (uint8 wrap = mod 256)
            line += prev
        elif ft == 1:
            # Sub is a per-lane prefix sum: out[x] = f[x] + out[x-bpp], and
            # addition mod 256 commutes with cumsum — fully vectorized
            lanes = line.reshape(-1, bpp)
            line = (np.cumsum(lanes, axis=0, dtype=np.uint32) & 0xFF).astype(
                np.uint8
            ).reshape(-1)
        elif ft in (3, 4):
            # Average/Paeth recur nonlinearly on the reconstructed LEFT
            # byte; a scalar byte loop beats numpy slicing overhead at any
            # width (one small-int op chain per byte, no per-step arrays)
            cur = bytearray(line.tobytes())
            up_b = prev.tobytes()
            if ft == 3:
                for x in range(stride):
                    left = cur[x - bpp] if x >= bpp else 0
                    cur[x] = (cur[x] + ((left + up_b[x]) >> 1)) & 0xFF
            else:
                for x in range(stride):
                    a = cur[x - bpp] if x >= bpp else 0
                    b = up_b[x]
                    c = up_b[x - bpp] if x >= bpp else 0
                    pa = abs(b - c)
                    pb = abs(a - c)
                    pc = abs(a + b - 2 * c)
                    if pa <= pb and pa <= pc:
                        pred = a
                    elif pb <= pc:
                        pred = b
                    else:
                        pred = c
                    cur[x] = (cur[x] + pred) & 0xFF
            line = np.frombuffer(bytes(cur), dtype=np.uint8)
        else:
            raise ValueError(f"PNG filter type {ft}")
        out[y] = line
        prev = out[y]
    if color_type == 3:
        # index plane -> RGB lookup; out-of-range indices fail loudly
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = out.reshape(height, width)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("PNG palette index out of range")
        return pal[idx]
    return out.reshape(height, width, ch)


def encode_png_palette(
    indices: np.ndarray, palette: np.ndarray, filter_type: int = 0
) -> bytes:
    """Color-type-3 PNG writer: ``indices`` (H,W) uint8 into ``palette``
    (K,3) uint8. Exercises the decoder's PLTE lookup path; the scanline
    filters apply to the index plane exactly as to gray samples."""
    idx = np.asarray(indices, dtype=np.uint8)
    pal = np.asarray(palette, dtype=np.uint8)
    if idx.ndim != 2 or pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("indices must be (H,W), palette (K,3)")
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("index out of palette range")
    h, w = idx.shape
    raw = _filter_scanlines(idx.reshape(h, w, 1), filter_type)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", pal.tobytes())
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )
