"""Minimal REAL GIF codec — pure Python LZW + numpy, no Pillow.

GIF (the public GIF89a specification) is a block stream: a 6-byte header,
a logical screen descriptor with an optional global color table, then
blocks — extensions (graphic control: per-frame delay / transparency /
disposal), image descriptors (a rect + optional local color table +
LZW-compressed index data in 255-byte sub-blocks), and a trailer. GIF's
LZW variant packs variable-width codes LSB-first (unlike PNG/JPEG's
MSB-first streams), starts at ``min_code_size + 1`` bits, grows the
dictionary to 12 bits, and reserves CLEAR / END codes at ``2^mcs`` and
``2^mcs + 1``.

Because GIF89a carries multiple timed frames, it doubles as this repo's
honest "video" decode path: ``gif_frames`` yields every presented canvas
with its delay, which the frame sampler in extras/multimodal.py consumes.

Decoder scope (loud ``ValueError`` / ``NotImplementedError`` otherwise —
see ``_codec_util``):
- GIF87a/GIF89a, global and local color tables, interlaced images,
  transparency, disposal methods 0-3 (draw-over / restore-background /
  restore-previous), multi-frame animations with per-frame delays
- full LZW: dictionary growth across code widths, CLEAR resets, the
  just-defined-code case (cScSc), and the frozen-dictionary state at
  4096 entries

The encoder exists for test/synthesis symmetry: full-canvas frames over
one global palette, optional interlace / transparency / disposal /
delays, real LZW compression. Lossless, so tests can assert exact pixel
equality against the same pixels in other containers.
"""

from __future__ import annotations

import struct

import numpy as np

from daft_minhash_dedupe_spark.extras._codec_util import (
    MAX_PIXELS,
    check_dims,
    loud_decoder,
)

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(height: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, height, step))
    return order


def _lzw_decode(data: bytes, mcs: int, expected: int) -> list[int]:
    if not 1 <= mcs <= 11:
        # the table caps at 4096 codes => valid minimum code size is <= 11;
        # a corrupt byte here would otherwise size the root table 2**mcs
        raise ValueError(f"GIF LZW minimum code size {mcs} out of range")
    clear = 1 << mcs
    end = clear + 1
    code_size = mcs + 1
    table: list[tuple[int, ...]] = [(i,) for i in range(clear)] + [(), ()]
    out: list[int] = []
    prev: tuple[int, ...] | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while len(out) < expected:
        if bitpos + code_size > total_bits:
            raise ValueError("GIF LZW stream truncated")
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0 : byte0 + 3], "little")
        c = (chunk >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if c == end:
            break
        if c == clear:
            code_size = mcs + 1
            table = table[: clear + 2]
            prev = None
            continue
        if c < len(table):
            entry = table[c]
        elif c == len(table) and prev is not None:
            entry = prev + (prev[0],)  # the cScSc just-defined case
        else:
            raise ValueError("invalid GIF LZW code")
        if prev is not None and len(table) < 4096:
            table.append(prev + (entry[0],))
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out.extend(entry)
        prev = entry
    if len(out) < expected:
        raise ValueError("GIF LZW stream ended before the image was full")
    return out[:expected]


def _lzw_encode(indices: np.ndarray, mcs: int) -> bytes:
    clear = 1 << mcs
    end = clear + 1
    code_size = mcs + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    acc = 0
    accn = 0

    def emit(code: int) -> None:
        nonlocal acc, accn
        acc |= code << accn
        accn += code_size
        while accn >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            accn -= 8

    emit(clear)
    w: tuple[int, ...] = ()
    for k in map(int, indices):
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        emit(table[w])
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # the decoder's table lags one add behind (it learns an entry
            # only on the NEXT code), so widen one step later than the
            # assign: when the max emittable code (next_code - 2, via the
            # cScSc case next_code - 1 minus the lag) fills the width
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = (k,)
    if w:
        emit(table[w])
    emit(end)
    if accn:
        out.append(acc & 0xFF)
    return bytes(out)


def _sub_blocks(payload: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate 255-byte-max data sub-blocks until the 0 terminator."""
    chunks = []
    while True:
        if pos >= len(payload):
            raise ValueError("GIF sub-blocks truncated")
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        chunks.append(payload[pos : pos + n])
        pos += n
    return b"".join(chunks), pos


@loud_decoder
def gif_frames(payload: bytes) -> list[tuple[np.ndarray, int]]:
    """Decode every frame of a GIF87a/89a: a list of (presented canvas
    (H,W,3) uint8, delay_ms) in presentation order."""
    if not payload.startswith((b"GIF87a", b"GIF89a")):
        raise ValueError("not a GIF payload")
    w, h, packed, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    check_dims(w, h, "GIF logical screen")
    pos = 13
    global_pal = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        global_pal = np.frombuffer(
            payload, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    if global_pal is not None and bg < len(global_pal):
        canvas = np.tile(global_pal[bg], (h, w, 1))
    else:
        canvas = np.zeros((h, w, 3), dtype=np.uint8)
    frames: list[tuple[np.ndarray, int]] = []
    delay_ms = 0
    transparent = -1
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            label = payload[pos]
            pos += 1
            body, pos = _sub_blocks(payload, pos)
            if label == 0xF9 and len(body) >= 4:  # graphic control
                flags, delay = body[0], struct.unpack("<H", body[1:3])[0]
                disposal = (flags >> 2) & 7
                delay_ms = delay * 10
                transparent = body[3] if flags & 1 else -1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        left, top, fw, fh, fpacked = struct.unpack("<HHHHB", payload[pos : pos + 9])
        pos += 9
        # the logical-screen check alone doesn't bound allocations: per-frame
        # dims drive the LZW output list and each presented frame copies the
        # whole canvas, so a tiny crafted payload with huge/many frame blocks
        # must be rejected here, before decode
        check_dims(fw, fh, "GIF frame")
        if left + fw > w or top + fh > h:
            raise ValueError(
                f"GIF frame rect {left},{top}+{fw}x{fh} exceeds "
                f"{w}x{h} logical screen"
            )
        if (len(frames) + 1) * w * h > 4 * MAX_PIXELS:
            raise ValueError(
                "GIF animation exceeds total presented-pixel budget "
                f"({len(frames) + 1} frames x {w}x{h} canvas)"
            )
        pal = global_pal
        if fpacked & 0x80:
            n = 2 << (fpacked & 7)
            pal = np.frombuffer(
                payload, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if pal is None:
            raise ValueError("GIF frame has no color table")
        mcs = payload[pos]
        pos += 1
        data, pos = _sub_blocks(payload, pos)
        idx = np.array(_lzw_decode(data, mcs, fw * fh), dtype=np.int64)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF color index out of palette range")
        idx = idx.reshape(fh, fw)
        if fpacked & 0x40:  # interlaced: rows were written in pass order
            deinterlaced = np.empty_like(idx)
            deinterlaced[_interlace_order(fh)] = idx
            idx = deinterlaced
        saved = canvas.copy() if disposal == 3 else None
        rect = canvas[top : top + fh, left : left + fw]
        px = pal[idx]
        if transparent >= 0:
            opaque = (idx != transparent)[:, :, None]
            rect[...] = np.where(opaque, px, rect)
        else:
            rect[...] = px
        frames.append((canvas.copy(), delay_ms))
        if disposal == 2:  # restore background
            if global_pal is not None and bg < len(global_pal):
                canvas[top : top + fh, left : left + fw] = global_pal[bg]
            else:
                canvas[top : top + fh, left : left + fw] = 0
        elif disposal == 3 and saved is not None:  # restore previous
            canvas = saved
        delay_ms = 0
        transparent = -1
        disposal = 0
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames


@loud_decoder
def decode_gif(payload: bytes) -> np.ndarray:
    """First presented frame as (H, W, 3) uint8 — the still-image view."""
    return gif_frames(payload)[0][0]


def encode_gif(
    frames: list[np.ndarray],
    palette: np.ndarray,
    delays_ms: list[int] | None = None,
    transparent: int | None = None,
    interlace: bool = False,
    disposal: int = 1,
    bg_index: int = 0,
) -> bytes:
    """GIF89a writer: full-canvas index frames (H,W) uint8 over one global
    ``palette`` (K,3). Every frame gets a graphic control extension with
    its delay (centisecond precision), optional ``transparent`` index, and
    ``disposal`` method; ``interlace`` writes rows in 4-pass order."""
    pal = np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3:
        raise ValueError("palette must be (K,3)")
    first = np.asarray(frames[0], dtype=np.uint8)
    h, w = first.shape
    depth = max(1, (len(pal) - 1).bit_length())
    size = 1 << depth
    pal_full = np.zeros((size, 3), dtype=np.uint8)
    pal_full[: len(pal)] = pal
    mcs = max(2, depth)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | ((depth - 1) & 7), bg_index, 0)
    out += pal_full.tobytes()
    delays = delays_ms or [0] * len(frames)
    if len(delays) != len(frames):
        raise ValueError(
            f"delays_ms has {len(delays)} entries for {len(frames)} frames"
        )
    for fi, frame in enumerate(frames):
        idx = np.asarray(frame, dtype=np.uint8)
        if idx.shape != (h, w):
            raise ValueError("all frames must be full-canvas")
        if int(idx.max(initial=0)) >= size:
            raise ValueError("index out of palette range")
        flags = (disposal & 7) << 2
        if transparent is not None:
            flags |= 1
        out += bytes([0x21, 0xF9, 4, flags])
        out += struct.pack("<H", delays[fi] // 10)
        out += bytes([transparent if transparent is not None else 0, 0])
        out += bytes([0x2C]) + struct.pack(
            "<HHHHB", 0, 0, w, h, 0x40 if interlace else 0
        )
        rows = idx[_interlace_order(h)] if interlace else idx
        data = _lzw_encode(rows.reshape(-1), mcs)
        out += bytes([mcs])
        for off in range(0, len(data), 255):
            chunk = data[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)
