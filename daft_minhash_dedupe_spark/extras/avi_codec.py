"""Minimal REAL AVI (RIFF) video codec — pure Python + numpy, no ffmpeg.

AVI (the public Microsoft RIFF/AVI specification) is a chunk tree: a
``RIFF``/``AVI `` container holding a ``LIST hdrl`` (a 56-byte
MainAVIHeader ``avih`` plus one ``LIST strl`` per stream with the
56-byte AVIStreamHeader ``strh`` and a BITMAPINFOHEADER ``strf``), a
``LIST movi`` whose ``00db``/``00dc`` chunks carry the stream-0 video
frames (raw DIB / compressed), and an optional ``idx1`` index. Chunks
are word-aligned: an odd-sized chunk is followed by one pad byte.

This gives the repo an honest VIDEO decode path beyond animated GIF:
``avi_frames`` yields every frame with its per-frame duration, in the
same ``(canvas, delay_ms)`` shape as ``gif_codec.gif_frames``, so the
frame sampler and fingerprints in extras/multimodal.py are
container-agnostic.

Decoder scope (loud ``ValueError`` / ``NotImplementedError`` otherwise —
see ``_codec_util``):
- uncompressed 24-bit DIB frames (``00db``, BI_RGB): bottom-up or
  top-down rows, BGR order, 4-byte row stride
- MJPEG frames (``00dc``, 'MJPG'/'mjpg'): each frame is a baseline
  JPEG decoded by extras/jpeg_codec.py — container parse and entropy
  decode both real, both in-tree
- ``LIST rec `` interleave groups, pad bytes, idx1 ignored (frames are
  streamed from movi in order, the robust path for truncated indexes)
- anything else (other bit depths, other codecs) raises
  NotImplementedError — those genuinely need ffmpeg

The encoder exists for test/synthesis symmetry: DIB mode is lossless
(tests assert exact pixel equality across containers); MJPEG mode reuses
``encode_jpeg``'s near-lossless default table.
"""

from __future__ import annotations

import struct

import numpy as np

from daft_minhash_dedupe_spark.extras._codec_util import check_dims, loud_decoder

_BI_RGB = 0
_MJPG_FOURCCS = (b"MJPG", b"mjpg")


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list_chunk(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def _dib_bytes(frame: np.ndarray) -> bytes:
    """24-bit bottom-up BGR rows, each padded to a 4-byte boundary."""
    h, w, _ = frame.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
    return rows.tobytes()


def encode_avi(
    frames: list[np.ndarray], frame_ms: int = 40, codec: str = "dib"
) -> bytes:
    """Write a single-video-stream AVI. ``frames``: same-shape uint8
    arrays, gray (H,W) or RGB (H,W,3). ``codec``: 'dib' (lossless raw
    24-bit) or 'mjpg' (per-frame baseline JPEG via extras/jpeg_codec)."""
    if not frames:
        raise ValueError("encode_avi needs at least one frame")
    if codec not in ("dib", "mjpg"):
        raise ValueError(f"codec={codec!r}")
    norm = []
    for f in frames:
        a = np.asarray(f, dtype=np.uint8)
        if a.ndim == 2:
            a = np.repeat(a[:, :, None], 3, axis=2)
        if a.ndim != 3 or a.shape[2] != 3:
            raise ValueError("frames must be (H,W) gray or (H,W,3) RGB")
        norm.append(a)
    h, w, _ = norm[0].shape
    if any(f.shape != (h, w, 3) for f in norm):
        raise ValueError("all frames must share one size")

    if codec == "dib":
        handler, compression, ckid = b"DIB ", _BI_RGB, b"00db"
        payloads = [_dib_bytes(f) for f in norm]
    else:
        from daft_minhash_dedupe_spark.extras.jpeg_codec import encode_jpeg

        handler = b"MJPG"
        compression = struct.unpack("<I", b"MJPG")[0]
        ckid = b"00dc"
        payloads = [encode_jpeg(f) for f in norm]

    buf_size = max(len(p) for p in payloads)
    avih = struct.pack(
        "<14I",
        frame_ms * 1000,  # dwMicroSecPerFrame
        0, 0,
        0x10,  # AVIF_HASINDEX
        len(norm), 0, 1, buf_size, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sI2HI4IIiI4H",
        b"vids", handler, 0, 0, 0, 0,
        frame_ms, 1000,  # dwScale / dwRate: fps = rate/scale = 1000/frame_ms
        0, len(norm), buf_size, -1, 0, 0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, compression, h * ((w * 3 + 3) & ~3),
        0, 0, 0, 0,
    )
    hdrl = _list_chunk(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list_chunk(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b""
    idx = b""
    for p in payloads:
        # idx1 offsets are relative to the 'movi' list-type fourcc
        idx += struct.pack("<4sIII", ckid, 0x10, 4 + len(movi_body), len(p))
        movi_body += _chunk(ckid, p)
    riff_body = b"AVI " + hdrl + _list_chunk(b"movi", movi_body) + _chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _subchunks(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if pos + 8 + size > end:
            raise ValueError("AVI chunk truncated")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def _movi_frames(data: bytes, pos: int, end: int, out: list[bytes]) -> None:
    for fourcc, body, size in _subchunks(data, pos, end):
        if fourcc == b"LIST" and data[body : body + 4] == b"rec ":
            _movi_frames(data, body + 4, body + size, out)
        elif fourcc[:2] == b"00" and fourcc[2:4] in (b"db", b"dc"):
            out.append(data[body : body + size])


@loud_decoder
def avi_frames(payload: bytes) -> list[tuple[np.ndarray, int]]:
    """Decode an AVI into ``[(frame_rgb, frame_ms), ...]`` — the same
    presentation shape gif_codec.gif_frames yields, so callers treat GIF
    animations and AVI videos identically."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(8 + riff_size, len(payload))
    if 8 + riff_size > len(payload):
        raise ValueError("AVI RIFF size exceeds payload")

    avih = None
    strh = None
    strf = None
    raw_frames: list[bytes] = []
    for fourcc, body, size in _subchunks(payload, 12, end):
        if fourcc != b"LIST":
            continue
        ltype = payload[body : body + 4]
        if ltype == b"hdrl":
            for f2, b2, s2 in _subchunks(payload, body + 4, body + size):
                if f2 == b"avih":
                    avih = struct.unpack("<14I", payload[b2 : b2 + 56])
                elif f2 == b"LIST" and payload[b2 : b2 + 4] == b"strl":
                    for f3, b3, s3 in _subchunks(payload, b2 + 4, b2 + s2):
                        if f3 == b"strh" and payload[b3 : b3 + 4] == b"vids":
                            strh = struct.unpack(
                                "<4s4sI2HI4IIiI4H", payload[b3 : b3 + 56]
                            )
                        elif f3 == b"strf" and strf is None and strh is not None:
                            strf = struct.unpack("<IiiHHII", payload[b3 : b3 + 24])
        elif ltype == b"movi":
            _movi_frames(payload, body + 4, body + size, raw_frames)

    if avih is None or strh is None or strf is None:
        raise ValueError("AVI missing avih/strh/strf headers")
    scale, rate = strh[6], strh[7]
    frame_ms = (
        round(1000 * scale / rate) if scale and rate else round(avih[0] / 1000)
    )
    _, w, bih_h, _, bitcount, compression, _ = strf
    h = abs(bih_h)
    check_dims(w, h, "AVI strf")

    frames = []
    if compression == _BI_RGB:
        if bitcount != 24:
            raise NotImplementedError(f"{bitcount}-bit DIB needs an image library")
        stride = (w * 3 + 3) & ~3
        for raw in raw_frames:
            if len(raw) < stride * h:
                raise ValueError("DIB frame truncated")
            rows = np.frombuffer(raw[: stride * h], dtype=np.uint8).reshape(h, stride)
            rgb = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]
            if bih_h > 0:  # positive biHeight = bottom-up rows
                rgb = rgb[::-1]
            frames.append((rgb.copy(), frame_ms))
    elif struct.pack("<I", compression) in _MJPG_FOURCCS:
        from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg

        for raw in raw_frames:
            arr = decode_jpeg(raw)
            if arr.ndim == 2:
                arr = np.repeat(arr[:, :, None], 3, axis=2)
            frames.append((arr, frame_ms))
    else:
        fourcc = struct.pack("<I", compression)
        raise NotImplementedError(
            f"AVI compression {fourcc!r} needs ffmpeg (only DIB/MJPG in-tree)"
        )
    return frames
