"""Pure-Python media decoders and perceptual fingerprints (numpy only).

- Decoders: WAV/PCM audio (``decode_wav`` via stdlib ``wave``), binary
  PPM/PGM (``decode_ppm``), and ``decode_image_real``, which dispatches
  PNG / baseline JPEG / GIF payloads to a native decoder (Pillow) when one
  is importable and to the in-tree codecs (``extras/png_codec.py``,
  ``extras/jpeg_codec.py``, ``extras/gif_codec.py``) otherwise.
- Video: ``video_frames_one`` decodes AVI (DIB / MJPEG,
  ``extras/avi_codec.py``) and animated GIF into ``(frame, delay_ms)``
  lists; ``_sample_frames`` keeps the frames a tick grid presents.
- Fingerprints: ``ahash64`` (image), ``audio_fp64`` (audio) and
  ``video_fp64`` (majority vote over frame hashes), all 64-bit signed ints
  in integer arithmetic, so another engine recomputing them from the same
  bytes gets identical bits.

Every decoder fails with ``ValueError`` / ``NotImplementedError`` only
(``extras/_codec_util.py``). Progressive/arithmetic JPEG and mp4/webm
containers are rejected with ``NotImplementedError``.
"""

from __future__ import annotations

import io
import wave

import numpy as np

from daft_minhash_dedupe_spark.extras._codec_util import loud_decoder


def _wav_samples(payload: bytes) -> tuple[dict, np.ndarray]:
    """Parse a RIFF/WAVE payload with stdlib ``wave``: header params + the
    raw PCM sample array (uint8 for 8-bit, little-endian int16 otherwise)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        sr, ch, width, n = (
            w.getframerate(), w.getnchannels(), w.getsampwidth(), w.getnframes()
        )
        frames = w.readframes(n)
    if width not in (1, 2):
        # 24/32-bit PCM would silently mis-decode as int16 garbage — fail
        # loudly instead
        raise ValueError(f"unsupported WAV sample width: {width * 8}-bit PCM")
    dtype = np.uint8 if width == 1 else np.dtype("<i2")
    samples = np.frombuffer(frames, dtype=dtype)
    params = {
        "sample_rate": sr,
        "n_channels": ch,
        "n_frames": n,
        "duration_ms": n * 1000 // sr,
    }
    return params, samples


@loud_decoder
def decode_wav(payload: bytes) -> dict:
    """REAL audio decode via stdlib ``wave``: parses the RIFF/WAVE header and
    PCM frames. Returns sample_rate/n_channels/n_frames/duration_ms plus the
    exact integer sum of all 8-bit samples (16-bit samples are summed as
    signed int16)."""
    params, samples = _wav_samples(payload)
    return {**params, "sample_sum": int(samples.astype(np.int64).sum())}


def audio_fp64(samples: np.ndarray, n_windows: int = 64) -> int:
    """Perceptual audio fingerprint: split the sample stream into
    ``n_windows`` equal-share windows, take each window's mean, and set bit k
    iff mean[(k+1) mod n] > mean[k] (the circular delta-sign profile).

    Differences of window means cancel any constant DC offset, so a
    uniformly offset copy of the same audio fingerprints identically — the
    analogue of aHash's brightness invariance. Near-duplicates (a short
    local perturbation) flip only the bits whose windows they touch."""
    x = samples.astype(np.float64)
    n = len(x)
    bounds = (np.arange(n_windows + 1) * n) // n_windows
    sums = np.add.reduceat(x, bounds[:-1]) if n else np.zeros(n_windows)
    counts = np.maximum(np.diff(bounds), 1)
    means = sums / counts
    bits = np.roll(means, -1) > means
    val = np.uint64(0)
    for k in np.nonzero(bits)[0]:
        val |= np.uint64(1) << np.uint64(int(k))
    return int(val.astype(np.int64))


@loud_decoder
def decode_ppm(payload: bytes) -> np.ndarray:
    """REAL image decode for binary PPM (P6, RGB) / PGM (P5, gray): header
    token parse + numpy reshape. No external library needed."""
    if not payload.startswith((b"P6", b"P5")):
        raise ValueError("not a binary PPM/PGM payload")
    channels = 3 if payload.startswith(b"P6") else 1
    # header = magic, width, height, maxval tokens separated by whitespace
    # (comments stripped), then a single whitespace byte before pixel data
    tokens: list[bytes] = []
    pos = 2
    end = len(payload)
    while len(tokens) < 3:
        while pos < end and payload[pos : pos + 1].isspace():
            pos += 1
        if pos >= end:
            raise ValueError("PPM/PGM header truncated")
        if payload[pos : pos + 1] == b"#":  # comment to end-of-line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < end and not payload[pos : pos + 1].isspace():
            pos += 1
        if pos >= end:
            raise ValueError("PPM/PGM header truncated")
        tokens.append(payload[start:pos])
    width, height, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise NotImplementedError("16-bit PPM needs byte-order handling")
    data = payload[pos + 1 : pos + 1 + width * height * channels]
    arr = np.frombuffer(data, dtype=np.uint8)
    return arr.reshape(height, width, channels)


_NATIVE_IMAGE_DECODER: object = "unresolved"


def _native_image_decoder():
    """Resolve a native image decoder (Pillow) once per interpreter and cache
    the result — on a real cluster deployment with Pillow on the executors
    the compressed-format hot path runs at C speed with zero config, while
    a host without Pillow falls back to the in-tree numpy codecs. The
    resolved callable returns the same (H, W, channels) uint8 layout the
    in-tree decoders produce, so every caller is decoder-agnostic. Returns
    None when no native library is importable."""
    global _NATIVE_IMAGE_DECODER
    if _NATIVE_IMAGE_DECODER == "unresolved":
        try:
            from PIL import Image as _PILImage  # noqa: F401

            def _decode(payload: bytes) -> np.ndarray:
                from PIL import Image

                with Image.open(io.BytesIO(payload)) as im:
                    # channel-shape parity with the in-tree codecs: keep
                    # grayscale/LA/RGB/RGBA native widths (PNG color types
                    # 0/4/2/6), resolve palettes to RGB (type 3 / GIF)
                    if im.mode not in ("L", "LA", "RGB", "RGBA"):
                        im = im.convert("RGB")
                    arr = np.asarray(im, dtype=np.uint8)
                return arr[:, :, None] if arr.ndim == 2 else arr

            _NATIVE_IMAGE_DECODER = _decode
        except Exception:
            _NATIVE_IMAGE_DECODER = None
    return _NATIVE_IMAGE_DECODER


def decode_image_real(payload: bytes) -> np.ndarray:
    """Real image decode dispatch: PPM/PGM (header parse + reshape, here —
    always in-tree, it is a header parse + one reshape), and for compressed
    containers (PNG / JPEG / GIF) a native decoder (Pillow) when one is
    importable, else the in-tree from-scratch codecs: PNG (zlib inflate +
    scanline filter reconstruction + palette, extras/png_codec.py), baseline
    JPEG (DHT Huffman + IDCT + chroma upsample, extras/jpeg_codec.py),
    GIF (LZW + palette, extras/gif_codec.py). A native-path decode failure
    falls back to the in-tree codec rather than erroring, so a Pillow
    build-gap (e.g. missing optional plugin) never changes results — only
    speed — for the shared-support set (8-bit gray/LA/RGB/RGBA/palette,
    baseline JPEG; channel shapes match the in-tree codecs by construction).
    Formats the in-tree codecs gate (progressive JPEG, 16-bit, Adam7
    interlace) DO decode on the native path instead of raising — a
    deliberate capability upgrade, not a parity bug."""
    if payload.startswith((b"P6", b"P5")):
        return decode_ppm(payload)
    compressed = payload.startswith(
        (b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF87a", b"GIF89a")
    )
    if compressed:
        native = _native_image_decoder()
        if native is not None:
            try:
                return native(payload)
            except Exception:
                pass
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        from daft_minhash_dedupe_spark.extras.png_codec import decode_png

        return decode_png(payload)
    if payload.startswith(b"\xff\xd8"):
        from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg

        return decode_jpeg(payload)
    if payload.startswith((b"GIF87a", b"GIF89a")):
        from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        "unrecognized image container (TIFF/WebP need an image library)"
    )


def resize_nearest(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor image resize via integer index sampling (numpy-only,
    deterministic): output cell (i, j) takes source pixel
    (i*H // out_h, j*W // out_w). For exact integer downscale factors this is
    plain strided sampling — e.g. 16×16 → 8×8 reads every other pixel."""
    rows = (np.arange(out_h) * arr.shape[0]) // out_h
    cols = (np.arange(out_w) * arr.shape[1]) // out_w
    return arr[rows][:, cols]


def ahash64(arr: np.ndarray, grid: int = 8) -> int:
    """Perceptual average-hash: grayscale (channel mean) → nearest-resize to
    grid×grid → bit k set iff cell k (row-major) > grid mean. 64-bit for the
    default grid, returned as signed int64.

    Invariances that make it a *perceptual* fingerprint rather than a byte
    hash: a uniform brightness shift moves every cell and the mean equally,
    so the hash is unchanged; pixels not on the sampling grid don't
    contribute, so sub-sample noise is ignored. Near-duplicates land within
    a small Hamming distance.

    All-integer arithmetic: the threshold `cell > mean` is evaluated as
    `n_cells * channel_sum(cell) > total_sum` (channel SUM is a monotone
    scaling of the channel mean, and clearing the denominators keeps every
    comparison exact) — so an independent engine recomputing the hash from
    the same bytes gets bit-identical results, with no float-tie hazard."""
    gray = (
        arr.astype(np.int64).sum(axis=2) if arr.ndim == 3 else arr.astype(np.int64)
    )
    cells = resize_nearest(gray, grid, grid).ravel()
    bits = cells * len(cells) > cells.sum()
    val = np.uint64(0)
    for k in np.nonzero(bits)[0]:
        val |= np.uint64(1) << np.uint64(int(k))
    return int(val.astype(np.int64))


def video_frames_one(payload: bytes) -> list:
    """Container-dispatched REAL video frame decode: RIFF/AVI (DIB + MJPEG,
    extras/avi_codec.py) and animated GIF (extras/gif_codec.py) both yield
    ``[(frame, delay_ms), ...]``, so everything above this call is
    container-agnostic — the same dispatch-on-magic shape as
    decode_image_real."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from daft_minhash_dedupe_spark.extras.avi_codec import avi_frames

        return avi_frames(payload)
    if payload.startswith((b"GIF87a", b"GIF89a")):
        from daft_minhash_dedupe_spark.extras.gif_codec import gif_frames

        return gif_frames(payload)
    raise NotImplementedError("unrecognized video container (mp4/webm need ffmpeg)")


def _sample_frames(frames: list, every_ms: int | None) -> list:
    """Presentation-time sampling: keep the frame on screen at each tick
    0, every_ms, 2*every_ms, … — i.e. the frame whose [t, t+delay) interval
    contains a tick (a 0-delay frame is never on screen past t, so it only
    matches a tick landing exactly on t). every_ms=None keeps every frame.
    Returns [(orig_idx, t_ms, frame), ...]."""
    out = []
    t = 0
    for i, (frame, delay) in enumerate(frames):
        if every_ms is None:
            out.append((i, t, frame))
        else:
            first_tick = -(-t // every_ms) * every_ms  # ceil to tick grid
            if first_tick == t or first_tick < t + delay:
                out.append((i, t, frame))
        t += delay
    return out


def video_fp64(frame_hashes: list[int]) -> int:
    """Video-level 64-bit fingerprint: strict per-bit majority vote over the
    sampled frames' aHashes. Any per-frame-invariant edit (exact copy,
    uniform brightness shift) preserves every frame hash and therefore the
    vote; a few changed/reordered frames flip only the bits near the
    majority boundary, so near-dup videos land within a small Hamming
    distance. All-integer, so an independent engine recomputing from the
    same frame hashes is bit-identical."""
    n = len(frame_hashes)
    if not n:
        raise ValueError("video_fp64 needs at least one frame hash")
    counts = [0] * 64
    for fh in frame_hashes:
        u = fh & 0xFFFFFFFFFFFFFFFF
        for k in range(64):
            counts[k] += (u >> k) & 1
    val = np.uint64(0)
    for k in range(64):
        if 2 * counts[k] > n:
            val |= np.uint64(1) << np.uint64(k)
    return int(val.astype(np.int64))
