"""64-bit perceptual fingerprints of decoded media (numpy only): ``audio_fp64``
of a PCM sample stream and ``video_fp64``, a vote over per-frame hashes. Both
return signed int64 without float ties, so another engine gets identical bits."""

from __future__ import annotations

import numpy as np


def audio_fp64(samples: np.ndarray, n_windows: int = 64) -> int:
    """Perceptual audio fingerprint: split the sample stream into
    ``n_windows`` equal-share windows, take each window's mean, and set bit k
    iff mean[(k+1) mod n] > mean[k] (the circular delta-sign profile).

    Differences of window means cancel any constant DC offset, so a
    uniformly offset copy of the same audio fingerprints identically.
    Near-duplicates (a short local perturbation) flip only the bits whose
    windows they touch."""
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


def video_fp64(frame_hashes: list[int]) -> int:
    """Video-level 64-bit fingerprint: strict per-bit majority vote over the
    sampled frames' hashes. A per-frame-invariant edit preserves every frame
    hash and so the vote; a few changed or reordered frames flip only the
    bits near the majority boundary."""
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
