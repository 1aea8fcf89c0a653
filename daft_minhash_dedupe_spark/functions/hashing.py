"""Deterministic ids and digests.

The reference assigns node ids with ``monotonically_increasing_id()``
(workload/minhash_dedupe.py:244) and its author flags the non-determinism as a
regret (FRICTION_LOG.md:88-91). We instead derive ids by hashing the natural
key — stable across sessions, clusters, and resumes, which is what makes
per-stage checkpoint/resume sound.

Collision note (10^12-doc scale): a single 64-bit id space gives ~27k expected
colliding url pairs at 10^12 docs. For this engine a collision can only merge
two documents into one cluster (never lose rows).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def doc_id_from_url(url: Column) -> Column:
    """Deterministic 64-bit node id: ``xxhash64(url)``."""
    return F.xxhash64(url)


def band_key(band_idx: Column, band: Column) -> Column:
    """64-bit digest of (band_idx, band values) — the LSH bucket key.

    Grouping by a fixed-width digest instead of the raw ``array<bigint>``
    band (what the reference groups by, workload/minhash_dedupe.py:260-261)
    shrinks shuffle keys from R*8 bytes to 8 bytes; xxhash64 natively hashes
    array columns element-wise so no serialization UDF is needed.
    """
    return F.xxhash64(band_idx, band)
