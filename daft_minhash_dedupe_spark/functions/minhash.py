"""MinHash signature kernel — the one real compute kernel of the engine.

Spark rebuild of Daft's native ``Expression.minhash(num_hashes, ngram_size,
seed, hash_function='xxhash')`` (reference call site:
workload/minhash_dedupe.py:218-239; shape pinned by reference
tests/test_minhash_dedupe_unit.py:219-228 — ``len(sig) == num_perm``, ints).

Split into two stages so the string-heavy half stays JVM-side:

1. ``shingle_hashes``: word n-gram shingling + xxhash64, entirely Catalyst
   expressions (``split`` / ``sequence`` / ``transform`` / ``slice`` /
   ``array_join`` / ``xxhash64`` / ``array_distinct``) → whole-stage codegen,
   zero Python.
2. ``minhash_signature``: the universal-hash permutation min-pluck
   ``sig_j = min_h ((a_j·h + b_j) mod p) & 0xFFFFFFFF`` as an Arrow-batched
   pandas UDF doing a single numpy outer-product + segmented min per batch —
   the same math as the prior-art PySpark impl the reference studied
   (references/chengmao_minhash_spark.py:222-226) but batched over many rows
   with ``np.minimum.reduceat`` (no per-row Python loop in the hot path).

Shingle semantics (matching chengmao ``ngrams``,
references/chengmao_minhash_spark.py:85-106): whitespace-tokenized word
shingles of size ``ngram_size``; a document with fewer than ``ngram_size``
tokens yields ONE shingle containing all its tokens; shingles are
deduplicated before hashing (set semantics → true Jaccard estimates).
Empty/whitespace-only documents get the all-``MAX_HASH`` signature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from daft_minhash_dedupe_spark.config import MAX_HASH_32, MERSENNE_PRIME

# Keep the (n_shingles × num_perm) uint64 intermediate at ~32 MB per chunk —
# small enough to stay cache/TLB-friendly and to make first-touch page faults
# negligible (a 256 MB chunk measured 5s of fault time per fresh buffer).
_CHUNK_CELLS = 4_000_000

# worker-global scratch, reused across Arrow batches (python workers are
# long-lived under spark.python.worker.reuse): key = num_perm. Pinned memory
# is bounded: every request is ≤ _CHUNK_CELLS//num_perm rows, so the buffer
# never exceeds _CHUNK_CELLS cells = 32 MB per distinct num_perm.
_KERNEL_BUF: dict[int, np.ndarray] = {}


def _scratch(rows: int, num_perm: int) -> np.ndarray:
    buf = _KERNEL_BUF.get(num_perm)
    if buf is None or buf.shape[0] < rows:
        buf = np.empty((rows, num_perm), dtype=np.uint64)
        buf.fill(0)  # prefault every page once, here, not inside the hot loop
        _KERNEL_BUF[num_perm] = buf
    return buf


def tokens(col: Column) -> Column:
    """Whitespace tokens of a (normalized) text column, empties removed."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != F.lit(""))


def shingle_hashes_from_token_hashes(th: Column, ngram_size: int) -> Column:
    """Distinct shingle hashes from an ALREADY-MATERIALIZED array of per-token
    xxhash64 values: each shingle hash is ``xxhash64(th[i], …, th[i+n-1])``
    (Spark's multi-column chain over fixed-width longs).

    Why token hashes instead of joined shingle strings: building 20M+ joined
    strings per million docs hits the JVM allocation/GC wall (string shingles
    measured ~0 scaling from 8→32 local cores); hashing each token ONCE and
    then hashing 8-byte windows is allocation-free per window. Shingle
    identity semantics are unchanged — distinct token windows ↔ distinct
    hash tuples (modulo 64-bit collisions).

    PERF: ``th`` must be a bound column reference — Catalyst does not CSE
    inside ``transform`` lambdas (an inline expression would be recomputed
    per window; measured 10×). Use ``add_shingles`` for the dataframe idiom.
    """
    n = F.size(th)
    windows = F.sequence(F.lit(1), F.greatest(n - F.lit(ngram_size - 1), F.lit(1)))
    full = F.transform(
        windows,
        lambda i: F.xxhash64(*[F.element_at(th, i + j) for j in range(ngram_size)]),
    )
    # short docs (< ngram_size tokens): ONE shingle over all n tokens
    short = F.xxhash64(F.element_at(th, 1))
    for c in range(2, ngram_size):
        short = F.when(
            n == c, F.xxhash64(*[F.element_at(th, k) for k in range(1, c + 1)])
        ).otherwise(short)
    return (
        F.when(n == 0, F.array().cast("array<bigint>"))
        .when(n < ngram_size, F.array(short))
        .otherwise(F.array_distinct(full))
    )


def add_shingles(
    df, text_col: str, ngram_size: int = 5, out_col: str = "shingles"
):
    """Two-step shingle computation: materialize token array and per-token
    hashes as columns once, then hash fixed-width windows over the bound
    references (the fast path — see ``shingle_hashes_from_token_hashes``)."""
    return (
        df.withColumn("__tok", tokens(F.col(text_col)))
        .withColumn("__th", F.transform(F.col("__tok"), lambda t: F.xxhash64(t)))
        .withColumn(out_col, shingle_hashes_from_token_hashes(F.col("__th"), ngram_size))
        .drop("__tok", "__th")
    )


def shingle_hashes(col: Column, ngram_size: int) -> Column:
    """Single-expression convenience form (small inputs / tests only —
    recomputes the token split per window; hot paths use ``add_shingles``)."""
    return shingle_hashes_from_token_hashes(
        F.transform(tokens(col), lambda t: F.xxhash64(t)), ngram_size
    )


def _min_signatures_flat(
    values: np.ndarray, offsets: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Core batched permutation min-pluck on a flattened shingle array.

    values: int64 shingle hashes for the whole batch; offsets: int64[n+1]
    row boundaries. Returns (n, num_perm) int64. One numpy outer product per
    chunk, ``np.minimum.reduceat`` for per-row minima — no per-row Python.
    """
    num_perm = len(a)
    n = len(offsets) - 1
    out = np.empty((n, num_perm), dtype=np.int64)
    lens = np.diff(offsets)
    empty = lens == 0
    row = 0
    max_cells = max(_CHUNK_CELLS // num_perm, 1)
    # reusable worker-global (shingles, num_perm) scratch: the naive
    # out-of-place expression allocates four fresh temporaries per chunk and
    # is page-fault-bound (measured ~10× slower than this in-place pipeline)
    buf = _scratch(min(max_cells, int(offsets[-1]) or 1), num_perm)
    mod = np.uint64(MERSENNE_PRIME)
    mask = np.uint64(MAX_HASH_32)
    while row < n:
        end = row + 1
        cells = int(lens[row])
        while end < n and cells + lens[end] <= max_cells:
            cells += int(lens[end])
            end += 1
        lo, hi = int(offsets[row]), int(offsets[end])
        if hi > lo:
            h32 = values[lo:hi].astype(np.uint64)
            h32 &= mask
            if hi - lo > buf.shape[0]:
                buf = _scratch(hi - lo, num_perm)
            ph = np.multiply.outer(h32, a, out=buf[: hi - lo])
            ph += b
            ph %= mod
            ph &= mask
            ne = ~empty[row:end]
            starts = (offsets[row:end][ne] - lo).astype(np.int64)
            out[row:end][ne] = np.minimum.reduceat(ph, starts, axis=0).astype(np.int64)
        out[row:end][empty[row:end]] = MAX_HASH_32
        row = end
    return out


def _permutations(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic (a, b) universal-hash parameters, seeded like chengmao."""
    gen = np.random.RandomState(seed)
    a = gen.randint(1, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    b = gen.randint(0, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    return a, b


def minhash_signature(col: Column, num_perm: int = 64, seed: int = 42) -> Column:
    """``array<bigint>`` MinHash signature (values in [0, 2^32)) of a
    distinct-shingle-hash array column.

    Arrow-batched pandas UDF; all math is numpy over the whole batch
    (flattened shingles → one outer product → ``np.minimum.reduceat``
    segmented min), chunked to bound the intermediate matrix.
    """
    a, b = _permutations(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(hashes: pd.Series) -> pd.Series:
        n = len(hashes)
        if n == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(h) for h in hashes), dtype=np.int64, count=n)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lens, out=offsets[1:])
        if offsets[-1] > 0:
            values = np.concatenate([np.asarray(h, dtype=np.int64) for h in hashes if len(h)])
        else:
            values = np.empty(0, dtype=np.int64)
        mins = _min_signatures_flat(values, offsets, a, b)
        return pd.Series(list(mins))

    return _sig(col)
