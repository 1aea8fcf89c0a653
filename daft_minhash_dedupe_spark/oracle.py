"""Independent pure-Python oracle for validation (test-scale only).

Replaces the reference's igraph production validator
(workload/minhash_dedupe.py:559-614) with dependency-free reimplementations:

- ``xxh64``: the public XXH64 algorithm (spec: github.com/Cyan4973/xxHash) —
  used to cross-check Spark's ``F.xxhash64`` bit-for-bit so the oracle can
  recompute the whole pipeline from raw text without touching the JVM;
- ``minhash_oracle``: straight-line numpy re-implementation of the
  signature/banding/edge/cluster chain (python dicts + union-find);
- partition comparison is label-invariant (set of frozensets), matching the
  reference's validation semantics.
"""

from __future__ import annotations

import numpy as np

from daft_minhash_dedupe_spark.config import MAX_HASH_32, MERSENNE_PRIME

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Reference XXH64 (unsigned). Spark's ``F.xxhash64`` uses seed 42."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = 42) -> int:
    """Two's-complement view matching Spark's LongType output."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_chain_longs(values: list[int], seed: int = 42) -> int:
    """Spark's multi-column ``xxhash64(l1, l2, …)`` over LongType columns:
    each long is hashed as its 8 little-endian bytes, the running hash is the
    seed for the next column. Returns signed."""
    h = seed
    for v in values:
        h = xxh64((v & ((1 << 64) - 1)).to_bytes(8, "little"), h)
    return h - (1 << 64) if h >= (1 << 63) else h


def shingle_set(text: str, ngram_size: int) -> list[int]:
    """Distinct shingle hashes matching
    functions/minhash.shingle_hashes_from_token_hashes: per-token xxhash64 of
    the utf-8 bytes, then xxhash64-chain over each ``ngram_size`` window
    (short docs: one chain over all tokens)."""
    toks = text.split()
    if not toks:
        return []
    th = [xxh64_signed(t.encode("utf-8")) for t in toks]
    if len(th) < ngram_size:
        windows = [th]
    else:
        windows = [th[i : i + ngram_size] for i in range(len(th) - ngram_size + 1)]
    seen: dict[int, None] = {}
    for w in windows:
        seen.setdefault(xxh64_chain_longs(w), None)
    return list(seen)


def signature(shingles: list[int], num_perm: int, seed: int) -> np.ndarray:
    """Same math as functions/minhash.minhash_signature, row-at-a-time."""
    gen = np.random.RandomState(seed)
    a = gen.randint(1, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    b = gen.randint(0, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    if not shingles:
        return np.full(num_perm, MAX_HASH_32, dtype=np.int64)
    h32 = np.asarray(shingles, dtype=np.int64).astype(np.uint64) & np.uint64(MAX_HASH_32)
    ph = ((np.multiply.outer(h32, a) + b) % np.uint64(MERSENNE_PRIME)) & np.uint64(MAX_HASH_32)
    return ph.min(axis=0).astype(np.int64)


def minhash_lsh_clusters(
    docs: dict[int, str], num_perm: int, ngram_size: int, seed: int, B: int, R: int
) -> dict[int, int]:
    """Full independent pipeline: text → clusters {node: component_min}."""
    buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
    for node, text in docs.items():
        sig = signature(shingle_set(text, ngram_size), num_perm, seed)
        for b in range(B):
            key = (b, tuple(sig[b * R : (b + 1) * R].tolist()))
            buckets.setdefault(key, []).append(node)
    edges = []
    for members in buckets.values():
        if len(members) > 1:
            m = min(members)
            edges.extend((m, x) for x in members if x != m)
    from daft_minhash_dedupe_spark.operators.components import union_find_components

    return union_find_components(edges)


def partition_sets(assign: dict[int, int]) -> set[frozenset[int]]:
    """Label-invariant partition view (reference validation semantics)."""
    comps: dict[int, set[int]] = {}
    for node, rep in assign.items():
        comps.setdefault(rep, set()).add(node)
    for rep, members in comps.items():
        members.add(rep)
    return {frozenset(v) for v in comps.values()}
