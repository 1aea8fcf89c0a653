"""Pipeline configuration and LSH parameter selection.

``optimal_param`` reimplements the datasketch-style weighted FP/FN-area
minimization the reference uses (reference: workload/minhash_dedupe.py:80-117),
but with a scipy-free composite-Simpson quadrature (the sandbox has no scipy).
Pinned behavior (reference tests/test_minhash_dedupe_unit.py:163-165):
``optimal_param(0.7, 256) == (25, 10)``; also ``(0.7, 64) -> (8, 8)``.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def _simpson(f, lo: float, hi: float, n: int = 256) -> float:
    """Composite Simpson integration on [lo, hi] with n (even) intervals."""
    if hi <= lo:
        return 0.0
    if n % 2:
        n += 1
    h = (hi - lo) / n
    total = f(lo) + f(hi)
    for i in range(1, n):
        total += f(lo + i * h) * (4 if i % 2 else 2)
    return total * h / 3.0


def false_positive_area(threshold: float, b: int, r: int) -> float:
    """∫₀^t 1-(1-s^r)^b ds — probability mass of sub-threshold pairs that collide."""
    return _simpson(lambda s: 1.0 - (1.0 - s ** float(r)) ** float(b), 0.0, threshold)


def false_negative_area(threshold: float, b: int, r: int) -> float:
    """∫_t^1 (1-s^r)^b ds — probability mass of above-threshold pairs that miss."""
    return _simpson(lambda s: (1.0 - s ** float(r)) ** float(b), threshold, 1.0)


def optimal_param(
    threshold: float,
    num_perm: int,
    false_positive_weight: float = 0.5,
    false_negative_weight: float = 0.5,
) -> tuple[int, int]:
    """Grid-search (B, R) with B*R <= num_perm minimizing weighted FP+FN area.

    Mirrors reference workload/minhash_dedupe.py:80-117 (itself from
    datasketch.lsh). Driver-side pure Python — runs once per pipeline.
    """
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        for r in range(1, num_perm // b + 1):
            fp = false_positive_area(threshold, b, r)
            fn = false_negative_area(threshold, b, r)
            error = fp * false_positive_weight + fn * false_negative_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


# Universal-hash family constants (public-domain scheme used by datasketch and
# by the prior-art PySpark impl the reference studied,
# references/chengmao_minhash_spark.py:222-226): sig_j = min_h ((a_j*h+b_j) mod p) & 0xFFFFFFFF
MERSENNE_PRIME = (1 << 61) - 1
MAX_HASH_32 = (1 << 32) - 1


@dataclass
class DedupeConfig:
    """Frozen reference-parity configuration (workload/minhash_dedupe.py:133-174).

    Defaults match the reference pipeline: num_perm=64, ngram_size=5,
    threshold=0.7, seed=42 ⇒ (B, R) = (8, 8); normalize flags
    (remove_punct=True, lowercase=False, nfd_unicode=True, white_space=True).
    """

    index_col: str = "block_id"
    content_col: str = "block_text"
    component_col: str = "component"
    num_perm: int = 64
    ngram_size: int = 5
    threshold: float = 0.7
    seed: int = 42
    remove_punct: bool = True
    lowercase: bool = False
    nfd_unicode: bool = True
    white_space: bool = True
    # "hash_to_min": pure min-label diffusion (the CC the north rule names) —
    # fastest on low-diameter LSH graphs, verified identical partitions vs
    # union-find on every test graph. "alternating"/"two_phase": the
    # reference's star-contraction variants (workload/minhash_dedupe.py:149,
    # :740) — prefer for pathological high-diameter edge sets.
    algorithm: str = "hash_to_min"
    max_loops: int = 100
    # North-star addition (not in reference): exact-Jaccard verification of
    # LSH candidate pairs before clustering. Verified paths generate pairwise
    # within-bucket candidates (star fallback for hot buckets) — star edges
    # alone can orphan a true pair whose bucket min fails verification
    # against both endpoints.
    verify_pairs: bool = False
    B: int = field(init=False)
    R: int = field(init=False)

    def __post_init__(self) -> None:
        b, r = optimal_param(self.threshold, self.num_perm)
        # B*R <= num_perm is all banding needs:
        # operators/banding.lsh_band_buckets and oracle.minhash_lsh_clusters
        # each slice only the first B*R signature values. Most (threshold,
        # num_perm) combos have an optimal (B, R) with B*R < num_perm — e.g.
        # (0.8, 64) -> (5, 11) = 55 — so requiring equality would reject
        # nearly every non-default config.
        if b < 1 or r < 1 or b * r > self.num_perm:
            raise ValueError(
                f"no valid LSH banding for threshold={self.threshold}, "
                f"num_perm={self.num_perm} (got B={b}, R={r})"
            )
        self.B = b
        self.R = r
