"""LSH banding operators.

Reference behavior: split the ``num_perm``-wide signature into B bands of R
values, explode, and group nodes sharing an identical (band_idx, band)
(workload/minhash_dedupe.py:249-262). The reference's per-band index UDF
(``get_band_idx``, :251-253) is eliminated by ``posexplode``; the reference's
groupBy on a raw ``list[int]`` key is replaced by a groupBy on a 64-bit
xxhash64 band digest (8-byte shuffle keys).

Skew: the prior-art impl flags this exact groupBy as the scale bottleneck
(references/chengmao_minhash_spark.py:464) — one hot band (boilerplate text)
can put millions of nodes in a single group. ``salted_bucket_min`` is the
mandated two-phase salted aggregation: stage 1 groups by (band_key, salt)
with map-side partial min; stage 2 merges per band_key. Because downstream
only ever needs each bucket's MIN node (star edges — see edges.py), no
``collect_list`` of a hot bucket is ever materialized at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.functions.hashing import band_key


def lsh_band_buckets(
    df: DataFrame,
    R: int,
    B: int,
    node_col: str = "node_id",
    sig_col: str = "min_hashes",
) -> DataFrame:
    """Explode signatures into per-band rows: (band_idx, band_key, node).

    ``posexplode`` over the banded slices yields the band index natively
    (kills reference UDFs get_block_idx/get_band_idx per SURVEY §2.6-L1).
    Output: one row per (node × band): ``band_idx int, band_key long, node long``.
    """
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda i: F.slice(F.col(sig_col), i * R + 1, R),
    )
    # posexplode_outer + null filter: inner posexplode's inferred size()>0
    # filter pushes below the projection and re-evaluates the banded-slice
    # expression (and, in ad-hoc plans, the signature UDF feeding it) twice
    return (
        df.select(
            F.col(node_col).alias("node"),
            F.posexplode_outer(bands).alias("band_idx", "band"),
        )
        .where(F.col("band").isNotNull())
        .select(
            "band_idx",
            band_key(F.col("band_idx"), F.col("band")).alias("band_key"),
            "node",
        )
    )


def salted_bucket_min(
    buckets: DataFrame,
    num_salts: int = 16,
    key_col: str = "band_key",
    val_col: str = "node",
    mins: dict[str, Column] | None = None,
) -> DataFrame:
    """Two-phase salted min per bucket → (band_key, u = min node).

    Stage 1 groups by (key, salt = xxhash64(val) % S) — hot keys spread over S
    reducers; stage 2 merges the S partial minima. min/max already get
    map-side partial aggregation from Catalyst, so salting is strictly about
    reducer-key cardinality under extreme skew (a >10^7-member hot band).
    ``mins`` (output column → expression) takes several minima in the same
    two phases instead of ``u``, e.g. one per tagged subset of the rows.
    """
    mins = mins or {"u": F.col(val_col)}
    salt = F.pmod(F.xxhash64(F.col(val_col)), F.lit(num_salts))
    partial = buckets.groupBy(F.col(key_col), salt.alias("_salt")).agg(
        *(F.min(e).alias(f"_partial_{n}") for n, e in mins.items())
    )
    return partial.groupBy(key_col).agg(*(F.min(f"_partial_{n}").alias(n) for n in mins))


def lsh_banding(
    df: DataFrame,
    R: int,
    B: int,
    node_col: str = "node_id",
    sig_col: str = "min_hashes",
) -> DataFrame:
    """Reference-shaped banding: (band_idx, band, nodes list) per bucket.

    Parity operator for tests mirroring the reference's
    ``lsh_banding`` output (workload/minhash_dedupe.py:255-262; test contract
    tests/test_minhash_dedupe_unit.py:232-271). The scale path is
    ``lsh_band_buckets`` + ``salted_bucket_min`` (no collect_list).
    """
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda i: F.slice(F.col(sig_col), i * R + 1, R),
    )
    return (
        df.select(F.col(node_col).alias("node"), F.posexplode(bands).alias("band_idx", "band"))
        .groupBy("band_idx", "band")
        .agg(F.collect_list("node").alias("nodes"))
    )
