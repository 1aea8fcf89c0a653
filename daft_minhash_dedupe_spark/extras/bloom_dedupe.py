"""Bloom-filter membership dedup — the memory-bounded exact-dedup path.

The standard web-corpus alternative to hash-groupBy exact dedup (AI2's
Dolma deduper and CCNet both ship one): a Bloom filter over previously-seen
document texts answers "have I seen this text before?" in O(k) probes with
a bounded, quantifiable false-positive rate and ZERO false negatives. At
10^12 documents a full digest groupBy must shuffle every doc key every
batch; a Bloom filter of the seen set is a fixed-size artifact the next
batch probes WITHOUT shuffling history.

Relational formulation (this module): the filter is a table of DISTINCT
set-bit positions; membership for a probe doc is "all k of its probe
positions are present". Both sides are pure Catalyst expressions:

    position_i(text) = int(hex15(md5(seed ':' i ':' text))) mod m

md5 (not xxhash64) so an external SQL engine replays the EXACT bit
positions — membership flags, including the deterministic false positives,
are adjudicated bit-for-bit against DuckDB (`fuzzy`/`bloom` driver rows).
xxhash64 would be ~3× cheaper JVM-side but is not expressible in ANSI SQL;
a deployment that doesn't need SQL adjudication can swap the hash by
passing ``position_exprs``-compatible columns — the relational shape is
hash-agnostic.

Scale shape (10^12 docs): ``bloom_build`` is one map + distinct over ≤ m
integer keys (the bit table is at most m rows ≈ n·k before saturation, and
its SIZE IS the filter's memory bound). Probing is explode → join on an
int key: broadcast when m is small (a 2^27-bit filter is ~1 GiB as longs,
~16 MiB as a real bitmap), shuffle-on-int otherwise (persist the bit
table hash-partitioned on ``bit`` and repeated batches join
co-partitioned). The driver-side alternative
(``DataFrameStatFunctions.bloomFilter``) collects the filter to the
driver; this formulation keeps it distributed and incrementally
unionable (new batch's bits ∪ old bits = updated filter, an append, not
a rebuild).

Sizing: FPR ≈ (1 - e^(-k·n/m))^k; the classic optimum k = (m/n)·ln2.
``expected_fpr`` computes it so tests can assert the measured rate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bloom_positions(
    text: Column, m: int, k: int = 4, seed: int = 0
) -> Column:
    """array<long> of the k Bloom bit positions for one text value.

    Each probe hashes ``seed ':' i ':' text`` with md5 and takes the first
    15 hex chars (60 bits, safely inside a signed long) mod ``m`` — fully
    deterministic and replayable in any SQL engine with md5().
    """
    if m <= 0 or k <= 0:
        raise ValueError(f"m and k must be positive, got m={m} k={k}")
    return F.array(
        *[
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit(str(seed)), F.lit(str(i)), text)),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % m
            for i in range(k)
        ]
    )


def bloom_build(
    df: DataFrame,
    text_col: str = "text",
    m: int = 1 << 20,
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """The filter itself: one ``bit`` column of distinct set positions."""
    return (
        df.select(
            F.explode(bloom_positions(F.col(text_col), m, k, seed)).alias("bit")
        )
        .distinct()
    )


def flag_bloom_duplicates(
    seen: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 1 << 20,
    k: int = 4,
    seed: int = 0,
    out_col: str = "bloom_hit",
    broadcast_bits: bool = True,
) -> DataFrame:
    """``batch`` with a boolean ``out_col``: true iff ALL k probe positions
    of the row's text are set in the Bloom filter built over ``seen``.

    Semantics: every batch text that occurs verbatim in ``seen`` flags true
    (no false negatives — the Bloom guarantee); unseen texts flag true only
    on a k-way position collision (the deterministic false-positive set,
    rate ≈ ``expected_fpr``). Distinct probe positions are compared against
    distinct matches so a self-colliding probe array can't inflate the count.
    The probe groups by (id, text-digest) — not id alone — so batch rows
    that share an id but carry different texts each get their OWN text's
    flag.
    """
    if "_th" in batch.columns:
        raise ValueError("batch must not carry a '_th' column (internal name)")
    if out_col in batch.columns:
        raise ValueError(
            f"out_col {out_col!r} already exists in the batch frame; "
            "pass a different out_col"
        )
    bits = bloom_build(seen, text_col, m, k, seed).withColumn("_set", F.lit(1))
    if broadcast_bits:
        bits = F.broadcast(bits)
    th = F.xxhash64(F.col(text_col))
    probes = batch.select(
        F.col(id_col),
        th.alias("_th"),
        F.explode(F.array_distinct(bloom_positions(F.col(text_col), m, k, seed))).alias(
            "bit"
        ),
    )
    flags = (
        probes.join(bits, "bit", "left")
        .groupBy(id_col, "_th")
        .agg((F.count("*") == F.count("_set")).alias(out_col))
    )
    return (
        batch.withColumn("_th", th).join(flags, [id_col, "_th"], "left").drop("_th")
    )


def bloom_dedupe(
    seen: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 1 << 20,
    k: int = 4,
    seed: int = 0,
) -> DataFrame:
    """``batch`` minus probable-duplicates-of-``seen`` (drops every verbatim
    re-occurrence, plus the bounded false-positive set — the standard
    Bloom dedup trade: a tiny fraction of unique docs is sacrificed for a
    fixed-memory filter)."""
    flagged = flag_bloom_duplicates(seen, batch, text_col, id_col, m, k, seed)
    return flagged.where(~F.col("bloom_hit")).drop("bloom_hit")


def expected_fpr(n_items: int, m: int, k: int = 4) -> float:
    """Theoretical false-positive rate after inserting ``n_items``."""
    return (1.0 - math.exp(-k * n_items / m)) ** k
