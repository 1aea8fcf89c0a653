"""Per-group caps — training-mix construction.

After dedup/curation, a web-text mix limits how much any one group (a
domain, a site, a language) may contribute: ``cap_per_group`` keeps the
``k`` best rows of each group under a caller-given total order. The rank
is a deterministic function of the rows and the order, so the survivor set
is stable under any repartitioning, resume or re-run.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
    key_col: str = "doc_id",
    rank_col: str = "group_rank",
    salt_buckets: int = 64,
) -> DataFrame:
    """Keep at most ``k`` best rows per group (per-domain caps — the webtext
    anti-spam rule "no domain contributes more than K pages to the mix").

    ``order_cols`` must define a TOTAL order (include a unique tiebreaker,
    e.g. ``doc_id``) — ties would otherwise make the survivor set
    plan-dependent. Adds ``rank_col`` (1-based rank within the group).

    Scale shape: the naive single window ``row_number() OVER (PARTITION BY
    group ORDER BY ...)`` sorts EVERY row of a hot group in one task — a
    100M-page domain becomes one straggler. Two phases instead:

      1. salt each row by ``xxhash64(key_col) % salt_buckets`` and take the
         local top-k per (group, salt): any row outside its slice's top-k is
         dominated by k better rows in the same group, so it can never be in
         the group's global top-k — pruning is lossless for ANY row→salt
         assignment;
      2. a second window over ``group_cols`` alone ranks the ≤ salt_buckets*k
         survivors per group — bounded input regardless of group skew.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if salt_buckets <= 0:
        raise ValueError(f"salt_buckets must be positive, got {salt_buckets}")
    gcols = list(group_cols)
    ocols = list(order_cols)

    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(*gcols, "_salt").orderBy(*ocols)
    survivors = (
        salted.withColumn("_local_rank", F.row_number().over(w1))
        .where(F.col("_local_rank") <= k)
        .drop("_salt", "_local_rank")
    )
    w2 = Window.partitionBy(*gcols).orderBy(*ocols)
    return (
        survivors.withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
    )
