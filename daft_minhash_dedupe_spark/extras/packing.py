"""Training-sequence packing — map documents onto fixed-length model
sequences (the "concatenate-and-chunk" layout GPT-style pretraining uses).

Given a token count per document and a total document order, every doc
gets a global start offset (the exclusive prefix sum of token counts in
that order); sequence k owns token range [k*seq_len, (k+1)*seq_len), so a
doc spans sequences floor(start/seq_len) .. floor((end-1)/seq_len). The
output is the packing plan — which sequences each document lands in and
at what offset — which is what a dataloader shard-builder needs.

Scale shape (the reason this file exists): the obvious formulation is a
single global window

    sum(n_tokens) OVER (ORDER BY order_col)

which in Spark plans as a window with NO partition spec — every row is
shuffled into ONE task and the cluster serializes on it. At 100 TB that
is a non-starter. This implements the classic two-phase distributed
prefix sum instead:

  1. `repartitionByRange(n_buckets, order_col)` — contiguous, ordered
     key ranges per partition (any contiguous split yields identical
     results, so RangePartitioner's sampled boundaries don't affect
     output, only balance);
  2. a per-bucket window (partitionBy bucket, orderBy order_col) computes
     the LOCAL prefix sum in parallel;
  3. per-bucket totals (n_buckets rows — driver-tiny) become cumulative
     bucket offsets via one ordered pass on the driver, broadcast-joined
     back;
  4. global_start = bucket_offset + local_prefix.

Total cost: one range shuffle + one tiny broadcast join; every heavy
stage is parallel across buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    tokens_col: str = "n_tokens",
    order_col: str = "doc_id",
    n_buckets: int = 64,
) -> DataFrame:
    """Assign each document its global token offset and sequence span.

    ``order_col`` must be a total order (unique values) — it defines the
    concatenation order and makes the plan deterministic/reproducible.
    Rows with ``tokens_col <= 0`` are dropped (they occupy no tokens).

    Returns the input columns ``order_col`` and ``tokens_col`` plus:
      start_offset  exclusive prefix sum of tokens before this doc
      end_offset    start_offset + n_tokens
      first_seq     floor(start_offset / seq_len)
      last_seq      floor((end_offset - 1) / seq_len)
      n_seqs        last_seq - first_seq + 1 (sequences this doc touches)
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")

    toks = F.col(tokens_col).cast("long")
    base = (
        df.select(F.col(order_col), toks.alias(tokens_col))
        .where(toks > 0)
        .repartitionByRange(n_buckets, F.col(order_col))
        .withColumn("_bucket", F.spark_partition_id())
    )
    # Range partitioning keeps order_col ranges contiguous per bucket, so a
    # per-bucket prefix sum + a bucket-level offset reconstructs the global
    # prefix sum exactly. localCheckpoint pins the partitioning: both reads
    # below (local window, bucket totals) must see the SAME bucket ids, and
    # a re-computed RangePartitioner re-samples boundaries.
    base = base.localCheckpoint(eager=True)

    w = Window.partitionBy("_bucket").orderBy(order_col)
    local = base.withColumn(
        "_local_prefix",
        F.coalesce(F.sum(tokens_col).over(w), F.lit(0)) - F.col(tokens_col),
    )

    # Bucket offsets: exclusive prefix sum over the n_buckets per-bucket
    # totals. This window has no partition spec, but it runs over exactly
    # n_buckets rows (one per range partition) — a single trivial task, not
    # a data-sized serialization point.
    wb = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        base.groupBy("_bucket")
        .agg(F.sum(tokens_col).alias("_bucket_total"))
        .withColumn("_bucket_offset", F.coalesce(F.sum("_bucket_total").over(wb), F.lit(0)))
        .select("_bucket", "_bucket_offset")
    )

    start = F.col("_bucket_offset") + F.col("_local_prefix")
    end = start + F.col(tokens_col)
    return (
        local.join(F.broadcast(offs), "_bucket")
        .select(
            order_col,
            tokens_col,
            start.alias("start_offset"),
            end.alias("end_offset"),
            F.floor(start / seq_len).cast("long").alias("first_seq"),
            F.floor((end - F.lit(1)) / seq_len).cast("long").alias("last_seq"),
        )
        .withColumn("n_seqs", (F.col("last_seq") - F.col("first_seq") + 1))
    )
