"""Structured Streaming operators (additive — the reference is pure batch,
SURVEY §2.8; a continuously-crawled corpus needs an incremental ingest path).

Pattern: ``withWatermark`` + ``dropDuplicates`` for bounded-state streaming
exact dedup. It is a transformation on an unbounded DataFrame — the caller
picks the sink/trigger (tests use file source + availableNow + memory sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.extras.exact_dedupe import content_digest


def streaming_exact_dedupe(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Drop re-crawled exact duplicates within the watermark horizon.

    State is keyed by the 128-bit content digest only (not the full text) and
    evicted once the watermark passes a digest's last-seen event time
    (``dropDuplicatesWithinWatermark``, Spark 3.5+) — plain
    ``dropDuplicates(['_digest'])`` would never evict (the subset lacks the
    event-time column), growing state unboundedly on an endless crawl."""
    return (
        stream.withColumn("_digest", content_digest(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )
