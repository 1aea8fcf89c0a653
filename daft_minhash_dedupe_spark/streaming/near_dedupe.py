"""Streaming NEAR-duplicate suppression — the streaming analogue of the
flagship MinHash/LSH pipeline (the round-2 streaming surface had exact dedup
only).

Semantics: a document is suppressed when ANY of its LSH band keys was seen
within the ``horizon`` before its event time (the same any-band candidate
rule the batch pipeline uses), against both earlier stream history and
earlier rows of its own micro-batch. A near-duplicate arriving after the
horizon has passed is kept — it starts a new "epoch" for its content, the
``dropDuplicatesWithinWatermark`` TTL contract generalized from exact keys
to LSH band keys. The history check is bounded on BOTH sides
(``last_ts ∈ [ts − horizon, ts]``): a band sighting strictly later than a
document's event time does not suppress it. Sightings are summarized per
micro-batch at ``max(event_ts)`` per (band, time-bucket) — the state row
granularity; a micro-batch is assumed short relative to the horizon.

Why ``foreachBatch`` and not a chained stateful-operator plan: the any-band
rule needs TWO keyed stateful steps (band-key ownership, then an all-bands
verdict per doc), and Spark rejects chained ``applyInPandasWithState``
("Multiple applyInPandasWithStates are not supported"); the Spark 4 API that
lifts this (``transformWithStateInPandas`` with ``eventTimeColumnName``)
needs the protobuf package, absent in this environment. ``foreachBatch`` is
the documented escape hatch for stateful logic beyond the operator algebra,
and it lets the stream share the engine's append-only ``IncrementalState``
layout: each micro-batch appends ONE ``bands/batch_id=N`` partition tree —
O(batch) state WRITES, idempotent on batch replay (the batch id names the
partition; a retried batch overwrites only its own directory AND the state
read excludes ``batch_id >= N``, so a replayed batch never suppresses
against its own prior half-written state).

State READS are partition-pruned, not full scans: state rows carry a coarse
event-time partition column ``ts_bucket = floor(epoch(ts) / horizon)``
(layout ``bands/batch_id=N/ts_bucket=B/``), and each micro-batch reads only
the buckets that can intersect its ``[min(ts) − horizon, max(ts)]`` window —
expired partitions are dropped at scan planning, so per-batch state-read
cost is O(horizon-recent state), not O(live state). ``expire_state`` is the
matching out-of-band GC: it deletes bucket directories that can no longer
suppress any document at-or-after a caller-supplied event-time frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.config import DedupeConfig

_STATE_SCHEMA = "band_key long, last_ts timestamp, ts_bucket long, batch_id long"

_UNIT_SECONDS = {
    "milli": 0.001, "sec": 1.0, "min": 60.0, "hour": 3600.0,
    "day": 86400.0, "week": 604800.0,
}


def _parse_duration_seconds(s: str) -> float:
    """Spark CalendarInterval-style duration strings: '30 minutes', '1 min',
    '1 hour 30 minutes', '90 seconds', ..."""
    parts = s.split()
    if not parts or len(parts) % 2:
        raise ValueError(f"cannot parse duration {s!r}")
    total = 0.0
    for qty, unit in zip(parts[::2], parts[1::2]):
        for prefix, mult in _UNIT_SECONDS.items():
            if unit.lower().startswith(prefix):
                total += float(qty) * mult
                break
        else:
            raise ValueError(f"unknown duration unit {unit!r} in {s!r}")
    return total


def _epoch_seconds(col):
    """Event-time column → epoch seconds, tolerating TIMESTAMP_NTZ inputs
    (NTZ cannot cast to double directly; via timestamp_ltz it can)."""
    return F.col(col).cast("timestamp_ltz").cast("double")


class StreamingNearDedupe:
    """foreachBatch processor: near-dup suppression with band-key TTL state.

    Usage::

        snd = StreamingNearDedupe(cfg, state_dir, survivors_dir, horizon="1 hour")
        query = (stream.writeStream.foreachBatch(snd)
                 .option("checkpointLocation", ckpt).start())
    """

    def __init__(
        self,
        cfg: DedupeConfig,
        state_dir: str,
        survivors_dir: str,
        horizon: str = "1 hour",
        text_col: str = "block_text",
        id_col: str = "block_id",
        ts_col: str = "warc_ts",
    ):
        self.cfg = cfg
        self.state_dir = state_dir.rstrip("/")
        self.survivors_dir = survivors_dir.rstrip("/")
        self.horizon_s = max(1, int(_parse_duration_seconds(horizon)))
        self.text_col = text_col
        self.id_col = id_col
        self.ts_col = ts_col

    @property
    def _bands_root(self) -> str:
        return f"{self.state_dir}/bands"

    def _bucket_of(self, ts_col: str):
        return F.floor(_epoch_seconds(ts_col) / F.lit(self.horizon_s)).cast("long")

    # -- state ---------------------------------------------------------------
    def _bands_of(self, batch: DataFrame) -> DataFrame:
        """(band_key, node, id, ts) via the batch pipeline's signature kernel.

        The caller's (id_col, text_col) are aliased onto the pipeline's
        (cfg.index_col, cfg.content_col) contract here, so a stream with
        e.g. (doc_id, text) columns works without touching the config —
        and a batch that happens to also carry columns named like the
        cfg contract can't be silently deduped on the wrong column."""
        from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

        c = self.cfg
        pipe = MinHashDedupePipeline(c)
        pipe_in = batch.select(
            F.col(self.id_col).alias(c.index_col),
            F.col(self.text_col).alias(c.content_col),
        )
        prepped, bands = pipe.batch_bands(pipe_in)
        meta = batch.select(
            F.col(self.id_col), F.col(self.ts_col).alias("_ts")
        ).join(
            prepped.select(
                F.col(c.index_col).alias(self.id_col), "node_id"
            ),
            self.id_col,
        )
        return bands.join(
            meta.withColumnRenamed("node_id", "node"), "node"
        )

    def _state_candidates(
        self, spark: SparkSession, batch_id: int, mn_bucket: int, mx_bucket: int
    ) -> DataFrame:
        """Per-batch band sightings that could suppress a document whose
        event time falls in bucket range [mn_bucket, mx_bucket].

        All three predicates hit DISCOVERED PARTITION COLUMNS, so expired
        (and future) bucket directories — and the current batch's own
        partition on crash-replay — are pruned at scan planning, never read.
        """
        from daft_minhash_dedupe_spark.operators.state import _exists

        if not _exists(spark, self._bands_root):
            return spark.createDataFrame([], _STATE_SCHEMA)
        return (
            spark.read.parquet(self._bands_root)
            .where(F.col("batch_id") < F.lit(int(batch_id)))
            # a sighting in bucket B has last_ts < (B+1)*horizon; it can only
            # reach a doc at ts >= mn_bucket*horizon if B >= mn_bucket - 1
            .where(F.col("ts_bucket") >= F.lit(int(mn_bucket) - 1))
            # a sighting with last_ts <= ts lives in a bucket <= the doc's
            .where(F.col("ts_bucket") <= F.lit(int(mx_bucket)))
        )

    # -- the micro-batch fold ------------------------------------------------
    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch.isEmpty():
            return
        # Null event times cannot be placed on the horizon timeline: they
        # can neither suppress nor be suppressed, so they pass through as
        # survivors and never enter state (dropping them from `bands` also
        # keeps rng non-null — an all-null-ts burst used to TypeError on
        # int(None) and kill the whole streaming query, since foreachBatch
        # exceptions are fatal).
        bands = (
            self._bands_of(batch)
            .where(F.col("_ts").isNotNull())
            .withColumn("_bucket", self._bucket_of("_ts"))
            .localCheckpoint(eager=True)
        )
        horizon = F.expr(f"INTERVAL {int(self.horizon_s)} SECONDS")
        rng = bands.agg(
            F.min("_bucket").alias("mn"), F.max("_bucket").alias("mx")
        ).first()
        if rng["mn"] is None:  # every row had a null event time
            batch.write.mode("overwrite").parquet(
                f"{self.survivors_dir}/batch_id={batch_id}"
            )
            return

        # history suppression: any band sighting inside [ts - horizon, ts].
        # State keeps per-(batch, band, bucket) sightings — no cross-batch
        # max fold, so a sighting LATER than the doc's event time never
        # shadows an earlier in-window one, and the read stays O(batch-sized
        # scan over horizon-recent partitions).
        state = self._state_candidates(spark, batch_id, rng["mn"], rng["mx"])
        hist_hit = (
            bands.join(state, "band_key")
            .where(
                (F.col("last_ts") >= F.col("_ts") - horizon)
                & (F.col("last_ts") <= F.col("_ts"))
            )
            .select(self.id_col)
            .distinct()
        )
        # within-batch suppression: the earliest (ts, id) row of a band owns
        # it; any OTHER doc sharing that band is a near-dup candidate of an
        # earlier row (greedy first-wins, like dropDuplicatesWithinWatermark)
        owner = bands.groupBy("band_key").agg(
            F.min(F.struct(F.col("_ts"), F.col(self.id_col))).alias("_own")
        )
        intra_hit = (
            bands.join(owner, "band_key")
            .where(F.col("_own." + self.id_col) != F.col(self.id_col))
            .select(self.id_col)
            .distinct()
        )
        suppressed = hist_hit.unionByName(intra_hit).distinct()
        survivors = batch.join(suppressed, self.id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(
            f"{self.survivors_dir}/batch_id={batch_id}"
        )
        # O(batch) state append — ALL seen bands enter state (suppressed docs
        # included: chains A~B~C collapse onto the first survivor); the batch
        # id names the partition so a replayed batch is idempotent, and the
        # coarse event-time bucket is the read-prune / GC key
        (
            bands.groupBy("band_key", F.col("_bucket").alias("ts_bucket"))
            .agg(F.max("_ts").alias("last_ts"))
            .write.mode("overwrite")
            .partitionBy("ts_bucket")
            .parquet(f"{self._bands_root}/batch_id={batch_id}")
        )

    # -- GC ------------------------------------------------------------------
    def expire_state(self, spark: SparkSession, frontier_ts) -> int:
        """Delete band-state bucket directories that cannot suppress any
        document with event time >= ``frontier_ts`` (a datetime or an epoch
        seconds number): every sighting in bucket B has
        ``last_ts < (B+1)*horizon``, so once
        ``(B+1)*horizon <= frontier - horizon`` the bucket is dead state.

        Out-of-order safety is the caller's contract: pick ``frontier_ts``
        the way a watermark is picked (max seen event time minus the
        lateness bound). Returns the number of directories removed.
        """
        from daft_minhash_dedupe_spark.operators.state import _exists, _fs

        if not _exists(spark, self._bands_root):
            return 0
        epoch = (
            frontier_ts if isinstance(frontier_ts, (int, float))
            else frontier_ts.timestamp()
        )
        cutoff = (epoch - self.horizon_s) // self.horizon_s - 1  # B+1 <= this+1
        fs, root, _ = _fs(spark, self._bands_root)
        removed = 0
        for batch_st in fs.listStatus(root):
            if not batch_st.isDirectory():
                continue
            for bucket_st in fs.listStatus(batch_st.getPath()):
                name = bucket_st.getPath().getName()
                if not name.startswith("ts_bucket="):
                    continue
                if int(name.split("=", 1)[1]) <= cutoff:
                    fs.delete(bucket_st.getPath(), True)
                    removed += 1
        return removed


def streaming_near_dedupe(
    stream: DataFrame,
    cfg: DedupeConfig,
    state_dir: str,
    survivors_dir: str,
    checkpoint_dir: str,
    horizon: str = "1 hour",
    text_col: str = "block_text",
    id_col: str = "block_id",
    ts_col: str = "warc_ts",
    trigger_available_now: bool = True,
):
    """Start the near-dup-suppressing stream; survivors land under
    ``survivors_dir/batch_id=N`` as they clear the band-key horizon check."""
    snd = StreamingNearDedupe(
        cfg, state_dir, survivors_dir, horizon, text_col, id_col, ts_col
    )
    writer = stream.writeStream.foreachBatch(snd).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
