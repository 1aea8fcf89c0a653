"""Storage layer: stage checkpoints, resume, metrics, Iceberg-or-parquet.

North rule: the pipeline must be checkpoint-resumable per stage (signatures,
bands, pairs, components) with per-partition lineage and row-count metrics
persisted alongside. The reference's ad-hoc write/read-back pattern
(friction/cc1_minhash_dedupe.py:175-189) becomes a small stage registry:
each completed stage directory carries a ``_STAGE_OK`` marker; on restart,
marked stages are read back instead of recomputed.

Iceberg: ``spark.read.table`` / ``writeTo(...).overwritePartitions()`` are
used when an Iceberg catalog is configured on the session; otherwise plain
parquet paths (the sandbox has no Iceberg runtime jar). The pipeline code
only talks to this module, never to a concrete format.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MARKER = "_STAGE_OK"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog is usable on this session."""
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_table(df: DataFrame, target: str, partition_by: list[str] | None = None) -> None:
    """Write a table: Iceberg identifier (``cat.db.tbl``) when a catalog is
    configured, else a parquet directory path."""
    if "/" not in target and iceberg_available(df.sparkSession):
        writer = df.writeTo(target).using("iceberg")
        try:
            writer.createOrReplace()
        except Exception:
            writer.overwritePartitions()
        return
    w = df.write.mode("overwrite").option("compression", "snappy")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if "/" not in target and iceberg_available(spark):
        return spark.read.table(target)
    return spark.read.parquet(target)


def partitioned_save(
    df: DataFrame,
    output_uri: str,
    chunk_size: int = 200_000,
    max_partitions: int = 2048,
    total_rows: int | None = None,
) -> None:
    """Reference's partitioned writer (workload/minhash_dedupe.py:650-674 and
    references/chengmao_minhash_spark.py:302-332): repartition to
    max(256, min(ceil(rows/chunk), max_partitions)) capped below at the
    current parallelism, partition column = spark_partition_id."""
    import math

    if total_rows is None:
        total_rows = df.count()
    want = max(1, math.ceil(total_rows / chunk_size))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    n = max(min(256, parallelism), min(want, max_partitions))
    (
        df.repartition(n)
        .withColumn("__pid__", F.spark_partition_id())
        .write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy("__pid__")
        .parquet(output_uri)
    )


@dataclass
class StageCheckpointer:
    """Per-stage parquet checkpoints + resume + metrics.

    ``stage(name, df)``: if the stage directory is marked complete and resume
    is on → read it back (recompute skipped); else materialize the stage to
    parquet, record (stage, rows, partitions, wall_ms, per-partition rows) in
    ``metrics.jsonl``, mark complete, and return the re-read DataFrame
    (lineage severed — every stage boundary is a fresh scan).
    """

    spark: SparkSession
    root: str | None = None
    resume: bool = True
    metrics: list[dict] = field(default_factory=list)

    def _dir(self, name: str) -> Path | None:
        return Path(self.root) / name if self.root else None

    def has(self, name: str) -> bool:
        d = self._dir(name)
        return bool(d and (d / _MARKER).exists())

    def stage(self, name: str, df: DataFrame) -> DataFrame:
        d = self._dir(name)
        if d is None:
            # no checkpoint dir configured → in-memory lineage severing only
            return df.localCheckpoint(eager=True)
        # re-read with the stage's own schema: no schema-inference job
        reread = self.spark.read.schema(df.schema)
        if self.resume and self.has(name):
            return reread.parquet(str(d))
        t0 = time.time()
        df.write.mode("overwrite").option("compression", "snappy").parquet(str(d))
        out = reread.parquet(str(d))
        # per-partition lineage/row-count metrics (north rule). Fast path:
        # the parquet footers already carry exact per-file row counts — read
        # them directly instead of paying an extra Spark scan per stage
        # (local paths; falls back to the one-scan groupBy elsewhere).
        per_part = self._footer_partition_rows(d)
        if per_part is None:
            per_part = [
                (int(r["pid"]), int(r["rows"]))
                for r in out.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .withColumnRenamed("count", "rows")
                .collect()
            ]
        rec = {
            "stage": name,
            "rows": sum(r for _, r in per_part),
            "partitions": len(per_part),
            "wall_ms": int((time.time() - t0) * 1000),
            "partition_rows": per_part,
        }
        self.metrics.append(rec)
        with open(Path(self.root) / "metrics.jsonl", "a") as fh:
            fh.write(json.dumps(rec) + "\n")
        (d / _MARKER).touch()
        return out

    @staticmethod
    def _footer_partition_rows(d: Path) -> list[tuple[int, int]] | None:
        """(file_index, rows) per data file from parquet footer metadata —
        zero Spark jobs. None when the path isn't a local directory (cluster
        storage → caller uses the scan path)."""
        try:
            import pyarrow.parquet as pq

            files = sorted(p for p in d.iterdir() if p.name.endswith(".parquet"))
            if not files:
                # directory exists but holds no data files (partitioned or
                # non-local layout) — force the caller's Spark-scan fallback
                # rather than recording rows=0
                return None
            return [
                (i, pq.ParquetFile(str(p)).metadata.num_rows)
                for i, p in enumerate(files)
            ]
        except Exception:
            return None

    def iter_checkpoint(self, df: DataFrame, name: str) -> DataFrame:
        """Cheap intra-loop lineage severing (CC iterations): lazy
        localCheckpoint — the convergence-signature job that follows is the
        materializing action. Iteration outputs are transient — only stage
        outputs need resume."""
        return df.localCheckpoint(eager=False)
