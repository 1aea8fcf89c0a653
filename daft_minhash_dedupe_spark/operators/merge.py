"""Result merge + keep-rule.

Reference semantics (workload/minhash_dedupe.py:616-647, pinned by its tests
:388-394 and :492-498): a row survives iff it is *isolated* (never appeared in
any candidate edge → no assignment) or it is *its own representative* (its id
equals the global minimum id of its component).

Unlike the reference (which drops the component column, :646), the merge
builds the full cluster-assignment table — the north rule requires
cluster_id write-back — and the survivors are a filter over it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_table(
    prepped: DataFrame,
    assignments: DataFrame,
    id_map: DataFrame,
    index_col: str = "block_id",
    component_col: str = "component",
) -> DataFrame:
    """Every input row with its cluster id (north-rule write-back table).

    ``prepped`` carries ``node_id`` plus the columns to keep; CC's (u, rep)
    has one row per u, so it left-joins on ``node_id`` directly and only
    ``rep`` is mapped back to natural-key space through ``id_map``
    (reference :616-624). Isolated rows (no candidate edge ever touched
    them) are their own cluster: ``component = coalesce(rep's index, own
    index)``."""
    rep_map = id_map.select(
        F.col("node_id").alias("rep"), F.col(index_col).alias("__rep_index")
    )
    return (
        prepped.join(assignments.withColumnRenamed("u", "node_id"), "node_id", "left")
        .join(rep_map, "rep", "left")
        .withColumn(component_col, F.coalesce("__rep_index", index_col))
        .drop("node_id", "rep", "__rep_index")
    )


def survivors(
    clusters: DataFrame, index_col: str = "block_id", component_col: str = "component"
) -> DataFrame:
    """The keep-rule over a cluster table: a row survives iff it is its own
    cluster id — isolated rows and representatives. Null-safe, so a row whose
    index is null (and so is its component) survives, as an isolated row."""
    return clusters.where(F.col(component_col).eqNullSafe(F.col(index_col))).drop(
        component_col
    )
