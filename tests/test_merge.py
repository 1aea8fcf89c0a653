"""The merge alone: cluster table + keep-rule on a hand-built CC output."""

from daft_minhash_dedupe_spark.operators.merge import cluster_table, survivors


def test_cluster_table_and_keep_rule(spark):
    prepped = spark.createDataFrame(
        [
            ("a", "ta", 1),
            ("b", "tb", 2),
            ("c", "tc", 3),
            ("d", "td", 4),
            (None, "tn", 9),
        ],
        "block_id string, block_text string, node_id long",
    )
    # CC output: one row per node of an edge, rep = component minimum; d and
    # the null-index row were never in an edge
    assignments = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "u long, rep long")
    id_map = prepped.select("block_id", "node_id").distinct()

    clusters = cluster_table(prepped, assignments, id_map)
    assert clusters.columns == ["block_id", "block_text", "component"]
    got = {(r["block_id"], r["component"]) for r in clusters.collect()}
    # members carry their representative's index; isolated rows their own
    assert got == {("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), (None, None)}

    kept = survivors(clusters)
    assert kept.columns == ["block_id", "block_text"]
    # the representative and the isolated rows survive, the null-index row
    # included (null component <=> null index)
    assert sorted(kept.collect(), key=lambda r: r["block_text"]) == [
        ("a", "ta"),
        ("d", "td"),
        (None, "tn"),
    ]
