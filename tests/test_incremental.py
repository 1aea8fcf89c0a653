"""Incremental dedup must equal a full re-run EXACTLY (same cluster ids,
not merely isomorphic partitions) — the correctness contract that makes the
O(batch) daily-crawl path safe at corpus scale."""

import json
from pathlib import Path

from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.operators.components import connected_components
from daft_minhash_dedupe_spark.operators.edges import build_edges_from_buckets
from daft_minhash_dedupe_spark.operators.incremental import incremental_assignments
from daft_minhash_dedupe_spark.operators.state import (
    IncrementalState,
    meta_from_config,
)
from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
from daft_minhash_dedupe_spark.sources.synthetic import generate_web_pages


def _stages(pipe, df):
    """prep → normalize → signatures → bands; returns (node ids, bands, assigns)."""
    prepped = pipe.prep(df)
    sigs = pipe.signatures(pipe.normalize(prepped))
    bands = pipe.bands(sigs).localCheckpoint(eager=False)
    edges = build_edges_from_buckets(bands)
    assigns = connected_components(edges, algorithm="hash_to_min")
    nodes = [r["node_id"] for r in prepped.select("node_id").distinct().collect()]
    return nodes, bands, assigns


import pytest


def test_incremental_cli_chaining(spark, tmp_path):
    """Operational loop: full CLI run on batch A (persisting its checkpoint),
    then `main.py --prior-checkpoint <ckptA>` on batch B; the written
    state/components must equal a full in-process run over A∪B."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    raw, _ = generate_web_pages(spark, n_rows=150, seed=9)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    part_a = pages.where(F.xxhash64("block_id") % 3 != 0)
    part_b = pages.where(F.xxhash64("block_id") % 3 == 0)
    # CLI reads the input_hint (url, ...) shape — write the raw tables
    raw_a = raw.join(part_a.select(F.col("block_id").alias("url")), "url", "left_semi")
    raw_b = raw.join(part_b.select(F.col("block_id").alias("url")), "url", "left_semi")
    raw_a.write.parquet(str(tmp_path / "in_a"))
    raw_b.write.parquet(str(tmp_path / "in_b"))

    env = dict(os.environ)
    env.update({"SPARK_GRAFT_MASTER": "local[4]", "SPARK_GRAFT_DRIVER_MEM": "4g"})

    def run(args):
        r = subprocess.run(
            [sys.executable, str(repo / "main.py"), *args],
            capture_output=True, text=True, timeout=600, env=env, cwd=str(repo),
        )
        assert r.returncode == 0, (r.stderr or r.stdout)[-3000:]

    run(["--input", str(tmp_path / "in_a"), "--output", str(tmp_path / "out_a"),
         "--checkpoint", str(tmp_path / "ckpt_a")])
    run(["--input", str(tmp_path / "in_b"), "--output", str(tmp_path / "out_b"),
         "--prior-checkpoint", str(tmp_path / "ckpt_a")])

    state = IncrementalState(spark, str(tmp_path / "out_b/state"))
    assert state.batch_ids() == [0, 1]  # bootstrap + one increment
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    pipe = MinHashDedupePipeline(DedupeConfig())
    nodes, _, full_assigns = _stages(pipe, pages)
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}
    for n in nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"

    # --verify-pairs with --prior-checkpoint must be rejected at parse time
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, str(repo / "main.py"),
         "--input", str(tmp_path / "in_b"), "--output", str(tmp_path / "out_x"),
         "--prior-checkpoint", str(tmp_path / "ckpt_a"), "--verify-pairs"],
        capture_output=True, text=True, timeout=120, env=env, cwd=str(repo),
    )
    assert r.returncode != 0
    assert "verify-pairs" in (r.stderr + r.stdout)


@pytest.mark.parametrize("seed,mod", [(21, 3), (5, 2)])
def test_incremental_equals_full_run(spark, seed, mod, tmp_path):
    raw, _ = generate_web_pages(spark, n_rows=240, seed=seed)
    pages = prepare_web_pages(raw)
    # split batches by id hash so duplicate families straddle the boundary
    part_a = pages.where(F.xxhash64("block_id") % mod != 0)
    part_b = pages.where(F.xxhash64("block_id") % mod == 0)
    pipe = MinHashDedupePipeline(DedupeConfig())

    all_nodes, _, full_assigns = _stages(pipe, pages)
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}

    _, a_bands, a_assigns = _stages(pipe, part_a)
    b_nodes, b_bands, _ = _stages(pipe, part_b)

    # apply the delta the way pipe.fold does: batch A is the bootstrapped
    # state, batch B appends its bands with new_assign ∪ old_updates
    state = IncrementalState(spark, str(tmp_path / "state"))
    state.bootstrap(a_bands, a_assigns, meta_from_config(pipe.cfg))
    new_assign, old_updates = incremental_assignments(
        b_bands, state.read_bands(), state.read_assignments(), str(tmp_path)
    )
    state.append(b_bands, new_assign.unionByName(old_updates))
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}

    # some cross-batch duplicate structure must actually exist for the test
    # to mean anything
    assert len(new_assign.collect()) > 0
    assert any(n in full for n in b_nodes)

    for n in all_nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"


def _set_meta_kernel(root, kernel):
    """Record ``kernel`` as the state's ``minhash_kernel`` (None: drop the
    key) by editing its _META.json out of band, and drop Hadoop's local-FS
    checksum sidecar, which the edit would otherwise fail on the next read."""
    meta_path = Path(root) / "_META.json"
    m = json.loads(meta_path.read_text())
    m.pop("minhash_kernel", None)
    if kernel is not None:
        m["minhash_kernel"] = kernel
    meta_path.write_text(json.dumps(m))
    (meta_path.parent / "._META.json.crc").unlink(missing_ok=True)


def _snapshot_files(root):
    """path -> (size, mtime_ns) for every data file under root."""
    from pathlib import Path

    return {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in Path(root).rglob("*")
        if p.is_file() and not p.name.startswith("_SUCCESS")
    }


def _split3(pages):
    h = F.pmod(F.xxhash64("block_id"), F.lit(3))  # % keeps sign in Spark
    return (pages.where(h == 0), pages.where(h == 1), pages.where(h == 2))


def test_state_chain_equals_full_run(spark, tmp_path):
    """Three batches folded through the persisted IncrementalState must
    produce exactly the full-run cluster ids."""
    raw, _ = generate_web_pages(spark, n_rows=240, seed=21)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, c = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)

    all_nodes, _, full_assigns = _stages(pipe, pages)
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}

    root = str(tmp_path / "state")
    state = IncrementalState(spark, root)
    _, a_bands, a_assigns = _stages(pipe, a)
    state.bootstrap(a_bands, a_assigns, meta_from_config(cfg))

    node_of = {r[cfg.index_col]: r["node_id"] for r in pipe.prep(pages).collect()}
    _, _, ab_assigns = _stages(pipe, a.unionByName(b))
    prefix_full = (
        {r["u"]: r["rep"] for r in ab_assigns.collect()},  # after folding b
        full,  # after folding c
    )
    for k, (batch, want) in enumerate(zip((b, c), prefix_full), start=1):
        out = str(tmp_path / f"out_{k}")
        assert pipe.fold(batch, state, out)["batch_id"] == k
        # the batch's cluster rows: every batch doc once, labelled with the
        # representative a full run over the corpus folded so far gives it
        # (its own node_id when unclustered)
        rows = spark.read.parquet(f"{out}/clusters").collect()
        got = {r[cfg.index_col]: r[cfg.component_col] for r in rows}
        assert len(rows) == len(got)
        assert set(got) == {r[cfg.index_col] for r in batch.collect()}
        for doc, comp in got.items():
            n = node_of[doc]
            assert comp == want.get(n, n), f"doc {doc}"

    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    for n in all_nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"
    # fresh handle (new "session"): reads fold identically
    merged2 = {
        r["u"]: r["rep"]
        for r in IncrementalState(spark, root).read_assignments().collect()
    }
    assert merged2 == merged


def test_state_append_writes_o_batch_bytes(spark, tmp_path):
    """The append-only contract: folding a small batch into a large corpus
    state must (a) leave every pre-existing state file byte-identical and
    (b) add files only under the new batch_id partition, with size
    proportional to the batch — the round-2 design rewrote the full corpus
    band table per increment."""
    raw, _ = generate_web_pages(spark, n_rows=400, seed=3)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    big = pages.where(F.xxhash64("block_id") % 10 != 0)   # ~90% corpus
    small = pages.where(F.xxhash64("block_id") % 10 == 0)  # ~10% batch
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)

    root = str(tmp_path / "state")
    state = IncrementalState(spark, root)
    _, big_bands, big_assigns = _stages(pipe, big)
    state.bootstrap(big_bands, big_assigns, meta_from_config(cfg))
    before = _snapshot_files(root)
    corpus_bytes = sum(s for s, _ in before.values())

    pipe.fold(small, state, str(tmp_path / "out"))

    after = _snapshot_files(root)
    for path, sig in before.items():
        assert after.get(path) == sig, f"pre-existing state file touched: {path}"
    new_files = set(after) - set(before)
    assert new_files, "append wrote nothing"
    assert all("batch_id=1" in p for p in new_files), new_files
    new_bytes = sum(after[p][0] for p in new_files)
    # ~10% batch → new bytes well under half the corpus state (parquet
    # per-file overhead dominates at this tiny scale; at real scale the
    # ratio tracks batch/corpus)
    assert new_bytes < corpus_bytes / 2, (new_bytes, corpus_bytes)


def test_state_meta_guards(spark, tmp_path):
    raw, _ = generate_web_pages(spark, n_rows=60, seed=7)
    pages = prepare_web_pages(raw)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    _, bands, assigns = _stages(pipe, pages)

    root = str(tmp_path / "state")
    state = IncrementalState(spark, root)
    state.bootstrap(bands, assigns, meta_from_config(cfg))

    # current config wants verification -> refuse regardless of state
    with pytest.raises(ValueError, match="verify_pairs"):
        state.validate_config(DedupeConfig(verify_pairs=True))
    # banding-parameter mismatch -> refuse
    with pytest.raises(ValueError, match="different"):
        state.validate_config(DedupeConfig(ngram_size=3))
    with pytest.raises(ValueError, match="different"):
        state.validate_config(DedupeConfig(seed=7))
    # matching config passes
    state.validate_config(DedupeConfig())
    # state signed by another hash family -> refuse (band keys incomparable:
    # a fold would silently under-merge, never matching old buckets)
    _set_meta_kernel(root, "oph")
    with pytest.raises(ValueError, match="minhash_kernel"):
        state.validate_config(DedupeConfig())

    # state persisted by a verified run -> always refused
    vroot = str(tmp_path / "vstate")
    vstate = IncrementalState(spark, vroot)
    vstate.bootstrap(bands, assigns, meta_from_config(DedupeConfig(verify_pairs=True)))
    with pytest.raises(ValueError, match="verify_pairs"):
        vstate.validate_config(DedupeConfig())


def test_state_compact(spark, tmp_path):
    raw, _ = generate_web_pages(spark, n_rows=150, seed=11)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, c = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    state = IncrementalState(spark, str(tmp_path / "state"))
    _, a_bands, a_assigns = _stages(pipe, a)
    state.bootstrap(a_bands, a_assigns, meta_from_config(cfg))
    for k, batch in enumerate((b, c)):
        pipe.fold(batch, state, str(tmp_path / f"out_{k}"))

    compacted = state.compact(str(tmp_path / "state2"))
    assert compacted.batch_ids() == [0]
    want = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    got = {r["u"]: r["rep"] for r in compacted.read_assignments().collect()}
    assert got == want
    assert state.read_bands().count() == compacted.read_bands().count()
    compacted.validate_config(cfg)


def test_fold_empty_batch(spark, tmp_path):
    """A zero-row batch folds to an empty increment: it takes the next
    batch_id and leaves the folded state as it was; a later non-empty fold
    still equals a full run."""
    raw, _ = generate_web_pages(spark, n_rows=150, seed=11)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, _ = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    state = IncrementalState(spark, str(tmp_path / "state"))
    _, a_bands, a_assigns = _stages(pipe, a)
    state.bootstrap(a_bands, a_assigns, meta_from_config(cfg))
    assigns_before = {(r["u"], r["rep"]) for r in state.read_assignments().collect()}
    n_bands = state.read_bands().count()

    out = str(tmp_path / "out_empty")
    assert pipe.fold(pages.where(F.lit(False)), state, out)["batch_id"] == 1
    assert {(r["u"], r["rep"]) for r in state.read_assignments().collect()} == assigns_before
    assert state.read_bands().count() == n_bands
    assert spark.read.parquet(f"{out}/clusters").count() == 0

    assert pipe.fold(b, state, str(tmp_path / "out_b"))["batch_id"] == 2
    nodes, _, full_assigns = _stages(pipe, a.unionByName(b))
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    for n in nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"


def _write_bucketed_root(spark, root, bands, assigns, meta):
    """Write ``root`` the way the retired ``bucketed:N`` state backend did:
    external bucketed catalog tables over ``bands/`` and ``components/``,
    filled through ``insertInto`` as batch 0, then dropped (the files
    stay)."""
    tables = (
        ("legacy_bucketed_bands", "bands", "band_key BIGINT, node BIGINT", "band_key", bands),
        ("legacy_bucketed_components", "components", "u BIGINT, rep BIGINT", "u", assigns),
    )
    for name, sub, cols, key, df in tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        spark.sql(
            f"""CREATE TABLE {name} ({cols}, batch_id INT)
            USING PARQUET PARTITIONED BY (batch_id)
            CLUSTERED BY ({key}) SORTED BY ({key}) INTO 4 BUCKETS
            LOCATION '{root}/{sub}'"""
        )
        df.withColumn("batch_id", F.lit(0)).write.mode("append").insertInto(name)
    Path(root, "_META.json").write_text(
        json.dumps({**meta, "layout": "incremental-v1", "backend": "bucketed:4"})
    )
    for name, *_ in tables:
        spark.sql(f"DROP TABLE {name}")


@pytest.mark.parametrize("kind", ["meta_without_backend", "no_meta", "bucketed_writer"])
def test_legacy_root_reads_and_folds(spark, tmp_path, kind):
    """Roots from older writers read as plain parquet and fold on: a
    _META.json without the ``backend`` tag, batches with no _META.json at
    all, and a root the retired bucketed backend wrote (bucketed files,
    ``"backend": "bucketed:4"`` in its meta). Each returns the written rows,
    takes the next fold as batch 1, and then equals a full run."""
    raw, _ = generate_web_pages(spark, n_rows=150, seed=11)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, _ = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    _, a_bands, a_assigns = _stages(pipe, a)
    bands = a_bands.select("band_key", "node").localCheckpoint(eager=True)
    assigns = a_assigns.select("u", "rep").localCheckpoint(eager=True)

    root = str(tmp_path / kind)
    if kind == "bucketed_writer":
        _write_bucketed_root(spark, root, bands, assigns, meta_from_config(cfg))
        assert any(Path(root, "bands", "batch_id=0").glob("*_0000[0-3]*.parquet"))
    else:
        IncrementalState(spark, root).bootstrap(bands, assigns, meta_from_config(cfg))
        meta_path = Path(root) / "_META.json"
        if kind == "no_meta":
            meta_path.unlink()
            (meta_path.parent / "._META.json.crc").unlink(missing_ok=True)
        else:
            assert "backend" not in json.loads(meta_path.read_text())

    state = IncrementalState(spark, root)
    assert state.is_state_root()
    assert state.batch_ids() == [0]
    state.validate_config(cfg)
    assert sorted(state.read_bands().collect()) == sorted(bands.collect())
    assert sorted(state.read_assignments().collect()) == sorted(assigns.collect())

    assert pipe.fold(b, state, str(tmp_path / "out"))["batch_id"] == 1
    assert state.batch_ids() == [0, 1]
    nodes, _, full_assigns = _stages(pipe, a.unionByName(b))
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    for n in nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"


def test_fold_nfd_twins_join_their_base_clusters(spark, tmp_path):
    """Non-ASCII text takes normalize's NFD (ICU4J in the JVM) in a fold: a
    batch of decomposed-accent twins ("cafe\\u0301") of composed-accent base
    docs ("caf\\u00e9"), plus one non-Latin doc. Each twin's cluster row carries
    its base doc's representative, and the folded state equals a full run
    over base ∪ batch."""
    import random
    import unicodedata

    from daft_minhash_dedupe_spark.functions.normalize import _PUNCT_CLASS

    words = (
        "café élan résumé naïve crème brûlée façade déjà señor über jalapeño "
        "piñata fiancé entrée soufflé protégé cliché rosé sauté touché"
    ).split()
    rng = random.Random(5)
    base_texts = {
        f"base-{i}": ", ".join(" ".join(rng.choices(words, k=6)) for _ in range(6))
        for i in range(6)
    }
    assert all(unicodedata.is_normalized("NFC", t) for t in base_texts.values())
    twins = {f"twin-{i}": f"base-{i}" for i in range(3)}
    batch_texts = {t: unicodedata.normalize("NFD", base_texts[b]) for t, b in twins.items()}
    assert all(batch_texts[t] != base_texts[b] for t, b in twins.items())
    batch_texts["greek-0"] = (
        "η γρήγορη καφέ αλεπού πηδά πάνω από τον τεμπέλη σκύλο "
        "και τρέχει στο δάσος με τους φίλους της κάθε πρωί"
    )
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    schema = f"{cfg.index_col} string, {cfg.content_col} string"
    base = spark.createDataFrame(sorted(base_texts.items()), schema)
    batch = spark.createDataFrame(sorted(batch_texts.items()), schema)

    # every batch row is still non-ASCII after punctuation removal, so NFD
    # has work to do on every row of the batch
    stripped = F.regexp_replace(cfg.content_col, _PUNCT_CLASS, "")
    assert batch.where(~stripped.rlike(r"^[\x00-\x7F]*$")).count() == len(batch_texts)

    nodes, _, full_assigns = _stages(pipe, base.unionByName(batch))
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}
    node_of = {r[cfg.index_col]: r["node_id"] for r in pipe.prep(base.unionByName(batch)).collect()}

    state = IncrementalState(spark, str(tmp_path / "state"))
    _, base_bands, base_assigns = _stages(pipe, base)
    state.bootstrap(base_bands, base_assigns, meta_from_config(cfg))
    out = str(tmp_path / "out")
    assert pipe.fold(batch, state, out)["batch_id"] == 1

    got = {r[cfg.index_col]: r[cfg.component_col] for r in spark.read.parquet(f"{out}/clusters").collect()}
    assert set(got) == set(batch_texts)
    for twin, doc in twins.items():
        rep = full.get(node_of[doc], node_of[doc])
        assert rep == full.get(node_of[twin], node_of[twin]), f"{twin} left {doc}'s cluster"
        assert got[twin] == rep, twin
    greek = node_of["greek-0"]
    assert got["greek-0"] == full.get(greek, greek)
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    for n in nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"


def test_legacy_meta_missing_kernel_means_arrow(spark, tmp_path):
    """A _META.json without minhash_kernel was built by the Arrow kernel and
    validates; one recording another kernel family is refused (incomparable
    band keys silently under-merge)."""
    bands = spark.createDataFrame([(1, 10)], "band_key long, node long")
    assigns = spark.createDataFrame([(10, 10)], "u long, rep long")

    root = str(tmp_path / "prekernel")
    st = IncrementalState(spark, root)
    st.bootstrap(bands, assigns, meta_from_config(DedupeConfig()))
    _set_meta_kernel(root, None)
    IncrementalState(spark, root).validate_config(DedupeConfig())
    _set_meta_kernel(root, "arrow")
    IncrementalState(spark, root).validate_config(DedupeConfig())
    for kernel in ("jvm", "oph"):
        _set_meta_kernel(root, kernel)
        with pytest.raises(ValueError, match="minhash_kernel"):
            IncrementalState(spark, root).validate_config(DedupeConfig())


def test_fold_releases_cached_band_table(spark, tmp_path):
    """A fold leaves nothing in Spark's cache manager, so a long-lived
    driver folding batch after batch pins no band table per fold."""
    raw, _ = generate_web_pages(spark, n_rows=60, seed=7)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, _ = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    state = IncrementalState(spark, str(tmp_path / "state"))
    _, a_bands, a_assigns = _stages(pipe, a)
    state.bootstrap(a_bands, a_assigns, meta_from_config(cfg))

    spark.catalog.clearCache()
    pipe.fold(b, state, str(tmp_path / "out"))["delta"].collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001


def _jobs_of(spark, group, fn):
    """(fn's result, Spark jobs it ran), counted through statusTracker()."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_state_reads_run_no_job_on_either_layout(spark, tmp_path):
    """State reads carry the known schema, so building them runs no Spark
    job. A batch-partitioned root folds its deltas (latest batch wins); a
    flat root without batch_id= directories reads its rows as they are."""
    flat = tmp_path / "flat"
    spark.createDataFrame([(11, 10), (10, 10)], "u long, rep long").write.parquet(
        str(flat / "components")
    )
    spark.createDataFrame([(1, 10), (1, 11)], "band_key long, node long").write.parquet(
        str(flat / "bands")
    )
    st = IncrementalState(spark, str(tmp_path / "parts"))
    st.append(
        spark.createDataFrame([(1, 10)], "band_key long, node long"),
        spark.createDataFrame([(10, 10)], "u long, rep long"),
    )
    st.append(
        spark.createDataFrame([(1, 9)], "band_key long, node long"),
        spark.createDataFrame([(10, 9), (9, 9)], "u long, rep long"),
    )
    for state, bands, assigns in (
        (IncrementalState(spark, str(flat)), {(1, 10), (1, 11)}, {(11, 10), (10, 10)}),
        (st, {(1, 10), (1, 9)}, {(10, 9), (9, 9)}),
    ):
        (b, a), jobs = _jobs_of(
            spark, "state_reads", lambda s=state: (s.read_bands(), s.read_assignments())
        )
        assert jobs == 0
        assert b.columns == ["band_key", "node"] and a.columns == ["u", "rep"]
        assert {tuple(r) for r in b.collect()} == bands
        assert {tuple(r) for r in a.collect()} == assigns


def test_fold_rewrites_only_moved_clusters(spark, tmp_path):
    """A batch doc that joins an old cluster without undercutting its
    representative rewrites none of that cluster's old rows (only the
    representative's own row is in the delta); a batch doc with a smaller id
    moves its cluster's representative and re-labels every old member. The
    folded state still equals a full run."""
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    urls = [f"https://example.org/moved/{i}" for i in range(10)]
    ids = pipe.prep(
        spark.createDataFrame([(u, "") for u in urls], "block_id string, block_text string")
    ).collect()
    s = [r["block_id"] for r in sorted(ids, key=lambda r: r["node_id"])]  # by node id
    text_a = " ".join(f"alpha{i}" for i in range(60))
    text_b = " ".join(f"beta{i}" for i in range(60))
    # cluster a: the batch doc s[8] sorts after the old representative s[1];
    # cluster b: the batch doc s[0] sorts before the old representative s[2]
    base = [(u, text_a) for u in (s[1], s[3], s[5], s[7])]
    base += [(u, text_b) for u in (s[2], s[4], s[6], s[9])]
    base += [(f"https://example.org/solo/{i}", f"gamma{i} " * 30) for i in range(5)]
    batch = [(s[8], text_a), (s[0], text_b)]
    batch += [(f"https://example.org/new/{i}", f"delta{i} " * 30) for i in range(5)]
    schema = "block_id string, block_text string"
    base_df, batch_df = (spark.createDataFrame(rows, schema) for rows in (base, batch))

    state = IncrementalState(spark, str(tmp_path / "state"))
    _, bands, assigns = _stages(pipe, base_df)
    state.bootstrap(bands, assigns, meta_from_config(cfg))
    stored = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    node = {r["block_id"]: r["node_id"] for r in ids}

    delta = pipe.fold(batch_df, state, str(tmp_path / "out"))["delta"].collect()
    relabels = {(r["u"], r["rep"]) for r in delta if r["relabel"]}
    unchanged = {(u, rep) for u, rep in relabels if stored.get(u) == rep and u != rep}
    assert not unchanged, f"old rows re-written with their stored label: {unchanged}"
    # the moved cluster: every old member carries the batch doc's smaller id
    assert relabels == {(node[u], node[s[0]]) for u in (s[2], s[4], s[6], s[9])} | {
        (node[s[1]], node[s[1]])
    }

    all_nodes, _, full_assigns = _stages(pipe, base_df.unionByName(batch_df))
    full = {r["u"]: r["rep"] for r in full_assigns.collect()}
    merged = {r["u"]: r["rep"] for r in state.read_assignments().collect()}
    for n in all_nodes:
        assert merged.get(n, n) == full.get(n, n), f"node {n}"


# Spark jobs of one warm shipped fold (driver-fallback CC) on the fixture
# below; a change that adds jobs back to the fold has to raise this bound
FOLD_JOBS_BOUND = 20


def test_warm_fold_job_count(spark, tmp_path):
    """One warm ``pipe.fold`` runs at most FOLD_JOBS_BOUND Spark jobs: the
    fold's cost at these sizes is fixed cost per job, not data."""
    raw, _ = generate_web_pages(spark, n_rows=150, seed=21)
    pages = prepare_web_pages(raw).localCheckpoint(eager=True)
    a, b, c = _split3(pages)
    cfg = DedupeConfig()
    pipe = MinHashDedupePipeline(cfg)
    state = IncrementalState(spark, str(tmp_path / "state"))
    _, a_bands, a_assigns = _stages(pipe, a)
    state.bootstrap(a_bands, a_assigns, meta_from_config(cfg))
    pipe.fold(b, state, str(tmp_path / "out_b"))  # warm-up fold
    _, jobs = _jobs_of(spark, "warm_fold", lambda: pipe.fold(c, state, str(tmp_path / "out_c")))
    assert 0 < jobs <= FOLD_JOBS_BOUND, jobs
