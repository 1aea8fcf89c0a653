"""Persisted incremental-dedup state with O(batch) writes.

The round-2 incremental mode recomputed only the new batch (compute was
O(batch)) but PERSISTED state by rewriting the full corpus band table and the
full assignment table every increment — O(corpus) I/O per day, the dominant
cost at 10^12 documents. This module replaces that with an append-only
layout where each increment writes ONLY its own rows:

    <root>/_META.json                       pipeline-parameter fingerprint
    <root>/bands/batch_id=N/*.parquet       (band_key, node) for batch N only
    <root>/components/batch_id=N/*.parquet  (u, rep) DELTA for batch N only

Reading folds the deltas: batch 0 is the bootstrap corpus; for every node
``u`` the assignment written by the LATEST batch wins (a batch writes a row
for ``u`` only when it labels a new node, when ``u`` is an old representative
a new document touched, or when ``u``'s representative moved to a smaller
id). ``read_bands`` is a plain union — band keys are
deterministic per document, so the concatenation of per-batch band tables IS
the full-corpus band table (operators/incremental.py's correctness argument).

One layout: plain parquet directories, where partition discovery gives the
``batch_id`` column for free. Roots written by the retired ``bucketed:N``
backend (external bucketed catalog tables over the same directories) read
as plain parquet with the same rows: their files sit in the same
``batch_id=N`` directories, and a ``backend`` key in their _META.json is
ignored.

The parameter fingerprint (_META.json) guards the two invariants the
incremental fold relies on: identical banding parameters (band keys must be
comparable across batches) and ``verify_pairs=False`` (with exact-Jaccard
verification, bucket co-membership does NOT imply connectivity, so folding a
batch into verified-run state would reconnect pairs verification rejected).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_META = "_META.json"
# config fields that must match between the persisted state and the current
# run for band keys / cluster ids to be comparable
_META_KEYS = (
    "num_perm", "ngram_size", "threshold", "seed", "B", "R",
    "remove_punct", "lowercase", "nfd_unicode", "white_space", "verify_pairs",
)

BANDS_COLS = ("band_key", "node")
ASSIGN_COLS = ("u", "rep")


def meta_from_config(cfg) -> dict:
    return {k: getattr(cfg, k) for k in _META_KEYS}


# ---------------------------------------------------------------- hadoop fs
def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm  # noqa: SLF001
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm  # noqa: SLF001


def _exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _fs(spark, path)
    return bool(fs.exists(hpath))


def _read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _fs(spark, path)
    stream = fs.open(hpath)
    try:
        # py4j passes a Python bytearray into java byte[] BY VALUE, so
        # stream.read(buf) can't fill a Python buffer — let commons-io
        # (bundled with Hadoop) drain the stream JVM-side instead
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath, _ = _fs(spark, path)
    stream = fs.create(hpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def _list_batch_ids(spark: SparkSession, path: str) -> list[int]:
    fs, hpath, _ = _fs(spark, path)
    if not fs.exists(hpath):
        return []
    ids = []
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            ids.append(int(name.split("=", 1)[1]))
    return sorted(ids)


# ------------------------------------------------------------------- state
class IncrementalState:
    """Append-only persisted band table + assignment deltas (see module doc)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -------------------------------------------------------------- layout
    @property
    def bands_path(self) -> str:
        return f"{self.root}/bands"

    @property
    def components_path(self) -> str:
        return f"{self.root}/components"

    def is_state_root(self) -> bool:
        """True iff ``root`` holds this module's layout. A full-run
        StageCheckpointer dir also carries a _META.json fingerprint (without
        the layout marker) — that's the bootstrap-needed legacy case."""
        meta = self.read_meta()
        if meta is not None and meta.get("layout") == "incremental-v1":
            return True
        return bool(_list_batch_ids(self.spark, self.bands_path))

    def batch_ids(self) -> list[int]:
        return _list_batch_ids(self.spark, self.bands_path)

    def next_batch_id(self) -> int:
        ids = self.batch_ids()
        return (max(ids) + 1) if ids else 0

    # ---------------------------------------------------------------- meta
    def read_meta(self) -> dict | None:
        path = f"{self.root}/{_META}"
        if not _exists(self.spark, path):
            return None
        return json.loads(_read_text(self.spark, path))

    def write_meta(self, meta: dict) -> None:
        meta = dict(meta)
        meta["layout"] = "incremental-v1"
        _write_text(self.spark, f"{self.root}/{_META}", json.dumps(meta, indent=1))

    def validate_config(self, cfg) -> None:
        """Refuse state whose parameter fingerprint doesn't match ``cfg``.

        Missing meta (pre-existing state written before fingerprinting) is
        tolerated with the caller expected to know what it's doing; any
        PRESENT fingerprint must match exactly, and verified state is always
        refused (bucket co-membership ⊅ connectivity under verify_pairs)."""
        if getattr(cfg, "verify_pairs", False):
            raise ValueError(
                "incremental mode is incompatible with verify_pairs=True: "
                "incremental folding links documents by bucket co-membership, "
                "which exact-Jaccard verification deliberately rejects for "
                "some pairs — a fold would reconnect them. Run un-verified, "
                "or re-run the full pipeline."
            )
        meta = self.read_meta()
        if meta is None:
            return
        if meta.get("verify_pairs"):
            raise ValueError(
                f"prior state at {self.root} was produced by a verify_pairs "
                "run; its cluster assignments are NOT bucket-connectivity "
                "closures, so an incremental fold against it is unsound."
            )
        # state may record the signature family that built it; a missing key
        # means the Arrow kernel, the only one this engine signs with. Band
        # keys of another family never match ours, so a fold would silently
        # under-merge.
        kernel = meta.get("minhash_kernel", "arrow")
        if kernel != "arrow":
            raise ValueError(
                f"prior state at {self.root} was built with "
                f"minhash_kernel={kernel!r}; this engine signs with the Arrow "
                "kernel only, so its band keys are not comparable."
            )
        want = meta_from_config(cfg)
        mismatched = {
            k: (meta.get(k), want[k])
            for k in _META_KEYS
            if k in meta and meta[k] != want[k]
        }
        if mismatched:
            raise ValueError(
                f"prior state at {self.root} was built with different "
                f"pipeline parameters (state, current): {mismatched} — band "
                "keys/cluster ids are not comparable across configs."
            )

    # --------------------------------------------------------------- reads
    def _read(self, path: str, cols: tuple[str, ...]) -> DataFrame:
        # a known schema spares Spark the footer-reading schema job; the
        # batch_id partition column is still discovered from the directories
        df = self.spark.read.schema(", ".join(f"{c} long" for c in cols)).parquet(path)
        keep = [c for c in (*cols, "batch_id") if c in df.columns]
        return df.select(*keep)

    def read_bands(self) -> DataFrame:
        """Full-corpus band table: plain concatenation of the batch tables."""
        return self._read(self.bands_path, BANDS_COLS).select(*BANDS_COLS)

    def read_assignments(self) -> DataFrame:
        """Current (u, rep) for every non-isolated node: latest batch wins."""
        df = self._read(self.components_path, ASSIGN_COLS)
        if "batch_id" not in df.columns:
            return df.select(*ASSIGN_COLS)
        return df.groupBy("u").agg(F.max_by("rep", "batch_id").alias("rep"))

    # -------------------------------------------------------------- writes
    def _write_batch(self, df: DataFrame, path: str, cols: tuple[str, ...],
                     batch_id: int) -> None:
        # only this batch's directory is ever (over)written — overwrite here
        # is idempotent-retry safety, not corpus truncation
        df.select(*cols).write.mode("overwrite").option(
            "compression", "snappy"
        ).parquet(f"{path}/batch_id={batch_id}")

    def append(self, bands: DataFrame, assign_delta: DataFrame,
               batch_id: int | None = None) -> int:
        """Persist one increment: the batch's bands + its assignment delta
        (new labels ∪ old-cluster re-labels). Bytes written are O(batch)."""
        if batch_id is None:
            batch_id = self.next_batch_id()
        self._write_batch(bands, self.bands_path, BANDS_COLS, batch_id)
        self._write_batch(assign_delta, self.components_path, ASSIGN_COLS, batch_id)
        return batch_id

    def bootstrap(self, bands: DataFrame, assignments: DataFrame, meta: dict) -> None:
        """One-time O(corpus) migration of a full run's band/assignment
        tables into batch 0 of a fresh state root."""
        if self.batch_ids():
            raise ValueError(f"state root {self.root} is not empty")
        self.write_meta(meta)
        self.append(bands, assignments, batch_id=0)

    def compact(self, new_root: str) -> "IncrementalState":
        """Fold the delta chain into a single batch 0 at a FRESH root (the
        Iceberg-compaction analogue; the old root stays readable until the
        caller swaps pointers). Bounds read amplification after many
        increments; never needed for correctness."""
        fresh = IncrementalState(self.spark, new_root)
        fresh.write_meta(self.read_meta() or {})
        fresh.append(self.read_bands(), self.read_assignments(), batch_id=0)
        return fresh
