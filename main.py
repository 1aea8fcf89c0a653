#!/usr/bin/env python
"""spark-submit entry point.

    spark-submit --py-files dist/daft_minhash_dedupe_spark.zip main.py \
        --input /path/or/iceberg.table --output /path/out \
        --checkpoint /path/ckpt [--resume] [--verify-pairs] \
        [--num-perm 64] [--ngram 5] [--threshold 0.7] [--seed 42]

Input: the input_hint web-pages table (url, warc_ts, html, text, lang) as an
Iceberg identifier (when the session has an Iceberg catalog) or a parquet
path. Outputs: survivors + full cluster_id assignment table (write-back),
each via the reference's partitioned-save shape. Build the zip with:
    python scripts/make_dist.py      # writes dist/daft_minhash_dedupe_spark.zip
(`tests/test_cli.py::test_spark_submit_py_files_zip` proves the shape end to
end — zip built, main.py run via spark-submit from outside the repo).
"""

from __future__ import annotations

import argparse
import time


def parse_args():
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--verify-pairs", action="store_true")
    p.add_argument("--num-perm", type=int, default=64)
    p.add_argument("--ngram", type=int, default=5)
    p.add_argument("--threshold", type=float, default=0.7)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--algorithm", default="two_phase", choices=["two_phase", "alternating"])
    p.add_argument("--chunk-size", type=int, default=200_000)
    p.add_argument("--max-partitions", type=int, default=2048)
    p.add_argument(
        "--prior-checkpoint",
        default=None,
        help="incremental mode: dir holding the prior corpus state — either "
        "an incremental state root (appended to IN PLACE, O(batch) bytes "
        "written per increment) or a previous full UN-VERIFIED run's "
        "--checkpoint dir (bootstrapped once into <output>/state). The new "
        "batch is folded in without recomputing the old corpus; exact "
        "full-re-run parity for runs without --verify-pairs (verified runs "
        "are refused: bucket co-membership does not imply connectivity "
        "after exact-Jaccard verification).",
    )
    p.add_argument(
        "--tiers",
        default="minhash",
        help="comma list from {exact,line,substr,minhash} (cascade always "
        "runs cheapest-first: exact → line-boilerplate → exact-on-cleaned "
        "→ substring-span-removal → exact-on-cleaned → minhash). The "
        "default 'minhash' is the single-tier flagship pipeline with stage "
        "checkpoints / resume / incremental support; any other combination "
        "runs the tiered cascade (extras/tiered.py) and writes survivors + "
        "per-tier metrics.",
    )
    p.add_argument(
        "--line-min-dup-docs",
        type=int,
        default=5,
        help="line tier: a line is boilerplate when it appears in >= N "
        "distinct documents",
    )
    p.add_argument(
        "--substr-window-tokens",
        type=int,
        default=20,
        help="substr tier: remove tokens covered by a k-token window "
        "recurring across documents (extras/exact_substring.py)",
    )
    args = p.parse_args()
    args.tier_set = {t.strip() for t in args.tiers.split(",") if t.strip()}
    bad = args.tier_set - {"exact", "line", "substr", "minhash"}
    if bad:
        p.error(
            f"unknown tiers: {sorted(bad)} (choose from exact,line,substr,minhash)"
        )
    if args.tier_set != {"minhash"} and args.prior_checkpoint:
        p.error(
            "--prior-checkpoint (incremental mode) requires the default "
            "--tiers minhash: the persisted state is the single-tier "
            "pipeline's band table."
        )
    if args.verify_pairs and args.prior_checkpoint:
        p.error(
            "--verify-pairs cannot be combined with --prior-checkpoint: "
            "incremental folding links documents by bucket co-membership, "
            "which pair verification deliberately rejects for some pairs."
        )
    return args


def run_incremental(spark, args, df, cfg, t0) -> None:
    """Fold the input batch into the prior corpus state; write the new
    batch's cluster rows plus an O(batch) state increment (append-only band
    partition + assignment delta — never a rewrite of the corpus tables)."""
    import os

    from daft_minhash_dedupe_spark.operators.state import (
        IncrementalState,
        meta_from_config,
    )
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

    state = IncrementalState(spark, args.prior_checkpoint)
    # a state root is appended IN PLACE: only a new batch_id partition is
    # ever written, so pointing --prior-checkpoint at a previous run's state
    # (including one under this run's own --output) can never truncate files
    # a lazy plan is still reading
    if not state.is_state_root():
        # legacy full-run checkpoint dir: one-time O(corpus) bootstrap of a
        # fresh append-only state root at <output>/state
        state_root = f"{args.output}/state"
        if os.path.abspath(state_root) == os.path.abspath(args.prior_checkpoint):
            raise SystemExit(
                "refusing to bootstrap incremental state over the prior "
                "checkpoint itself — pick a different --output"
            )
        state.validate_config(cfg)  # the full run's _META.json, if any
        state = IncrementalState(spark, state_root)
        state.bootstrap(
            spark.read.parquet(f"{args.prior_checkpoint}/bands"),
            spark.read.parquet(f"{args.prior_checkpoint}/components"),
            meta_from_config(cfg),
        )

    res = MinHashDedupePipeline(cfg).fold(df, state, args.output)
    n_new = res["prepped"].count()
    n_rows = dict(res["delta"].groupBy("relabel").count().collect())
    dt = time.time() - t0
    print("─" * 70)
    print(f"incremental:  {n_new} new docs folded as batch {res['batch_id']} of {state.root}")
    print(f"joined:       {n_rows.get(False, 0)} new rows entered clusters; {n_rows.get(True, 0)} old rows re-labeled")
    print(f"wall time:    {dt:.2f}s  ({n_new / dt:.0f} docs/s)")
    print(f"output:       {args.output}  (next increment: --prior-checkpoint {state.root})")
    print("─" * 70)


def run_tiered(spark, args, df, cfg, t0) -> None:
    """Tiered cascade mode: exact → line-boilerplate → exact' →
    substring-span-removal → exact'' → minhash, honoring --tiers
    membership; writes survivors + prints per-tier metrics."""
    from daft_minhash_dedupe_spark.extras.tiered import tiered_dedupe
    from daft_minhash_dedupe_spark.io import write_table

    res = tiered_dedupe(
        df,
        id_col=cfg.index_col,
        text_col=cfg.content_col,
        line_min_dup_docs=(
            args.line_min_dup_docs if "line" in args.tier_set else None
        ),
        substring_window_tokens=(
            args.substr_window_tokens if "substr" in args.tier_set else None
        ),
        run_minhash="minhash" in args.tier_set,
        minhash_overrides={
            "num_perm": cfg.num_perm,
            "ngram_size": cfg.ngram_size,
            "threshold": cfg.threshold,
            "seed": cfg.seed,
            "algorithm": cfg.algorithm,
        },
    )
    # note: when "exact" is excluded the cascade still runs its exact tiers —
    # they are strictly cheaper than anything downstream and removing them
    # never changes the survivor set (exact dups are also near-dups)
    write_table(res["survivors"], f"{args.output}/survivors")
    dt = time.time() - t0
    print("─" * 70)
    for m in res["metrics"]:
        print(f"tier {m['tier']:<18} {m['docs_in']:>10} → {m['docs_out']:>10}")
    n_in = res["metrics"][0]["docs_in"] if res["metrics"] else 0
    n_out = res["metrics"][-1]["docs_out"] if res["metrics"] else 0
    print(f"wall time:    {dt:.2f}s  ({n_in / max(dt, 1e-9):.0f} docs/s)")
    print(f"rows before:  {n_in}")
    print(f"rows after:   {n_out} ({n_out / max(n_in, 1) * 100:.2f}% kept)")
    print(f"output:       {args.output}")
    print("─" * 70)


def main() -> None:
    args = parse_args()
    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.io import (
        StageCheckpointer,
        partitioned_save,
        read_table,
        write_table,
    )
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
    from daft_minhash_dedupe_spark.session import get_spark

    spark = get_spark(app_name="minhash_dedupe")
    t0 = time.time()
    pages = read_table(spark, args.input)
    df = prepare_web_pages(pages)

    cfg = DedupeConfig(
        num_perm=args.num_perm,
        ngram_size=args.ngram,
        threshold=args.threshold,
        seed=args.seed,
        algorithm=args.algorithm,
        verify_pairs=args.verify_pairs,
    )
    if args.prior_checkpoint:
        run_incremental(spark, args, df, cfg, t0)
        return

    if args.tier_set != {"minhash"}:
        run_tiered(spark, args, df, cfg, t0)
        return

    ck = StageCheckpointer(spark, root=args.checkpoint, resume=args.resume)
    res = MinHashDedupePipeline(cfg).run(df, checkpointer=ck)
    if args.checkpoint:
        # parameter fingerprint so a later --prior-checkpoint run can refuse
        # mismatched banding params / verified state
        from daft_minhash_dedupe_spark.operators.state import (
            _write_text,
            meta_from_config,
        )
        import json as _json

        _write_text(
            spark, f"{args.checkpoint}/_META.json", _json.dumps(meta_from_config(cfg))
        )

    rows_before = df.count()
    rows_after = res["results"].count()
    partitioned_save(
        res["results"],
        f"{args.output}/survivors",
        args.chunk_size,
        args.max_partitions,
        total_rows=rows_after,
    )
    # cluster_id write-back (north rule): every row with its cluster id
    write_table(res["clusters"], f"{args.output}/clusters")
    dt = time.time() - t0
    print("─" * 70)
    print(f"rows before:  {rows_before}")
    print(f"rows after:   {rows_after} ({rows_after / max(rows_before, 1) * 100:.2f}% kept)")
    print(f"wall time:    {dt:.2f}s  ({rows_before / dt:.0f} docs/s)")
    print(f"output:       {args.output}")
    print("─" * 70)


if __name__ == "__main__":
    main()
