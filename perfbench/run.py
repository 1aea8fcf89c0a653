#!/usr/bin/env python3
"""Dedup benchmark: one command, every metric, correctness checked.

    python3 perfbench/run.py --workload pages_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The launcher pins the environment (master
``local[<cores>]``, driver heap sized to host memory, ``PYTHONPATH`` at the
checkout, fresh Spark local dirs), times ``get_spark()`` (JVM launch,
session and Python-worker warm-up), runs an untimed warm-up pass over
rows generated from ``--seed`` with ``sources/synthetic_spark.bench_corpus``,
writes the workload's corpus from the same generator, then runs operations
closed-loop (one at a time) for ``--seconds``: another operation starts only
if it is expected to end before the deadline. Every operation's outputs are
checked; an operation that raises or fails a check counts as failed, and so
do a failed warm-up run and a failed final check after the timed loop.

Time is charged as CPU seconds of the process tree (this process, the driver
JVM and its Python workers): on a shared 4-core host, co-tenants stretch wall
time by 50-80% for minutes at a time while CPU time moves by ~20%, so
wall-clock medians of separate runs disagree by more than any useful bound.
Wall times stay in the run record.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced operations and prints the per-layer metrics, the
unattributed remainder and the tracing overhead. The last stdout line is the
result JSON; the line before it is the full run record (host probes, every
operation, spans), also written under ``.perfbench_runs/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from proc import tree_cpu_s, tree_rss_mb  # noqa: E402

ROOT = Path.cwd()
DEFAULT_SEED = 1
WORKLOAD_NAMES = ("pages_full", "incremental_fold")
PROGRAM = ROOT / "daft_minhash_dedupe_spark" / "pipeline.py"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory(meminfo: str) -> str:
    """A quarter of host memory, 1-8 GiB: the session default (24g) is
    larger than many hosts this runs on."""
    kb = next(int(line.split()[1]) for line in meminfo.splitlines() if line.startswith("MemTotal:"))
    return f"{max(1, min(8, kb // (4 * 1024 * 1024)))}g"


def pin_environment(work: Path) -> None:
    (work / "spark-local").mkdir(parents=True)
    (work / "tmp").mkdir()
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{host_cores()}]"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory(Path("/proc/meminfo").read_text())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE), *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ.pop("SPARK_GRAFT_NO_WARMUP", None)
    sys.path[:0] = [str(ROOT), str(HERE)]


class RssSampler:
    """Peak of ``tree_rss_mb`` sampled every 0.2 s on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def timed_setup():
    """One ``get_spark()`` call from a cold process: it launches the driver
    JVM, starts the session and warms a Python worker per core. A run
    affords one: a second fresh JVM costs ~10 s on a 4-core host, and a
    session restarted inside the running JVM (0.15-0.6 s) times job
    scheduling jitter, not set-up."""
    from daft_minhash_dedupe_spark.session import get_spark

    t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
    spark = get_spark(app_name="perfbench")
    return spark, {"wall_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s(os.getpid()) - cpu0}


def load_expected(workload: str) -> dict:
    """The default seed's recorded result; a missing entry is an error."""
    table = json.loads((HERE / "expected.json").read_text())
    if workload not in table:
        raise RuntimeError(f"perfbench/expected.json records no result for {workload}")
    return table[workload]


def end_to_end(setup, ops, peak_rss_mb) -> dict:
    ok = [o for o in ops if not o.failed]
    return {
        "setup_s": setup["cpu_s"],
        "cpu_ms_per_doc": statistics.median(1000 * o.cpu_s / o.docs for o in ok),
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(ops, names: list[str]) -> dict:
    """Median over traced operations of every per-layer metric; layers an
    operation never entered read 0."""
    traced = [o for o in ops if o.traced and not o.failed]
    plain = [o for o in ops if not o.traced and not o.failed]
    rows = []
    for o in traced:
        row = dict.fromkeys(names, 0.0)
        for layer, vals in o.layers.items():
            for k, v in vals.items():
                if f"{layer}.{k}" in row:
                    row[f"{layer}.{k}"] = v
        row.update({k: v for k, v in o.counts.items() if k in row})
        row["trace.unattributed_s"] = o.layers.get("op", {}).get("busy_s", 0.0)
        row["trace.wall_s"] = o.wall_s
        rows.append(row)
    out = {n: statistics.median(r[n] for r in rows) for n in names if n != "trace.overhead_s"}
    if plain:
        out["trace.overhead_s"] = out["trace.wall_s"] - statistics.median(o.wall_s for o in plain)
    return out


def final_check(wl) -> bool | None:
    """Run the workload's check over its whole run: True if it failed, None
    if the workload has none."""
    try:
        problems = wl.final_check()
    except Exception:  # a check that raises is a failed check
        traceback.print_exc(file=sys.stderr)
        return True
    if problems is None:
        return None
    if problems:
        print(f"[perfbench] final check failed: {problems}", file=sys.stderr)
    return bool(problems)


def run(args, work: Path) -> tuple[dict, dict]:
    import bench
    from workloads import WORKLOADS

    spec = load_spec()
    expected = load_expected(args.workload) if args.seed == DEFAULT_SEED else None
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": os.environ["SPARK_GRAFT_MASTER"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "host_probe_start": bench.host_probe(),
    }
    phases = record["phase_s"] = {}
    t_phase = time.perf_counter()

    def phase(name):
        nonlocal t_phase
        now = time.perf_counter()
        phases[name] = now - t_phase
        t_phase = now

    spark, setup = timed_setup()
    phase("setup")
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, expected)
        # the warm-up runs straight over generated rows, so the corpus is
        # written by a warm JVM
        warm_problems = wl.warm_up()
        if warm_problems:
            print(f"[perfbench] warm-up run failed checks: {warm_problems}", file=sys.stderr)
        record["warm_up_result"] = wl.warm_result
        phase("warm_up")
        wl.prepare()
        phase("prepare")
        ops = []
        deadline = time.perf_counter() + args.seconds
        with RssSampler() as rss:
            for i in range(1, wl.max_ops + 1):
                t0 = time.perf_counter()
                ops.append(wl.run_op(i, traced=bool(args.trace) and i % 2 == 0))
                est = time.perf_counter() - t0
                # start another operation only if it is expected to end
                # before the deadline; a traced run brackets its traced
                # operation between two untraced ones, so the JVM's warming
                # trend cancels out of the overhead
                if time.perf_counter() + est > deadline and (not args.trace or i >= 3):
                    break
        phase("timed")
        checks_failed = final_check(wl)
        phase("final_check")
    finally:
        stop_spark(spark)
    record["host_probe_end"] = bench.host_probe()
    record["setup"] = setup
    record["ops"] = [
        {
            "wall_s": o.wall_s,
            "cpu_s": o.cpu_s,
            "docs": o.docs,
            "traced": o.traced,
            "error": o.error,
            "problems": o.problems,
            "layers": o.layers,
            "counts": o.counts,
            "spans": o.spans,
            "result": o.result,
        }
        for o in ops
    ]
    record["warm_up_problems"] = warm_problems
    record["final_check_failed"] = checks_failed
    # the checked warm-up run and a final check are operations of their own
    failed = sum(o.failed for o in ops) + bool(warm_problems) + bool(checks_failed)
    attempted = len(ops) + 1 + (checks_failed is not None)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if all(o.failed for o in ops):
        metrics = {}
    elif args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer(ops, names).items()}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        vals = end_to_end(setup, ops, rss.peak)
        metrics = {k: {"value": vals[k], "unit": units[k]} for k in units}
    result["metrics"] = metrics
    return record, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PROGRAM.is_file() or not (ROOT / "bench.py").is_file():
        print(
            f"perfbench: {ROOT} holds no dedup program checkout "
            "(daft_minhash_dedupe_spark/, bench.py); run from the repo root",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    out_dir = ROOT / ".perfbench_runs"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    (out_dir / name).write_text(json.dumps({**record, "result": result}, indent=1))
    print(json.dumps({**record, "ops": [{k: v for k, v in o.items() if k != "spans"} for o in record["ops"]]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
