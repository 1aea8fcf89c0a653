"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import inspect
import json
import re
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer, layer_totals, newer_than, self_times  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def clock(*ticks):
    it = iter(ticks)
    return lambda: next(it)


# -- self time over nested spans ----------------------------------------


def test_self_time_subtracts_union_of_overlapping_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None),
        Span(1, "a", 1.0, 4.0, 0),
        Span(2, "b", 3.0, 6.0, 0),  # overlaps a: the parent loses 1-6 once
        Span(3, "c", 2.0, 3.0, 1),
    ]
    assert self_times(spans) == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_boundaries_tile_the_parent_and_adopt_inner_spans():
    # op opens at 0; prep closes at 2; io runs 3-4; minhash closes at 5;
    # op closes at 6
    t = Tracer(clock=clock(0.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    with t.span("op"):
        t.boundary("prep")
        with t.span("io"):
            pass
        t.boundary("minhash")
    by_name = {s.name: s for s in t.spans}
    assert (by_name["prep"].start, by_name["prep"].end) == (0.0, 2.0)
    assert (by_name["minhash"].start, by_name["minhash"].end) == (2.0, 5.0)
    assert by_name["io"].parent == by_name["minhash"].id
    layers = layer_totals(t.spans, [], [])
    assert layers["prep"]["busy_s"] == 2.0
    assert layers["minhash"]["busy_s"] == 2.0  # 3 s minus io's 1 s
    assert layers["io"]["busy_s"] == 1.0
    assert layers["op"]["busy_s"] == 1.0  # 5-6: after the last boundary


def test_spark_counters_go_to_the_deepest_open_span():
    spans = [Span(0, "op", 0.0, 10.0, None), Span(1, "io", 2.0, 4.0, 0)]
    stage = {"tasks": 4, "failed_tasks": 1, "shuffle_write_bytes": 2e6, "exec_cpu_ns": 3e9}
    stages = [{**stage, "submit_s": 3.0}, {**stage, "submit_s": 5.0}, {**stage, "submit_s": 11.0}]
    jobs = [{"submit_s": 2.5}, {"submit_s": 20.0}]
    layers = layer_totals(spans, stages, jobs)
    assert layers["io"]["tasks"] == 4 and layers["io"]["jobs"] == 1
    assert layers["io"]["shuffle_write_mb"] == 2.0 and layers["io"]["exec_cpu_s"] == 3.0
    assert layers["op"]["tasks"] == 4 and layers["op"]["failed_tasks"] == 1
    assert layers["op"]["jobs"] == 0  # the job at 20 s is outside every span


# -- status-store diffing -----------------------------------------------


def test_status_store_diff_keeps_only_rows_since_the_last_read():
    rows = [{"stage_id": i, "submit_s": float(i)} for i in range(4)]
    rows.append({"stage_id": 4, "submit_s": None})  # never submitted
    fresh, mark = newer_than(rows, "stage_id", 1)
    assert [r["stage_id"] for r in fresh] == [2, 3]
    assert mark == 4
    assert newer_than(rows, "stage_id", mark) == ([], 4)
    # the store lists newest first; order does not matter
    fresh, mark = newer_than(list(reversed(rows)), "stage_id", -1)
    assert sorted(r["stage_id"] for r in fresh) == [0, 1, 2, 3] and mark == 4


# -- metric names ---------------------------------------------------------


def test_benchmark_json_obeys_the_name_unit_and_bound_rules():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in SPEC["workloads"]]
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    assert 2 <= len(names) <= 8 and 1 <= len(SPEC["per_layer"]) <= 128
    for n in names + [m["name"] for m in metrics]:
        assert NAME.match(n), n
    assert len(set(names)) == len(names)
    assert len({m["name"] for m in metrics}) == len(metrics)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"] and len(w["why"]) <= 200
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in metrics:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert names == list(run.WORKLOAD_NAMES)


def op(wall, traced=False, failed=False, layers=None, counts=None):
    return SimpleNamespace(
        wall_s=wall,
        cpu_s=2 * wall,
        docs=100,
        traced=traced,
        failed=failed,
        layers=layers or {},
        counts=counts or {},
    )


def test_emitted_metrics_are_exactly_the_declared_ones():
    ops = [op(2.0), op(3.0, traced=True, layers={"prep": {"busy_s": 0.5}}), op(2.2), op(9.0, failed=True)]
    e2e = run.end_to_end({"wall_s": 9.5, "cpu_s": 14.0}, ops, 512.0)
    assert set(e2e) == {m["name"] for m in SPEC["end_to_end"]}
    assert e2e["setup_s"] == 14.0 and e2e["cpu_ms_per_doc"] == 1000 * 4.4 / 100
    names = [m["name"] for m in SPEC["per_layer"]]
    layer = run.per_layer(ops, names)
    assert set(layer) == set(names)
    assert layer["prep.busy_s"] == 0.5
    assert layer["trace.overhead_s"] == 3.0 - 2.1
    assert all(v != 0 for k, v in e2e.items()), "end-to-end metrics must never read 0"


# -- seed plumbing ----------------------------------------------------------


def test_seed_reaches_every_generated_corpus():
    import workloads
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    args = run.parse_args(["--workload", "pages_full", "--seed", "7", "--seconds", "1"])
    assert args.seed == 7 and args.trace == 0
    assert run.parse_args(["--workload", "pages_full", "--seconds", "1"]).seed == run.DEFAULT_SEED
    params = set(inspect.signature(bench_corpus).parameters)
    for name, cls in workloads.WORKLOADS.items():
        assert name in [w["name"] for w in SPEC["workloads"]]
        kw = cls(None, Path("unused"), args.seed, None).corpus_kwargs()
        assert kw["seed"] == 7 and set(kw) <= params
        assert kw == cls(None, Path("unused"), 7, None).corpus_kwargs()
        assert kw != cls(None, Path("unused"), 8, None).corpus_kwargs()


def test_default_seed_has_a_recorded_result_for_every_workload():
    for w in SPEC["workloads"]:
        want = run.load_expected(w["name"])
        assert isinstance(want["survivors"], int) and want["survivors"] > 0
        assert re.fullmatch(r"[0-9a-f]{16}", want["digest"])


def test_refuses_to_run_outside_a_checkout(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in HERE.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "pages_full", "--seed", "1", "--seconds", "1"]
    res = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert res.returncode != 0 and res.stdout == ""


# -- the checks' own reference code --------------------------------------------


def test_union_find_labels_components_with_their_minimum():
    assert checks.union_find([(5, 3), (3, 9), (7, 8)]) == {5: 3, 3: 3, 9: 3, 7: 7, 8: 7}
    assert checks.partition_problems({3: 3, 5: 3}, {5: 3, 9: 9}, "x") == []
    assert checks.partition_problems({5: 4}, {5: 3}, "x") == ["1 nodes labelled differently from x"]


def test_digest_ignores_row_order():
    a = checks.assignment_digest(["b", "a"], ["a", "a"])
    assert a == checks.assignment_digest(["a", "b"], ["a", "a"])
    assert a != checks.assignment_digest(["a", "b"], ["a", "b"])


def test_driver_memory_is_a_quarter_of_the_host_within_1_to_8_gib():
    gib = 1024 * 1024
    assert run.driver_memory(f"MemTotal: {16 * gib} kB\n") == "4g"
    assert run.driver_memory(f"MemTotal: {2 * gib} kB\n") == "1g"
    assert run.driver_memory(f"MemTotal: {64 * gib} kB\n") == "8g"
