"""optimal_param parity with the reference (workload/minhash_dedupe.py:80-117;
pinned cases from tests/test_minhash_dedupe_unit.py:163-189)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from daft_minhash_dedupe_spark.config import DedupeConfig, optimal_param


def test_optimal_param_known_example():
    assert optimal_param(0.7, 256) == (25, 10)


def test_optimal_param_reference_default_config():
    # the reference default (num_perm=64, threshold=0.7) must give B*R == 64
    b, r = optimal_param(0.7, 64)
    assert (b, r) == (8, 8)


def test_optimal_param_constraints_small():
    for threshold in (0.5, 0.7, 0.9):
        b, r = optimal_param(threshold, 64)
        assert isinstance(b, int) and isinstance(r, int)
        assert b >= 1 and r >= 1
        assert b * r <= 64


@given(st.floats(0.1, 0.9), st.integers(16, 256))
@settings(max_examples=25, deadline=None)
def test_optimal_param_properties(threshold, num_perm):
    b, r = optimal_param(threshold, num_perm)
    assert b * r <= num_perm
    assert b >= 1 and r >= 1


def test_optimal_param_weighting():
    b1, r1 = optimal_param(0.7, 64, 0.9, 0.1)
    b2, r2 = optimal_param(0.7, 64, 0.1, 0.9)
    assert b1 * r1 <= 64 and b2 * r2 <= 64


def test_config_computes_bands():
    cfg = DedupeConfig()
    assert (cfg.B, cfg.R) == (8, 8)
    assert cfg.B * cfg.R == cfg.num_perm


def test_config_accepts_inexact_band_products():
    # Most (threshold, num_perm) combos optimize to B*R < num_perm —
    # banding slices only the first B*R signature values, so these must
    # construct (regression: __post_init__ used to demand equality, which
    # rejected e.g. `main.py --threshold 0.8` before any work ran).
    for threshold, num_perm in [(0.8, 64), (0.5, 64), (0.7, 128), (0.9, 256)]:
        cfg = DedupeConfig(threshold=threshold, num_perm=num_perm)
        assert 1 <= cfg.B and 1 <= cfg.R
        assert cfg.B * cfg.R <= cfg.num_perm
    assert DedupeConfig(threshold=0.8).B * DedupeConfig(threshold=0.8).R == 55


# -- task sizing / local-master resilience (round-5 20M-doc postmortem) ------


def test_python_stage_parallelism_regimes():
    from daft_minhash_dedupe_spark.pipeline import _python_stage_parallelism as p

    # tiny: clamp down to ceil(rows/1000), floor 1
    assert p(500, 32) == 1
    assert p(5_000, 32) == 5
    # middle band: pin to core count (headline shape 5M/32 stays 32)
    assert p(100_000, 32) == 32
    assert p(5_000_000, 32) == 32
    # big: scale ABOVE cores so one task never holds >~200k docs
    assert p(20_000_000, 32) == 100
    assert p(6_400_001, 32) == 33
    # a 100-TB-ish row count fans out to thousands of tasks
    assert p(1_000_000_000, 32) == 5000


def test_local_master_rewrite_adds_task_retries():
    from daft_minhash_dedupe_spark.session import _with_local_task_retries as f

    # bare local masters gain the cluster-default 4 task attempts
    assert f("local[32]") == "local[32,4]"
    assert f("local[*]") == "local[*,4]"
    # bare "local" is ONE thread in Spark — keep parallelism, add retries
    assert f("local") == "local[1,4]"
    # explicit failure counts and non-local masters pass through
    assert f("local[8,2]") == "local[8,2]"
    assert f("spark://host:7077") == "spark://host:7077"
    assert f("yarn") == "yarn"


def test_small_local_masters_run_the_serial_collector():
    from daft_minhash_dedupe_spark.session import C2_THRESHOLDS
    from daft_minhash_dedupe_spark.session import _local_driver_java_options as f

    # G1's pause-driven heap growth swung one run's footprint by ~0.8 GB;
    # up to four task threads the serial collector keeps it steady. Every
    # local master raises the C2 thresholds.
    assert f("local[4,4]") == f"-XX:+UseSerialGC {C2_THRESHOLDS}"
    assert f("local[1,4]") == f"-XX:+UseSerialGC {C2_THRESHOLDS}"
    # wider local masters keep the JVM's collector; cluster masters get nothing
    assert f("local[32,4]") == C2_THRESHOLDS
    assert f("spark://host:7077") is None


def test_session_jvm_runs_the_compile_profile(spark):
    """The live driver JVM runs C2 thresholds above the JDK 17 defaults, and
    the codegen cache is sized to hold a run's generated classes (Spark's
    default of 100 evicted the previous operation's plans)."""
    jdk17_defaults = {
        "Tier4InvocationThreshold": 5000,
        "Tier4MinInvocationThreshold": 600,
        "Tier4CompileThreshold": 15000,
        "Tier4BackEdgeThreshold": 40000,
    }
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(runtime.getRuntimeMXBean().getInputArguments())
    tier4 = dict(a[len("-XX:"):].split("=") for a in args if a.startswith("-XX:Tier4"))
    assert set(tier4) == set(jdk17_defaults), args
    assert all(int(tier4[k]) > v for k, v in jdk17_defaults.items()), tier4
    assert "-XX:+UseSerialGC" in args
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"
