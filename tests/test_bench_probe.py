"""The host probe that perfbench embeds in every run record (no Spark)."""

import bench


def test_host_probe_returns_three_positive_readings():
    probe = bench.host_probe()
    assert set(probe) == {"cpu_md5_mbps", "dram_gbps", "syscall_kps"}
    for key, value in probe.items():
        assert isinstance(value, (int, float)) and value > 0, key
