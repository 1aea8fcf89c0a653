"""Host-health probe for benchmark run records.

``perfbench/run.py`` embeds ``host_probe()`` in every run record, at the
start and at the end of the run, so a measurement window disturbed by
other load on the host is visible in the recorded JSON.
"""

import os
import time


def host_probe() -> dict:
    """~2.5 s host-health probe, emitted into the bench artifact itself so a
    contention-poisoned measurement window is visible in the recorded JSON
    (this sandbox carries a variable co-tenant: BENCH/BASELINE.md round-4
    measured a 7x DRAM-bandwidth spread between identical concurrent
    processes while the CPU probe stayed flat). Two readings:

    - cpu_md5_mbps: cache-resident single-core md5 spin — runnable-core
      contention shows here (healthy ~800+ MB/s, flat across rounds)
    - dram_gbps: 128 MB memcpy loop (read+write counted) — the co-tenant's
      memory-bus pressure shows here (healthy ~8+ GB/s; the round-4
      poisoned window measured 1.9 GB/s on this probe)
    - syscall_kps: 4 KB /dev/zero reads per millisecond — round 5 found a
      THIRD noise axis the two userspace probes are blind to: episodic
      70-83% system-time storms (kernel/hypervisor) that crush Spark's
      syscall-heavy shuffle I/O while md5/memcpy read healthy. Healthy
      ~2,400 k/s (0.4 us/call); a storm window shows here.
    """
    import hashlib

    import numpy as np

    buf = b"x" * (1 << 16)
    t0 = time.time()
    n = 0
    while time.time() - t0 < 1.0:
        hashlib.md5(buf).digest()
        n += 1
    cpu = n * len(buf) / (time.time() - t0) / 1e6
    a = np.ones(128 * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages before the clock starts
    t0 = time.time()
    it = 0
    while time.time() - t0 < 1.5:
        np.copyto(b, a)
        it += 1
    dram = it * a.nbytes * 2 / (time.time() - t0) / 1e9
    fd = os.open("/dev/zero", os.O_RDONLY)
    t0 = time.time()
    calls = 0
    while time.time() - t0 < 0.5:
        for _ in range(1000):
            os.read(fd, 4096)
        calls += 1000
    sys_rate = calls / (time.time() - t0) / 1e3
    os.close(fd)
    return {
        "cpu_md5_mbps": round(cpu, 1),
        "dram_gbps": round(dram, 2),
        "syscall_kps": round(sys_rate, 1),
    }
