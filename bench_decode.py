#!/usr/bin/env python
"""Host-CPU yardstick shared by ``bench.py`` and ``perfbench/run.py``.

Decode throughput is measured by ``perfbench`` (``python3 perfbench/run.py
--workload decode_wide``), which times a full materialization of the
decode UDF; this module keeps only the engine-independent spin loop that
both benchmarks record next to their numbers.
"""

from __future__ import annotations


def cpu_spin_mops(loops: int = 10_000_000) -> float:
    """Host-CPU yardstick independent of the engine: pure-python loop
    throughput in M ops/s.  Recorded next to the decode lines so a
    drift adjudication can tell host variance (spin moves with the
    decode number) from a code regression (spin steady, decode down) —
    the r14 session-6 lesson: identical code measured 303k (r11), 261k
    (r14 driver refresh, loadavg 8), and 212k (r14 idle) single-thread
    rec/s across host states."""
    import time as _t

    t0 = _t.perf_counter()
    x = 0
    for i in range(loops):
        x += i & 7
    return loops / (_t.perf_counter() - t0) / 1e6
