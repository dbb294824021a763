"""Heap occupancy is read from the Spark driver JVM's `-Xlog:gc` file, and
CPU time is summed over the process tree."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from perfbench import host


def test_gc_log_peaks(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.200s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 204M->31M(4096M) 9.1ms\n"
        "[3.400s][info][gc] GC(1) Pause Young (Normal) (G1 Evacuation Pause) 1800M->230M(4096M) 20.2ms\n"
        "[3.900s][info][gc] GC(2) Pause Remark 900M->880M(4096M) 4.0ms\n"
        "[4.100s][info][gc] GC(3) Pause Young (Normal) (G1 Evacuation Pause) 2G->512000K(4096M) 8ms\n"
        "[4.200s][info][gc] GC(2) Concurrent Mark Cycle 310.201ms\n"
    )
    assert host.gc_heap_mb(str(log)) == {"before_gc_mb": 2048.0, "after_gc_mb": 500.0}


def test_missing_gc_log_reads_zero(tmp_path):
    assert host.gc_heap_mb(str(tmp_path / "none.log")) == {"before_gc_mb": 0.0,
                                                           "after_gc_mb": 0.0}


def test_tree_cpu_counts_own_and_reaped_child_work():
    before = host.tree_cpu_s(os.getpid())
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.2: pass"], check=True)
    assert host.tree_cpu_s(os.getpid()) - before >= 0.3
