import os
import subprocess
import sys

from perfbench import harness


class _FakeSpark:
    """Just enough of a SparkSession for ``jvm_pid``."""

    def __init__(self, pid):
        handle = type("H", (), {"pid": lambda self: pid})()
        process = type("P", (), {"current": staticmethod(lambda: handle)})
        jvm = type("J", (), {"ProcessHandle": process})
        self.sparkContext = type("C", (), {"_jvm": jvm})


def test_peak_rss_is_read_from_the_jvm_pid_not_this_process():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "b = bytearray(300 * 1024 * 1024)\nimport sys, time\nprint(1, flush=True)\ntime.sleep(30)"],
        stdout=subprocess.PIPE,
    )
    try:
        child.stdout.readline()
        pid = harness.jvm_pid(_FakeSpark(child.pid))
        assert pid == child.pid != os.getpid()
        assert harness.vm_hwm_mb(pid) >= 290
        assert harness.vm_hwm_mb(pid) != harness.vm_hwm_mb(os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)


def test_heap_is_a_clamped_share_of_memory(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemFree: 1 kB\nMemTotal:       15728640 kB\n")
    total = harness.mem_total_mb(str(meminfo))
    assert total == 15360
    assert harness.driver_heap_mb(total) == int(15360 * harness.HEAP_SHARE)
    assert harness.driver_heap_mb(1000) == harness.HEAP_MIN_MB
    assert harness.driver_heap_mb(10 ** 6) == harness.HEAP_MAX_MB

