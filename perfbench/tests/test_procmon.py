"""The /proc CPU and memory sampler, on a fake /proc tree and on a real
child process.

    python3 -m pytest perfbench/tests -q
"""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import procmon  # noqa: E402


def _proc(root, pid, ppid, comm, utime, stime, cutime, cstime, pss_kb):
    d = root / str(pid)
    d.mkdir()
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    fields = ["S", ppid] + [0] * 9 + [utime, stime, cutime, cstime] + [0] * 30
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, fields)) + "\n")
    (d / "smaps_rollup").write_text(f"Rss: {pss_kb * 2} kB\nPss: {pss_kb} kB\n")


def test_tree_sums_descendants_only(tmp_path):
    tick = procmon.TICK
    _proc(tmp_path, 10, 1, "python3", tick, tick, 0, 0, 1000)
    _proc(tmp_path, 11, 10, "java", 2 * tick, 0, 0, 0, 4000)
    # a space and a parenthesis in the command name must not shift fields
    _proc(tmp_path, 12, 11, "python3 -m (daemon)", 0, 0, 3 * tick, tick, 500)
    _proc(tmp_path, 99, 1, "other", 50 * tick, 0, 0, 0, 9000)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert sorted(procmon.tree_pids(10, str(tmp_path))) == [10, 11, 12]
    assert procmon.tree_cpu_s(10, str(tmp_path)) == 8.0
    assert procmon.tree_pss_bytes(10, str(tmp_path)) == 5500 * 1024
    assert procmon.tree_cpu_s(11, str(tmp_path)) == 6.0


def test_counts_a_busy_child():
    me = os.getpid()
    before = procmon.tree_cpu_s(me)
    child = subprocess.Popen([sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"])
    try:
        time.sleep(0.3)
        assert child.pid in procmon.tree_pids(me)
        with procmon.PeakMemory(me, interval=0.05) as mem:
            child.wait(timeout=30)
    finally:
        child.kill()
        child.wait()
    # the reaped child's CPU moves into this process's cutime
    assert procmon.tree_cpu_s(me) - before >= 0.4
    assert mem.peak > 0


def test_host_noise_fields():
    a = procmon.cpu_times()
    noise = procmon.host_noise(a, procmon.cpu_times())
    assert len(noise["loadavg"]) == 3
    assert noise["steal_s"] >= 0 and noise["iowait_s"] >= 0
    assert noise["cpu_affinity"] == sorted(os.sched_getaffinity(0))
