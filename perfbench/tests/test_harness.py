"""Tests of the benchmark's measurement helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.harness import (  # noqa: E402
    host_cpu_ticks,
    peak_rss_mb,
    process_tree,
    steal_share,
    tree_cpu_seconds,
    wait_gone,
)


# ---------------------------------------------------------------- /proc


def _proc(root, pid, ppid, comm, utime, stime, cutime=0, cstime=0, hwm_kb=None):
    d = root / str(pid)
    d.mkdir()
    # fields 3.. of /proc/<pid>/stat: state ppid pgrp session tty tpgid
    # flags minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 1, 1, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, rest)) + "\n")
    (d / "comm").write_text(comm + "\n")
    status = f"Name:\t{comm}\n"
    if hwm_kb is not None:
        status += f"VmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n"
    (d / "status").write_text(status)


@pytest.fixture
def fake_proc(tmp_path):
    _proc(tmp_path, 1, 0, "init", 5, 5)
    _proc(tmp_path, 100, 1, "python3", 10, 2, cutime=3, cstime=1, hwm_kb=200 * 1024)
    _proc(tmp_path, 101, 100, "java", 400, 50, hwm_kb=3000 * 1024)
    # a command name holding spaces and parentheses must not shift fields
    _proc(tmp_path, 102, 101, "py worker (1)", 30, 4, hwm_kb=900 * 1024)
    _proc(tmp_path, 200, 1, "java", 999, 999, hwm_kb=9999 * 1024)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return tmp_path


def test_process_tree_holds_descendants_only(fake_proc):
    assert process_tree(100, str(fake_proc)) == [100, 101, 102]


def test_tree_cpu_counts_live_members_and_reaped_children(fake_proc):
    ticks = os.sysconf("SC_CLK_TCK")
    want = (10 + 2 + 3 + 1) + (400 + 50) + (30 + 4)
    assert tree_cpu_seconds(100, str(fake_proc)) == pytest.approx(want / ticks)


def test_peak_rss_is_driver_plus_its_jvm(fake_proc):
    # the other java process and the Python worker are not counted
    assert peak_rss_mb(100, str(fake_proc)) == pytest.approx(3200.0)


def test_steal_share_is_stolen_ticks_over_all_ticks(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  100 0 20 800 5 0 1 10 0 0\ncpu0 50 0 10 400 2 0 0 5 0 0\n")
    before = host_cpu_ticks(str(tmp_path))
    assert before == [100, 0, 20, 800, 5, 0, 1, 10]
    stat.write_text("cpu  160 0 30 900 5 0 1 40 0 0\n")
    # 30 of the 200 ticks that passed were stolen
    assert steal_share(before, host_cpu_ticks(str(tmp_path))) == pytest.approx(0.15)
    assert steal_share(before, before) == 0.0


def test_reader_works_on_the_live_proc():
    me = os.getpid()
    assert me in process_tree(me)
    assert tree_cpu_seconds(me) > 0
    assert peak_rss_mb(me) > 0
    assert sum(host_cpu_ticks()) > 0


def test_wait_gone_treats_zombies_as_ended_and_kills_survivors():
    quick = subprocess.Popen(["sleep", "0.2"])
    slow = subprocess.Popen(["sleep", "30"])
    try:
        # the finished child stays a zombie until waited for: that is ended
        assert wait_gone([quick.pid], timeout=10) == []
        assert wait_gone([slow.pid], timeout=0.2) == [slow.pid]
        assert slow.wait(timeout=10) == -9
    finally:
        quick.wait()
        slow.kill()
        slow.wait()
