"""Measurement helpers shared by the workloads: the /proc process-tree
CPU and RSS reader, the host stamp and on-disk byte counts. Nothing here
starts Spark."""

from __future__ import annotations

import os
import signal
import statistics
import sys
import time


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


# ---------------------------------------------------------------- /proc


def _read_stat(proc_root: str, pid: int) -> tuple[int, list[str]] | None:
    """(ppid, fields after the command name) of one process, or None when
    it has exited. The command name is in parentheses and may hold spaces,
    so the fields are split after the last ')'."""
    try:
        with open(os.path.join(proc_root, str(pid), "stat")) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), rest


def process_tree(root_pid: int, proc_root: str = "/proc") -> list[int]:
    """``root_pid`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir(proc_root):
        if not entry.isdigit():
            continue
        st = _read_stat(proc_root, int(entry))
        if st is not None:
            children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return sorted(out)


def tree_cpu_seconds(root_pid: int, proc_root: str = "/proc") -> float:
    """CPU seconds (user + system) used so far by the process tree under
    ``root_pid``: each live member's own utime+stime plus the cutime+cstime
    of children it has already reaped (Python workers that exited)."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root_pid, proc_root):
        st = _read_stat(proc_root, pid)
        if st is None:
            continue
        f = st[1]  # f[0] is the state; utime..cstime are stat fields 14-17
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / ticks


def wait_gone(pids: list[int], timeout: float, proc_root: str = "/proc") -> list[int]:
    """Wait until none of ``pids`` is alive (exited or a zombie); kill the
    ones still alive after ``timeout`` seconds and return them."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if (_read_stat(proc_root, p) or ("", ["Z"]))[1][0] != "Z"]
        if not alive or time.time() >= deadline:
            break
        time.sleep(0.05)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    return alive


def _status_field_kb(proc_root: str, pid: int, field: str) -> int:
    try:
        with open(os.path.join(proc_root, str(pid), "status")) as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def jvm_pid(root_pid: int, proc_root: str = "/proc") -> int | None:
    """The Spark driver JVM: the first descendant whose command is java."""
    for pid in process_tree(root_pid, proc_root):
        if pid == root_pid:
            continue
        try:
            with open(os.path.join(proc_root, str(pid), "comm")) as f:
                if f.read().strip() == "java":
                    return pid
        except FileNotFoundError:
            continue
    return None


def peak_rss_mb(root_pid: int, proc_root: str = "/proc") -> float:
    """Peak resident set (VmHWM) of the Python driver plus the JVM's."""
    kb = _status_field_kb(proc_root, root_pid, "VmHWM")
    jvm = jvm_pid(root_pid, proc_root)
    if jvm is not None:
        kb += _status_field_kb(proc_root, jvm, "VmHWM")
    return kb / 1024.0


# ---------------------------------------------------------------- host


# hashes per process: a probe of a fraction of a second
PROBE_N = 500_000


def cpu_probe(procs: int) -> float:
    """Aggregate million sha256/s the host sustains at ``procs`` processes:
    the raw-CPU probe of tools/ab_drift_check.py, at PROBE_N hashes each."""
    # import the engine from this checkout first: the tool's module puts
    # its own repository path in front of sys.path when it loads
    import __spark_entry__  # noqa: F401
    import ethereum_etl_spark.session  # noqa: F401

    saved = list(sys.path)
    try:
        from tools.ab_drift_check import cpu_probe as probe
    finally:
        sys.path[:] = saved
    return probe(procs, n=PROBE_N)


def host_cpu_ticks(proc_root: str = "/proc") -> list[int]:
    """The host-wide CPU counters of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open(os.path.join(proc_root, "stat")) as f:
        fields = f.readline().split()
    return [int(v) for v in fields[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time the hypervisor took between two
    ``host_cpu_ticks`` readings."""
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def host_stamp(proc_root: str = "/proc") -> dict:
    mem_kb = 0
    with open(os.path.join(proc_root, "meminfo")) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
    }


# ---------------------------------------------------------------- disk


def file_sizes(root: str) -> dict[str, int]:
    """Path -> size of every regular file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:
                continue
    return out


def snapshot_bytes(snapshot: dict) -> int:
    """Bytes of the data files a table snapshot references."""
    total = 0
    for plist in snapshot["buckets"].values():
        for p in plist:
            total += sum(
                size for path, size in file_sizes(p).items()
                if path.endswith(".parquet")
            )
    return total
