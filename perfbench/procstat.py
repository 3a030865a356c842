"""Process-tree CPU and host-noise readings from ``/proc``.

The crawl runs in three kinds of process: the driver Python process (this
one), the JVM that ``pyspark`` launches, and the Python workers the JVM
forks for Arrow UDFs. :func:`tree_cpu` sums user+system CPU over all of
them, split by kind; :class:`HostNoise` samples ``/proc/stat`` and
``/proc/loadavg`` around a timed window so a reader can see a noisy window
(CPU steal from neighbouring guests, I/O wait) without a re-run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return None


def parse_stat(text: str) -> tuple[int, str, int, float]:
    """``/proc/<pid>/stat`` -> (pid, comm, ppid, cpu seconds).

    CPU counts the process's own user+system time plus that of children it
    has reaped, so work done by a short-lived worker that exited inside a
    window is not lost."""
    pid = int(text[: text.index(" ")])
    lp, rp = text.index("("), text.rindex(")")
    comm = text[lp + 1 : rp]
    f = text[rp + 2 :].split()
    # fields after comm start at 3 (state); utime=14 stime=15 cutime=16 cstime=17
    ppid = int(f[1])
    ticks = sum(int(x) for x in f[11:15])
    return pid, comm, ppid, ticks / CLK_TCK


def _cmdline(proc: str, pid: int) -> str:
    raw = _read(f"{proc}/{pid}/cmdline") or ""
    return raw.replace("\0", " ")


def process_tree(root_pid: int, proc: str = "/proc") -> dict[int, tuple[int, str, float]]:
    """All live descendants of ``root_pid`` (itself included) as
    pid -> (ppid, comm, cpu seconds)."""
    table: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        text = _read(f"{proc}/{name}/stat")
        if text is None:
            continue
        pid, comm, ppid, cpu = parse_stat(text)
        table[pid] = (ppid, comm, cpu)
    keep = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                grew = True
    return {pid: table[pid] for pid in keep if pid in table}


def classify(tree: dict[int, tuple[int, str, float]], root_pid: int, proc: str = "/proc") -> dict[int, str]:
    """Label each process ``driver``, ``jvm`` or ``py_workers``.

    The root is the driver. A ``java`` process is the JVM; every Python
    process below a JVM is a UDF worker (the pyspark daemon and its forks).
    Anything else (the spark-submit shell wrapper) counts with the JVM."""
    labels = {root_pid: "driver"}
    jvms = {pid for pid, (_, comm, _) in tree.items() if comm == "java"}

    def under_jvm(pid: int) -> bool:
        while pid in tree and pid != root_pid:
            if pid in jvms:
                return True
            pid = tree[pid][0]
        return False

    for pid, (_, comm, _) in tree.items():
        if pid == root_pid:
            continue
        if pid not in jvms and under_jvm(pid) and (
            comm.startswith("python") or "pyspark" in _cmdline(proc, pid)
        ):
            labels[pid] = "py_workers"
        else:
            labels[pid] = "jvm"
    return labels


def tree_cpu(root_pid: int | None = None, proc: str = "/proc") -> dict[str, float]:
    """CPU seconds used so far by the process tree under ``root_pid``, as
    {"driver", "jvm", "py_workers", "total"}. Take two readings and
    subtract them to get a window's CPU."""
    root_pid = os.getpid() if root_pid is None else root_pid
    tree = process_tree(root_pid, proc)
    labels = classify(tree, root_pid, proc)
    out = {"driver": 0.0, "jvm": 0.0, "py_workers": 0.0}
    for pid, (_, _, cpu) in tree.items():
        out[labels[pid]] += cpu
    out["total"] = sum(out.values())
    return out


def py_worker_peak_rss_mb(root_pid: int | None = None, proc: str = "/proc") -> float:
    """Largest ``VmHWM`` (peak resident set) among live Python workers, MB."""
    root_pid = os.getpid() if root_pid is None else root_pid
    tree = process_tree(root_pid, proc)
    labels = classify(tree, root_pid, proc)
    peak = 0.0
    for pid, label in labels.items():
        if label != "py_workers":
            continue
        for line in (_read(f"{proc}/{pid}/status") or "").splitlines():
            if line.startswith("VmHWM:"):
                peak = max(peak, int(line.split()[1]) / 1024.0)
    return peak


def _cpu_line(proc: str) -> list[int]:
    first = (_read(f"{proc}/stat") or "cpu 0").splitlines()[0].split()
    return [int(x) for x in first[1:]]


@dataclass
class HostNoise:
    """Host-wide CPU steal and I/O wait over a window, plus load average.

    ``start()`` and ``stop()`` bracket the window; the shares are of all
    CPU time the host accounted in it."""

    proc: str = "/proc"
    _t0: list[int] | None = None
    steal_pct: float = 0.0
    iowait_pct: float = 0.0
    load1: float = 0.0

    def start(self) -> None:
        self._t0 = _cpu_line(self.proc)

    def stop(self) -> None:
        t1 = _cpu_line(self.proc)
        d = [b - a for a, b in zip(self._t0 or t1, t1)]
        total = sum(d[:8]) or 1  # user..steal; guest time is inside user
        self.iowait_pct = 100.0 * d[4] / total if len(d) > 4 else 0.0
        self.steal_pct = 100.0 * d[7] / total if len(d) > 7 else 0.0
        self.load1 = float((_read(f"{self.proc}/loadavg") or "0").split()[0])

    def as_dict(self) -> dict[str, float]:
        return {
            "steal_pct": round(self.steal_pct, 2),
            "iowait_pct": round(self.iowait_pct, 2),
            "load1": self.load1,
        }
