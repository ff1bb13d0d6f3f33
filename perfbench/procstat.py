"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launched, the PySpark
daemon the JVM forks and the Python workers the daemon forks. A worker that
exits is reaped by its parent, so its CPU time moves into the parent's
cutime/cstime: summing utime+stime+cutime+cstime over the live tree keeps
it counted.
"""

from __future__ import annotations

import os

_TCK = os.sysconf("SC_CLK_TCK")


def _tree() -> list:
    """[(pid, comm, stat fields after comm)] for every live descendant."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1:st.rindex(")")]
        rest = st[st.rindex(")") + 2:].split()
        children.setdefault(int(rest[1]), []).append((int(d), comm, rest))
    out, todo = [], [os.getpid()]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid[0])
    return out


def cpu_seconds() -> dict:
    """{'total', 'jvm', 'py'}: CPU seconds so far of the whole tree, of the
    JVM alone and of every Python process (driver, daemon, workers)."""
    me = os.times()
    py = me.user + me.system
    jvm = 0.0
    for _pid, comm, f in _tree():
        s = sum(int(x) for x in f[11:15]) / _TCK
        if comm == "java":
            jvm += s
        else:
            py += s
    return {"total": py + jvm, "jvm": jvm, "py": py}


def peak_rss_mb() -> dict:
    """Peak resident set (VmHWM) of the live tree in MiB, summed per kind:
    driver, jvm and the other Python processes (daemon and workers)."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    procs = [(os.getpid(), "driver")] + [
        (p, "jvm" if c == "java" else "workers") for p, c, _f in _tree()]
    for pid, kind in procs:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[kind] += int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start / _TCK


def host_ticks() -> tuple:
    """(busy+idle, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]
