"""CPU time and peak memory of a process tree from ``/proc``, and a fixed
CPU-capacity probe.

The tree is the benchmark's own process and every descendant: the Spark
JVM, its Python worker daemon and the workers.  Workers that exit are reaped
by their parent, which then carries their CPU time in ``cutime``/``cstime``,
so a before/after difference over the live tree counts them too.
"""

from __future__ import annotations

import os
import subprocess
import sys

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return text[text.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """user+sys seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of stat: utime, stime, cutime, cstime
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_by_process(root: int) -> list[tuple[str, float]]:
    """(command name, ``VmHWM`` peak resident set in MiB) of each live
    process of the tree."""
    out = []
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of ``VmHWM`` over the live tree, in MiB."""
    return sum(mb for _name, mb in peak_rss_by_process(root))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from ``/proc/stat``:
    steal is time this VM's CPUs waited for the host."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


_BURN = (
    "import time\n"
    "t = time.perf_counter()\n"
    "x = 0\n"
    "for i in range(1_000_000):\n"
    "    x += i * i\n"
    "print(time.perf_counter() - t)\n"
)


def _burn(n: int) -> float:
    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN], stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    times = [float(p.communicate(timeout=60)[0]) for p in procs]
    return max(times)


def capacity_probe() -> dict:
    """Seconds of a fixed pure-Python loop on one core and on every core at
    once.  A host whose capacity drifts shows it here; the probe is context
    for the run beside it, not a gate."""
    n = os.cpu_count() or 1
    return {"single_s": round(_burn(1), 4), f"x{n}_s": round(_burn(n), 4)}
