"""Host context read from /proc: CPU count, load, steal time and the
high-water resident memory of the Spark processes."""

from __future__ import annotations

import os

#: an iteration counts as contended when the hypervisor stole more than
#: this share of CPU time during it, or the 1-min load exceeded nproc
STEAL_CONTENDED_PCT = 5.0


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return sum(fields[:8]), (fields[7] if len(fields) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def context(before: tuple[int, int], after: tuple[int, int]) -> dict:
    """Load and steal over one measured interval, with a contention flag."""
    load = os.getloadavg()
    steal = steal_pct(before, after)
    return {
        "load": [round(x, 2) for x in load],
        "steal_pct": round(steal, 2),
        "contended": steal > STEAL_CONTENDED_PCT or load[0] > nproc(),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds(pid: int | None = None) -> float:
    """CPU time of ``pid`` (default: this process) and every process
    below it, including children they have already reaped: here the
    driver, the Spark JVM and its Python workers."""
    pid = pid or os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / tick


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def peak_rss(pid: int | None = None) -> dict[str, float]:
    """VmHWM in MB of every process below ``pid`` (default: this one),
    summed per command name: the Spark JVM and its Python workers."""
    out: dict[str, float] = {}
    for p in descendants(pid or os.getpid()):
        name = _comm(p)
        out[name] = out.get(name, 0.0) + _hwm_kb(p) / 1024.0
    return out
