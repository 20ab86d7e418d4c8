"""Host-side readings from /proc: process-tree CPU and memory, steal%,
load average and process age. Linux only; no third-party packages."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when
    the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` and every process below it. Each live
    process contributes its own time plus that of the children it has
    reaped, so a Python worker that exited is still counted once."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat;
            # index 11-14 once pid and comm are stripped
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident sets (VmHWM) of the processes below
    ``root``: the JVM and its Python workers. The harness process is
    left out, since it also holds the generated inputs and the
    reference answers."""
    root = os.getpid() if root is None else root
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(1, after[1] - before[1])


def load1() -> float:
    return os.getloadavg()[0]


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / _TICK
