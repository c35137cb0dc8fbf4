"""Host conditions and memory sampling, read from ``/proc``."""

from __future__ import annotations

import os
import threading


def _proc_table() -> "dict[int, tuple[int, str]]":
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        name = stat[stat.index("(") + 1: stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(entry)] = (ppid, name)
    return out


def descendants(root: int, table=None) -> "list[int]":
    """``root`` and every process below it."""
    table = _proc_table() if table is None else table
    children: "dict[int, list[int]]" = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def conditions() -> dict:
    """nproc, 1-minute load, available memory and the number of other
    live JVMs, taken before this run starts its own JVM."""
    cond: dict = {"nproc": os.cpu_count()}
    cond["load1"] = round(os.getloadavg()[0], 2)
    with open("/proc/meminfo") as fh:
        mem = dict(line.split(":", 1) for line in fh if ":" in line)
    cond["mem_avail_gb"] = round(
        int(mem["MemAvailable"].split()[0]) / 1048576, 2)
    table = _proc_table()
    ours = set(descendants(os.getpid(), table))
    cond["other_jvms"] = sum(1 for pid, (_, name) in table.items()
                             if name == "java" and pid not in ours)
    return cond


def cpu_jiffies() -> "tuple[int, int]":
    """(steal, total) CPU time of all cores since boot, from
    ``/proc/stat``.  Steal is time a virtual machine's cores wanted to
    run but the hypervisor ran another guest: a busy shared host."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def tree_rss_bytes() -> int:
    """Resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks)."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Background thread recording the peak of :func:`tree_rss_bytes`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes())
