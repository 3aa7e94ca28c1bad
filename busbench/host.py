"""Host evidence from /proc: CPU steal and iowait shares, load, and a
peak resident-memory sampler for a process group (the bus's Python and
its JVM)."""

from __future__ import annotations

import os
import threading


def cpu_snapshot() -> dict:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    # user nice system idle iowait irq softirq steal
    return {"total": sum(f[:8]), "iowait": f[4], "steal": f[7], "load1": load1}


def cpu_between(a: dict, b: dict) -> dict:
    total = max(1, b["total"] - a["total"])
    return {
        "steal_pct": 100.0 * (b["steal"] - a["steal"]) / total,
        "iowait_pct": 100.0 * (b["iowait"] - a["iowait"]) / total,
        "load1_start": a["load1"], "load1_end": b["load1"],
    }


PAGE = os.sysconf("SC_PAGE_SIZE")


def _rss(pid: int) -> int:
    """Resident bytes, from the kernel's counters in ``statm``.
    ``smaps_rollup`` would walk the JVM's page tables (9-18 ms at 0.7 GB
    resident) with its memory map locked, ten times a second beside the
    bus it measures."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def group_pids(pgid: int, one_per_space: bool = False) -> list[int]:
    """Processes of a group.  With ``one_per_space``, one process per
    address space: the JVM starts its many ``chmod`` commands through
    posix_spawn, whose child runs in the JVM's own address space until
    it execs, and a sample that caught one counted the JVM twice."""
    out, spaces = [], set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat.rsplit(")", 1)[1].split()
        if int(fields[2]) != pgid:
            continue
        # the stack start identifies a space: the spawned child carries
        # the name of the JVM thread that spawned it, and the JVM's
        # virtual size can change between two reads
        space = fields[25]
        if one_per_space and space in spaces:
            continue
        spaces.add(space)
        out.append(int(name))
    return out


class RssSampler:
    """Samples the summed resident memory (RSS) of every process in a
    group, of its leader alone (the bus's Python) and of the rest (its
    JVM) until stopped; keeps the three peaks."""

    def __init__(self, pgid: int, period_s: float = 0.1) -> None:
        self.pgid, self.period = pgid, period_s
        self.peak_tree = self.peak_leader = self.peak_rest = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            leader = _rss(self.pgid)
            rest = sum(_rss(p) for p in group_pids(self.pgid, one_per_space=True)
                       if p != self.pgid)
            self.peak_tree = max(self.peak_tree, leader + rest)
            self.peak_leader = max(self.peak_leader, leader)
            self.peak_rest = max(self.peak_rest, rest)
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()
