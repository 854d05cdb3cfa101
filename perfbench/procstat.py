"""Process-tree memory sampling and host-health snapshots (Linux /proc)."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_mb(pid: int) -> float:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class RssSampler:
    """Peak resident memory of this process, the JVM and the Python
    workers (all descendants).  Every ``interval`` seconds a daemon
    thread sums, over the processes alive at that moment, each one's
    kernel high-water mark (VmHWM), so a short peak between two polls
    still counts and workers that have exited do not.  The process tree
    is re-walked only every ``rescan`` seconds: a full /proc walk holds
    the interpreter lock long enough to slow driver-side calls."""

    def __init__(self, interval: float = 0.2, rescan: float = 1.0):
        self.interval = interval
        self.rescan = rescan
        self.peak_total = self.peak_jvm = self.peak_workers = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._kinds: dict[int, str] = {}
        self._pids: list[int] = []
        self._scanned = float("-inf")

    def _kind(self, pid: int) -> str:
        kind = self._kinds.get(pid)
        if kind is None:
            kind = self._kinds[pid] = "jvm" if "java" in _cmdline(pid).split(" ", 1)[0] else "py"
        return kind

    def sample(self) -> None:
        me = os.getpid()
        now = time.monotonic()
        if now - self._scanned >= self.rescan:
            self._pids, self._scanned = descendants(me), now
        jvm = workers = 0.0
        for pid in self._pids:
            hwm = _hwm_mb(pid)  # 0 once the process has exited
            if self._kind(pid) == "jvm":
                jvm += hwm
            else:
                workers += hwm
        self.peak_total = max(self.peak_total, _hwm_mb(me) + jvm + workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def host_health() -> dict:
    """Cumulative steal/total jiffies and the 1-minute load average."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal": vals[7] if len(vals) > 7 else 0, "total": sum(vals), "load1": load1}


def health_window(before: dict, after: dict) -> dict:
    """Steal share over the window, plus the load average at both ends.
    Recorded only: it never triggers a retry or selects a run."""
    dt = max(after["total"] - before["total"], 1)
    return {
        "steal_pct": round(100.0 * (after["steal"] - before["steal"]) / dt, 3),
        "load1_before": before["load1"],
        "load1_after": after["load1"],
    }
