"""Peak resident memory of this process and every process it started
(the JVM and Spark's Python workers), read from /proc."""

from __future__ import annotations

import os
import signal
import threading
import time


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        out[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p, pp in _parents().items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> tuple[str, int]:
    """(command name, proportional set size): resident memory with each
    shared page split among the processes that map it, so that a sum
    over processes counts every page once."""
    name, pss = "", 0
    try:
        with open(f"/proc/{pid}/comm") as f:
            name = f.read().strip()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    pss = int(line.split()[1]) * 1024
                    break
    except OSError:
        pass
    return name, pss


SAMPLE_INTERVAL_S = 0.25


class PeakRss:
    """Peak over time of the process tree's summed PSS, sampled on a
    daemon thread every SAMPLE_INTERVAL_S."""

    def __init__(self):
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def sample(self) -> None:
        me = os.getpid()
        by_name: dict[str, int] = {}
        for pid in [me, *descendants(me)]:
            name, pss = _pss_bytes(pid)
            by_name[name] = by_name.get(name, 0) + pss
        total = sum(by_name.values())
        with self._lock:
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_INTERVAL_S):
            self.sample()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; terminate what outlives the
    timeout, then kill what ignores that."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # a zombie has exited; its parent reaps it
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
