"""Host-side measurement: percentiles, process-tree CPU, peak RSS and
host contention read from ``/proc``.

Nothing here touches Spark; every number is read from outside the program
under test, so the same code measures any commit.
"""

from __future__ import annotations

import json
import math
import os
import signal
import threading
import time

CLK = os.sysconf("SC_CLK_TCK")


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``q``% of
    the sample at or below it. ``values`` must be non-empty."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_supported(n: int, q: float) -> bool:
    """The percentile rule: a tail percentile is reported as measured only
    when at least ten samples lie beyond it."""
    return n * (100.0 - q) / 100.0 >= 10


def tail(values, q: float) -> float:
    """The ``q`` percentile under the percentile rule: as measured when the
    sample supports it, else the sample's maximum."""
    if tail_supported(len(values), q):
        return percentile(values, q)
    return max(values)


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every process visible in /proc."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        rest = raw.rsplit(") ", 1)[-1].split()
        procs[int(name)] = (int(rest[1]), (int(rest[11]) + int(rest[12])) / CLK)
    return procs


def _descendants(root: int, procs: dict[int, tuple[int, float]]) -> set[int]:
    mine = {root}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine


def machine_cpu() -> tuple[float, float]:
    """(busy cpu seconds, steal seconds) of the whole machine. Busy is user,
    nice, system, irq and softirq time: steal is reported apart, and guest
    time is already part of user time."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1:]
    busy = sum(int(fields[i]) for i in (0, 1, 2, 5, 6)) / CLK
    steal = int(fields[7]) / CLK if len(fields) > 7 else 0.0
    return busy, steal


class SessionCpu(threading.Thread):
    """CPU seconds of this process and all its descendants (the driver,
    the JVM, the Python worker daemon and its workers). A 0.5 s sampler
    remembers each pid's last-seen CPU and banks it when the pid exits,
    because auto-reaped Spark workers never roll into anyone's cutime.
    Generator and sink processes started by the benchmark are excluded
    through ``exclude``."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self._lock = threading.Lock()
        self._last: dict[int, float] = {}
        self._banked = 0.0
        self._halt = threading.Event()
        self.exclude: set[int] = set()

    def sample(self) -> float:
        procs = _proc_table()
        mine = _descendants(os.getpid(), procs)
        with self._lock:
            for pid in [p for p in self._last if p not in procs]:
                self._banked += self._last.pop(pid)
            for pid in mine:
                if pid not in self.exclude:
                    self._last[pid] = procs[pid][1]
            return self._banked + sum(self._last.values())

    def tree_pids(self) -> set[int]:
        procs = _proc_table()
        return _descendants(os.getpid(), procs) - self.exclude

    def run(self) -> None:
        while not self._halt.wait(0.5):
            self.sample()

    def close(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class Window:
    """Brackets a measured phase: wall, session CPU, machine CPU and steal.

    ``foreign_cpu_s`` is CPU burned on the machine by processes outside the
    session tree (the benchmark's own generator and sink included, since
    they are excluded from the session). A run whose foreign CPU exceeds
    10% of its session CPU, or whose CPUs lost more than 5% of the window
    to hypervisor steal, labels itself ``contended``."""

    def __init__(self, cpu: SessionCpu) -> None:
        self._cpu = cpu

    def __enter__(self) -> "Window":
        self._t0 = time.perf_counter()
        self._s0 = self._cpu.sample()
        self._m0, self._st0 = machine_cpu()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.peak_rss_mb = peak_rss_mb(self._cpu.tree_pids())
        self.session_cpu_s = self._cpu.sample() - self._s0
        m1, st1 = machine_cpu()
        self.steal_s = st1 - self._st0
        self.foreign_cpu_s = max(0.0, (m1 - self._m0) - self.session_cpu_s)

    def __add__(self, other: "Window") -> "Window":
        """Two measured phases as one: times and CPU add up, peak RSS is
        the higher of the two."""
        both = Window(self._cpu)
        for k in ("wall_s", "session_cpu_s", "steal_s", "foreign_cpu_s"):
            setattr(both, k, getattr(self, k) + getattr(other, k))
        both.peak_rss_mb = max(self.peak_rss_mb, other.peak_rss_mb)
        return both

    def contended(self, own_helpers_cpu_s: float = 0.0) -> bool:
        foreign = max(0.0, self.foreign_cpu_s - own_helpers_cpu_s)
        return (
            foreign > 0.1 * max(self.session_cpu_s, 1e-9)
            or self.steal_s > 0.05 * self.wall_s * (os.cpu_count() or 1)
        )


def process_cpu_s(pid: int) -> float:
    """CPU seconds of one process (0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(") ", 1)[-1].split()
    except OSError:
        return 0.0
    return (int(rest[11]) + int(rest[12])) / CLK


class Spans:
    """Trace spans kept in memory: name, start and end (epoch ns), the id of
    the span that caused it, and counts taken at the same boundary. Written
    out as JSON lines when the run ends."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    def add(self, name: str, start_ns: int, end_ns: int | None = None,
            parent: int | None = None, **counts) -> int:
        self.items.append({"id": len(self.items), "name": name, "start_ns": start_ns,
                           "end_ns": end_ns, "parent": parent, **counts})
        return len(self.items) - 1

    def end(self, span: int, end_ns: int) -> None:
        self.items[span]["end_ns"] = end_ns

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for item in self.items:
                fh.write(json.dumps(item) + "\n")


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[-1].split()[0] != "Z"
    except OSError:
        return False


def reap(children, timeout: float = 30.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL after ``timeout``."""
    pids = _descendants(os.getpid(), _proc_table()) - {os.getpid()}
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            for proc in children:
                proc.poll()
            pids = {p for p in pids if _alive(p)}
            if not pids:
                return
            time.sleep(0.05)
