"""Client-side measurement: a delegating transport timer and the process-tree
CPU / memory reader.

``TimedFetcher`` wraps the engine's ``Fetcher`` (sources/fetch.py). It runs
inside Spark's Python workers, so each request appends one fixed-size record
to a per-process file under ``log_dir``; the harness reads the files back
after each round. ``ProcTree`` sums CPU time and resident memory over the
benchmark process and its descendants (the JVM and the Python workers), read
from ``/proc``.
"""

from __future__ import annotations

import os
import struct
import threading
import time

from sinew_spark.sources.fetch import Fetcher

# one record per transport call: duration in seconds, status, attempt
_REC = struct.Struct("<dii")


class TimedFetcher(Fetcher):
    """Delegating ``Fetcher`` that times every transport call at the client."""

    def __init__(self, inner: Fetcher, log_dir: str):
        self.inner = inner
        self.log_dir = log_dir
        self._fd = None

    def __getstate__(self):
        return {"inner": self.inner, "log_dir": self.log_dir, "_fd": None}

    def __del__(self):
        if self._fd is not None:
            os.close(self._fd)

    def resolve(self, url, method, body, attempt):
        return self.inner.resolve(url, method, body, attempt)

    def resolve_validated(
        self, url, method, body, attempt, cookies, proxy=None, etag=None,
        last_modified=None,
    ):
        t0 = time.perf_counter()
        r = self.inner.resolve_validated(
            url, method, body, attempt, cookies, proxy=proxy, etag=etag,
            last_modified=last_modified,
        )
        dt = time.perf_counter() - t0
        if self._fd is None:
            path = os.path.join(self.log_dir, f"transport-{os.getpid()}.bin")
            self._fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.write(self._fd, _REC.pack(dt, r[0] if r[0] is not None else -1, attempt))
        return r


class TransportLog:
    """Reads the records ``TimedFetcher`` instances appended since the last
    call. Files are only ever appended to, so a per-file offset suffices."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self._offsets: dict[str, int] = {}

    def take(self) -> list[tuple[float, int, int]]:
        out = []
        for name in sorted(os.listdir(self.log_dir)):
            if not name.startswith("transport-"):
                continue
            path = os.path.join(self.log_dir, name)
            with open(path, "rb") as f:
                f.seek(self._offsets.get(path, 0))
                data = f.read()
            whole = len(data) - len(data) % _REC.size
            self._offsets[path] = self._offsets.get(path, 0) + whole
            out.extend(_REC.iter_unpack(data[:whole]))
        return out


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, float, int] | None:
    """(ppid, start time, own CPU seconds, resident bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    cpu = (int(fields[11]) + int(fields[12])) / _TICK  # utime stime
    return int(fields[1]), int(fields[19]), cpu, int(fields[21]) * _PAGE


class ProcTree:
    """CPU seconds and resident memory of this process and its descendants,
    minus the subtrees of ``exclude`` pids (the loopback origin is the
    simulated network, not the system under test), over armed windows.

    CPU is summed per process as the growth of its own utime+stime during
    the window; a process that exits counts up to its last sample. (The
    children's totals a parent collects when it reaps them are not used:
    they would add a reaped Python worker's whole lifetime to the window
    in which it happened to exit.) A sampler thread takes a sample every
    ``INTERVAL`` seconds while armed, and keeps the peak of the summed
    resident memory."""

    INTERVAL = 0.2  # seconds between samples

    def __init__(self):
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self._lock = threading.Lock()  # the sampler and arm() both record
        self._armed = False
        self._cpu_start: dict[tuple[int, int], float] = {}
        self._cpu_last: dict[tuple[int, int], float] = {}
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _scan(self) -> dict[tuple[int, int], tuple[float, int]]:
        """(pid, start time) -> (CPU seconds, resident bytes) of the tree."""
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in stats:
                continue
            _ppid, start, cpu, rss = stats[pid]
            out[(pid, start)] = (cpu, rss)
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        return [pid for pid, _start in self._scan() if pid != self.root]

    def _record(self) -> None:
        scan = self._scan()
        for k, (cpu, _rss) in scan.items():
            self._cpu_last[k] = cpu
        self._peak = max(self._peak, sum(rss for _cpu, rss in scan.values()))

    def _sample(self) -> None:
        while not self._stop.wait(self.INTERVAL):
            with self._lock:
                if self._armed:
                    self._record()

    def start(self) -> None:
        self._thread.start()

    def arm(self, on: bool) -> None:
        """Open (True) or close (False) a measurement window."""
        with self._lock:
            if on:
                self._cpu_start = {k: cpu for k, (cpu, _rss) in self._scan().items()}
                self._cpu_last = dict(self._cpu_start)
                self._peak = 0
            self._record()
            self._armed = on

    def window(self) -> tuple[float, int]:
        """CPU seconds and peak resident bytes of the last window."""
        with self._lock:
            cpu = sum(c - self._cpu_start.get(k, 0.0) for k, c in self._cpu_last.items())
            return cpu, self._peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
