"""The benchmark's own arithmetic, kept free of Spark so it can be tested
in isolation: percentile choice, error counting, span self time and
process-tree memory.  See test_ledger.py."""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager

# a tail percentile is reported only if at least this many samples lie
# beyond it; with fewer the "p99" of a short run is just its maximum
MIN_BEYOND = 10
_LADDER = (99, 95, 90, 75, 50)


def supported_percentile(n: int, min_beyond: int = MIN_BEYOND) -> int | None:
    """Highest percentile of the ladder with >= ``min_beyond`` of ``n``
    samples strictly beyond it, or None if not even the median has."""
    for p in _LADDER:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (the ceil(p/100*n)-th smallest sample)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class ErrorCounter:
    """error_rate = calls that raised or returned a wrong answer / calls
    attempted.  A call is counted once however many checks it fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason)

    @property
    def rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover.  Children
    may overlap each other (build branches run concurrently), so the
    covered part is the union of their intervals, clipped to the span."""
    clipped = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in children
    ]
    covered = union_length([(s, e) for s, e in clipped if e > s])
    return (span["end"] - span["start"]) - covered


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.  Each
    span records name, layer, start, end, parent span id and the op id
    shared by the spans of one request.  Disabled, ``span`` does nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    @contextmanager
    def op(self, name: str):
        """Root span of one request; spans opened inside share its op id."""
        self._op += 1
        with self.span("bench", name):
            yield

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "layer": layer,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, layer: str, name: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (e.g. a concurrent build branch)
        as a child of the innermost open span.  Concurrent siblings each
        keep their full self time, so a layer's summed self time is busy
        time and may exceed the wall time it spans."""
        if self.enabled:
            self.spans.append({
                "id": len(self.spans), "layer": layer, "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "op": self._op, "start": start, "end": end,
            })

    def layer_self_times(self) -> dict[str, float]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + self_time(s, kids.get(s["id"], []))
        return out

    def covered_s(self) -> float:
        """Wall time covered by root spans."""
        return union_length(
            [(s["start"], s["end"]) for s in self.spans if s["parent"] is None]
        )


def _children_of() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the comm field may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids, out, todo = _children_of(), [], [root_pid]
    while todo:
        pid = todo.pop()
        out.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_ended(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` runs (a zombie counts as ended); kill
    what is left at the deadline."""
    deadline, killed = time.monotonic() + timeout_s, False
    while any(_running(p) for p in pids):
        if time.monotonic() > deadline:
            if killed:
                return
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline, killed = time.monotonic() + 5, True
        time.sleep(0.1)


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and all its descendants (the
    client Python process, the JVM and its Python workers), read from /proc.  Each process
    counts its proportional share (Pss) of every resident page, so pages
    shared by forked Python workers are counted once, not once per fork."""
    kids = _children_of()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Samples the process tree's resident memory on a background thread
    and keeps the peak: a sum of per-process peaks (VmHWM) would overstate
    it, since processes peak at different moments."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self._pid = root_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self.peak_mb = 0.0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self._pid))
