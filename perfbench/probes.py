"""Trace spans kept in memory, and process-tree RSS read from /proc."""

from __future__ import annotations

import json
import os
import signal
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Spans (name, start, end, parent, run id) recorded around the
    benchmark's calls into each layer; written as JSON when the run
    ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.time()

    def seconds(self, name: str) -> float:
        """Duration of the last closed span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name and rec["end"] is not None:
                return rec["end"] - rec["start"]
        raise KeyError(name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans}, indent=1))


class NullTracer:
    """Stands in for Tracer in untraced passes."""

    @contextmanager
    def span(self, name: str):
        yield None


def _children_by_parent() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state != "Z":  # a zombie has already ended
            out.setdefault(int(ppid), []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    children = _children_by_parent()
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled only inside ``sampling()`` blocks."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0

    @contextmanager
    def sampling(self):
        stop = threading.Event()

        def loop() -> None:
            while True:
                self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
                if stop.wait(self.interval_s):
                    return

        thread = threading.Thread(target=loop, daemon=True)
        thread.start()
        try:
            yield self
        finally:
            stop.set()
            thread.join()


def process_start_time() -> float:
    """Wall-clock time at which this process was started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def reap_descendants(timeout_s: float = 60.0) -> None:
    """Wait for every descendant process to end; kill what outlives the
    timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        left = descendants(os.getpid())
        if not left:
            return
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for p in descendants(os.getpid()):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)
