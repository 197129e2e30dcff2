"""Measurement helpers: host state from /proc, a peak-RSS sampler for
the Spark process tree, in-memory trace spans, and the site server
process with its counters."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager


def cpu_times() -> list[int]:
    """Aggregate /proc/stat cpu jiffies: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """(steal, iowait) shares of all CPU time between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return d[7] / total, d[4] / total


def host_state(before: list[int], after: list[int]) -> dict:
    steal, iowait = shares(before, after)
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": os.cpu_count(), "steal_share": steal, "iowait_share": iowait,
            "loadavg": load}


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, state, RSS in KiB) of every live process."""
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended between listdir and open
        if fields[0] != "Z":
            out[int(name)] = (int(fields[1]), fields[0], pages * page_kb)
    return out


def descendants(root: int, skip: set[int], procs=None) -> list[int]:
    """Live descendants of ``root``, leaving out the subtrees at ``skip``."""
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    found, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        if pid not in skip:
            found.append(pid)
            todo.extend(kids.get(pid, []))
    return found


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if p in _processes()]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


class RssSampler:
    """Background sampler of the summed RSS of this process's children
    (the Spark JVM and the Python workers it forks)."""

    def __init__(self, skip: set[int], period_s: float = 0.1) -> None:
        self.skip, self.period_s = skip, period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _processes()
            kb = sum(procs[p][2] for p in descendants(me, self.skip, procs))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Tracer:
    """Spans (name, start, end, parent, request id) and counts, kept in
    memory and written once by ``dump``. Spans of one ``run.main`` call
    or probe share the request id set in ``request``."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.request = "setup"
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self.spans[self._stack[-1]]["name"] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "request": f"{self.run_id}/{self.request}"}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def seconds(self, name: str) -> float:
        """Duration of the first span called ``name``."""
        for s in self.spans:
            if s["name"] == name:
                return s["end"] - s["start"]
        raise KeyError(name)

    def wrap(self, name: str, fn, materialize=None):
        """``fn`` with a span around each call; ``materialize`` runs on
        the result inside the span so lazy DataFrame work is counted."""

        def traced(*a, **kw):
            with self.span(name):
                out = fn(*a, **kw)
                if materialize is not None:
                    out = materialize(out)
            return out

        return traced

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(dict(extra, run=self.run_id, spans=self.spans, counts=self.counts), f)


class SiteServer:
    """The site fixture in its own process (``sitegen.py``), stopped
    and waited for on exit."""

    def __init__(self, seed: int, cases: int, threads: int) -> None:
        self.argv = [sys.executable, os.path.join(os.path.dirname(__file__), "sitegen.py"),
                     "--seed", str(seed), "--cases", str(cases), "--threads", str(threads)]
        self.proc: subprocess.Popen | None = None
        self.port = 0

    def __enter__(self) -> SiteServer:
        self.proc = subprocess.Popen(self.argv, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline()
        if not line.strip().isdigit():
            self.__exit__()
            raise RuntimeError("site server did not start")
        self.port = int(line)
        return self

    def __exit__(self, *exc) -> None:
        if self.proc is not None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc.stdout.close()

    @property
    def base(self) -> str:
        return f"http://127.0.0.1:{self.port}/fkd"

    def _get(self, path: str) -> dict:
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{path}", timeout=10) as r:
            return json.loads(r.read())

    def reset(self) -> dict:
        """Counters since the previous reset; starts a new window."""
        return self._get("/__reset")

    def stats(self) -> dict:
        return self._get("/__stats")
