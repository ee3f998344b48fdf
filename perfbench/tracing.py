"""Spans, process-tree memory sampling and environment capture for the
benchmark. Spans are recorded from the benchmark's own files, around its
calls into each layer of the engine; nothing here reaches into the engine."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from pathlib import Path


class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.

    ``enabled=False`` makes every span a shared no-op context manager, so
    the untraced run pays one attribute lookup per call site."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._null = contextlib.nullcontext()

    def span(self, name: str):
        if not self.enabled:
            return self._null
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per layer (the span name's prefix before the first dot)
        not covered by the span's children. Children of one parent run
        sequentially (one driver thread), so their durations add up."""
        child_total = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_total[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, covered in zip(self.spans, child_total):
            if s["end"] is None:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    @staticmethod
    def span_cost_s(n: int = 20_000) -> float:
        """Seconds one span enter/exit costs, timed on a throwaway tracer.
        Times the number of spans a traced pass recorded, it is the
        tracing overhead of that pass: a traced-minus-untraced wall
        difference is swamped by run-to-run noise of whole Spark jobs."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe.span"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0,
                      end=None if s["end"] is None else s["end"] - t0)
                 for s in self.spans]
        path.write_text(json.dumps({"spans": spans, "self_s": self.self_times(),
                                    **extra}, indent=1))


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid()))
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


_CONTENDERS = ("org.apache.spark.deploy.SparkSubmit", "bench.py", "pytest")


def contending_processes() -> list[str]:
    """Command lines of other Spark, bench.py or pytest processes: any of
    them running beside a timed run skews its numbers."""
    mine = set(descendants(os.getpid()))
    found = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in mine:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if any(c in cmd for c in _CONTENDERS):
            found.append(cmd[:160])
    return found


def total_memory_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
