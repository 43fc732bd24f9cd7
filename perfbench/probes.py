"""Measurement plumbing for the benchmark: query listener, spans, RSS.

Nothing here changes the program under test.  Streaming progress comes
from a ``StreamingQueryListener`` the benchmark registers itself (every
batch, not the 100-entry ``recentProgress`` ring), driver-side spans
come from wrapping public methods for the length of a traced call, and
memory comes from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime, timezone


# ---------------------------------------------------------------------------
# summary statistics
# ---------------------------------------------------------------------------

def tail_percentile(n: int) -> int | None:
    """Highest percentile (of 50/90/95/99/99.9) with >= 10 samples
    beyond it, or None when even p50 lacks them."""
    best = None
    for p in (50, 90, 95, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile backed by >= 10 samples."""
    vals = sorted(values)
    out = {"n": len(vals), "median": statistics.median(vals)}
    p = tail_percentile(len(vals))
    if p is not None:
        k = min(len(vals) - 1, int(round(p / 100 * (len(vals) - 1))))
        out[f"p{p:g}"] = vals[k]
    return out


# ---------------------------------------------------------------------------
# streaming query listener
# ---------------------------------------------------------------------------

def make_listener():
    """Return a StreamingQueryListener that keeps every event.

    Callbacks run on the py4j callback thread, so they only store the
    raw progress JSON; parsing happens after the queries stop."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Capture(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: dict[str, dict] = {}     # run_id -> info
            self.ended: dict[str, float] = {}      # run_id -> time
            self.progress: list[str] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = {
                    "id": str(event.id), "t": time.time()}

        def onQueryProgress(self, event):
            raw = event.progress.json
            with self.lock:
                self.progress.append(raw)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.ended[str(event.runId)] = time.time()

        def drain(self, timeout: float = 30.0) -> None:
            """Wait until every started query's termination arrived."""
            end = time.time() + timeout
            while time.time() < end:
                with self.lock:
                    if set(self.started) <= set(self.ended):
                        return
                time.sleep(0.05)
            raise RuntimeError("listener bus did not drain: "
                               f"{set(self.started) - set(self.ended)}")

        def take(self) -> list[dict]:
            """Parsed progress events received so far; clears the buffer."""
            with self.lock:
                raw, self.progress = self.progress, []
            return [json.loads(r) for r in raw]

    return Capture()


def contiguous(events: list[dict]) -> bool:
    """Batch ids of each query id form one gap-free run starting at 0."""
    by_id: dict[str, set[int]] = {}
    for e in events:
        by_id.setdefault(e["id"], set()).add(int(e["batchId"]))
    return all(ids == set(range(max(ids) + 1)) for ids in by_id.values())


def event_start(e: dict) -> float:
    ts = datetime.strptime(e["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp()


def dropped_by_watermark(events: list[dict]) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for e in events for op in e.get("stateOperators", []))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": end, "parent": parent, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    @contextmanager
    def wrap(self, owner, method: str, name: str, parent: int | None,
             attr=None):
        """Record a span around every call of ``owner.method`` (any
        thread) while the block runs.  ``attr(self)`` labels the span."""
        orig = getattr(owner, method)
        tracer = self

        def traced(obj, *a, **kw):
            t0 = time.time()
            try:
                return orig(obj, *a, **kw)
            finally:
                tracer.add(name, t0, time.time(), parent,
                           label=attr(obj) if attr else None)

        setattr(owner, method, traced)
        try:
            yield
        finally:
            setattr(owner, method, orig)

    def self_ms(self, span: dict) -> float:
        """Duration minus the part covered by its direct children."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span["start"]), min(e, span["end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"] - covered) * 1000.0

    def dump(self, path: str) -> None:
        for s in self.spans:
            s["self_ms"] = self.self_ms(s)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ---------------------------------------------------------------------------
# memory of this process tree (driver Python, its JVM, Python workers)
# ---------------------------------------------------------------------------

def _tree_pss_kb(root_pid: int) -> int:
    """Summed proportional set size of ``root_pid`` and its descendants.

    PSS, not RSS: the Python workers are forked from one daemon, and RSS
    counts their shared pages once per worker, so a summed RSS tracks
    how many idle workers happen to be alive rather than memory used."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class MemSampler:
    """Background sampler of the summed PSS of this process tree."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.samples: list[tuple[float, int]] = []   # (time, kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.time(), _tree_pss_kb(pid)))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def peak_mb(self, start: float, end: float) -> float:
        return max((kb for t, kb in self.samples if start <= t <= end),
                   default=0) / 1024.0
