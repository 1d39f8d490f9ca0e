"""Tracing for the collector benchmark, measured from outside the program.

Three sources, joined after a traced run:

* spans the benchmark records around its own calls into the repo's
  modules (``Tracer``), plus spans around module functions it swaps in
  for the traced run only (``Tracer.patched``);
* Spark's job, stage and executor metrics, read from the application's
  status REST API (``SparkStatus``);
* ``/proc`` readings of the driver JVM's process tree: resident memory
  (``MemorySampler``) and the CPU time of its Python workers
  (``python_cpu_s``).

Attribution rule (``attribute``): a point in time inside the run's root
span belongs to ``parse`` while any stage that runs the parse kernel is
running; otherwise to the label of the innermost labelled span open at
that point (the deepest, and of equally deep spans the one that started
last); otherwise to ``unattributed``. A layer's self time is the
total length of the points it owns, so the layers and the remainder add
up to the root span's wall time. A Spark job belongs to the innermost
span open at its submission time.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.accumulators import AccumulatorParam

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_GONE = (FileNotFoundError, ProcessLookupError)  # the process exited meanwhile


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent and run
    id. Each thread keeps its own stack; a thread with an empty stack
    (the streaming query's batch thread) parents its spans to the last
    root span opened."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            if root:
                parent, self._root = None, sid
            else:
                parent = stack[-1] if stack else self._root
            rec = {"id": sid, "name": name, "parent": parent,
                   "run": self.run_id, "start": time.time(), "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextmanager
    def patched(self, targets):
        """Swap ``(module, attribute, span name)`` targets for traced
        wrappers for the duration of the block."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self.wrap(getattr(mod, attr), name))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ListParam(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def tag_kernel(make_kernel, acc):
    """Wrap ``operators.records.make_kernel`` so each task that runs the
    parse kernel reports (stage id, Arrow bytes emitted, rows emitted)
    through the accumulator ``acc``."""

    def traced_make_kernel(*args, **kwargs):
        gen = make_kernel(*args, **kwargs)

        def traced_gen(batches):
            from pyspark import TaskContext

            nbytes = nrows = 0
            for rb in gen(batches):
                nbytes += rb.nbytes
                nrows += rb.num_rows
                yield rb
            acc.add([(TaskContext.get().stageId(), nbytes, nrows)])

        return traced_gen

    return traced_make_kernel


def parse_time(s: str | None) -> float | None:
    """Spark REST time ('2026-01-01T00:00:00.123GMT') -> epoch seconds."""
    if not s:
        return None
    t = dt.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


class SparkStatus:
    """Reader for the status REST API of the running application."""

    def __init__(self, sc):
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, timeout: float = 20.0) -> None:
        """Wait until the listener bus has caught up: no job running and
        the job list unchanged between two reads."""
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            jobs = self.get("/jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return
            last = state
            time.sleep(0.5)

    def jobs(self, t0: float, t1: float) -> list[dict]:
        out = []
        for j in self.get("/jobs"):
            sub = parse_time(j.get("submissionTime"))
            if sub is not None and t0 <= sub <= t1:
                out.append({"id": j["jobId"], "start": sub,
                            "end": parse_time(j.get("completionTime")) or t1,
                            "tasks": j["numCompletedTasks"],
                            "stages": j["stageIds"]})
        return out

    def stages(self, ids) -> dict[int, dict]:
        ids = set(ids)
        out = {}
        for s in self.get("/stages"):
            if s["stageId"] in ids and s["status"] == "COMPLETE":
                out[s["stageId"]] = {
                    "start": parse_time(s.get("firstTaskLaunchedTime") or s.get("submissionTime")),
                    "end": parse_time(s.get("completionTime")),
                    "shuffle_write": s.get("shuffleWriteBytes", 0),
                    "spill": s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0),
                }
        return out

    def gc_s(self) -> float:
        return sum(e.get("totalGCTime", 0) for e in self.get("/allexecutors")) / 1000.0


# ---------------------------------------------------------------------------
# /proc readings of the driver JVM's process tree.
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except _GONE:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except _GONE:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def pss_bytes(pids) -> int:
    """Proportional set size: resident memory with each page shared
    between processes (the forked Python workers) counted once in total."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except _GONE:
            pass
    return total


def python_cpu_s(jvm_pid: int) -> float:
    """User + system CPU of the Python processes under the JVM, including
    the workers their daemon has already reaped."""
    total = 0
    for p in descendants(jvm_pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except _GONE:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if comm.startswith("python"):
            fields = stat[stat.rindex(")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


class MemorySampler:
    """One thread sampling the proportional set size of the JVM and
    everything under it; ``peak_bytes`` is the largest sum seen since
    ``start``."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            now = pss_bytes([self.jvm_pid, *descendants(self.jvm_pid)])
            self.peak_bytes = max(self.peak_bytes, now)
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Interval arithmetic and attribution.
# ---------------------------------------------------------------------------


def union_s(intervals, lo: float = float("-inf"), hi: float = float("inf")) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _depths(spans: list[dict]) -> dict[int, int]:
    depth = {}
    for s in spans:  # parents are always recorded before their children
        depth[s["id"]] = 0 if s["parent"] is None else depth[s["parent"]] + 1
    return depth


def layer_at(spans: list[dict], labels: dict[str, str], t: float,
             within: dict | None = None) -> str:
    """The label of the innermost labelled span open at time ``t``
    (deepest, then latest started; only spans under ``within`` when
    given), else 'unattributed'."""
    by_id = {s["id"]: s for s in spans}
    depth = _depths(spans)
    open_ = [s for s in spans if s["start"] <= t <= s["end"]
             and (within is None or _under(s, within, by_id))]
    span = max(open_, key=lambda s: (depth[s["id"]], s["start"])) if open_ else None
    while span is not None:
        if span["name"] in labels:
            return labels[span["name"]]
        span = by_id.get(span["parent"])
    return "unattributed"


def _under(span: dict, root: dict, by_id: dict) -> bool:
    while span is not None:
        if span is root:
            return True
        span = by_id.get(span["parent"])
    return False


def attribute(spans: list[dict], root: dict, labels: dict[str, str],
              parse_intervals) -> dict[str, float]:
    """Split the root span's wall time by the rule in the module
    docstring. Returns {layer: seconds}, including 'unattributed'."""
    lo, hi = root["start"], root["end"]
    cuts = {lo, hi}
    for s, e in [(s["start"], s["end"]) for s in spans] + list(parse_intervals):
        cuts.update(min(max(x, lo), hi) for x in (s, e))
    edges = sorted(cuts)
    out: dict[str, float] = {}
    for a, b in zip(edges, edges[1:]):
        mid = (a + b) / 2
        if any(s <= mid <= e for s, e in parse_intervals):
            label = "parse"
        else:
            label = layer_at(spans, labels, mid, within=root)
        out[label] = out.get(label, 0.0) + (b - a)
    return out
