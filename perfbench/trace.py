"""Tracing for the traced benchmark run: spans, an RSS sampler and an
event-log reader.

Spans are recorded from the benchmark's own files. ``Tracer.wrap`` swaps a
module attribute (a public function or a ``SnapStore`` method) for a timing
wrapper and ``Tracer.unwrap_all`` restores it; the program itself is never
edited. Spans keep wall-clock start/end (``time.time()``) so they line up with
the millisecond timestamps of Spark's event log, and they are only held in
memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def add(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((name, t0, t1))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(name, t0, time.time())

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def named(self, name: str) -> list[tuple[float, float]]:
        return [(a, b) for n, a, b in self.spans if n == name]

    def within(self, name: str, t0: float, t1: float) -> list[tuple[float, float]]:
        return [(a, b) for a, b in self.named(name) if a >= t0 and b <= t1]


def covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals)
    total, end = 0.0, t0
    for a, b in clipped:
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def install_program_spans(tracer: Tracer) -> None:
    """Wrap the public functions a crawl calls, at the names it calls them by."""
    import sparkcrawl.crawl as crawl
    import sparkcrawl.rounds as rounds
    import sparkcrawl.session as session
    from sparkcrawl.snapstore import SnapStore

    tracer.wrap(crawl, "prepare_pages", "rounds.prepare_pages")
    tracer.wrap(crawl, "init_crawl", "rounds.init_crawl")
    tracer.wrap(crawl, "one_round", "rounds.one_round")
    tracer.wrap(rounds, "corpus_caps", "rounds.corpus_caps")
    tracer.wrap(session, "prewarm_python_workers", "session.prewarm")
    for meth in ("append", "overwrite", "append_local", "overwrite_local"):
        tracer.wrap(SnapStore, meth, "snapstore.write")
    tracer.wrap(SnapStore, "commit_round", "snapstore.commit_round")


class RssSampler:
    """Peak resident set of this process and all its descendants (driver,
    JVM, Python workers), sampled from /proc."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self.sample())
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.peak_kb = max(self.peak_kb, self.sample())

    @staticmethod
    def sample() -> int:
        rss = _proc_table()
        return sum(rss[p][1] for p in descendants(rss)) * (os.sysconf("SC_PAGE_SIZE") // 1024)


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid → (parent pid, resident pages, state) for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), pages, fields[0])
    return out


def descendants(table: dict | None = None) -> set[int]:
    """This process and every process below it."""
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        found.add(p)
        todo.extend(children.get(p, []))
    return found


def wait_gone(pids: set[int], timeout: float = 60.0) -> None:
    """Wait until none of ``pids`` is running (exited or a zombie)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        table = _proc_table()
        if not any(p in table and table[p][2] != "Z" for p in pids):
            return
        time.sleep(0.1)


# ---------------------------------------------------------------- event log

_PY_NODES = {
    "udfs": ("ArrowEvalPython",),
    "seenfilter": ("FlatMapCoGroupsInPandas",),
    "warc": ("MapInPandas", "ArrowEvalPython"),
}


def _plan_metrics(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"], m["metricType"])
    for child in plan.get("children", []):
        _plan_metrics(child, out)


class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[float] = []        # submission times (s)
        self.stages: list[float] = []      # completed stage submission times (s)
        self.tasks: list[dict] = []
        accs: dict[int, tuple[str, str, str]] = {}
        lines: list[dict] = []
        for d, _, files in os.walk(log_dir):
            for name in sorted(files):
                if name.startswith("events_") or name.startswith("local-"):
                    with open(os.path.join(d, name)) as f:
                        lines.extend(json.loads(line) for line in f if line.strip())
        for ev in lines:
            kind = ev.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _plan_metrics(ev.get("sparkPlanInfo", {}), accs)
        for ev in lines:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                self.jobs.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    self.stages.append(info["Submission Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                py: dict[tuple[str, str], float] = {}
                for acc in info.get("Accumulables", []):
                    node = accs.get(acc.get("ID"))
                    if node is None or acc.get("Update") is None:
                        continue
                    try:
                        val = float(acc["Update"])
                    except (TypeError, ValueError):
                        continue
                    if node[2] == "nsTiming":
                        val /= 1e9
                    elif node[2] == "timing":
                        val /= 1e3
                    key = (node[0], node[1])
                    py[key] = py.get(key, 0.0) + val
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                self.tasks.append({
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "py": py,
                })

    def tasks_in(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] <= t1]

    def count_in(self, times: list[float], t0: float, t1: float) -> int:
        return sum(1 for t in times if t0 <= t <= t1)

    @staticmethod
    def python(tasks: list[dict], layer: str, metric: str) -> float:
        """Sum of a Python SQL metric over the plan nodes of ``layer``."""
        nodes = _PY_NODES[layer]
        return sum(
            v for t in tasks for (node, name), v in t["py"].items()
            if node in nodes and name == metric
        )
