"""Spans, kernel phase wrappers and Spark stage metrics for the traced run.

Spans live in memory and are written once, at exit. Every span opened
with a Spark session tags the jobs it starts with its id
(``setJobGroup``), so stage metrics read back from the UI's REST API can
be attributed to the span that caused them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass

#: how long StageMetrics.load waits for the UI to list every job as ended
SETTLE_S = 10.0
#: PeakRss sampling period
RSS_PERIOD_S = 0.5


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans on one thread; an inactive tracer records nothing."""

    def __init__(self, active: bool = True):
        self.active = active
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def begin(self, name: str) -> Span | None:
        if not self.active:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span | None) -> None:
        if s is not None:
            s.end = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, spark=None):
        """Time a block; with ``spark``, tag the Spark jobs it runs."""
        s = self.begin(name)
        tag = spark is not None and s is not None
        if tag:
            sc = spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(job_group(s), name)
        try:
            yield s
        finally:
            if tag:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            self.end(s)

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def job_group(span: Span) -> str:
    return f"span-{span.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = s.duration - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, tuple[float, int]]:
    """Span name -> (total self seconds, number of spans)."""
    st = self_times(spans)
    out: dict[str, tuple[float, int]] = {}
    for s in spans:
        t, n = out.get(s.name, (0.0, 0))
        out[s.name] = (t + st[s.id], n + 1)
    return out


# ----------------------------------------------------------- kernel phases --

#: (module, function) pairs whose calls the replay records
KERNEL_PHASES = (
    ("layout", "layout_permutation"),
    ("layout", "_order_body_text"),
    ("layout", "find_gutters"),
    ("layout", "cluster_lines_into_regions"),
    ("layout", "find_splitters"),
    ("deskew", "estimate_skew"),
    ("layout", "split_main_and_marginal"),
    ("layout", "order_lines_in_region"),
    ("layout", "_order_marginals"),
)


@contextlib.contextmanager
def kernel_phase_spans(tracer: Tracer):
    """Replace each phase function with a span-recording wrapper for the
    duration of the block. The kernels call each other through module
    globals, so patching the module attribute reaches every call site;
    ``pipeline`` binds ``layout_permutation`` at import and is patched too."""
    from eynollah_spark import pipeline
    from eynollah_spark.kernels import deskew, layout

    mods = {"layout": layout, "deskew": deskew}
    saved = []
    try:
        for mod_name, fn_name in KERNEL_PHASES:
            mod = mods[mod_name]
            orig = getattr(mod, fn_name)
            saved.append((mod, fn_name, orig))
            setattr(mod, fn_name, tracer.wrap(fn_name, orig))
        saved.append((pipeline, "layout_permutation", pipeline.layout_permutation))
        pipeline.layout_permutation = layout.layout_permutation
        yield
    finally:
        for mod, fn_name, orig in reversed(saved):
            setattr(mod, fn_name, orig)


# --------------------------------------------------- Spark stage metrics --

# the UI is served by this process's own JVM: never route through a proxy
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _get(url: str):
    with _LOCAL.open(url, timeout=30) as r:
        return json.loads(r.read())


class StageMetrics:
    """Jobs and stages of the running application, read from the UI's
    REST API and grouped by job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}

    def load(self) -> "StageMetrics":
        """Poll until no job is running (the UI listener lags the jobs)."""
        deadline = time.monotonic() + SETTLE_S
        while True:
            self.jobs = _get(f"{self.base}/jobs")
            if (all(j["status"] != "RUNNING" for j in self.jobs)
                    or time.monotonic() > deadline):
                break
            time.sleep(0.2)
        self.stages = {}
        for s in _get(f"{self.base}/stages"):
            if s["status"] == "COMPLETE":
                self.stages.setdefault(s["stageId"], s)
        return self

    def jobs_of(self, group: str) -> list[dict]:
        return [j for j in self.jobs if j.get("jobGroup") == group]

    def stages_of(self, group: str) -> list[dict]:
        ids = {sid for j in self.jobs_of(group) for sid in j["stageIds"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = _get(f"{self.base}/stages/{stage['stageId']}/{stage['attemptId']}"
                 "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    @staticmethod
    def job_seconds(jobs: list[dict]) -> float:
        from datetime import datetime

        def ts(s):
            return datetime.strptime(s.replace("GMT", "+0000"),
                                     "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

        return sum(ts(j["completionTime"]) - ts(j["submissionTime"])
                   for j in jobs if j.get("completionTime"))


def stage_totals(stages: list[dict]) -> dict[str, float]:
    return {
        "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / 2**20,
    }


# --------------------------------------------------------------- the host --

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def _proc_tree(root_pid: int) -> list[list[str]]:
    """/proc/<pid>/stat fields (after the command name) of ``root_pid``
    and all its descendants."""
    children: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        stat[pid] = fields
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        if p in stat:
            out.append(stat[p])
        todo.extend(children.get(p, []))
    return out


def tree_rss_mb(root_pid: int) -> float:
    pages = sum(int(f[21]) for f in _proc_tree(root_pid))
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its descendants,
    including the exited children each of them has reaped (the Spark
    Python workers are reaped by their daemon, the daemon by the JVM)."""
    ticks = sum(int(v) for f in _proc_tree(root_pid) for v in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Samples the RSS of this process and all its descendants (the JVM
    and its Python workers) on a background thread."""

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
