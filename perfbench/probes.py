"""Outside-in probes: spans, py4j round trips, Spark job counts, Catalyst
phase times, on-disk store sizes and peak RSS of the process tree.

Nothing here edits or subclasses the engine.  Spans are opened by the
benchmark around the engine's public calls; calls the engine makes to its own
public methods (``term_doc_freqs`` inside ``search``, ``assign_doc_ids``
inside ``build``, ``build`` inside ``process_batch``) are wrapped for the
traced run only, by :meth:`Tracer.wrap_method`.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


class Py4jCounter:
    """Counts py4j round trips by wrapping the connections' ``send_command``."""

    def __init__(self) -> None:
        self.calls = 0
        self.paused = 0
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command
            counter = self

            def send_command(conn, *a, _orig=orig, **kw):
                if not counter.paused:
                    counter.calls += 1
                return _orig(conn, *a, **kw)

            self._saved.append((cls, orig))
            cls.send_command = send_command

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved = []

    @contextmanager
    def pause(self):
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1


class Span:
    __slots__ = ("id", "name", "layer", "parent", "request", "start", "end",
                 "py4j", "group", "attrs", "children")

    def __init__(self, sid, name, layer, parent, request):
        self.id, self.name, self.layer = sid, name, layer
        self.parent, self.request = parent, request
        self.start = self.end = 0.0
        self.py4j = 0
        self.group = None
        self.attrs: dict = {}
        self.children: list = []


class Tracer:
    """Records a span per public call: name, layer, start, end, parent and the
    request id shared by one query or batch.  With ``enabled=False`` every
    method is a no-op that touches neither py4j nor Spark."""

    def __init__(self, spark, py4j: Py4jCounter, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._request = None
        self.py4j = py4j
        self._wrapped = []

    # -- request ids -------------------------------------------------------
    @contextmanager
    def request(self, rid: str):
        prev, self._request = self._request, rid
        try:
            yield
        finally:
            self._request = prev

    # -- spans --------------------------------------------------------------
    def _set_group(self, group):
        sc = self.spark.sparkContext
        with self.py4j.pause():
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, parent.id if parent else None, self._request)
        s.attrs.update(attrs)
        s.group = f"perfbench-{s.id}"
        if parent is not None:
            parent.children.append(s)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        p0 = self.py4j.calls
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j = self.py4j.calls - p0
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def wrap_method(self, cls, method: str, name: str, layer: str, attrs=None) -> None:
        """Wrap ``cls.method`` in a span for the traced run; ``attrs(obj)``,
        if given, returns span attributes computed before the call."""
        if not self.enabled:
            return
        orig = getattr(cls, method)
        tracer = self

        def wrapper(obj, *a, **kw):
            with tracer.span(name, layer, **(attrs(obj) if attrs else {})):
                return orig(obj, *a, **kw)

        self._wrapped.append((cls, method, orig))
        setattr(cls, method, wrapper)

    def close(self) -> None:
        for cls, method, orig in reversed(self._wrapped):
            setattr(cls, method, orig)
        self._wrapped = []

    # -- derived numbers ------------------------------------------------------
    def resolve_spark_counts(self) -> None:
        """Attach job/stage/task counts to every span (own group only, then
        inclusive of children).  Read after the run so the listener bus has
        caught up with the last job."""
        if not self.enabled:
            return
        tracker = self.spark.sparkContext.statusTracker()
        with self.py4j.pause():
            for s in self.spans:
                jobs = stages = tasks = failed = 0
                for jid in tracker.getJobIdsForGroup(s.group):
                    info = tracker.getJobInfo(jid)
                    jobs += 1
                    if info is None:
                        continue
                    for sid in info.stageIds:
                        st = tracker.getStageInfo(sid)
                        if st is None:
                            continue
                        stages += 1
                        tasks += st.numTasks
                        failed += st.numFailedTasks
                s.attrs.update(own_jobs=jobs, own_stages=stages, own_tasks=tasks,
                               own_failed_tasks=failed)
        for s in reversed(self.spans):  # children are recorded after parents
            for k in ("jobs", "stages", "tasks", "failed_tasks"):
                s.attrs[k] = s.attrs[f"own_{k}"] + sum(c.attrs[k] for c in s.children)

    @staticmethod
    def self_time(s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(s.children, key=lambda c: c.start):
            if cur_e is None or c.start > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = c.start, c.end
            else:
                cur_e = max(cur_e, c.end)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s.end - s.start) - covered

    def layer_self_times(self) -> dict:
        out: dict = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + self.self_time(s)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "request": s.request, "start_s": s.start - t0, "end_s": s.end - t0,
             "self_s": self.self_time(s), "py4j_calls": s.py4j, **s.attrs}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f)


@dataclass(frozen=True)
class Usage:
    """CPU seconds of the process tree, py4j round trips and Spark jobs
    started; differences of two snapshots measure one operation."""

    cpu_s: float
    py4j: int
    jobs: int

    def __sub__(self, o: "Usage") -> "Usage":
        return Usage(self.cpu_s - o.cpu_s, self.py4j - o.py4j, self.jobs - o.jobs)

    def __add__(self, o: "Usage") -> "Usage":
        return Usage(self.cpu_s + o.cpu_s, self.py4j + o.py4j, self.jobs + o.jobs)


def usage(spark, py4j: Py4jCounter, count_jobs: bool) -> Usage:
    """Snapshot for :class:`Usage`.  Jobs are counted as the jobs the status
    tracker knows outside any job group, so only when no span has set one
    (the untraced run); otherwise 0."""
    jobs = 0
    if count_jobs:
        with py4j.pause():
            jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))
    return Usage(tree_cpu_s(os.getpid()), py4j.calls, jobs)


def catalyst_phases(df) -> dict:
    """Analysis/optimization/planning times (s) of a DataFrame already
    executed, from its QueryExecution's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()  # scala Map
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)  # scala Option[PhaseSummary]
        out[name] = ph.get().durationMs() / 1000.0 if ph.isDefined() else 0.0
    return out


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total, files


def _tree(root_pid: int) -> tuple[list[int], dict]:
    """Live pids of ``root_pid`` and its descendants (root first), and the
    RSS bytes of every live process."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError):
            continue
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = pages * page
    pids, i = [root_pid], 0
    while i < len(pids):
        pids.extend(children.get(pids[i], ()))
        i += 1
    return pids, rss


def descendants(root_pid: int) -> list[int]:
    return _tree(root_pid)[0][1:]


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of ``root_pid`` and its live descendants,
    including what they reaped from children that already exited."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _tree(root_pid)[0]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def _tree_rss_bytes(root_pid: int) -> int:
    pids, rss = _tree(root_pid)
    return sum(rss.get(p, 0) for p in pids)


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class RssSampler:
    """Peak RSS of this process and all its descendants (JVM, Python
    workers), sampled every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak
