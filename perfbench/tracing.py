"""Tracing from outside the package: spans, Spark stage counters, RSS.

Spans are kept in memory and written once, when the run ends. Spark work is
attributed to a span by tagging the span's jobs with ``setJobGroup``; the
stage counters of each group (executor run time, input/shuffle/output
bytes, tasks) are read once at the end from the Spark UI's REST API on
localhost, after ``statusTracker`` has listed each group's jobs.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.parse
import urllib.request


class Tracer:
    """Span recorder. With ``enabled=False`` every call is a no-op, so the
    untraced run executes the same code path minus the bookkeeping."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None):
        """Record ``name``; with ``group``, tag the Spark jobs it runs."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"name": name, "op": op, "group": group,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if group is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self, name: str) -> list[float]:
        """Per span called ``name``: its duration minus the time its direct
        children cover (children never overlap: one thread records)."""
        out = []
        for i, s in enumerate(self.spans):
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == i)
            out.append((s["end"] - s["start"]) - kids)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _get_json(url: str):
    host = urllib.parse.urlparse(url).hostname
    if host not in ("localhost", "127.0.0.1"):
        raise RuntimeError(f"refusing a non-local Spark UI at {url}")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


COUNTER_FIELDS = ("executorRunTime", "inputBytes", "outputBytes",
                  "shuffleReadBytes", "shuffleWriteBytes", "numTasks")


def stage_counters(sc, groups: list[str]) -> dict[str, dict]:
    """Per job group: the number of jobs and the totals of
    ``COUNTER_FIELDS`` over the stages Spark ran (skipped stages excluded)."""
    # the UI store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    stages = {}
    for st in _get_json(f"{base}/stages?status=complete"):
        stages.setdefault(st["stageId"], st)
    tracker = sc.statusTracker()
    out = {}
    for g in groups:
        tot = dict.fromkeys(COUNTER_FIELDS, 0)
        jobs = tracker.getJobIdsForGroup(g)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = stages.get(sid)
                if st is not None:
                    for k in COUNTER_FIELDS:
                        tot[k] += st.get(k, 0)
        tot["jobs"] = len(jobs)
        out[g] = tot
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(name)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        total = 0
        for pid in rss:
            p = pid
            while p > 1 and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += rss[pid]
        return total

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
