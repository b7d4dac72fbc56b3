"""Spans, Spark job attribution and process-tree memory for the benchmark.

A traced run wraps each of the benchmark's calls into a program module in
a span (name, start, end, parent, op id). The span also sets the Spark
job group, so every job the call submits carries the span's id; the
Spark REST API (``/api/v1/applications/<id>/jobs`` and ``/stages``)
then gives each span its jobs, stages, tasks and executor times. Jobs
submitted from a thread that does not carry the group (broadcast
exchanges) are attributed to the innermost span whose interval holds
their submission time. Spans stay in memory and are written out once,
after the timed window.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import threading
import time
import urllib.request
from dataclasses import dataclass, field

_GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = -1

    @contextlib.contextmanager
    def op(self, kind: str):
        """The root span of one op; child spans share its op id."""
        self._op_id += 1
        with self.span(f"op.{kind}"):
            yield self._op_id

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op_id,
                 parent.sid if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{_GROUP_PREFIX}{s.sid}")
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                f"{_GROUP_PREFIX}{parent.sid}" if parent else None,
            )

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# --- Spark REST -----------------------------------------------------------


def _epoch(stamp: str | None) -> float | None:
    """'2026-10-17T04:40:01.123GMT' → epoch seconds."""
    if not stamp:
        return None
    t = dt.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def fetch_jobs_and_stages(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the Spark UI holds, after the listener bus
    has drained (so the last job's metrics are in)."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages: dict[int, dict] = {}
    for st in _get(f"{base}/stages"):
        if st.get("status") != "SKIPPED":
            stages[st["stageId"]] = st  # latest attempt wins
    return jobs, stages


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> None:
    """Fill ``Span.jobs``: by job group, else by submission time."""
    by_sid = {s.sid: s for s in spans}
    for job in jobs:
        group = job.get("jobGroup") or ""
        sid = None
        if group.startswith(_GROUP_PREFIX):
            sid = int(group[len(_GROUP_PREFIX):])
        else:
            t = _epoch(job.get("submissionTime"))
            inner = [s for s in spans if t is not None and s.start <= t <= s.end]
            if inner:  # innermost: the latest-starting span holding t
                sid = max(inner, key=lambda s: s.start).sid
        if sid in by_sid:
            by_sid[sid].jobs.append(job["jobId"])


def covered(jobs: list[dict], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one of the jobs."""
    iv = []
    for j in jobs:
        a, b = _epoch(j.get("submissionTime")), _epoch(j.get("completionTime"))
        if a is not None and b is not None:
            iv.append((max(a, lo), min(b, hi)))
    total, end = 0.0, lo
    for a, b in sorted(iv):
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


# --- memory ---------------------------------------------------------------


SAMPLE_PERIOD_S = 0.2


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc every ``SAMPLE_PERIOD_S``."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            kb, parts = self.sample(root)
            if kb > self.peak_kb:
                self.peak_kb, self.peak_parts = kb, parts
            self._stop.wait(SAMPLE_PERIOD_S)

    @staticmethod
    def sample(root: int) -> tuple[int, dict[str, int]]:
        """(summed RSS in kB, kB per command name) of the process tree."""
        parent, rss, name = {}, {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    fields = dict(
                        line.split(":", 1) for line in fh if ":" in line
                    )
            except OSError:
                continue
            parent[int(pid)] = int(fields["PPid"])
            rss[int(pid)] = int(fields.get("VmRSS", "0 kB").split()[0])
            name[int(pid)] = fields["Name"].strip()
        tree, frontier = {root}, [root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for child in children.get(frontier.pop(), []):
                if child not in tree:
                    tree.add(child)
                    frontier.append(child)
        parts: dict[str, int] = {}
        for p in tree:
            parts[name[p]] = parts.get(name[p], 0) + rss.get(p, 0)
        return sum(parts.values()), parts
