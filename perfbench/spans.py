"""Spans, percentiles and process counters for the benchmark.

Spans are recorded only from the benchmark's own code, around
the calls it makes into the engine's public functions; the engine is
never instrumented. Spans stay in memory and are written out once, at
exit. Spark engine counters are attached to spans afterwards: each span
remembers the range of Spark job ids that ran inside it, and the
job/stage metrics for those ids are read from Spark's status REST API
after the timed section, so the REST calls cost the timed section
nothing.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


class NotEnoughSamples(ValueError):
    """A percentile was asked for with fewer than ten samples beyond it."""


#: A percentile is reported only when at least this many samples lie
#: strictly above it; below that it is the maximum in disguise.
MIN_SAMPLES_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    Refuses (``NotEnoughSamples``) unless at least
    ``MIN_SAMPLES_BEYOND`` samples lie beyond the chosen rank, so a
    "p90" of 12 samples is never passed off as a tail latency. The
    median is exempt from the rule only in that it is computed by
    :func:`median` instead."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"quantile must be in (0, 1), got {q}")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_SAMPLES_BEYOND:
        raise NotEnoughSamples(
            f"p{round(q * 100)} of {n} samples leaves {n - rank} beyond it; "
            f"need {MIN_SAMPLES_BEYOND}"
        )
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    job_lo: int = 0  # Spark job ids in [job_lo, job_hi) ran inside
    job_hi: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(spans: list[Span], index: int) -> float:
    """Duration of ``spans[index]`` minus the part of its interval
    covered by its direct children (overlapping children counted
    once)."""
    me = spans[index]
    kids = sorted(
        (max(s.start, me.start), min(s.end, me.end))
        for s in spans
        if s.parent == index
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return me.duration - covered


class Tracer:
    """In-memory span recorder that also counts engine calls.

    Every span except ``pass`` is one call into the engine: it counts as
    an attempted operation, and as a failed one if it raises. Spans are
    recorded only while ``enabled``; ``job_counter`` returns the next
    Spark job id so a span can bracket the jobs that ran inside it."""

    def __init__(self, enabled: bool, job_counter=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.job_counter = job_counter or (lambda: 0)
        self.pass_id = -1
        self.attempted = 0
        self.failed = 0

    @contextmanager
    def span(self, name: str):
        counts: dict = {}
        is_op = name != "pass"
        self.attempted += is_op
        sp = None
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, time.perf_counter(), 0.0, parent, self.pass_id)
            sp.job_lo = self.job_counter()
            self.spans.append(sp)
            self._stack.append(len(self.spans) - 1)
        try:
            yield counts
        except Exception:
            self.failed += is_op
            raise
        finally:
            if sp is not None:
                sp.end = time.perf_counter()
                sp.job_hi = self.job_counter()
                sp.counts = counts
                self._stack.pop()

    def dump(self, path: str, spark_by_span: list[dict] | None = None) -> None:
        out = []
        for i, s in enumerate(self.spans):
            rec = {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "pass": s.pass_id,
                "self_s": self_time(self.spans, i), "counts": s.counts,
            }
            if spark_by_span is not None:
                rec["spark"] = spark_by_span[i]
            out.append(rec)
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


class SparkStatus:
    """Read job and stage metrics from Spark's status REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        #: False when the Spark UI (and so the REST API) is disabled.
        self.rest_ok = bool(sc.uiWebUrl)
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._tracker = sc.statusTracker()
        self.cores = sc.defaultParallelism

    def next_job_id(self) -> int:
        """One past the highest job id submitted so far (py4j only, no
        HTTP), so spans can bracket the jobs that ran inside them."""
        ids = self._tracker.getJobIdsForGroup(None)
        return (max(ids) + 1) if ids else 0

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as r:
            return json.load(r)

    def job_metrics(self, settle_s: float = 10.0) -> dict[int, dict]:
        """Per-job totals {job_id: {stages, tasks, shuffle_write_bytes,
        spill_bytes, gc_s, run_s}}, once the listener has caught up
        with every finished job."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = self._get("/jobs")
            if all(j["status"] != "RUNNING" for j in jobs) or (
                time.monotonic() > deadline
            ):
                break
            time.sleep(0.2)
        stages = {}
        for st in self._get("/stages"):
            stages[(st["stageId"], st["attemptId"])] = st
        out = {}
        for j in jobs:
            agg = {"stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                   "spill_bytes": 0, "gc_s": 0.0, "run_s": 0.0}
            for sid in j.get("stageIds", []):
                for (stage_id, _attempt), st in stages.items():
                    if stage_id != sid or st["status"] == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += st.get("numCompleteTasks", 0)
                    agg["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    agg["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get(
                        "diskBytesSpilled", 0
                    )
                    agg["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                    agg["run_s"] += st.get("executorRunTime", 0) / 1000.0
            out[j["jobId"]] = agg
        return out


def span_spark_counters(span: Span, jobs: dict[int, dict], cores: int) -> dict:
    agg = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "gc_s": 0.0, "run_s": 0.0}
    for jid in range(span.job_lo, span.job_hi):
        m = jobs.get(jid)
        if m is None:
            continue
        agg["jobs"] += 1
        for k, v in m.items():
            agg[k] += v
    dur = span.duration
    agg["core_busy_ratio"] = agg["run_s"] / (dur * cores) if dur > 0 else 0.0
    return agg


def _proc_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendant_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc parent links."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants (the Spark
    JVM is one), sampled on a thread while active."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._pids: list[int] = []

    def _sample(self) -> None:
        total = sum(_proc_rss_kb(p) for p in self._pids)
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self):
        self._pids = descendant_pids(os.getpid())
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False
