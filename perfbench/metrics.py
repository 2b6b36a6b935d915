"""Spark-free measurement helpers: percentiles, spans, event-log folding.

Everything here is plain Python so it can be unit-tested without a JVM
(``perfbench/tests``). The benchmark's entry point (``perfbench/run.py``)
and the workloads (``perfbench/workloads.py``) build on it.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from collections.abc import Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Metric names: a letter or digit, then at most 63 of ``[A-Za-z0-9_.-]``."""
    return bool(METRIC_NAME.fullmatch(name))


# -- timings ------------------------------------------------------------------


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, nominal: float = 90.0, beyond: int = 10) -> float:
    """The highest percentile, capped at ``nominal``, with at least
    ``beyond`` of ``n`` samples above it. Below ``2 * beyond`` samples no
    percentile above the median qualifies, and the tail falls back to it."""
    if n < 1:
        raise ValueError("tail percentile of no samples")
    return max(50.0, min(nominal, 100.0 * (1.0 - beyond / n)))


def summarize(values: list[float], nominal: float = 90.0) -> dict:
    """Median, tail (per :func:`tail_percentile`), the tail's percentile
    and the sample count."""
    pct = tail_percentile(len(values), nominal)
    return {
        "p50": percentile(values, 50.0),
        "tail": percentile(values, pct),
        "tail_pct": pct,
        "n": len(values),
    }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (default:
    this one) and every live descendant, reaped children included. For a
    benchmark run that is the Python driver, the JVM and the Spark Python
    workers. Unlike wall time it leaves out the time a hypervisor steals
    from the CPUs."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited while we looked
            # after the command: state, ppid, ..., utime stime cutime cstime
            stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    tree, frontier = set(), {os.getpid() if root is None else root}
    while frontier:
        tree |= frontier
        frontier = {p for p, (ppid, _) in stats.items() if ppid in frontier} - tree
    return sum(stats[p][1] for p in tree if p in stats) / os.sysconf("SC_CLK_TCK")


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark event-log timestamps
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records one span around each call into a layer. Spans stay in memory
    until the run ends. A disabled tracer records nothing and costs one
    branch per call."""

    def __init__(self, run_id: str, enabled: bool = True, clock=time.time):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._clock(), math.nan, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(lo, s.start), min(hi, s.end))
            for lo, hi in children.get(s.id, [])
            if min(hi, s.end) > max(lo, s.start)
        ]
        out[s.id] = s.duration - _covered(clipped)
    return out


def span_totals(spans: list[Span]) -> dict[str, dict]:
    """Per span name: call count, total and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        t["calls"] += 1
        t["total_s"] += s.duration
        t["self_s"] += selfs[s.id]
    return out


def spans_record(spans: list[Span]) -> list[dict]:
    """Spans as JSON-ready dicts, each with its self time."""
    selfs = self_times(spans)
    return [{**asdict(s), "self_s": selfs[s.id]} for s in spans]


def innermost_span(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval contains ``t`` (calls run one at a
    time, so at most one chain of nested spans is open at any instant)."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# -- Spark event log ----------------------------------------------------------

EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.gc_s",
    "exec.task_wait_s",
    "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes",
    "exec.spill_bytes",
    "exec.core_util",
)


def fold_event_log(
    lines: Iterable[str],
    window: tuple[float, float],
    cores: int,
    spans: list[Span] | None = None,
) -> tuple[dict[str, float], dict[int, dict]]:
    """Fold a plain (uncompressed, non-rolling) Spark event log into
    executor totals over the jobs submitted inside ``window`` (epoch
    seconds), plus per-span job attribution.

    A job belongs to the innermost span open at its submission time.
    Task wait is the time from stage submission to task launch; core
    utilisation is task run time over ``window`` wall time times ``cores``.
    Returns ``(totals keyed by EXEC_KEYS, {span id: {"jobs", "task_run_s"}})``.
    """
    lo_ms, hi_ms = window[0] * 1000.0, window[1] * 1000.0
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[tuple[int, int], float] = {}
    tasks: list[dict] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_submit[ev["Job ID"]] = float(ev["Submission Time"])
            for sid in ev.get("Stage IDs", []):
                # a later job lists reused stages too; they ran in the first
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            if info.get("Submission Time") is not None:
                stage_submit[(info["Stage ID"], info["Stage Attempt ID"])] = float(
                    info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    jobs = {j for j, t in job_submit.items() if lo_ms <= t <= hi_ms}
    totals = dict.fromkeys(EXEC_KEYS, 0.0)
    totals["exec.jobs"] = float(len(jobs))
    totals["exec.stages"] = float(
        sum(1 for (sid, _) in stage_submit if stage_job.get(sid) in jobs)
    )
    per_job_run: dict[int, float] = {}
    for ev in tasks:
        job = stage_job.get(ev["Stage ID"])
        if job not in jobs:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        per_job_run[job] = per_job_run.get(job, 0.0) + run_s
        totals["exec.tasks"] += 1
        totals["exec.task_run_s"] += run_s
        totals["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        totals["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        submitted = stage_submit.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if submitted is not None:
            totals["exec.task_wait_s"] += max(0.0, info["Launch Time"] - submitted) / 1000.0
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        totals["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        totals["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        totals["exec.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    wall = window[1] - window[0]
    totals["exec.core_util"] = totals["exec.task_run_s"] / (wall * cores) if wall > 0 else 0.0

    by_span: dict[int, dict] = {}
    for job in jobs:
        s = innermost_span(spans or [], job_submit[job] / 1000.0)
        if s is not None:
            a = by_span.setdefault(s.id, {"jobs": 0, "task_run_s": 0.0})
            a["jobs"] += 1
            a["task_run_s"] += per_job_run.get(job, 0.0)
    return totals, by_span
