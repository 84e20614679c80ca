"""Spans around the benchmark's calls into each layer, span self time,
sample statistics, and the Spark event-log reducer of the traced run."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict

# Spark local property naming the benchmark phase of every job it starts
PHASE_PROP = "perfbench.phase"
# phases whose jobs are not part of a timed operation
UNTIMED_PHASES = ("setup", "check", "probe")


class Tracer:
    """Records (name, start, end, parent, op) spans in memory; a disabled
    tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (overlapping children counted once)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered, cur = 0.0, None
        clipped = sorted(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in children[s["id"]]
        )
        for a, b in clipped:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur is not None:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur is not None:
            covered += cur[1] - cur[0]
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def median_self_time(spans: list[dict], name: str) -> float:
    """Median self time of the spans called `name`, 0.0 if none ran."""
    st = self_times(spans)
    vals = [st[s["id"]] for s in spans if s["name"] == name]
    return statistics.median(vals) if vals else 0.0


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it: the
    (n-10)-th smallest value, and the percentile it stands at. Below
    twenty samples that would fall under the median, so the maximum
    stands in."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


# --- Spark event log ---------------------------------------------------------


def _task_delay_ms(info: dict, m: dict) -> float:
    """Scheduler delay as the Spark UI computes it."""
    dur = info["Finish Time"] - info["Launch Time"]
    busy = (
        m.get("Executor Run Time", 0)
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    return max(0.0, dur - busy)


def reduce_event_log(log_dir: str, op_wall_s: float, cores: int) -> dict[str, float]:
    """Counters over the jobs of timed operations, across every
    application log in `log_dir` (one per SparkContext the run started).
    A job belongs to a timed operation unless its phase property names
    an untimed phase. `op_wall_s` is the summed wall time of those
    operations, the denominator of task_busy_frac."""
    c = defaultdict(float)
    skews = []
    build_jobs = 0
    logs = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir)
        for f in files
        if f.startswith(("events_", "local-"))  # rolling and single-file layouts
    )
    for log in logs:
        job_phase: dict[int, str] = {}
        stage_job: dict[int, int] = {}
        stage_tasks: dict[int, list[float]] = defaultdict(list)
        counted_stages = set()
        with open(log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    phase = (ev.get("Properties") or {}).get(PHASE_PROP, "op")
                    job_phase[ev["Job ID"]] = phase
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, ev["Job ID"])
                    if phase == "build":
                        build_jobs += 1
                    if phase not in UNTIMED_PHASES:
                        c["spark.jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    if job_phase.get(stage_job.get(sid), "setup") in UNTIMED_PHASES:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    counted_stages.add((sid, ev.get("Stage Attempt ID", 0)))
                    c["spark.tasks"] += 1
                    c["spark.scheduler_delay_s"] += _task_delay_ms(info, m) / 1000
                    c["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000
                    c["spark.run_s"] += m.get("Executor Run Time", 0) / 1000
                    c["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    c["spark.shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    c["io.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    stage_tasks[sid].append(info["Finish Time"] - info["Launch Time"])
        c["spark.stages"] += len(counted_stages)
        for durs in stage_tasks.values():
            med = statistics.median(durs)
            if len(durs) >= 2 and med > 0:
                skews.append(max(durs) / med)
    out = {
        k: c[k]
        for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
            "spark.gc_s", "spark.spill_bytes", "spark.shuffle_write_bytes",
            "io.input_bytes",
        )
    }
    out["spark.stage_skew"] = max(skews) if skews else 1.0
    out["spark.task_busy_frac"] = (
        c["spark.run_s"] / (op_wall_s * cores) if op_wall_s > 0 else 0.0
    )
    out["queries.build_jobs"] = float(build_jobs)
    return out
