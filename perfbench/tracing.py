"""Spans around the benchmark's calls into the engine, joined with the Spark
event log to give per-layer metrics.

A span covers one call into a layer's public function (plus bringing its
result to the driver when the function returns a lazy DataFrame).  While a
span is open, the benchmark sets the Spark local property ``bench.span`` to
``<span name>@<phase>``; every job and stage submitted from the driver thread
carries it into the event log, so task metrics can be attributed to spans
without relying on job descriptions.  Spans are kept in memory and joined
with the event log once, after the session has stopped.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

PROPERTY = "bench.span"

SPANS = (
    "session.get_spark",
    "weightmap_io.read_wm",
    "overlaps.tiles_to_pixels",
    "aggregate.aggregate",
    "aggregate.aggregate_quantile",
    "overlaps.pixel_overlaps",
    "weightmap_io.save_weightmap",
    "knn.knn_pixels.small",
    "knn.knn_pixels.large",
)

# (suffix, unit) reported for every span
GENERIC = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("gc_s", "s"),
    ("core_idle_share", "ratio"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
)

# counts read from the engine's public return values, per call
COUNTS = (
    ("overlaps.pixel_overlaps.rows", "count"),
    ("overlaps.pixel_overlaps.boundary_refined", "count"),
    ("overlaps.pixel_overlaps.nonconvex_fallback", "count"),
    ("overlaps.pixel_overlaps.boundary_share", "ratio"),
    ("overlaps.tiles_to_pixels.values", "count"),
    ("aggregate.aggregate.rows_out", "count"),
    ("aggregate.aggregate_quantile.rows_out", "count"),
    ("knn.knn_pixels.small.rows_out", "count"),
    ("knn.knn_pixels.large.rows_out", "count"),
    ("weightmap_io.save_weightmap.bytes", "bytes"),
)

# whole-pass figures of the traced run
PASS = (
    ("session.storage_mb_after_pass", "MB"),
    ("session.peak_rss_mb", "MB"),
    ("trace.pass_s", "s"),
    ("trace.untraced_s", "s"),
    ("trace.overhead", "ratio"),
)


def metric_units() -> dict:
    """Every per-layer metric name -> unit, in report order."""
    out = {f"{s}.{m}": u for s in SPANS for m, u in GENERIC}
    out.update(COUNTS)
    out.update(PASS)
    return out


class Tracer:
    """In-memory span recorder.  ``active`` is switched per pass; while it
    is False, ``span`` and ``count`` record nothing and set no property."""

    def __init__(self, active: bool):
        self.active = active
        self.phase = "setup"
        self.sc = None
        self.spans = []                  # (name, phase, t0, t1), epoch s
        self.counts = defaultdict(list)  # name -> [(phase, value)]

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        label = f"{name}@{self.phase}"
        if self.sc is not None:
            self.sc.setLocalProperty(PROPERTY, label)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.sc is not None:
                self.sc.setLocalProperty(PROPERTY, None)
            self.spans.append((name, self.phase, t0, t1))

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counts[name].append((self.phase, float(value)))


def read_event_log(d: str):
    """Parse the one event-log file in d.  Returns (jobs, stage_tasks):
    jobs = {label: [(start_s, end_s)]}; stage_tasks = {label: totals}."""
    files = [f for f in os.listdir(d) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {files}")
    job_label, job_start, jobs = {}, {}, defaultdict(list)
    stage_label = {}
    tot = defaultdict(lambda: defaultdict(float))
    with open(os.path.join(d, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(PROPERTY)
                job_label[ev["Job ID"]] = label
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_label.setdefault(sid, label)
            elif kind == "SparkListenerStageSubmitted":
                label = (ev.get("Properties") or {}).get(PROPERTY)
                if label is not None:
                    stage_label[ev["Stage Info"]["Stage ID"]] = label
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if job_label.get(jid) is not None:
                    jobs[job_label[jid]].append(
                        (job_start[jid], ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if label is None or not m:
                    continue
                t = tot[label]
                t["tasks"] += 1
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    return jobs, tot


def _union_within(intervals, t0, t1) -> float:
    """Length of the union of intervals clipped to [t0, t1]."""
    busy, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            busy += b - a
            end = b
    return busy


def _per_phase_mean(pairs) -> float:
    """Mean over phases of the per-phase sum of (phase, value) pairs."""
    by = defaultdict(float)
    for phase, v in pairs:
        by[phase] += v
    return statistics.fmean(by.values())


def per_layer(tracer: Tracer, event_dir: str, cores: int, passes: list,
              storage_mb: list, peak_rss_mb: float) -> dict:
    """Per-layer metric values.  passes: [(phase, wall_s, traced)] of the
    timed passes; storage_mb: block-manager storage left after each pass;
    peak_rss_mb: the driver JVM's resident high-water mark.
    Span metrics and counts are per traced timed pass (summed over the calls
    in a pass, averaged over passes); a span that ran only during set-up
    (session start) is reported from set-up.
    Spans the workload never calls report 0."""
    jobs, tot = read_event_log(event_dir)
    traced = {p for p, _, tr in passes if tr}
    out = dict.fromkeys(metric_units(), 0.0)
    for name in SPANS:
        recs = [r for r in tracer.spans if r[0] == name and r[1] in traced]
        if not recs:
            recs = [r for r in tracer.spans if r[0] == name and r[1] == "setup"]
        if not recs:
            continue
        phases = {r[1] for r in recs}
        n = len(phases)
        wall = busy = 0.0
        for _, phase, t0, t1 in recs:
            wall += t1 - t0
            busy += _union_within(jobs.get(f"{name}@{phase}", []), t0, t1)
        agg = defaultdict(float)
        for phase in phases:
            label = f"{name}@{phase}"
            agg["jobs"] += len(jobs.get(label, []))
            for k, v in tot.get(label, {}).items():
                agg[k] += v
        p = f"{name}."
        out[p + "wall_s"] = wall / n
        out[p + "driver_s"] = (wall - busy) / n
        out[p + "jobs"] = agg["jobs"] / n
        out[p + "tasks"] = agg["tasks"] / n
        out[p + "executor_run_s"] = agg["run_s"] / n
        out[p + "executor_cpu_s"] = agg["cpu_s"] / n
        out[p + "gc_s"] = agg["gc_s"] / n
        out[p + "core_idle_share"] = (1.0 - agg["run_s"] / (busy * cores)
                                      if busy > 0 else 0.0)
        out[p + "shuffle_write_mb"] = agg["shuffle_write_mb"] / n
        out[p + "spill_mb"] = agg["spill_mb"] / n
    for name, _ in COUNTS:
        pairs = tracer.counts.get(name, [])
        pairs = [(ph, v) for ph, v in pairs if ph in traced] or pairs
        if pairs:
            out[name] = _per_phase_mean(pairs)
    rows = out["overlaps.pixel_overlaps.rows"]
    if rows:
        out["overlaps.pixel_overlaps.boundary_share"] = (
            out["overlaps.pixel_overlaps.boundary_refined"] / rows)
    out["session.storage_mb_after_pass"] = statistics.fmean(storage_mb)
    out["session.peak_rss_mb"] = peak_rss_mb
    t_walls = [w for _, w, tr in passes if tr]
    u_walls = [w for _, w, tr in passes if not tr]
    if t_walls:
        out["trace.pass_s"] = statistics.median(t_walls)
        in_spans = defaultdict(float)
        for _, phase, t0, t1 in tracer.spans:
            in_spans[phase] += t1 - t0
        out["trace.untraced_s"] = statistics.fmean(
            w - in_spans[p] for p, w, tr in passes if tr)
    if t_walls and u_walls:
        out["trace.overhead"] = statistics.median(t_walls) / statistics.median(u_walls)
    return out
