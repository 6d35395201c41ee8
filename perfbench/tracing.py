"""In-memory spans for the traced benchmark run, and the Spark event-log
reader that attributes jobs to them.

Everything here observes the engine from outside: spans wrap calls into
its public functions, `TracingRunner` is a `SuperstepRunner` subclass
handed to the operators through their public `runner=` argument, and Spark
jobs are matched to spans by the job group the benchmark sets before each
call. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from contextlib import contextmanager

from detectingscc_spark.plans.superstep import SuperstepRunner

class Tracer:
    """Nested spans of one process (the driver loop is single-threaded).

    A span is a dict with `layer`, `start`, `end`, `depth` and free
    attributes; `depth` orders nesting so the innermost span covering an
    instant owns it.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, **attrs):
        rec = {"layer": layer, "start": time.time(), "end": None,
               "depth": len(self._stack), **attrs}
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)


class TracingRunner(SuperstepRunner):
    """`SuperstepRunner` that records a span per tick and per checkpoint
    call, and the time stamps of the operator's `log` records."""

    def __init__(self, spark, tracer: Tracer, **kwargs):
        super().__init__(spark, **kwargs)
        self.tracer = tracer
        self.ticks = 0
        self.tick_s = 0.0
        self.ckpt_writes = 0
        self.ckpt_s = 0.0
        self.logs: list[dict] = []

    def tick(self, name, df, *args, **kwargs):
        with self.tracer.span("plans.superstep", call="tick", slot=name) as s:
            out = super().tick(name, df, *args, **kwargs)
        self.ticks += 1
        self.tick_s += s["end"] - s["start"]
        return out

    def maybe_checkpoint(self, states, force=False):
        with self.tracer.span("plans.superstep", call="maybe_checkpoint") as s:
            wrote = super().maybe_checkpoint(states, force)
        self.ckpt_writes += int(wrote)
        self.ckpt_s += s["end"] - s["start"]
        return wrote

    def log(self, phase, **kv):
        super().log(phase, **kv)
        self.logs.append(self.metrics[-1])


def phase_intervals(start: float, logs: list[dict]) -> list[tuple[str, float, float]]:
    """(phase, start, end) per `log(phase)` record: each record closes the
    interval opened by the previous record, or by the operator call."""
    out = []
    prev = start
    for rec in logs:
        out.append((rec["phase"], prev, rec["wall_ts"]))
        prev = rec["wall_ts"]
    return out


def read_event_log(event_dir: str) -> dict:
    """Jobs, stages and tasks from the Spark event log(s) in `event_dir`.

    Returns {"jobs": {job_id: {group, start, end, ok}},
    "stages": {job_id: n_completed}, "tasks": {job_id: n}, "failed_tasks": {job_id: n},
    "shuffle_write": {job_id: bytes}}; times are epoch seconds.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, int] = {}
    failed: dict[int, int] = {}
    shuffle: dict[int, int] = {}
    stages: dict[int, int] = {}
    # Spark 4 writes one directory per application holding events_<n>_<app> parts
    paths = sorted(
        (os.path.join(d, f) for d, _, files in os.walk(event_dir) for f in files
         if not f.startswith(("appstatus_", "."))),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "start": ev["Submission Time"] / 1000.0,
                                 "end": None, "ok": None}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                        job["ok"] = ev["Job Result"]["Result"] == "JobSucceeded"
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"], -1)
                    stages[jid] = stages.get(jid, 0) + 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"], -1)
                    tasks[jid] = tasks.get(jid, 0) + 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        failed[jid] = failed.get(jid, 0) + 1
                    sw = ((ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {})
                    shuffle[jid] = shuffle.get(jid, 0) + int(sw.get("Shuffle Bytes Written", 0))
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "failed_tasks": failed, "shuffle_write": shuffle}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], jobs: list[tuple[float, float]]) -> dict[str, float]:
    """Self seconds per layer: each span's duration minus the part of it
    that its children cover.

    A span's children are the spans opened inside it one level deeper,
    and the Spark jobs submitted while it was the innermost open span
    (clipped to it). The Spark jobs themselves are the `spark` layer,
    counted once where they overlap.
    """
    spans = sorted(spans, key=lambda s: (s["start"], s["depth"]))
    starts = [s["start"] for s in spans]

    def innermost(t: float, above: int | None = None) -> int | None:
        i = bisect.bisect_right(starts, t) - 1
        while i >= 0:
            s = spans[i]
            if s["end"] >= t and (above is None or s["depth"] < above):
                return i
            i -= 1
        return None

    covered: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["depth"] > 0:
            i = innermost(s["start"], s["depth"])
            if i is not None:
                covered.setdefault(i, []).append((s["start"], s["end"]))
    for start, end in jobs:
        i = innermost(start)
        if i is not None:
            covered.setdefault(i, []).append((start, min(end, spans[i]["end"])))
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        own = (s["end"] - s["start"]) - union_seconds(covered.get(i, []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, own)
    out["spark"] = union_seconds(jobs)
    return out
