"""Attribute a Spark event log to benchmark spans.

Each span runs its Spark jobs under its own job group (the span id), so the
``spark.jobGroup.id`` property of a ``SparkListenerJobStart`` names the span
that caused the job. A stage belongs to the first job that lists it (later
jobs that reuse its shuffle output list it too, but skip it), and a task
belongs to its stage.

Span records are dicts with ``id``, ``name``, ``parent`` (id or None),
``start`` and ``end`` (epoch seconds). Event-log times are epoch
milliseconds from the same host clock.
"""

from __future__ import annotations

import json
from collections import defaultdict

SHORT_JOB_S = 0.2

COUNTERS = (
    "jobs",
    "short_jobs",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "records_written",
)


def parse_event_log(lines) -> dict:
    """Return ``{"jobs": {job_id: {...}}, "stages": {stage_id: job_id}}``.

    Each job carries ``group``, ``start``/``end`` (epoch seconds) and the
    task-metric sums of the stages it ran."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_id = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[job_id] = {
                "group": props.get("spark.jobGroup.id"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                **{c: 0 for c in COUNTERS if c not in ("jobs", "short_jobs")},
            }
            for stage_id in ev.get("Stage IDs", []):
                stage_job.setdefault(stage_id, job_id)
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job_id = stage_job.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if job_id is None or metrics is None:
                continue
            job = jobs[job_id]
            job["tasks"] += 1
            job["run_s"] += metrics.get("Executor Run Time", 0) / 1000.0
            job["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += metrics.get("JVM GC Time", 0) / 1000.0
            sw = metrics.get("Shuffle Write Metrics") or {}
            job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = metrics.get("Shuffle Read Metrics") or {}
            job["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            out = metrics.get("Output Metrics") or {}
            job["records_written"] += out.get("Records Written", 0)
    return {"jobs": jobs, "stages": stage_job}


def read_event_log(path: str) -> dict:
    with open(path, encoding="utf-8") as fh:
        return parse_event_log(fh)


def interval_union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that child spans cover."""
    covered = interval_union(
        _clip([(c["start"], c["end"]) for c in children], span["start"], span["end"])
    )
    return (span["end"] - span["start"]) - covered


def span_stats(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per-span metrics keyed by span id.

    ``jobs``…``records_written`` sum the jobs run under the span's own job
    group (children's jobs stay with the children). ``gap_s`` is the part of
    the span's interval in which no job ran at all, whichever span owned
    it: time the driver spent between jobs."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    finished = [j for j in log["jobs"].values() if j["end"] is not None]
    by_group = defaultdict(list)
    for job in finished:
        by_group[job["group"]].append(job)
    all_jobs = [(j["start"], j["end"]) for j in finished]

    out = {}
    for s in spans:
        own = by_group.get(s["id"], [])
        stats = {c: 0 for c in COUNTERS}
        for job in own:
            stats["jobs"] += 1
            if job["end"] - job["start"] < SHORT_JOB_S:
                stats["short_jobs"] += 1
            for c in COUNTERS[2:]:
                stats[c] += job[c]
        wall = s["end"] - s["start"]
        stats["wall_s"] = wall
        stats["self_s"] = self_time(s, children[s["id"]])
        stats["gap_s"] = wall - interval_union(_clip(all_jobs, s["start"], s["end"]))
        out[s["id"]] = stats
    return out
