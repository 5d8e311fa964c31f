#!/usr/bin/env python
"""Count a span's Spark jobs and their summed duration per call site.

A traced benchmark run (``perfbench/run.py --trace 1``) runs each span's jobs
under a job group named after the span id (``s7``; the ids and names are in
the run's ``*.spans.json``). This reads the run's Spark event log and prints,
for one job group, the number of jobs and their summed wall time per
``callSite.short``, largest first.

AQE submits shuffle-stage jobs from its own thread, so they carry no
``callSite.short``. Such a job takes the call site of a job of the same SQL
execution that has one (the action that planned it). PySpark sets no call
site for ``localCheckpoint``/``checkpoint``, so when no job of the execution
has one, the job is listed under the ``Dataset`` method that started the
execution, e.g. ``localCheckpoint (no Python call site)``.

Usage: python tools/jobs_by_site.py <event-log file or dir> <job group>
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import defaultdict


def _log_file(path: str) -> str:
    if os.path.isdir(path):
        (name,) = os.listdir(path)
        return os.path.join(path, name)
    return path


def jobs_by_site(lines, group: str) -> dict[str, list[float]]:
    """``{call site: [jobs, summed seconds]}`` for the jobs of ``group``."""
    jobs: dict[int, dict] = {}
    exec_site: dict[str, str] = {}
    exec_method: dict[str, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            m = re.search(r"Dataset\.(\w+)\(", ev.get("details", ""))
            if m:
                exec_method[str(ev["executionId"])] = f"{m.group(1)} (no Python call site)"
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            site = props.get("callSite.short")
            exec_id = props.get("spark.sql.execution.id")
            if site and exec_id is not None:
                exec_site.setdefault(exec_id, site)
            if props.get("spark.jobGroup.id") != group:
                continue
            stages = ev.get("Stage Infos") or [{}]
            jobs[ev["Job ID"]] = {
                "site": site,
                "exec": exec_id,
                "stage": stages[-1].get("Stage Name", "?"),
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    out: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])
    for job in jobs.values():
        site = (
            job["site"]
            or exec_site.get(job["exec"])
            or exec_method.get(job["exec"])
            or job["stage"]
        )
        # keep file:line, drop the checkout's directory
        site = re.sub(r"\S*/([^/\s]+:\d+)", r"\1", site)
        out[site][0] += 1
        out[site][1] += (job["end"] or job["start"]) - job["start"]
    return dict(out)


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[-1])
    with open(_log_file(sys.argv[1])) as f:
        sites = jobs_by_site(f, sys.argv[2])
    total = [sum(v[0] for v in sites.values()), sum(v[1] for v in sites.values())]
    for site, (n, secs) in sorted(sites.items(), key=lambda kv: (-kv[1][0], -kv[1][1])):
        print(f"{n:5d} {secs:8.2f}s  {site}")
    print(f"{total[0]:5d} {total[1]:8.2f}s  total")


if __name__ == "__main__":
    main()
