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

With a third argument, a job tag prefix (``fold:``), the jobs are split by
the tag starting with it that each carries (``fold:closure``,
``fold:re-resolve``, ``fold:commit``; the package adds them with
``SparkSession.addTag``), one block per tag with its own subtotal; jobs
without such a tag form a block of their own. Spark records a session tag
as ``spark-session-<id>-thread-<id>-<tag>``; the tag is the part after the
prefix's hyphen.

Usage: python tools/jobs_by_site.py <event-log file or dir> <job group> [<tag prefix>]
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


def _tag(tags: str, prefix: str) -> str | None:
    """The first of a job's comma-separated tags that starts with
    ``prefix``, once any ``spark-session-...-`` qualifier is cut off."""
    for tag in tags.split(","):
        m = re.search(rf"(?:^|-)({re.escape(prefix)}.*)$", tag)
        if m:
            return m.group(1)
    return None


def jobs_by_site(lines, group: str, prefix: str | None = None) -> dict[str, list[float]]:
    """``{call site: [jobs, summed seconds]}`` for the jobs of ``group``;
    with a tag ``prefix``, ``{(tag, call site): ...}`` (tag None when a job
    carries no tag starting with it)."""
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
                "tag": _tag(props.get("spark.job.tags", ""), prefix) if prefix else None,
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
        key = (job["tag"], site) if prefix else site
        out[key][0] += 1
        out[key][1] += (job["end"] or job["start"]) - job["start"]
    return dict(out)


def _print(sites: dict, label: str) -> None:
    total = [sum(v[0] for v in sites.values()), sum(v[1] for v in sites.values())]
    for site, (n, secs) in sorted(sites.items(), key=lambda kv: (-kv[1][0], -kv[1][1])):
        print(f"{n:5d} {secs:8.2f}s  {site}")
    print(f"{total[0]:5d} {total[1]:8.2f}s  {label}")


def main() -> None:
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__.strip().splitlines()[-1])
    prefix = sys.argv[3] if len(sys.argv) == 4 else None
    with open(_log_file(sys.argv[1])) as f:
        sites = jobs_by_site(f, sys.argv[2], prefix)
    if prefix is None:
        _print(sites, "total")
        return
    for tag in sorted({t for t, _ in sites}, key=lambda t: (t is None, t or "")):
        _print({s: v for (t, s), v in sites.items() if t == tag}, tag or f"(no {prefix} tag)")
        print()
    n, secs = sum(v[0] for v in sites.values()), sum(v[1] for v in sites.values())
    print(f"{n:5d} {secs:8.2f}s  total")


if __name__ == "__main__":
    main()
