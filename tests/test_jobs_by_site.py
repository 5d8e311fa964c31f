"""``tools/jobs_by_site.py`` splits a span's jobs by job tag: Spark records a
session tag as ``spark-session-<id>-thread-<id>-<tag>`` in ``spark.job.tags``,
and a job without a tag of the prefix lands in a block of its own."""

import json

from tools.jobs_by_site import jobs_by_site

_SESSION = "spark-session-5f0c-4d"


def _job(job_id, group, site, tags, start, end):
    props = {"spark.jobGroup.id": group, "callSite.short": site, "spark.sql.execution.id": str(job_id)}
    if tags is not None:
        props["spark.job.tags"] = ",".join(
            [f"{_SESSION}-execution-root-id-{job_id}"]
            + [f"{_SESSION}-thread-9a1e-77b2-{t}" for t in tags]
            + [_SESSION]
        )
    return [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": start,
                    "Properties": props, "Stage Infos": [{"Stage Name": site}]}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": end}),
    ]


def test_jobs_split_by_tag_prefix():
    lines = (
        _job(1, "s5", "incremental.py:432", ["fold:closure"], 0, 500)
        + _job(2, "s5", "incremental.py:432", ["other", "fold:closure"], 500, 1500)
        + _job(3, "s5", "cluster.py:256", ["fold:re-resolve"], 1500, 1750)
        + _job(4, "s5", "incremental.py:300", ["fold:commit"], 2000, 4000)
        + _job(5, "s5", "people.py:103", None, 4000, 4125)
        + _job(6, "s9", "incremental.py:432", ["fold:closure"], 5000, 6000)
    )
    assert jobs_by_site(lines, "s5", "fold:") == {
        ("fold:closure", "incremental.py:432"): [2, 1.5],
        ("fold:re-resolve", "cluster.py:256"): [1, 0.25],
        ("fold:commit", "incremental.py:300"): [1, 2.0],
        (None, "people.py:103"): [1, 0.125],
    }
    # without a prefix the sites are summed over every tag, as before
    assert jobs_by_site(lines, "s5")["incremental.py:432"] == [2, 1.5]
