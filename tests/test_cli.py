"""The spark-submit entry point end to end: ``cli.main`` on a small synth
corpus, run twice on the same ``--checkpoints`` root, in exact and in
similarity mode. The second run resumes from the stage checkpoints, writes
no file there, and its outputs and whole report must equal the fresh run's:
the counters of the stages it reads from disk come back from their
sidecars."""

import json
import os

import pytest

from identity_matching_spark import cli
from identity_matching_spark.sources.synth import synth_transcripts

# the report keys that differ between any two runs
PER_RUN = ("elapsed_sec", "aliases_path", "identities_path")


def _run(capsys, *argv):
    # --master local[8] keeps get_spark's shuffle partitions at the test
    # session's value: the CLI fetches the running session and resets them
    assert cli.main([*argv, "--master", "local[8]"]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _stable(report):
    return {k: v for k, v in report.items() if k not in PER_RUN}


def _same_rows(spark, a, b):
    x, y = spark.read.parquet(a), spark.read.parquet(b)
    return x.exceptAll(y).isEmpty() and y.exceptAll(x).isEmpty()


def _files(root):
    """{path: mtime} of every file under ``root``."""
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, files in os.walk(root)
        for f in files
    }


@pytest.mark.parametrize("mode", [[], ["--similarity"]], ids=["exact", "similarity"])
def test_cli_resumed_run_matches_fresh_run(spark, tmp_path, capsys, mode):
    src = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_convs=600, n_persons=60, seed=42).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    args = ["--input", src, "--checkpoints", ckpt, *mode]
    fresh = _run(capsys, *args, "--output", str(tmp_path / "a"))
    stages = _files(ckpt)
    resumed = _run(capsys, *args, "--output", str(tmp_path / "b"))

    assert stages and _files(ckpt) == stages  # every stage read back, none recomputed
    assert fresh["people after reduce"] > 0, fresh
    assert "graph edges" in fresh and ("buckets dropped by max_bucket" in fresh) == bool(mode)
    assert _stable(resumed) == _stable(fresh)
    assert _same_rows(spark, fresh["aliases_path"], resumed["aliases_path"])
    assert _same_rows(spark, fresh["identities_path"], resumed["identities_path"])
