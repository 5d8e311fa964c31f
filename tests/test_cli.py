"""The spark-submit entry point end to end: ``cli.main`` on a small synth
corpus, run twice on the same ``--checkpoints`` root. The second run resumes
from the stage checkpoints, and its outputs and cardinality gauges must equal
the fresh run's: the resumed run's ``people found`` recount must equal
``build_persons``' cleaned-triplet counter."""

import json
import os

from identity_matching_spark import cli
from identity_matching_spark.sources.synth import synth_transcripts

# the gauges a resumed run reports as well as a fresh one
GAUGES = (
    "people found",
    "people after filtering",
    "people after reduce",
    "alias rows",
    "connected component size mean",
    "connected component size std",
    "connected component size max",
)


def _run(capsys, *argv):
    # --master local[8] keeps get_spark's shuffle partitions at the test
    # session's value: the CLI fetches the running session and resets them
    assert cli.main([*argv, "--master", "local[8]"]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


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


def test_cli_resumed_run_matches_fresh_run(spark, tmp_path, capsys):
    src = str(tmp_path / "transcripts")
    synth_transcripts(spark, n_convs=600, n_persons=60, seed=42).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    fresh = _run(capsys, "--input", src, "--output", str(tmp_path / "a"), "--checkpoints", ckpt)
    stages = _files(ckpt)
    resumed = _run(capsys, "--input", src, "--output", str(tmp_path / "b"), "--checkpoints", ckpt)

    assert stages and _files(ckpt) == stages  # every stage read back, none recomputed
    assert fresh["people after reduce"] > 0, fresh
    assert {k: resumed[k] for k in GAUGES} == {k: fresh[k] for k in GAUGES}
    assert _same_rows(spark, fresh["aliases_path"], resumed["aliases_path"])
    assert _same_rows(spark, fresh["identities_path"], resumed["identities_path"])
