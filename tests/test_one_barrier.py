"""One barrier policy: ``session.barrier`` is the only code in the package
that cuts lineage or caches a plan, and it always materializes where it
stands.

* one behaviour: with and without a checkpoint dir, ``barrier`` runs its
  frame's jobs before it returns, so an ``Observation`` on the frame is
  readable right after it, and CC's join loop, whose convergence sum rides
  the barrier of each round, runs at most ``CC_JOBS_PER_ROUND`` jobs a
  round;
* the gate: an AST scan of ``identity_matching_spark/`` finds no call to
  ``localCheckpoint``, ``checkpoint``, ``persist``, ``cache`` or
  ``unpersist`` outside ``session.barrier``;
* reliable mode end to end: with a checkpoint dir set, exact and similarity
  ``run_pipeline`` and a bootstrap plus one ``fold_batch`` give the outputs
  of the run without one, no output's lineage holds a local checkpoint, and
  no cached plan is left behind.
"""

import ast
import datetime as dt
import os
import threading
import uuid
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from identity_matching_spark.operators import cc
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
from identity_matching_spark.session import barrier
from identity_matching_spark.sources.synth import synth_transcripts
from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch

PACKAGE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "identity_matching_spark")
BARRIER_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}
# jobs of one join-loop round: one per query stage of the round's plan, the
# last of which materializes its barrier; the convergence sum rides that
# barrier as an Observation and adds none (as its own aggregate it was a 7th)
CC_JOBS_PER_ROUND = 6


@contextmanager
def _jobs(spark):
    """Yield a callable giving the number of jobs the block has started so
    far; they run in a job group of their own."""
    sc = spark.sparkContext
    group = f"counted-{uuid.uuid4()}"
    sc.setJobGroup(group, "jobs counted by a test")
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()  # PySpark has no clearJobGroup


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_barrier_materializes_where_it_stands(spark, request, reliable):
    if reliable:
        request.getfixturevalue("checkpoint_dir")
    rows = Observation()
    df = spark.range(100).select((F.col("id") * 2).alias("x"))  # no shuffle
    with _jobs(spark) as jobs:
        out = barrier(df.observe(rows, F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")))
        assert jobs() >= 1, "the barrier ran no job before it returned"
    # read off the main thread: an Observation whose action has not run
    # blocks its reader
    got = {}
    reader = threading.Thread(target=lambda: got.update(rows.get), daemon=True)
    reader.start()
    reader.join(timeout=30)
    assert got == {"n": 100, "s": 9900}
    assert out.count() == 100


@pytest.mark.usefixtures("cc_loop")
def test_cc_join_loop_jobs_per_round(spark, monkeypatch):
    """Every round of a chain that takes several costs at most
    ``CC_JOBS_PER_ROUND`` jobs, its convergence test included."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
    step = cc._round
    with _jobs(spark) as jobs:
        starts = []
        monkeypatch.setattr(cc, "_round", lambda e, labels: starts.append(jobs()) or step(e, labels))
        out = cc.connected_components(edges)
        starts.append(jobs())
    assert {r["component"] for r in out.collect()} == {0}
    per_round = [b - a for a, b in zip(starts, starts[1:])]
    assert len(per_round) > 3 and max(per_round) <= CC_JOBS_PER_ROUND, per_round


def _barrier_calls(path: str) -> list[str]:
    """``file:line name`` of every ``<x>.<name>(...)`` call in ``path`` with
    ``name`` in BARRIER_CALLS, except inside ``session.barrier``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    allowed = set()
    if os.path.relpath(path, PACKAGE) == "session.py":
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef) and fn.name == "barrier":
                allowed = {id(n) for n in ast.walk(fn)}
    return [
        f"{os.path.relpath(path, PACKAGE)}:{n.lineno} {n.func.attr}"
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in BARRIER_CALLS
        and id(n) not in allowed
    ]


def test_only_session_barrier_cuts_lineage():
    found = []
    for root, _dirs, files in os.walk(PACKAGE):
        for name in sorted(files):
            if name.endswith(".py"):
                found.extend(_barrier_calls(os.path.join(root, name)))
    assert found == [], "route these through session.barrier:\n" + "\n".join(found)


def _run_all(spark, transcripts, store_root):
    """Every output of an exact and a similarity ``run_pipeline``, plus the
    membership of a store bootstrapped from the even person ids and folded
    with the odd ones."""
    frames = {}
    for mode, similarity in (("exact", False), ("similarity", True)):
        cfg = PipelineConfig(reference_time=dt.datetime(2026, 1, 1), similarity_mode=similarity)
        out = run_pipeline(spark, transcripts, cfg)
        frames.update({f"{mode}:{k}": v for k, v in out.items() if v is not None})
    persons = frames["exact:persons"]
    state = IncrementalState(spark, store_root)
    for batch_id, parity in enumerate((0, 1)):
        fold_batch(state, persons.where(F.col("id") % 2 == parity), Blacklist.default(),
                   batch_id=batch_id)
    frames["fold:membership"] = state.read("membership")
    return frames


def _rows(frames) -> dict[str, Counter]:
    return {k: Counter(tuple(r) for r in df.collect()) for k, df in frames.items()}


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    # a parquet scan, not a local checkpoint: the corpus itself must not put
    # one into the outputs' lineage
    path = str(tmp_path_factory.mktemp("corpus") / "transcripts")
    synth_transcripts(spark, n_convs=300, n_persons=30, seed=7).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def local_rows(spark, transcripts, tmp_path_factory):
    """The outputs of the runs without a checkpoint dir."""
    return _rows(_run_all(spark, transcripts, str(tmp_path_factory.mktemp("local_store"))))


def test_reliable_mode_end_to_end(spark, transcripts, local_rows, checkpoint_dir, tmp_path):
    spark.catalog.clearCache()
    frames = _run_all(spark, transcripts, str(tmp_path / "store"))
    assert _rows(frames) == local_rows
    local = [k for k, df in frames.items()
             if "at localCheckpoint at" in df.rdd.toDebugString().decode()]
    assert local == [], f"outputs still cut by a local checkpoint: {local}"
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert os.listdir(checkpoint_dir), "no reliable checkpoint was written"
