"""Durable / reliable checkpointing of the CC iteration loop (north_rule:
checkpointed CC iterations). Small graphs finish on the driver, so every
loop test here runs under ``cc_loop`` (broadcast threshold -1). Covers:

* resume: a store holding a completed iteration of the SAME graph is picked
  up (the loop continues from the planted labels instead of restarting);
* fingerprint isolation: labels from a DIFFERENT graph sharing the store and
  stage prefix are never resumed (the ADVICE stale-resume hazard);
* cleanup: iteration scaffolding is deleted once the loop converges;
* reliable mode: with a Spark checkpoint dir configured (``checkpoint_dir``)
  the loop writes reliable checkpoints into it (executor-loss durability on
  a cluster), and leaves no cached plan behind (ADVICE r2 regression).
"""

import os

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.cc import (
    connected_components,
    edges_fingerprint,
    symmetrize,
)
from identity_matching_spark.sources.io import CheckpointStore

pytestmark = pytest.mark.usefixtures("cc_loop")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _collect(labels):
    return {r["id"]: r["component"] for r in labels.collect()}


def test_resume_from_planted_iteration(spark, tmp_path):
    """Plant converged-but-wrong labels under the current graph's iteration
    key: the loop must resume from them (proving the resume path runs), and
    min-propagation from the planted state fixes what propagation can fix."""
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    store = CheckpointStore(spark, str(tmp_path), {"t": 1})
    fp = edges_fingerprint(symmetrize(e).localCheckpoint())
    planted = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (10, 10), (11, 10)], "id long, component long"
    )
    store.write(f"cc_{fp}_iter0", planted)

    out = _collect(connected_components(e, store=store, stage_prefix="cc"))
    # resumed from planted labels: component 0 (not a node id — min-label
    # propagation can only have produced it from the planted state)
    assert out == {1: 0, 2: 0, 3: 0, 10: 10, 11: 10}


def test_no_resume_across_different_graphs(spark, tmp_path):
    """Same store + same stage prefix, different graph → fingerprint differs
    → fresh run, correct labels for the new graph."""
    store = CheckpointStore(spark, str(tmp_path), {"t": 1})
    g1 = _edges(spark, [(1, 2), (2, 3)])
    fp1 = edges_fingerprint(symmetrize(g1).localCheckpoint())
    # poison: labels claiming everything is component 999
    store.write(
        f"cc_{fp1}_iter0",
        spark.createDataFrame([(1, 999), (2, 999), (3, 999)], "id long, component long"),
    )
    g2 = _edges(spark, [(1, 2), (4, 5)])
    out = _collect(connected_components(g2, store=store, stage_prefix="cc"))
    assert out == {1: 1, 2: 1, 4: 4, 5: 4}


def test_iteration_files_cleaned_after_convergence(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path), {"t": 1})
    # a path graph needs >1 iteration, so at least one iter file is written
    e = _edges(spark, [(i, i + 1) for i in range(1, 40)])
    out = _collect(connected_components(e, store=store, stage_prefix="cc"))
    assert set(out.values()) == {1}
    leftovers = [d for d in os.listdir(tmp_path) if "_iter" in d]
    assert leftovers == []


def test_reliable_checkpoint_used_when_dir_configured(spark, checkpoint_dir):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    out = _collect(connected_components(e))
    assert set(out.values()) == {1}
    # reliable checkpoints landed in the configured dir
    sub = []
    for root, _dirs, files in os.walk(checkpoint_dir):
        sub.extend(files)
    assert sub, "no reliable checkpoint files written"


def test_cc_reliable_mode_leaves_no_cached_plans(spark, checkpoint_dir):
    spark.catalog.clearCache()
    e = spark.createDataFrame([(i, i + 1) for i in range(1, 30)], "src long, dst long")
    labels = connected_components(e)
    assert {r["component"] for r in labels.collect()} == {1}
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "CC left persisted plans in the CacheManager"
