"""The incremental state store's commit contract (``IncrementalState``):
one part file per live leaf, concurrent table writes that keep the caller's
job group, schema-pinned reads, writer-only garbage collection and an
explicit exact-mode marker."""

from __future__ import annotations

import glob
import json
import os
import time

import pytest

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch
from tests.test_round5_fixes import _full_persons, _member_set
from tests.test_round6_opts import _corpus, _kidx_matches_keys, _mbc_matches_membership

DELTA = [(900, "fresh 0", "g0@x.com"), (901, "fresh 1", "g1@x.com")]


def _folded(spark, root, n_buckets=8):
    """A store bootstrapped from a 10-group corpus, then one delta folded."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(root), n_buckets=n_buckets)
    fold_batch(state, _full_persons(spark, _corpus(10)), bl, batch_id=0)
    fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
    return state


def test_every_live_leaf_holds_one_part_file(spark, tmp_path):
    state = _folded(spark, tmp_path)
    man = json.load(open(state.manifest_path))
    for table in IncrementalState.TABLES:
        gens = man["tables"][table]
        assert gens, table
        for bucket, gen in gens.items():
            leaf = state._leaf(table, int(bucket), gen)
            parts = glob.glob(os.path.join(leaf, "part-*.parquet"))
            assert len(parts) == 1, (table, bucket, gen, parts)


def test_fold_jobs_inherit_caller_job_group(spark, tmp_path):
    """The commit's writes run in pool threads; every job the fold starts,
    those included, must carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    assert not spark.streams.active  # no job outside the fold may interleave
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(10)), bl, batch_id=0)

    def last_job_in(group):
        sc.setJobGroup(group, group)
        sc.parallelize([1], 1).count()
        # the status store is fed asynchronously, in job order
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
            time.sleep(0.05)
        return max(tracker.getJobIdsForGroup(group))

    try:
        lo = last_job_in("before-fold")
        sc.setJobGroup("g", "fold")
        fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
        hi = last_job_in("after-fold")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    fold_jobs = set(range(lo + 1, hi))
    assert fold_jobs
    assert set(tracker.getJobIdsForGroup("g")) == fold_jobs


def test_reader_opened_mid_commit_deletes_nothing(spark, tmp_path, monkeypatch):
    """A store opened between the leaf writes and the manifest publish must
    not collect the writer's unpublished leaves: after the publish every
    table reads back in full."""
    bl = Blacklist.testing()
    rows = _corpus(10)
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    # a fresh writer object: its first commit runs the full sweep
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)

    orig_replace = os.replace
    readers = []

    def open_reader_then_publish(src, dst):
        if dst == state.manifest_path:
            readers.append(IncrementalState(spark, str(tmp_path), n_buckets=8))
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", open_reader_then_publish)
    fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
    monkeypatch.setattr(os, "replace", orig_replace)

    assert len(readers) == 1 and readers[0].committed_batch() == 0
    reopened = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert reopened.committed_batch() == 1
    for table in IncrementalState.TABLES:
        assert reopened.read(table).count() > 0, table
    assert reopened.read("persons_silver").count() == len(rows) + len(DELTA)
    want = reduce_people(_full_persons(spark, rows + DELTA), bl, max_identities=20)
    assert _member_set(reopened.read("membership")) == _member_set(want)
    assert _mbc_matches_membership(reopened)
    assert _kidx_matches_keys(reopened)


def test_non_exact_commit_leaves_exact_mode_off(spark, tmp_path):
    """Only a writer that says so marks the state exact: after a commit
    with ``exact_mode=False`` the next fold runs the membership probe, which
    rejects external ids — also in a process that already folded once."""
    from pyspark.sql import functions as F

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(4)), bl, batch_id=0)
    fold_batch(state, _full_persons(spark, DELTA[:1]), bl, batch_id=1)
    assert state.exact_mode()

    all_buckets = list(range(8))
    writes = {t: (state.read(t), all_buckets) for t in IncrementalState.TABLES}
    membership = writes["membership"][0]
    first = membership.agg(F.min("id")).first()[0]
    writes["membership"] = (
        membership.withColumn(
            "external_id",
            F.when(F.col("id") == first, F.lit("gh:someone")).otherwise(F.col("external_id")),
        ),
        all_buckets,
    )
    state.commit(2, writes, exact_mode=False)
    assert not state.exact_mode()
    assert not IncrementalState(spark, str(tmp_path), n_buckets=8).exact_mode()
    with pytest.raises(ValueError, match="exact-mode"):
        fold_batch(state, _full_persons(spark, DELTA[1:]), bl, batch_id=3)


def test_commit_drops_stale_leaf_of_crashed_attempt(spark, tmp_path):
    """A crashed attempt at a batch may leave a gen=<batch> leaf in a bucket
    the replay leaves empty; the replay's manifest must not adopt it."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    # 6 ids over 8 buckets: some membership bucket is empty
    fold_batch(state, _full_persons(spark, _corpus(2)), bl, batch_id=0)
    before = {t: state.read(t).count() for t in IncrementalState.TABLES}

    empty = next(b for b in range(8) if str(b) not in state._manifest["tables"]["membership"])
    stale = state._leaf("membership", empty, 1)
    state.read("membership").limit(1).write.parquet(stale)

    all_buckets = list(range(8))
    writes = {t: (state.read(t), all_buckets) for t in IncrementalState.TABLES}
    state.commit(1, writes, exact_mode=True)
    assert str(empty) not in state._manifest["tables"]["membership"]
    assert not os.path.exists(stale)
    assert {t: state.read(t).count() for t in IncrementalState.TABLES} == before


def test_reads_fall_back_to_inference_without_recorded_schema(spark, tmp_path):
    state = _folded(spark, tmp_path)
    want = {t: sorted(state.read(t).collect()) for t in IncrementalState.TABLES}
    man = json.load(open(state.manifest_path))
    man.pop("schemas")
    json.dump(man, open(state.manifest_path, "w"))
    legacy = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert {t: sorted(legacy.read(t).collect()) for t in IncrementalState.TABLES} == want
