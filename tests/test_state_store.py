"""The incremental state store's commit contract (``IncrementalState``):
one part file per live leaf, concurrent table writes that keep the caller's
job group, schema-pinned reads, crash-atomic manifest publishes, replay and
batch-id checks, writer-only garbage collection, an explicit exact-mode
marker that ``fold_batch`` requires and a recorded table layout that opening
the store checks."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time

import pytest

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch

_TS = dt.datetime(2026, 1, 1)
_SILVER_SCHEMA = (
    "id long, repo string, name string, email string, name_key string, "
    "popular_name boolean, hash string, ts timestamp"
)


def _full_persons(spark, rows):
    """rows: (id, name, email) → build_persons-shaped frame (name_key=name)."""
    return spark.createDataFrame(
        [(i, "ch0", n, e, n, False, f"h{i}", _TS) for i, n, e in rows],
        _SILVER_SCHEMA,
    )


def _member_set(df):
    return {(r["id"], r["component"]) for r in df.collect()}


def _corpus(n_groups):
    """``n_groups`` email-linked 3-person clusters with distinct names."""
    rows = []
    pid = 0
    for g in range(n_groups):
        for j in range(3):
            rows.append((pid, f"name {g} {j}", f"g{g}@x.com"))
            pid += 1
    return rows


def _kidx_matches_keys(state):
    k = {(r["component"], r["key"]) for r in state.read("cluster_keys").collect()}
    i = {(r["component"], r["key"]) for r in state.read("key_index").collect()}
    return k == i


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
    got = reopened.read("membership")
    assert got.count() == got.select("id").distinct().count()
    assert _kidx_matches_keys(reopened)


def test_non_exact_commit_leaves_exact_mode_off(spark, tmp_path):
    """Only a writer that says so marks the state exact: after a commit
    with ``exact_mode=False`` (here: a membership carrying an external id,
    as a similarity-mode resolution would) the store reads as non-exact,
    also to a fresh open, and the next fold refuses it — also through a
    writer that already folded once."""
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


def test_fold_equals_from_scratch_and_replay_skips(spark, tmp_path):
    bl = Blacklist.testing()
    rows = _corpus(20)
    delta = [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(4)]
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    m = fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert "skipped_replay" not in m
    want = reduce_people(_full_persons(spark, rows + delta), bl, max_identities=20)
    assert _member_set(state.read("membership")) == _member_set(want)
    assert state.read("persons_silver").count() == len(rows) + len(delta)
    # replaying a committed batch is a no-op
    m2 = fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert m2 == {"skipped_replay": True}
    # a fresh open (new manifest load) sees the same state
    reopened = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert _member_set(reopened.read("membership")) == _member_set(want)


def test_crash_before_manifest_publish_keeps_old_state(spark, tmp_path, monkeypatch):
    """Kill the commit (a) between table writes and (b) after all table
    writes but before the manifest replace: both must leave the previous
    state fully readable and mutually consistent, and the replayed batch
    must then land exactly."""
    from pyspark.sql.readwriter import DataFrameWriter

    bl = Blacklist.testing()
    rows = _corpus(10)
    delta = [(900, "fresh 0", "g0@x.com")]
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    before = _member_set(state.read("membership"))

    # (a) crash during the second table's write
    orig_parquet = DataFrameWriter.parquet

    def boom_on_membership(self, path, *a, **kw):
        if path.rstrip("/").endswith("membership"):
            raise RuntimeError("simulated crash mid-commit")
        return orig_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", boom_on_membership)
    with pytest.raises(RuntimeError, match="simulated"):
        fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    monkeypatch.setattr(DataFrameWriter, "parquet", orig_parquet)
    # the failure surfaced only after the other three writes finished,
    # and the manifest was not touched
    for table in IncrementalState.TABLES:
        leaves = glob.glob(os.path.join(str(tmp_path), table, "bucket=*", "gen=1"))
        assert bool(leaves) == (table != "membership"), table
    with open(state.manifest_path) as fh:
        assert json.load(fh)["batch_id"] == 0
    crashed = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert crashed.committed_batch() == 0
    assert _member_set(crashed.read("membership")) == before

    # (b) crash after all writes, before the manifest replace
    orig_replace = os.replace

    def boom_replace(src, dst):
        if dst.endswith("state_manifest.json"):
            raise RuntimeError("simulated crash pre-publish")
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", boom_replace)
    with pytest.raises(RuntimeError, match="simulated"):
        fold_batch(crashed, _full_persons(spark, delta), bl, batch_id=1)
    monkeypatch.setattr(os, "replace", orig_replace)
    recovered = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert recovered.committed_batch() == 0
    assert _member_set(recovered.read("membership")) == before

    # replay lands exactly
    fold_batch(recovered, _full_persons(spark, delta), bl, batch_id=1)
    want = reduce_people(_full_persons(spark, rows + delta), bl, max_identities=20)
    assert _member_set(recovered.read("membership")) == _member_set(want)


def test_batch_id_below_committed_refuses(spark, tmp_path):
    """Checkpoint-loss signature (ADVICE r5): ids restarting below the
    committed batch must raise, not silently drop batches."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(3)), bl, batch_id=0)
    fold_batch(state, _full_persons(spark, [(90, "f", "g0@x.com")]), bl, batch_id=1)
    # equal id: normal replay, skipped
    assert fold_batch(
        state, _full_persons(spark, [(90, "f", "g0@x.com")]), bl, batch_id=1
    ) == {"skipped_replay": True}
    with pytest.raises(ValueError, match="below the committed"):
        fold_batch(state, _full_persons(spark, [(91, "g", "g1@x.com")]), bl, batch_id=0)


def test_gc_scoped_to_commit_buckets_full_sweep_on_first_commit(spark, tmp_path):
    """VERDICT r5 #3: commit-time GC walks only the batch's affected
    buckets; an orphan generation planted in an UNtouched bucket survives
    that commit and a later open (opening never deletes), and is swept by
    the first commit of the next writer."""
    from identity_matching_spark.streaming.incremental import _collect_buckets

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(6)), bl, batch_id=0)
    # find a bucket the next (tiny) delta will NOT touch, plant an orphan
    delta = [(990, "fresh 0", "g0@x.com")]
    d_ids = _full_persons(spark, delta).select("id")
    touched_buckets = set(
        _collect_buckets(d_ids, state.bucket_expr("persons_silver"))
    )
    orphan_bucket = next(b for b in range(8) if b not in touched_buckets)
    orphan = os.path.join(
        str(tmp_path), "persons_silver", f"bucket={orphan_bucket}", "gen=999"
    )
    os.makedirs(orphan)
    open(os.path.join(orphan, "stale.parquet"), "w").write("x")

    fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert os.path.isdir(orphan), "commit-time GC must skip untouched buckets"
    writer = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert os.path.isdir(orphan), "opening a store must delete nothing"
    fold_batch(writer, _full_persons(spark, delta), bl, batch_id=2)
    assert not os.path.isdir(orphan), "the first commit must sweep orphans"


def _snapshot(root, manifest_path):
    """The manifest's bytes and the store's file listing."""
    with open(manifest_path, "rb") as fh:
        raw = fh.read()
    return raw, sorted(str(p.relative_to(root)) for p in root.rglob("*"))


def _strip_manifest_key(spark, root, key):
    """Bootstrap an 8-bucket store at ``root``, drop ``key`` from its
    manifest; return the manifest path."""
    state = IncrementalState(spark, str(root), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(10)), Blacklist.testing(), batch_id=0)
    with open(state.manifest_path) as fh:
        man = json.load(fh)
    man.pop(key)
    with open(state.manifest_path, "w") as fh:
        json.dump(man, fh)
    return state.manifest_path


def test_store_without_exact_marker_is_refused(spark, tmp_path):
    """A store whose manifest lacks the exact-mode marker is refused before
    anything is read or written."""
    manifest_path = _strip_manifest_key(spark, tmp_path, "exact_mode")
    before = _snapshot(tmp_path, manifest_path)
    old = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert not old.exact_mode()
    with pytest.raises(ValueError, match="exact-mode"):
        fold_batch(old, _full_persons(spark, DELTA), Blacklist.testing(), batch_id=1)
    assert _snapshot(tmp_path, manifest_path) == before


def test_store_with_other_layout_is_refused(spark, tmp_path):
    """A manifest that does not record the current bucket columns — every
    store of an earlier layout, e.g. one with membership bucketed by id —
    is refused on open, before anything is read or written: probing a
    table by a column it is not bucketed on would under-scope the fold."""
    manifest_path = _strip_manifest_key(spark, tmp_path, "bucket_cols")
    before = _snapshot(tmp_path, manifest_path)
    with pytest.raises(ValueError, match="layout"):
        IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert _snapshot(tmp_path, manifest_path) == before
