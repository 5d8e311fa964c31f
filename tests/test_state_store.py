"""The incremental state store's commit contract (``IncrementalState``):
one part file per live leaf, concurrent table writes that keep the caller's
job group, schema-pinned reads that start no file-listing job (and name the
root of a store with no manifest), crash-atomic manifest publishes, replay
and batch-id checks, writer-only garbage collection, an explicit exact-mode
marker that ``fold_batch`` requires and a recorded table layout that opening
the store checks."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import time

import pytest

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.streaming.incremental import (
    IncrementalState,
    derive_cluster_keys,
    fold_batch,
)

# every store a test here opens has 8 buckets unless the test sets more
pytestmark = pytest.mark.usefixtures("store_buckets")

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


def _kidx_matches_keys(state, bl):
    """The maintained key_index equals a from-scratch derivation of the
    (component, key) relation from the store's membership rows."""
    fresh = derive_cluster_keys(state.read("membership"), bl)
    k = {(r["component"], r["key"]) for r in fresh.collect()}
    i = {(r["component"], r["key"]) for r in state.read("key_index").collect()}
    return k == i


def _last_job_in(spark, group):
    """Run one job under job group ``group`` and return its id, once the
    status store shows it (the store is fed asynchronously, in job order,
    so every earlier job is visible then too)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    sc.parallelize([1], 1).count()
    deadline = time.time() + 60
    while not tracker.getJobIdsForGroup(group) and time.time() < deadline:
        time.sleep(0.05)
    return max(tracker.getJobIdsForGroup(group))


DELTA = [(900, "fresh 0", "g0@x.com"), (901, "fresh 1", "g1@x.com")]


def _folded(spark, root):
    """A store bootstrapped from a 10-group corpus, then one delta folded."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(root))
    fold_batch(state, _full_persons(spark, _corpus(10)), bl, batch_id=0)
    fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
    return state


def test_every_live_leaf_holds_one_part_file(spark, tmp_path):
    state = _folded(spark, tmp_path)
    # a bootstrap and a fold write one directory per table, nothing else
    assert sorted(p.name for p in tmp_path.iterdir() if p.is_dir()) == sorted(
        IncrementalState.TABLES
    )
    man = json.load(open(state.manifest_path))
    for table in IncrementalState.TABLES:
        gens = man["tables"][table]
        assert gens, table
        for bucket, gen in gens.items():
            leaf = state._leaf(table, int(bucket), gen)
            parts = glob.glob(os.path.join(leaf, "part-*.parquet"))
            assert len(parts) == 1, (table, bucket, gen, parts)


def test_commit_writes_each_table_in_parallel_tasks(spark, tmp_path):
    """Each table's write stage runs min(affected buckets, its share of
    the cores) tasks — an explicit count AQE does not coalesce to one task
    — and every leaf still holds one part file."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    state = IncrementalState(spark, str(tmp_path))
    members = (
        _full_persons(spark, _corpus(4))
        .withColumn("component", F.col("id"))
        .withColumn("external_id", F.lit(""))
    )
    # plain rows: no shuffle before the write's own
    kidx = spark.createDataFrame(
        [(i, 1000 + i) for i in range(12)], "component long, key long"
    )
    writes = {}
    for table, df in (("membership", members), ("key_index", kidx)):
        buckets = sorted(r["b"] for r in df.select(state.bucket_expr(table).alias("b")).distinct().collect())
        assert len(buckets) >= 2, (table, buckets)
        writes[table] = (df, buckets)
    try:
        sc.setJobGroup("commit", "commit")
        state.commit(0, writes, exact_mode=True)
        _last_job_in(spark, "after-commit")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # a write's result job also lists its shuffle's (skipped) map stage;
    # the result stage is the job's last
    write_tasks = sorted(
        tracker.getStageInfo(max(info.stageIds)).numTasks
        for info in map(tracker.getJobInfo, tracker.getJobIdsForGroup("commit"))
        if len(info.stageIds) > 1
    )
    share = sc.defaultParallelism // len(IncrementalState.TABLES)
    want = sorted(min(len(b), share) for _, b in writes.values())
    assert write_tasks == want and min(want) > 1, (write_tasks, want)
    for table, (_, buckets) in writes.items():
        for b in buckets:
            assert len(glob.glob(os.path.join(state._leaf(table, b, 0), "part-*.parquet"))) == 1


def test_fold_jobs_inherit_caller_job_group(spark, tmp_path):
    """The commit's writes run in pool threads; every job the fold starts,
    those included, must carry the caller's job group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    assert not spark.streams.active  # no job outside the fold may interleave
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, _corpus(10)), bl, batch_id=0)

    try:
        lo = _last_job_in(spark, "before-fold")
        sc.setJobGroup("g", "fold")
        fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
        hi = _last_job_in(spark, "after-fold")
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
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    # a fresh writer object: its first commit runs the full sweep
    state = IncrementalState(spark, str(tmp_path))

    orig_replace = os.replace
    readers = []

    def open_reader_then_publish(src, dst):
        if dst == state.manifest_path:
            readers.append(IncrementalState(spark, str(tmp_path)))
        return orig_replace(src, dst)

    monkeypatch.setattr(os, "replace", open_reader_then_publish)
    fold_batch(state, _full_persons(spark, DELTA), bl, batch_id=1)
    monkeypatch.setattr(os, "replace", orig_replace)

    assert len(readers) == 1 and readers[0].committed_batch() == 0
    reopened = IncrementalState(spark, str(tmp_path))
    assert reopened.committed_batch() == 1
    for table in IncrementalState.TABLES:
        assert reopened.read(table).count() > 0, table
    assert reopened.read("membership").count() == len(rows) + len(DELTA)
    want = reduce_people(_full_persons(spark, rows + DELTA), bl, max_identities=20)
    assert _member_set(reopened.read("membership")) == _member_set(want)
    got = reopened.read("membership")
    assert got.count() == got.select("id").distinct().count()
    assert _kidx_matches_keys(reopened, bl)


def test_non_exact_commit_leaves_exact_mode_off(spark, tmp_path):
    """Only a writer that says so marks the state exact: after a commit
    with ``exact_mode=False`` (here: a membership carrying an external id,
    as a similarity-mode resolution would) the store reads as non-exact,
    also to a fresh open, and the next fold refuses it — also through a
    writer that already folded once."""
    from pyspark.sql import functions as F

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path))
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
    assert not IncrementalState(spark, str(tmp_path)).exact_mode()
    with pytest.raises(ValueError, match="exact-mode"):
        fold_batch(state, _full_persons(spark, DELTA[1:]), bl, batch_id=3)


def test_commit_drops_stale_leaf_of_crashed_attempt(spark, tmp_path):
    """A crashed attempt at a batch may leave a gen=<batch> leaf in a bucket
    the replay leaves empty; the replay's manifest must not adopt it."""
    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path))
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
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    m = fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert "skipped_replay" not in m
    want = reduce_people(_full_persons(spark, rows + delta), bl, max_identities=20)
    assert _member_set(state.read("membership")) == _member_set(want)
    assert state.read("membership").count() == len(rows) + len(delta)
    # replaying a committed batch is a no-op
    m2 = fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert m2 == {"skipped_replay": True}
    # a fresh open (new manifest load) sees the same state
    reopened = IncrementalState(spark, str(tmp_path))
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
    state = IncrementalState(spark, str(tmp_path))
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
    # the failure surfaced only after the other write finished,
    # and the manifest was not touched
    for table in IncrementalState.TABLES:
        leaves = glob.glob(os.path.join(str(tmp_path), table, "bucket=*", "gen=1"))
        assert bool(leaves) == (table != "membership"), table
    with open(state.manifest_path) as fh:
        assert json.load(fh)["batch_id"] == 0
    crashed = IncrementalState(spark, str(tmp_path))
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
    recovered = IncrementalState(spark, str(tmp_path))
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
    state = IncrementalState(spark, str(tmp_path))
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
    from identity_matching_spark.streaming.incremental import _collect_bucket_sets

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, _corpus(6)), bl, batch_id=0)
    # find a membership bucket the next (tiny) delta will NOT touch — it
    # only joins the cluster of g0@x.com — and plant an orphan there
    delta = [(990, "fresh 0", "g0@x.com")]
    comps = state.read("membership").where("email = 'g0@x.com'").select("component")
    touched_buckets = set(_collect_bucket_sets(state, membership=comps)["membership"])
    orphan_bucket = next(b for b in range(8) if b not in touched_buckets)
    orphan = os.path.join(
        str(tmp_path), "membership", f"bucket={orphan_bucket}", "gen=999"
    )
    os.makedirs(orphan)
    open(os.path.join(orphan, "stale.parquet"), "w").write("x")

    fold_batch(state, _full_persons(spark, delta), bl, batch_id=1)
    assert os.path.isdir(orphan), "commit-time GC must skip untouched buckets"
    writer = IncrementalState(spark, str(tmp_path))
    assert os.path.isdir(orphan), "opening a store must delete nothing"
    fold_batch(writer, _full_persons(spark, delta), bl, batch_id=2)
    assert not os.path.isdir(orphan), "the first commit must sweep orphans"


def _snapshot(root, manifest_path):
    """The manifest's bytes and the store's file listing."""
    with open(manifest_path, "rb") as fh:
        raw = fh.read()
    return raw, sorted(str(p.relative_to(root)) for p in root.rglob("*"))


def _edit_manifest(spark, root, edit):
    """Bootstrap an 8-bucket store at ``root``, apply ``edit`` to its
    manifest dict; return the manifest path."""
    state = IncrementalState(spark, str(root))
    fold_batch(state, _full_persons(spark, _corpus(10)), Blacklist.testing(), batch_id=0)
    with open(state.manifest_path) as fh:
        man = json.load(fh)
    edit(man)
    with open(state.manifest_path, "w") as fh:
        json.dump(man, fh)
    return state.manifest_path


def test_store_without_exact_marker_is_refused(spark, tmp_path):
    """A store whose manifest lacks the exact-mode marker is refused before
    anything is read or written."""
    manifest_path = _edit_manifest(spark, tmp_path, lambda man: man.pop("exact_mode"))
    before = _snapshot(tmp_path, manifest_path)
    old = IncrementalState(spark, str(tmp_path))
    assert not old.exact_mode()
    with pytest.raises(ValueError, match="exact-mode"):
        fold_batch(old, _full_persons(spark, DELTA), Blacklist.testing(), batch_id=1)
    assert _snapshot(tmp_path, manifest_path) == before


def test_store_with_other_layout_is_refused(spark, tmp_path):
    """A manifest that does not record the current bucket columns — every
    store of an earlier layout: one with no recorded columns, the
    four-table layout that also kept a component-bucketed ``cluster_keys``
    copy, or the three-table layout that kept person rows apart in an
    id-bucketed ``persons_silver`` — is refused on open, before anything is
    read or written: probing a table by a column it is not bucketed on
    would under-scope the fold."""
    three_tables = {"persons_silver": "id", "membership": "component", "key_index": "key"}
    four_tables = {
        "persons_silver": "id",
        "membership": "component",
        "cluster_keys": "component",
        "key_index": "key",
    }
    for name, edit in (
        ("no_cols", lambda man: man.pop("bucket_cols")),
        ("four_tables", lambda man: man.update(bucket_cols=four_tables)),
        ("three_tables", lambda man: man.update(bucket_cols=three_tables)),
    ):
        root = tmp_path / name
        manifest_path = _edit_manifest(spark, root, edit)
        before = _snapshot(root, manifest_path)
        with pytest.raises(ValueError, match="layout"):
            IncrementalState(spark, str(root))
        assert _snapshot(root, manifest_path) == before, name


_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _jobs_while(spark, group, build):
    """Run ``build()`` under job group ``group``; return its result and the
    ids of the jobs it started."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        out = build()
        _last_job_in(spark, f"{group}-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _leaf_rows(spark, state, table, buckets):
    """The rows of each named bucket's live leaf, read one leaf at a time."""
    gens = state._manifest["tables"][table]
    schema = state._schema(table)
    rows = []
    for b in buckets:
        if str(b) in gens:
            rows += spark.read.schema(schema).parquet(state._leaf(table, b, gens[str(b)])).collect()
    return sorted(rows)


@pytest.mark.parametrize("threshold", [None, "5"])
def test_state_reads_start_no_listing_job(spark, tmp_path, threshold, store_buckets):
    """Spark lists more than the parallel-discovery threshold's paths with a
    job; the store opens its leaves in groups under it, so building a frame
    of a whole table, or of more than 32 buckets, starts no job — also with
    the threshold lowered so that three or more groups are unioned — and
    reads the same rows as the leaves one by one."""
    store_buckets(64)
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, _corpus(60)), Blacklist.testing(), batch_id=0)
    member_buckets = sorted(int(b) for b in state._manifest["tables"]["membership"])
    assert len(member_buckets) > 32
    assert len(state._manifest["tables"]["key_index"]) > 32
    old = spark.conf.get(_LISTING_THRESHOLD)
    try:
        if threshold is not None:
            spark.conf.set(_LISTING_THRESHOLD, threshold)
        step = int(spark.conf.get(_LISTING_THRESHOLD))
        for table, buckets, build in (
            ("key_index", range(64), lambda: state.read("key_index")),
            ("membership", member_buckets,
             lambda: state.read_buckets("membership", member_buckets)),
        ):
            df, jobs = _jobs_while(spark, f"build-{table}-{threshold}", build)
            assert jobs == [], (table, jobs)
            n_leaves = sum(str(b) in state._manifest["tables"][table] for b in buckets)
            scans = str(df._jdf.queryExecution().analyzed()).count("Relation [")
            assert scans == -(-n_leaves // step), (table, scans, n_leaves)
            if threshold is not None:
                assert scans >= 3
            assert sorted(df.collect()) == _leaf_rows(spark, state, table, buckets)
    finally:
        spark.conf.set(_LISTING_THRESHOLD, old)


def test_store_without_manifest_raises_on_read(spark, tmp_path):
    """Reading a root that holds no committed state names the root instead
    of failing inside the schema lookup."""
    state = IncrementalState(spark, str(tmp_path))
    with pytest.raises(ValueError, match="no committed state"):
        state.read("membership")
    with pytest.raises(ValueError, match=re.escape(str(tmp_path))):
        state.read_buckets("key_index", [0, 1])
