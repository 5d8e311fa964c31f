"""``CheckpointStore`` (S4 cache-or-source): durable CC iteration
checkpoints and the catalog-table backend."""

import os
import shutil

import pytest

from identity_matching_spark.sources.io import CheckpointStore


@pytest.mark.usefixtures("cc_loop")
def test_cc_durable_iteration_checkpoints(spark, tmp_path):
    """With a store, CC iterations checkpoint durably under a
    graph-fingerprinted key and the scaffolding is removed on convergence
    (resume + fingerprint-isolation semantics: tests/test_cc_checkpoint.py)."""
    import glob

    from identity_matching_spark.operators.cc import connected_components
    from identity_matching_spark.sources.io import CheckpointStore

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], "src long, dst long")
    store = CheckpointStore(spark, str(tmp_path), {"cc": "test"})
    out1 = connected_components(edges, store=store, stage_prefix="cc_t")
    comps1 = {r["id"]: r["component"] for r in out1.collect()}
    assert set(comps1.values()) == {0}
    # converged: iteration scaffolding deleted (a later run with a different
    # graph can never resume from it)
    assert not glob.glob(str(tmp_path / "cc_t_*iter*"))
    # idempotent re-run on the same graph
    out2 = connected_components(edges, store=store, stage_prefix="cc_t")
    comps2 = {r["id"]: r["component"] for r in out2.collect()}
    assert comps2 == comps1


# --- CheckpointStore table mode ---------------------------------------------


def test_checkpoint_store_table_mode(spark, tmp_path):
    store = CheckpointStore(
        spark, str(tmp_path), {"t": 3}, table_prefix="spark_catalog.default"
    )
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    stage = "r3_tbl_stage"
    try:
        # no v2 catalog ships in this sandbox: the write exercises the
        # documented drop+saveAsTable fallback for
        # UNSUPPORTED_FEATURE.TABLE_OPERATION (io.py CheckpointStore._save);
        # any other failure is a real bug and fails the test (ADVICE r3).
        out = store.write(stage, df)
        assert store.exists(stage)
        assert sorted(r["id"] for r in out.collect()) == [1, 2]
        assert sorted(r["id"] for r in store.read(stage).collect()) == [1, 2]
        resumed = store.get_or_compute(stage, lambda: (_ for _ in ()).throw(AssertionError))
        assert resumed.count() == 2
    finally:
        store.delete(stage)
        store.delete(f"{stage}_metrics")
        assert not store.exists(stage)


def test_resumed_stage_replays_its_counters(spark, tmp_path):
    """A computed stage keeps the reporter counters it committed in its
    ``_metrics`` sidecar, also when its output is empty, and a resumed one
    commits them again."""
    from identity_matching_spark.reporter import Reporter

    store = CheckpointStore(spark, str(tmp_path), {"t": 1})
    fresh = Reporter(spark)
    fresh.commit("before the stage", 1)

    def compute():
        fresh.commit("stage counter", 7)
        return spark.createDataFrame([], "id long")

    assert store.get_or_compute("empty", compute, fresh).count() == 0
    resumed = Reporter(spark)
    store.get_or_compute("empty", lambda: (_ for _ in ()).throw(AssertionError), resumed)
    assert resumed.report() == {"stage counter": 7}
    sidecar = store.read("empty_metrics").collect()
    assert [(r["stage"], r["partition"], r["rows"]) for r in sidecar] == [("empty", None, None)]

    # a sidecar written before counters were kept: nothing to replay
    store.read("empty_metrics").drop("counters").write.mode("overwrite").parquet(
        str(tmp_path / "old_metrics")
    )
    shutil.rmtree(store.path("empty_metrics"))
    os.replace(str(tmp_path / "old_metrics"), store.path("empty_metrics"))
    older = Reporter(spark)
    assert store.get_or_compute("empty", lambda: None, older).count() == 0
    assert older.report() == {}

    # a stage whose sidecar is missing (a crash between the two writes) is
    # computed again, and its counters kept
    store.delete("empty_metrics")
    again = Reporter(spark)

    def recompute():
        again.commit("stage counter", 7)
        return spark.createDataFrame([], "id long")

    assert store.get_or_compute("empty", recompute, again).count() == 0
    assert again.report() == {"stage counter": 7}
    assert store.exists("empty_metrics")
