"""Signature CSV cache roundtrip (S2/S3) — semantics of
/root/reference/people.go:444-579 and people_test.go:181-211: normalization
happens at read time; rows with empty fields or bad timestamps are dropped."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.sources.io import (
    CheckpointStore,
    read_signature_cache,
    write_signature_cache,
)


def test_cache_roundtrip_normalizes_and_drops(spark, tmp_path):
    rows = [
        ("repo1", "Máximo  Cuadros", "MC@Gmail.com", "aaa", dt.datetime(2019, 1, 1)),
        ("repo2", "bob", "bob@google.com", "bbb", dt.datetime(2019, 2, 1)),
        ("", "noname", "x@y.com", "ccc", dt.datetime(2019, 3, 1)),  # empty repo → dropped
        ("repo3", "", "x@y.com", "ddd", dt.datetime(2019, 3, 1)),  # empty name → dropped
    ]
    df = spark.createDataFrame(
        rows, "repo string, name string, email string, hash string, ts timestamp"
    )
    path = str(tmp_path / "cache")
    write_signature_cache(df, path)
    back = read_signature_cache(spark, path)
    got = {(r["repo"], r["name"], r["email"], r["hash"]) for r in back.collect()}
    assert got == {
        ("repo1", "maximo cuadros", "mc@gmail.com", "aaa"),
        ("repo2", "bob", "bob@google.com", "bbb"),
    }
    ts = {r["repo"]: r["ts"] for r in back.collect()}
    assert ts["repo1"] == dt.datetime(2019, 1, 1)


def test_cache_drops_unparseable_time(spark, tmp_path):
    p = tmp_path / "cache2"
    p.mkdir()
    (p / "part.csv").write_text(
        "repo,name,email,hash,time\n"
        "r1,alice,a@b.com,h1,2019-01-01T00:00:00Z\n"
        "r2,bob,b@b.com,h2,not-a-time\n"
    )
    back = read_signature_cache(spark, str(p))
    names = [r["name"] for r in back.collect()]
    assert names == ["alice"]


def test_bucketed_join_is_shuffle_free(spark, tmp_path, monkeypatch):
    """Bucketed tables joined on the bucket key must not re-shuffle either
    side (SortMergeJoin over pre-bucketed scans — no Exchange)."""
    from pyspark.sql import functions as F

    from identity_matching_spark.sources import io
    from identity_matching_spark.sources.io import write_bucketed_table

    a = spark.range(5000).select(F.col("id"), (F.col("id") % 7).alias("x"))
    b = spark.range(5000).select(F.col("id"), (F.col("id") % 11).alias("y"))
    monkeypatch.setattr(io, "N_BUCKETS", 8)
    write_bucketed_table(a, "t_aliases", ["id"])
    write_bucketed_table(b, "t_identities", ["id"])
    # broadcast would bypass bucketing — force the shuffle-join path
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_aliases").join(spark.table("t_identities"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() == 5000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS t_aliases")
        spark.sql("DROP TABLE IF EXISTS t_identities")


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
        # UNSUPPORTED_FEATURE.TABLE_OPERATION (io.py _create_or_replace);
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
