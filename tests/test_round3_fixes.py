"""Round-3 hardening: default-on id-collision safety, external-match cache
merge semantics (external/cache.go:153-259), SF-aware golden oracles,
per-class edge counters and Iceberg-table checkpoint mode."""

import os

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.operators.people import build_persons, verify_unique_ids
from identity_matching_spark.reporter import Reporter
from identity_matching_spark.sources.io import (
    CheckpointStore,
    external_ids_from_cache,
    read_match_cache,
    write_match_cache,
)


# --- id-collision safety (default on) -------------------------------------


def test_verify_unique_ids_raises_on_duplicate(spark):
    df = spark.createDataFrame([(1,), (2,), (2,)], "id long")
    with pytest.raises(ValueError, match="collision"):
        verify_unique_ids(df)
    verify_unique_ids(df.where(F.col("id") != 2))  # distinct ids pass


def test_build_persons_planted_collision_raises(spark, monkeypatch):
    """Pipeline-level: degrade the id hash to a constant → two distinct
    cleaned triplets collide → the default verify_ids must refuse to let
    them fuse into one graph node."""
    import pyspark.sql.functions as SF

    real = SF.xxhash64
    monkeypatch.setattr(SF, "xxhash64", lambda *cols: real(F.lit(1)))
    rows = [
        ("r", "Alice", "alice@good.org", "h1", None),
        ("r", "Bob", "bob@good.org", "h2", None),
    ]
    df = spark.createDataFrame(
        rows, "repo string, name string, email string, hash string, ts timestamp"
    )
    with pytest.raises(ValueError, match="collision"):
        build_persons(df, Blacklist.default()).count()


# --- external-match cache (J4 persistence) ---------------------------------


def _write_csv(path, rows):
    with open(path, "w") as fh:
        fh.write("email,user,match\n")
        for r in rows:
            fh.write(",".join(r) + "\n")


def test_match_cache_last_row_wins_on_read(spark, tmp_path):
    """The reference loader maps email → last CSV occurrence
    (cache.go:178-198): appended corrections override earlier rows."""
    p = str(tmp_path / "cache.csv")
    _write_csv(p, [("a@x", "ua", "1"), ("b@x", "ub", "0"), ("a@x", "ua2", "1")])
    got = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, p).collect()}
    assert got == {"a@x": ("ua2", True), "b@x": ("ub", False)}


def test_match_cache_read_merge_rewrite(spark, tmp_path):
    """DumpOnDisk semantics: identical entries are kept once, changed
    entries are overridden by the update, untouched entries survive, new
    entries appear (cache.go:204-259)."""
    p = str(tmp_path / "cache.csv")
    _write_csv(p, [("a@x", "ua", "1"), ("b@x", "ub", "0"), ("d@x", "ud", "1")])
    updates = spark.createDataFrame(
        [("a@x", "ua", True), ("b@x", "ub", True), ("c@x", "uc", True)],
        "email string, user string, matched boolean",
    )
    write_match_cache(spark, p, updates)
    back = {r["email"]: (r["user"], r["matched"]) for r in read_match_cache(spark, p).collect()}
    assert back == {
        "a@x": ("ua", True),   # identical — kept
        "b@x": ("ub", True),   # changed — update wins
        "c@x": ("uc", True),   # new
        "d@x": ("ud", True),   # untouched — survives
    }
    # resumed-run contract: positive entries feed J4's static lookup
    ext = external_ids_from_cache(read_match_cache(spark, p))
    assert {r["email"] for r in ext.collect()} == {"a@x", "b@x", "c@x", "d@x"}


# --- SF-aware golden oracle map --------------------------------------------


def test_oracle_sql_omits_sf_coupled_goldens_at_other_sf(monkeypatch):
    import __spark_entry__ as entry
    from identity_matching_spark.plans.golden_oracles import SF_COUPLED

    monkeypatch.delenv("SPARK_GRAFT_SF_DIR", raising=False)
    at_default = entry.oracle_sql()
    assert SF_COUPLED <= set(at_default)

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    at_other = entry.oracle_sql()
    assert not (SF_COUPLED & set(at_other))
    # SF-independent goldens stay regardless of scale
    assert "q22_max_identities_cap" in at_other


# --- per-class edge counters ------------------------------------------------


def _persons(spark, rows):
    return spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows],
        "id long, name string, name_key string, email string",
    )


def test_edge_class_counters_fast_path(spark):
    persons = _persons(
        spark,
        [
            (1, "n one", "p1@google.com"),
            (2, "n oneb", "p1@google.com"),  # shares email → 1 J1 edge
            (3, "n two", "p2@google.com"),
            (4, "n two", "p3@google.com"),   # shares name → 1 J2 edge
        ],
    )
    rep = Reporter(spark)
    reduce_people(persons, Blacklist.testing(), max_identities=20, reporter=rep).count()
    r = rep.report()
    assert r["graph edges by email (J1)"] == 1
    assert r["graph edges by name (J2)"] == 1
    assert r["graph edges anonymous merge (J3)"] == 0
    assert r["graph edges"] == 1  # name-pass edges (reference matching.go:283)


def test_edge_class_counters_with_external_ids(spark):
    persons = _persons(
        spark,
        [
            (1, "n one", "p1@google.com"),
            (2, "n oneb", "p1@google.com"),  # matched email block (occupancy J1 = 1)
            (3, "n two", "p2@google.com"),
            (4, "n two", "p3@google.com"),   # J2 edge
            (5, "n three", "p5@google.com"),  # ext E5
            (6, "n three", "p6@google.com"),  # anonymous → J3 edge with 5
        ],
    )
    ext = spark.createDataFrame(
        [("p1@google.com", "EXT1"), ("p5@google.com", "E5")],
        "email string, external_id string",
    )
    rep = Reporter(spark)
    reduce_people(
        persons, Blacklist.testing(), max_identities=20, external_ids=ext, reporter=rep
    ).count()
    r = rep.report()
    assert r["graph edges by email (J1)"] == 1
    assert r["graph edges by name (J2)"] == 1
    assert r["graph edges anonymous merge (J3)"] == 1
    assert r["graph edges"] == 2


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
