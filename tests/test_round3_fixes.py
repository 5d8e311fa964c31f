"""Round-3 hardening: SF-aware golden oracles, per-class edge counters and
Iceberg-table checkpoint mode (the id-collision checks live in
test_key_checks.py, the external-match cache tests in
test_match_cache.py)."""

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.reporter import Reporter
from identity_matching_spark.sources.io import CheckpointStore


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
