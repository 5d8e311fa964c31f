"""Id and blocking-key collision checks: ``verify_unique_ids`` and the
default-on ``verify_ids`` of ``build_persons`` refuse colliding person ids,
and ``reduce_people``'s ``verify_keys`` refuses colliding 64-bit key
surrogates without tripping on NULL keys — in a from-scratch run and in the
incremental fold's re-resolve alike."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators import cluster as cluster_mod
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.operators.people import build_persons, verify_unique_ids

# --- person ids -------------------------------------------------------------


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


# --- blocking-key surrogates ------------------------------------------------


def _keyed_persons(spark, rows):
    # rows: (id, name_key, email) — name == name_key (pre-qualified)
    return spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows],
        "id long, name string, name_key string, email string",
    )


class TestVerifyKeys:
    def test_null_keys_no_spurious_collision_and_string_semantics(self, spark):
        """NULL name_key/email must neither trip the collision check (ADVICE
        r4) nor cluster via the hash-of-NULL constant: the surrogate stays
        NULL, reproducing the string key's join/group behavior exactly. A
        NULL-email person joins no email block and is kept as a singleton —
        with or without extra edges (one phase-1 path for both)."""
        rows = [
            (1, "alice", "a@x.com"),
            (2, "alicia", "a@x.com"),
            (3, "bob", None),
            (4, "carol", None),
            (5, None, "e@x.com"),
        ]
        persons = _keyed_persons(spark, rows)
        no_edges = spark.createDataFrame([], "src long, dst long")
        for kwargs in ({}, {"extra_edges": no_edges}):
            out = reduce_people(
                persons, Blacklist.testing(), max_identities=None, **kwargs
            )
            comps = {r["id"]: r["component"] for r in out.collect()}
            # 1,2 share an email; 5 clusters alone; the NULL-email rows stay
            # apart (no email equi-join match, not even with each other)
            assert comps[1] == comps[2] == 1, kwargs
            assert comps.get(5) == 5, kwargs
            assert comps[3] == 3 and comps[4] == 4, kwargs

    def test_planted_surrogate_collision_raises(self, spark, monkeypatch):
        rows = [(1, "alice", "a@x.com"), (2, "bob", "b@x.com")]
        real = F.xxhash64
        monkeypatch.setattr(
            cluster_mod.F, "xxhash64", lambda *cols: F.lit(7).cast("long")
        )
        try:
            with pytest.raises(ValueError, match="surrogate collision"):
                reduce_people(
                    _keyed_persons(spark, rows), Blacklist.testing(), max_identities=None
                )
        finally:
            monkeypatch.setattr(cluster_mod.F, "xxhash64", real)


def test_fold_refuses_a_planted_surrogate_collision(spark, tmp_path, monkeypatch, store_buckets):
    """The fold verifies its re-resolve scope's key surrogates as a
    from-scratch run does: a delta email whose code equals a stored email's
    code would pull that email's cluster into the scope and silently merge
    it. The fold must raise before it writes anything."""
    import os

    from identity_matching_spark.operators import blocking
    from identity_matching_spark.streaming.incremental import IncrementalState, fold_batch
    from tests.test_state_store import _full_persons

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path))
    stored = [(1, "alice", "a@x.com"), (2, "bob", "b@x.com")]
    fold_batch(state, _full_persons(spark, stored), bl, batch_id=0)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), tmp_path)
            for d, _, files in os.walk(tmp_path)
            for f in files
        )

    files_before = listing()
    with open(state.manifest_path) as fh:
        manifest_before = fh.read()

    real = blocking.key_surrogate
    b_code = spark.createDataFrame([("b@x.com",)], "email string").select(real("email")).first()[0]

    def planted(key):
        # the delta's c@x.com takes b@x.com's code; every other key is honest
        code = real(key)
        if key != "email":
            return code
        return F.when(F.col("email") == "c@x.com", F.lit(b_code).cast("long")).otherwise(code)

    monkeypatch.setattr(blocking, "key_surrogate", planted)
    with pytest.raises(ValueError, match="surrogate collision"):
        fold_batch(state, _full_persons(spark, [(3, "carol", "c@x.com")]), bl, batch_id=1)
    assert IncrementalState(spark, str(tmp_path)).committed_batch() == 0
    with open(state.manifest_path) as fh:
        assert fh.read() == manifest_before
    assert listing() == files_before
