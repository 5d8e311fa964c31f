"""Delta-scoped incremental clustering (VERDICT r3 #2).

The contract under test: ``fold_batch`` resolves a batch of new person
rows against the resolution kept in an ``IncrementalState`` store at cost
proportional to the TOUCHED clusters — and the membership it keeps is
identical to a from-scratch ``reduce_people`` over the full corpus,
including under the max-identities cap (the closure argument in
streaming/incremental.py).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.streaming.incremental import (
    IncrementalState,
    _touched_closure_bucketed,
    blocking_keys,
    fold_batch,
)
from tests.test_state_store import (
    _SILVER_SCHEMA,
    _TS,
    _corpus,
    _full_persons,
    _kidx_matches_keys,
    _member_set,
)

# every store a test here opens has 8 buckets unless the test sets more
pytestmark = pytest.mark.usefixtures("store_buckets")

BL = Blacklist.testing()


def _fold_batches(spark, root, batches, max_identities=20):
    """Bootstrap an 8-bucket store at ``root`` from batch 0, fold the rest;
    return (state, metrics of the last fold)."""
    state = IncrementalState(spark, str(root))
    metrics = None
    for batch_id, rows in enumerate(batches):
        metrics = fold_batch(
            state, _full_persons(spark, rows), BL, max_identities=max_identities,
            batch_id=batch_id, collect_metrics=True,
        )
    return state, metrics


def test_incremental_equals_from_scratch_mixed_links(spark, tmp_path):
    """Three batches with email links, name links, and cross-batch links —
    the folded result must equal one from-scratch resolution."""
    b0 = [
        (1, "a one", "e1@x.com"),
        (2, "a two", "e1@x.com"),       # email link with 1
        (3, "a two", "e3@x.com"),       # name link with 2
        (4, "b one", "e4@x.com"),       # singleton
        (5, "c one", "e5@x.com"),
    ]
    b1 = [
        (6, "z one", "e5@x.com"),       # email-links to old cluster of 5
        (7, "q one", "e7@x.com"),       # new singleton
        (8, "a one", "e8@x.com"),       # name-links to old cluster {1,2,3}
    ]
    b2 = [
        (9, "q one", "e4@x.com"),       # BRIDGES old singleton 4 and cluster {7}
        (10, "new", "e10@x.com"),       # new singleton
    ]
    state, _ = _fold_batches(spark, tmp_path, [b0, b1, b2])
    got = state.read("membership")
    want = reduce_people(_full_persons(spark, b0 + b1 + b2), BL, max_identities=20)
    assert _member_set(got) == _member_set(want)
    # membership rows are unique per person — no pass-through duplicates
    assert got.count() == got.select("id").distinct().count()
    # the incrementally-maintained key_index equals a from-scratch derivation
    assert _kidx_matches_keys(state, BL)


def test_incremental_equals_from_scratch_under_cap(spark, tmp_path):
    """Cap-split blocks are the hard case: clusters that SHARE a blocking
    key but were separated by the max-identities cap must all re-enter the
    recompute scope (closure hop > 1), or the greedy re-packs differently
    than from-scratch."""
    # 6 email-pair components all sharing one name block "shared nm";
    # cap=4 packs them greedily into two clusters of 3 components each.
    rows = []
    pid = 1
    for c in range(6):
        rows.append((pid, f"nm {c}a", f"pair{c}@x.com")); pid += 1
        rows.append((pid, "shared nm", f"pair{c}@x.com")); pid += 1
    # delta: one new person in the shared name block re-packs the greedy
    delta = [(100, "shared nm", "new@x.com")]
    state, _ = _fold_batches(spark, tmp_path, [rows, delta], max_identities=4)
    want = reduce_people(_full_persons(spark, rows + delta), BL, max_identities=4)
    assert _member_set(state.read("membership")) == _member_set(want)


def test_fold_cost_scales_with_delta(spark, tmp_path):
    """200 independent 3-row clusters; a 5-row delta touching 5 of them.
    The recompute scope must be those 5 clusters + the delta — never the
    corpus."""
    rows = [
        (3 * g + j, f"name {g} {j}", f"g{g}@x.com") for g in range(200) for j in range(3)
    ]
    delta = [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(5)]
    state, metrics = _fold_batches(spark, tmp_path, [rows, delta])
    assert metrics["touched_clusters"] == 5
    assert metrics["scope_rows"] == 5 * 3 + 5      # touched members + delta
    assert metrics["delta_rows"] == 5
    assert metrics["hops"] == 1                    # no cap-chaining here
    # equality still holds
    want = reduce_people(_full_persons(spark, rows + delta), BL, max_identities=20)
    assert _member_set(state.read("membership")) == _member_set(want)


def test_untouched_cluster_rows_pass_through_verbatim(spark, tmp_path):
    """Rows of untouched clusters must be the SAME rows (id, component,
    external_id), not recomputed lookalikes — id stability across batches."""
    rows = [(i, f"n {i}", f"e{i % 10}@x.com") for i in range(30)]
    state, _ = _fold_batches(spark, tmp_path, [rows])
    before = set(state.read("membership").collect())
    # touches e0's cluster only
    m = fold_batch(
        state, _full_persons(spark, [(999, "n 0", "e0@x.com")]), BL,
        batch_id=1, collect_metrics=True,
    )
    after = set(state.read("membership").collect())
    untouched_before = {r for r in before if r["id"] % 10 != 0}
    assert untouched_before <= after
    assert m["touched_clusters"] == 1


def test_closure_converges_and_reports_hops(spark, tmp_path):
    """A delta key held by one cluster pulls it in at the first hop; its
    remaining keys pull nothing new, so the closure stops there."""
    rows = [(1, "na", "e1@x.com"), (2, "nb", "e1@x.com"), (3, "nb", "e3@x.com")]
    _, metrics = _fold_batches(spark, tmp_path, [rows, [(9, "zz", "e3@x.com")]])
    assert metrics["touched_clusters"] == 1  # {1,2,3} is one cluster
    assert metrics["hops"] == 1


def test_closure_walks_a_second_hop_through_a_shared_name(spark, tmp_path):
    """Four email-pair components share the name block "shared nm"; cap=4
    packs them into two clusters that both hold it. A delta email-linked to
    the first cluster only must reach the second through the first
    cluster's members' keys: two hops, both clusters re-resolved."""
    rows = []
    pid = 1
    for c in range(4):
        rows.append((pid, f"nm {c}a", f"pair{c}@x.com")); pid += 1
        rows.append((pid, "shared nm", f"pair{c}@x.com")); pid += 1
    delta = [(100, "other", "pair0@x.com")]
    state, metrics = _fold_batches(spark, tmp_path, [rows, delta], max_identities=4)
    assert metrics["hops"] == 2
    assert metrics["touched_clusters"] == 2
    want = reduce_people(_full_persons(spark, rows + delta), BL, max_identities=4)
    assert _member_set(state.read("membership")) == _member_set(want)


def test_maintenance_cost_tracks_delta_not_corpus(spark, tmp_path, store_buckets):
    """The re-arrival merge groupBy must shuffle colliding ∪ delta rows only,
    and bucket rewrites must touch O(delta) buckets — on a 600-row corpus
    AND on a 60-row corpus the numbers are the same."""
    bl = Blacklist.testing()
    store_buckets(16)
    for n_groups, root in ((200, tmp_path / "big"), (20, tmp_path / "small")):
        rows = _corpus(n_groups)
        # delta: 3 fresh persons + 2 exact re-arrivals (id collision)
        delta_rows = [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(3)]
        rearrive = [rows[0], rows[3]]
        state = IncrementalState(spark, str(root))
        fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
        m = fold_batch(
            state,
            _full_persons(spark, delta_rows + rearrive),
            bl,
            batch_id=1,
            collect_metrics=True,
        )
        # merge input = colliding membership rows (2) + delta rows (5)
        assert m["merge_rows"] == 7, (n_groups, m)
        assert m["delta_rows"] == 5
        # bucket rewrites bounded by the delta's spread, not the corpus
        assert m["member_buckets"] <= 5
        assert state.read("membership").count() == n_groups * 3 + 3


def test_fold_reads_track_delta_not_corpus(spark, tmp_path, store_buckets):
    """VERDICT r5 #1: the fold must READ O(delta) buckets, not the corpus.
    Identical deltas over a 10x-larger corpus must probe the same number
    of state buckets, key_index must equal the (component, key) relation
    derived from scratch and membership must hold one row per id."""
    bl = Blacklist.testing()
    reads = {}
    store_buckets(16)
    for n_groups, root in ((200, tmp_path / "big"), (20, tmp_path / "small")):
        rows = _corpus(n_groups)
        delta_rows = [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(3)]
        state = IncrementalState(spark, str(root))
        fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
        m = fold_batch(
            state, _full_persons(spark, delta_rows), bl, batch_id=1,
            collect_metrics=True,
        )
        reads[n_groups] = m["buckets_read"]
        got = state.read("membership")
        assert got.count() == got.select("id").distinct().count()
        assert _kidx_matches_keys(state, bl)
    # same delta, same probe volume — reads are delta-scoped
    assert reads[200] == reads[20], reads
    # and far below a full sweep of all tables x hops
    assert reads[200] <= 3 * 16, reads


def test_popular_rearrival_replaces_its_singleton_row(spark, tmp_path):
    """A re-arriving id whose keys are all popular seeds no closure, so its
    old component is not touched: its old singleton row must still be
    replaced (it lies in the bucket of its own id, which is also its
    rescoped component), not kept next to the rescoped row."""
    bl = Blacklist(
        domains=frozenset(), top_level_domains=frozenset(), names=frozenset(),
        emails=frozenset(), popular_emails=frozenset({"pop@x.com"}),
        popular_names=frozenset({"popname"}),
    )
    rows = [(1, "popname", "pop@x.com"), (2, "other", "o@x.com")]
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    # id 1 re-arrives alone: all-popular keys, no closure seeds
    m = fold_batch(
        state, _full_persons(spark, [rows[0]]), bl, batch_id=1,
        collect_metrics=True,
    )
    assert m["touched_clusters"] == 0
    # no closure probe: the one bucket read is the rewrite's membership read
    assert m["buckets_read"] == m["member_buckets"] == 1
    got = state.read("membership")
    assert got.count() == got.select("id").distinct().count()
    want = reduce_people(_full_persons(spark, rows), bl, max_identities=20)
    assert _member_set(got) == _member_set(want)
    assert _kidx_matches_keys(state, bl)


def test_rearrival_merges_into_one_membership_row(spark, tmp_path):
    """A keyed id and an all-popular id re-sent with a later ``ts`` and a
    larger ``hash`` each keep one membership row, carrying the max of both
    (the keyed one's old row is found through the closure, the popular
    one's in the bucket of its own id), and the membership still equals a
    from-scratch resolution."""
    bl = Blacklist(
        domains=frozenset(), top_level_domains=frozenset(), names=frozenset(),
        emails=frozenset(), popular_emails=frozenset({"pop@x.com"}),
        popular_names=frozenset({"popname"}),
    )
    rows = [(1, "popname", "pop@x.com"), (2, "n two", "e2@x.com"), (3, "n two", "e3@x.com")]
    state = IncrementalState(spark, str(tmp_path))
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    later = _TS + dt.timedelta(days=1)
    resent = spark.createDataFrame(
        [(i, "ch0", n, e, n, False, f"z{i}", later) for i, n, e in rows[:2]],
        _SILVER_SCHEMA,
    )
    m = fold_batch(state, resent, bl, batch_id=1, collect_metrics=True)
    assert m["merge_rows"] == 4  # two old rows + two re-sent rows
    got = state.read("membership")
    by_id = {r["id"]: r for r in got.collect()}
    assert got.count() == len(by_id) == 3
    assert [(by_id[i]["hash"], by_id[i]["ts"]) for i in (1, 2, 3)] == [
        ("z1", later), ("z2", later), ("h3", _TS)
    ]
    want = reduce_people(_full_persons(spark, rows), bl, max_identities=20)
    assert _member_set(got) == _member_set(want)
    assert _kidx_matches_keys(state, bl)


def test_streaming_driver_folds_incrementally(spark, tmp_path):
    """End-to-end through run_incremental_resolution: file-source stream,
    two slices, final membership equals a from-scratch resolution of the
    merged bronze signatures."""
    from identity_matching_spark.operators.people import build_persons, dedup_signatures
    from identity_matching_spark.sources.synth import synth_transcripts
    from identity_matching_spark.streaming.incremental import run_incremental_resolution

    t = synth_transcripts(spark, n_convs=400, n_persons=40, seed=31)
    # far-future sentinel so the event-time watermark passes every real
    # session and append-mode emits them (same trick as test_streaming)
    sentinel = t.limit(1).select(
        F.lit("zzz-sentinel").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("name: Sentinel\nemail: s@s.org").alias("text"),
        F.lit("").alias("tool"),
        F.lit("2030-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    t = t.unionByName(sentinel)
    src = str(tmp_path / "turns")
    t.write.parquet(src)
    stream = spark.readStream.schema(t.schema).parquet(src)
    store = str(tmp_path / "store")
    q = run_incremental_resolution(spark, stream, store, trigger_seconds=1)
    # availableNow isn't used by the driver (processingTime trigger);
    # wait for the single file-source batch to drain, then stop
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p["numInputRows"] == 0 and p["batchId"] > 0:
            break
        time.sleep(2)
    q.stop()

    got = IncrementalState(spark, store).read("membership")
    bronze = spark.read.parquet(f"{store}/signatures_bronze")
    assert bronze.count() > 100, "sessions must actually have flushed"
    # the stream extractor's signature columns, plus the bronze partition
    assert bronze.columns == ["repo", "name", "email", "hash", "ts", "conv_id", "batch_id"]
    persons = build_persons(
        dedup_signatures(
            bronze.where((F.col("name") != "") & (F.col("email") != "")).select(
                "repo", "name", "email", "hash", "ts"
            )
        ),
        Blacklist.default(),
    )
    want = reduce_people(persons, Blacklist.default(), max_identities=20)
    assert _member_set(got) == _member_set(want)


def test_empty_delta_folds_to_zero_metrics(spark, tmp_path):
    """An empty batch folds as a no-op, and its metrics read 0: the frames
    the fold's Observations count are empty, which AQE prunes from the
    plans they ride on."""
    rows = [(1, "n one", "e1@x.com"), (2, "n one", "e2@x.com")]
    state, _ = _fold_batches(spark, tmp_path, [rows])
    before = _member_set(state.read("membership"))
    # batch 0 is a replay here, skipped
    state, metrics = _fold_batches(spark, tmp_path, [rows, []])
    assert {k: metrics[k] for k in ("hops", "touched_clusters", "scope_rows",
                                    "delta_rows", "merge_rows", "buckets_read")} == {
        "hops": 0, "touched_clusters": 0, "scope_rows": 0, "delta_rows": 0,
        "merge_rows": 0, "buckets_read": 0,
    }
    assert _member_set(state.read("membership")) == before


def test_popular_key_rearrival_no_duplicate_rows(spark, tmp_path):
    """A re-arriving person whose keys are ALL popular seeds no closure, so
    its old membership row is untouched while the scope run also resolves
    it — the fold must emit it exactly once (and identically)."""
    rows = [
        (1, "popular", "popular@email.com"),  # both keys popular → singleton
        (2, "n two", "e2@x.com"),
        (3, "n two", "e3@x.com"),
    ]
    # same id re-arrives
    state, metrics = _fold_batches(
        spark, tmp_path, [rows, [(1, "popular", "popular@email.com")]]
    )
    out = state.read("membership")
    assert metrics["touched_clusters"] == 0
    assert out.count() == out.select("id").distinct().count() == 3
    want = reduce_people(_full_persons(spark, rows), BL, max_identities=20)
    assert _member_set(out) == _member_set(want)


def _closure_by_hand(state, delta, bl):
    """The closure walked on the driver over full reads of both tables:
    (touched components, hops), hops counted as the store's closure counts
    them (the index of the hop that found nothing new)."""
    comps_of, keys_of = {}, {}
    for r in state.read("key_index").collect():
        comps_of.setdefault(r["key"], set()).add(r["component"])
    for r in blocking_keys(state.read("membership"), bl, "component").collect():
        keys_of.setdefault(r["component"], set()).add(r["key"])
    frontier = {r["key"] for r in blocking_keys(delta, bl, "id").collect()}
    touched = set()
    hops = 0
    while frontier:
        new = set().union(*(comps_of.get(k, set()) for k in frontier)) - touched
        if not new:
            break
        touched |= new
        frontier = set().union(*(keys_of.get(c, set()) for c in new))
        hops += 1
    return touched, hops


_CAP_ROWS = [
    row
    for c in range(4)
    for row in ((2 * c + 1, f"nm {c}a", f"pair{c}@x.com"), (2 * c + 2, "shared nm", f"pair{c}@x.com"))
]


@pytest.mark.parametrize(
    "batches, max_identities, hops",
    [
        # bridges an old singleton and a cluster of the previous fold
        ([[(1, "a one", "e1@x.com"), (4, "b one", "e4@x.com"), (5, "c one", "e5@x.com")],
          [(6, "z one", "e5@x.com"), (7, "q one", "e7@x.com")],
          [(9, "q one", "e4@x.com"), (10, "new", "e10@x.com")]], 20, 1),
        # cap-split clusters reached through a shared name: a second hop
        ([_CAP_ROWS, [(100, "other", "pair0@x.com")]], 4, 2),
        # five of 200 clusters
        ([[(3 * g + j, f"name {g} {j}", f"g{g}@x.com") for g in range(200) for j in range(3)],
          [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(5)]], 20, 1),
        # all-popular keys seed nothing
        ([[(1, "popular", "popular@email.com"), (2, "n two", "e2@x.com")],
          [(1, "popular", "popular@email.com")]], 20, 0),
    ],
    ids=["bridge", "second-hop", "five-of-200", "all-popular"],
)
def test_closure_matches_a_driver_side_walk(spark, tmp_path, batches, max_identities, hops):
    """The bucket-probing closure returns the touched components (with
    their membership buckets), the member rows and the hop count of a
    closure walked by hand over full reads of the store."""
    state, _ = _fold_batches(spark, tmp_path, batches[:-1], max_identities=max_identities)
    delta = _full_persons(spark, batches[-1])
    touched, scope, got_hops, _ = _touched_closure_bucketed(state, delta, BL)
    want_touched, want_hops = _closure_by_hand(state, delta, BL)
    assert set(touched) == want_touched
    assert got_hops == want_hops == hops
    members = state.read("membership")
    buckets = members.select("component", state.bucket_expr("membership").alias("b")).collect()
    assert touched == {r["component"]: r["b"] for r in buckets if r["component"] in touched}
    want_scope = members.where(F.col("component").isin(list(touched)))
    assert sorted(scope.collect()) == sorted(want_scope.collect())
