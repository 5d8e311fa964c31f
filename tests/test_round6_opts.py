"""Round-6 optimization equivalence pins.

1. Email-block contraction before the phase-1 CC (operators/cluster.py):
   reduce_people now collapses every non-popular/non-matched email block to
   its hub (min id) and runs the iterative CC over matcher/similarity edges
   mapped to hub super-nodes. Edge contraction preserves connectivity and
   min-id labels, so membership must be byte-identical — pinned here against
   the independent union-find simulator WITH extra_edges (similarity mode),
   the combination the pre-existing parity suite did not cover.

2. Single-component name-block prune: blocks whose phase-1 component count
   is 1 can emit no merge edge on any path (star: src == dst; J3: needs two
   ext groups; greedy: one accumulator, zero edges), so they are dropped
   before the safe/unsafe split. Pinned: an over-cap single-component block
   yields the same membership as an uncapped run (no merges possible either
   way), and multi-component blocks still merge under the cap.
"""

import random


from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from tests.test_reference_parity import _random_persons


def simulate_with_extra(persons, popular_emails, popular_names, extra_edges):
    """Reference simulator + similarity edges joining the email phase."""
    # extra edges are uncapped phase-1 edges (like email edges): replay the
    # documented semantics directly with a union-find.
    parent = {pid: pid for pid, _, _ in persons}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_email = {}
    for pid, _, email in persons:
        if email in popular_emails:
            continue
        by_email.setdefault(email, []).append(pid)
    for group in by_email.values():
        for x in group[1:]:
            union(group[0], x)
    for a, b in extra_edges:
        union(a, b)

    by_name: dict[str, set[int]] = {}
    for pid, name_key, _ in persons:
        if name_key in popular_names:
            continue
        by_name.setdefault(name_key, set()).add(find(pid))
    for comps in by_name.values():
        first = min(comps)
        for c in comps:
            union(first, c)
    return {pid: find(pid) for pid, _, _ in persons}


def test_parity_with_extra_edges(spark):
    """Contaction path with similarity edges: engine == union-find."""
    for seed in (21, 22, 23):
        rng = random.Random(seed)
        persons = _random_persons(rng, 60)
        ids = [p[0] for p in persons]
        extra = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.choice(ids), rng.choice(ids)) for _ in range(25)
                )
                if a != b
            }
        )
        popular_emails = {"e0@x.com"}
        popular_names = {"name0"}
        bl = Blacklist(
            domains=frozenset(), top_level_domains=frozenset(), names=frozenset(),
            emails=frozenset(), popular_emails=frozenset(popular_emails),
            popular_names=frozenset(popular_names),
        )
        df = spark.createDataFrame(
            [(i, n, n, e) for i, n, e in persons],
            "id long, name string, name_key string, email string",
        )
        extra_df = spark.createDataFrame(extra, "src long, dst long")
        got = {
            r["id"]: r["component"]
            for r in reduce_people(
                df, bl, max_identities=None, extra_edges=extra_df
            ).collect()
        }
        want = simulate_with_extra(persons, popular_emails, popular_names, extra)
        assert got == want, f"seed {seed}"


def _bl_empty():
    return Blacklist(
        domains=frozenset(), top_level_domains=frozenset(), names=frozenset(),
        emails=frozenset(), popular_emails=frozenset(), popular_names=frozenset(),
    )


def test_single_component_blocks_pruned(spark):
    """An over-cap block holding ONE phase-1 component merges nothing — the
    capped result equals the uncapped result (and phase-1 membership)."""
    # 30 persons, one shared email (one phase-1 component), one shared name;
    # 30 distinct emails + the name → weight 31 > cap 4.
    rows = [(i, "samename", "samename", "shared@x.com") for i in range(1, 16)]
    rows += [(i, "samename", "samename", f"e{i}@x.com") for i in range(16, 31)]
    df = spark.createDataFrame(
        rows, "id long, name string, name_key string, email string"
    )
    # extra edges chain everyone into a single phase-1 component
    extra = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "src long, dst long"
    )
    capped = {
        r["id"]: r["component"]
        for r in reduce_people(df, _bl_empty(), max_identities=4, extra_edges=extra).collect()
    }
    uncapped = {
        r["id"]: r["component"]
        for r in reduce_people(df, _bl_empty(), max_identities=None, extra_edges=extra).collect()
    }
    assert capped == uncapped == {i: 1 for i in range(1, 31)}


def test_multi_component_overcap_block_still_greedy(spark):
    """Multi-component over-cap blocks must still reach the greedy packer:
    same fixture as q22 (reference mega-cluster), unchanged semantics."""
    rows = [
        (1, "Bob", "Bob2@google.com"), (2, "Bob 1", "Bob@google.com"),
        (3, "Bob 2", "Bob@google.com"), (4, "Bob 3", "Bob@google.com"),
        (5, "Bob", "Bob@google.com"), (6, "Bob", "Bob3@google.com"),
        (7, "Bob", "Bob4@google.com"), (8, "Alice 1", "alice@google.com"),
        (9, "Alice 2", "alice@google.com"), (10, "Alice 2", "alice1@google.com"),
    ]
    persons = spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows],
        "id long, name string, name_key string, email string",
    )
    out = reduce_people(persons, Blacklist.testing(), max_identities=4)
    got = {r["id"]: r["component"] for r in out.collect()}
    # pinned by plans/golden_oracles q22 golden: greedy packs the Bob block
    # deterministically under the cap
    assert len(set(got.values())) >= 2
    assert got[2] == got[3] == got[4] == got[5]


# --- round-6 delta-scoped incremental fold (reads track the delta) --------

import json

from identity_matching_spark.streaming.incremental import (
    IncrementalState,
    fold_batch,
)
from tests.test_round5_fixes import _full_persons, _member_set


def _corpus(n_groups):
    rows = []
    pid = 0
    for g in range(n_groups):
        for j in range(3):
            rows.append((pid, f"name {g} {j}", f"g{g}@x.com"))
            pid += 1
    return rows


def _mbc_matches_membership(state):
    m = {(r["id"], r["component"]) for r in state.read("membership").collect()}
    c = {(r["id"], r["component"]) for r in state.read("members_by_comp").collect()}
    return m == c


def _kidx_matches_keys(state):
    k = {(r["component"], r["key"]) for r in state.read("cluster_keys").collect()}
    i = {(r["component"], r["key"]) for r in state.read("key_index").collect()}
    return k == i


def test_fold_reads_track_delta_not_corpus(spark, tmp_path):
    """VERDICT r5 #1: the fold must READ O(delta) buckets, not the corpus.
    Identical deltas over a 10x-larger corpus must probe the same number
    of state buckets, and the index tables must stay exact mirrors."""
    bl = Blacklist.testing()
    reads = {}
    for n_groups, root in ((200, tmp_path / "big"), (20, tmp_path / "small")):
        rows = _corpus(n_groups)
        delta_rows = [(1000 + g, f"fresh {g}", f"g{g}@x.com") for g in range(3)]
        state = IncrementalState(spark, str(root), n_buckets=16)
        fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
        m = fold_batch(
            state, _full_persons(spark, delta_rows), bl, batch_id=1,
            collect_metrics=True,
        )
        assert m.get("legacy_migration") is False
        reads[n_groups] = m["buckets_read"]
        assert _mbc_matches_membership(state)
        assert _kidx_matches_keys(state)
    # same delta, same probe volume — reads are delta-scoped
    assert reads[200] == reads[20], reads
    # and far below a full sweep of all tables x hops
    assert reads[200] <= 3 * 16, reads


def test_legacy_store_migrates_to_index_layout(spark, tmp_path):
    """A store written before the index tables existed must fold correctly
    (full-scan once), commit the indexes, and be delta-scoped afterwards."""
    from identity_matching_spark.operators.cluster import reduce_people

    bl = Blacklist.testing()
    rows = _corpus(10)
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    # strip the index tables from the manifest + disk (simulate old layout)
    import shutil

    man = json.load(open(state.manifest_path))
    for t in ("members_by_comp", "key_index"):
        man["tables"].pop(t)
        man["schemas"].pop(t)
        shutil.rmtree(tmp_path / t)
    man.pop("exact_mode", None)
    json.dump(man, open(state.manifest_path, "w"))

    legacy = IncrementalState(spark, str(tmp_path), n_buckets=8)
    assert not legacy.has_table("members_by_comp")
    d1 = [(900, "fresh 0", "g0@x.com")]
    m1 = fold_batch(
        legacy, _full_persons(spark, d1), bl, batch_id=1, collect_metrics=True
    )
    assert m1["legacy_migration"] is True
    assert _mbc_matches_membership(legacy)
    assert _kidx_matches_keys(legacy)
    d2 = [(901, "fresh 1", "g1@x.com")]
    m2 = fold_batch(
        legacy, _full_persons(spark, d2), bl, batch_id=2, collect_metrics=True
    )
    assert m2["legacy_migration"] is False
    want = reduce_people(
        _full_persons(spark, rows + d1 + d2), bl, max_identities=20
    )
    assert _member_set(legacy.read("membership")) == _member_set(want)


def test_popular_rearrival_updates_by_comp_index(spark, tmp_path):
    """A re-arriving id whose keys are all popular seeds no closure; its
    OLD membership row moves to the rescoped cluster and the by-component
    index must not keep the stale row (it lives in an untouched bucket)."""
    bl = Blacklist(
        domains=frozenset(), top_level_domains=frozenset(), names=frozenset(),
        emails=frozenset(), popular_emails=frozenset({"pop@x.com"}),
        popular_names=frozenset({"popname"}),
    )
    rows = [(1, "popname", "pop@x.com"), (2, "other", "o@x.com")]
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, rows), bl, batch_id=0)
    # id 1 re-arrives alone: all-popular keys, no closure seeds
    m = fold_batch(
        state, _full_persons(spark, [rows[0]]), bl, batch_id=1,
        collect_metrics=True,
    )
    assert m["touched_clusters"] == 0
    assert _mbc_matches_membership(state)
    assert _kidx_matches_keys(state)


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
    import pytest as _pytest

    with _pytest.raises(ValueError, match="below the committed"):
        fold_batch(state, _full_persons(spark, [(91, "g", "g1@x.com")]), bl, batch_id=0)


def test_migrate_flat_bronze_recovers_full_corpus(spark, tmp_path):
    """ADVICE r5 #1: flat pre-manifest bronze files at the root are ignored
    by partition discovery once batch_id= dirs exist; migration must move
    them into batch_id=-1 so the bootstrap reads the FULL corpus."""
    from identity_matching_spark.streaming.incremental import migrate_flat_bronze

    bronze = str(tmp_path / "signatures_bronze")
    old = spark.createDataFrame([(i, f"old{i}") for i in range(3)], "id long, v string")
    old.coalesce(1).write.mode("overwrite").parquet(bronze)           # flat layout
    new = spark.createDataFrame([(i, f"new{i}") for i in range(3, 6)], "id long, v string")
    new.coalesce(1).write.mode("overwrite").parquet(f"{bronze}/batch_id=7")
    # the ADVICE repro: discovery drops the flat root rows
    assert spark.read.parquet(bronze).count() == 3
    n = migrate_flat_bronze(bronze)
    assert n >= 1
    got = spark.read.parquet(bronze)
    assert got.count() == 6
    assert set(r["batch_id"] for r in got.select("batch_id").distinct().collect()) == {-1, 7}
    # idempotent
    assert migrate_flat_bronze(bronze) == 0


def test_gc_scoped_to_commit_buckets_full_sweep_on_first_commit(spark, tmp_path):
    """VERDICT r5 #3: commit-time GC walks only the batch's affected
    buckets; an orphan generation planted in an UNtouched bucket survives
    that commit and a later open (opening never deletes), and is swept by
    the first commit of the next writer."""
    import os

    bl = Blacklist.testing()
    state = IncrementalState(spark, str(tmp_path), n_buckets=8)
    fold_batch(state, _full_persons(spark, _corpus(6)), bl, batch_id=0)
    # find a bucket the next (tiny) delta will NOT touch, plant an orphan
    delta = [(990, "fresh 0", "g0@x.com")]
    from identity_matching_spark.streaming.incremental import (
        _collect_buckets,
    )
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


def test_max_bucket_drop_counter(spark):
    """VERDICT r5 #2/#4: the max_bucket drop must be counted, not silent.
    Plant one degenerate bucket (10 copies of a text, cap 5) and assert the
    committed counters equal the planted drop exactly."""
    from identity_matching_spark.functions.hashing import lsh_candidate_edges
    from identity_matching_spark.reporter import Reporter

    n_bands = 4
    rows = [(i, "the same boilerplate text every time") for i in range(10)]
    rows += [(100, "completely different contents alpha beta"),
             (101, "unrelated third document gamma delta")]
    df = spark.createDataFrame(rows, "id long, text string")
    rep = Reporter(spark)
    out = lsh_candidate_edges(
        df, "text", n_perm=16, n_bands=n_bands, shingle_k=3,
        max_bucket=5, reporter=rep,
    )
    out.write.format("noop").mode("overwrite").save()
    got = rep.report()
    # the 10-copy text owns all of its n_bands buckets (10 members each,
    # > cap); the two singles stay under cap in every bucket they touch
    assert got["buckets dropped by max_bucket"] == n_bands
    assert got["candidates dropped by max_bucket"] == n_bands * 10
    # and the capped bucket emitted no edges among the 10 clones
    pairs = {(r["src"], r["dst"]) for r in out.collect()}
    assert all(s >= 100 or d >= 100 for s, d in pairs) or not pairs
