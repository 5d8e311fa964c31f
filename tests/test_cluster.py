"""Clustering golden tests, ported from /root/reference/matching_test.go.

The reference's order-dependent max-identities semantics are replaced by the
deterministic per-block greedy documented in operators/cluster.py; these
fixtures pin that both paths produce the reference's expected clusters.
"""

import os
import random

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cc import connected_components
from identity_matching_spark.operators.cluster import reduce_people, set_primary_values
from identity_matching_spark.sources.io import CheckpointStore
from tests.test_reference_parity import _random_persons


def _persons(spark, rows):
    # rows: (id, name, email) — name_key == name (fixtures are pre-qualified)
    return spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows], "id long, name string, name_key string, email string"
    )


def _clusters(result):
    out = {}
    for r in result.collect():
        out.setdefault(r["component"], set()).add(r["id"])
    return {frozenset(v) for v in out.values()}, {
        r["component"]: r["external_id"] for r in result.collect()
    }


def test_reduce_people(spark):
    """matching_test.go:17-47 — 7 persons → 3 clusters."""
    rows = [
        (1, "Bob 1", "Bob@google.com"),
        (2, "Bob 2", "Bob@google.com"),
        (3, "Alice", "alice@google.com"),
        (4, "Bob", "Bob@google.com"),
        (5, "popular", "Bob@google.com"),
        (6, "popular", "email@google.com"),
        (7, "Alice", "popular@google.com"),
    ]
    result = reduce_people(_persons(spark, rows), Blacklist.testing(), max_identities=100)
    clusters, _ = _clusters(result)
    assert clusters == {frozenset({1, 2, 4, 5}), frozenset({3, 7}), frozenset({6})}
    comps = {r["id"]: r["component"] for r in result.collect()}
    assert comps[1] == 1 and comps[3] == 3 and comps[6] == 6


def test_reduce_people_no_cap_fast_path(spark):
    rows = [
        (1, "Bob 1", "Bob@google.com"),
        (2, "Bob 2", "Bob@google.com"),
        (3, "Alice", "alice@google.com"),
        (4, "Bob", "Bob@google.com"),
        (5, "popular", "Bob@google.com"),
        (6, "popular", "email@google.com"),
        (7, "Alice", "popular@google.com"),
    ]
    result = reduce_people(_persons(spark, rows), Blacklist.testing(), max_identities=None)
    clusters, _ = _clusters(result)
    assert clusters == {frozenset({1, 2, 4, 5}), frozenset({3, 7}), frozenset({6})}


def test_reduce_people_max_identities(spark):
    """matching_test.go:49-84 — cap=4 splits the Bob mega-cluster."""
    rows = [
        (1, "Bob", "Bob2@google.com"),
        (2, "Bob 1", "Bob@google.com"),
        (3, "Bob 2", "Bob@google.com"),
        (4, "Bob 3", "Bob@google.com"),
        (5, "Bob", "Bob@google.com"),
        (6, "Bob", "Bob3@google.com"),
        (7, "Bob", "Bob4@google.com"),
        (8, "Alice 1", "alice@google.com"),
        (9, "Alice 2", "alice@google.com"),
        (10, "Alice 2", "alice1@google.com"),
    ]
    result = reduce_people(_persons(spark, rows), Blacklist.testing(), max_identities=4)
    clusters, _ = _clusters(result)
    assert clusters == {
        frozenset({1, 6, 7}),
        frozenset({2, 3, 4, 5}),
        frozenset({8, 9, 10}),
    }


def test_reduce_people_same_name_different_external_ids(spark):
    """matching_test.go:287-315 — same name + different external ids never merge."""
    rows = [
        (1, "Bob", "Bob@google.com"),
        (2, "Bob", "Bob2@google.com"),
        (3, "Alice", "alice@google.com"),
        (4, "Bob 2", "Bob@google.com"),
    ]
    ext = spark.createDataFrame(
        [
            ("Bob@google.com", "bob_username"),
            ("Bob2@google.com", "not_bob_username"),
            ("alice@google.com", "alice_username"),
        ],
        "email string, external_id string",
    )
    result = reduce_people(
        _persons(spark, rows), Blacklist.testing(), max_identities=100, external_ids=ext
    )
    clusters, ext_by_comp = _clusters(result)
    assert clusters == {frozenset({1, 4}), frozenset({2}), frozenset({3})}
    assert ext_by_comp[1] == "bob_username"
    assert ext_by_comp[2] == "not_bob_username"
    assert ext_by_comp[3] == "alice_username"


def test_anonymous_group_merges_into_single_external_id(spark):
    """J3 (matching.go:184-207): a name block with exactly one external id
    plus anonymous members merges them."""
    rows = [
        (1, "Bob", "a@x.com"),
        (2, "Bob", "b@x.com"),
        (3, "Bob", "c@x.com"),
    ]
    ext = spark.createDataFrame([("a@x.com", "bob_gh")], "email string, external_id string")
    result = reduce_people(
        _persons(spark, rows), Blacklist.testing(), max_identities=100, external_ids=ext
    )
    clusters, ext_by_comp = _clusters(result)
    assert clusters == {frozenset({1, 2, 3})}
    assert ext_by_comp[1] == "bob_gh"


@pytest.mark.parametrize("max_identities", [None, 100])
def test_j3_star_is_built_only_with_external_ids(spark, monkeypatch, max_identities):
    """Without external ids every block's ext is the one literal EMPTY_EXT,
    so the J3 star (one block key, ``name_key`` alone) could emit nothing:
    reduce_people does not build it. With them it is built, and the J3
    merge still happens."""
    from identity_matching_spark.operators import cluster

    star_keys = []
    star = cluster.star_edges

    def recording(df, key_cols, id_col="id"):
        star_keys.append(tuple(key_cols))
        return star(df, key_cols, id_col)

    monkeypatch.setattr(cluster, "star_edges", recording)
    rows = [(1, "Bob", "a@x.com"), (2, "Bob", "b@x.com"), (3, "Bob", "c@x.com")]
    bl = Blacklist.testing()
    plain = reduce_people(_persons(spark, rows), bl, max_identities=max_identities)
    assert ("name_key",) not in star_keys, star_keys
    assert _clusters(plain)[0] == {frozenset({1, 2, 3})}

    star_keys.clear()
    ext = spark.createDataFrame([("a@x.com", "bob_gh")], "email string, external_id string")
    with_ext = reduce_people(
        _persons(spark, rows), bl, max_identities=max_identities, external_ids=ext
    )
    assert star_keys.count(("name_key",)) == 1, star_keys
    assert _clusters(with_ext) == ({frozenset({1, 2, 3})}, {1: "bob_gh"})


# --- primary values (matching_test.go:317-407) ---------------------------


def _members(spark, people):
    rows = []
    for pid, names, emails in people:
        rows += [(pid, n, None) for n in names]
        rows += [(pid, None, e) for e in emails]
    return spark.createDataFrame(rows, "component long, name string, email string")


def _freqs(spark, d):
    return spark.createDataFrame(
        [(k, r, t) for k, (r, t) in d.items()], "value string, recent long, total long"
    )


EMAIL_FREQS = {
    "Bob@google.com": (5, 8),
    "bobby@google.com": (2, 4),
    "12345@gmail.com": (1, 1),
    "email@google.com": (2, 4),
    "alice@google.com": (1, 5),
    "al@google.com": (3, 3),
    "admin@google.com": (6, 6),
}
NAME_FREQS = {
    "Bob": (5, 10),
    "Bob 1": (1, 3),
    "Bob 2": (1, 1),
    "popular": (4, 20),
    "Alice": (3, 4),
    "Alice 1": (1, 5),
    "admin": (3, 5),
}
PEOPLE = [
    (1, ["Bob", "Bob 1", "Bob 2", "popular"], ["Bob@google.com", "bobby@google.com", "12345@gmail.com"]),
    (3, ["Alice", "Alice 1"], ["alice@google.com", "al@google.com"]),
    (6, ["popular"], ["email@google.com"]),
]


def test_set_primary_value_emails_min2(spark):
    out = set_primary_values(
        _members(spark, PEOPLE), _freqs(spark, NAME_FREQS), _freqs(spark, EMAIL_FREQS), 2
    )
    emails = {r["id"]: r["primary_email"] for r in out.collect()}
    assert emails == {1: "Bob@google.com", 3: "al@google.com", 6: "email@google.com"}


def test_set_primary_values_min5(spark):
    out = set_primary_values(
        _members(spark, PEOPLE), _freqs(spark, NAME_FREQS), _freqs(spark, EMAIL_FREQS), 5
    )
    got = {r["id"]: (r["primary_name"], r["primary_email"]) for r in out.collect()}
    assert got == {
        1: ("Bob", "Bob@google.com"),
        3: ("Alice 1", "alice@google.com"),
        6: ("popular", "email@google.com"),
    }


# --- connected components vs a local union-find oracle -------------------


class _UF:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def _uf_components(edges, nodes=None):
    """Min-id labels by union-find under connected_components' rules:
    self-loops add nothing, an edge with an endpoint outside ``nodes`` is
    ignored, and ``nodes`` defaults to the endpoints of the other edges."""
    edges = [(a, b) for a, b in edges if a != b]
    nodes = {x for e in edges for x in e} if nodes is None else set(nodes)
    uf = _UF()
    for a, b in edges:
        if a in nodes and b in nodes:
            uf.union(a, b)
    return {i: uf.find(i) for i in nodes}


def _cc_both_paths(spark, broadcast_threshold, edges, nodes=None):
    """``{id: component}`` from connected_components finished on the driver
    (get_spark's 8 MB threshold) and from its join loop (threshold -1)."""
    edf = spark.createDataFrame(edges, "src long, dst long")
    ndf = None if nodes is None else spark.createDataFrame([(i,) for i in nodes], "id long")
    out = []
    for cap in (str(8 * 1024 * 1024), "-1"):
        broadcast_threshold(cap)
        labels = connected_components(edf, nodes=ndf)
        out.append({r["id"]: r["component"] for r in labels.collect()})
    return out


@pytest.mark.parametrize("seed,n,m", [(1, 50, 40), (2, 200, 150), (3, 100, 300)])
def test_connected_components_random(spark, broadcast_threshold, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    uf = _UF()
    for a, b in edges:
        uf.union(a, b)
    for i in range(n):
        uf.find(i)
    expected = {i: min(j for j in range(n) if uf.find(j) == uf.find(i)) for i in range(n)}

    driver, loop = _cc_both_paths(spark, broadcast_threshold, edges, range(n))
    assert driver == expected
    assert loop == expected


def test_connected_components_chain(spark, broadcast_threshold):
    """Worst-case diameter: a path graph must still converge."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    for got in _cc_both_paths(spark, broadcast_threshold, edges):
        assert set(got.values()) == {0}
        assert got == _uf_components(edges)


@pytest.mark.parametrize(
    "edges,nodes",
    [
        pytest.param([(-3, -1), (-1, 4), (7, -9), (8, 7)], None, id="negative_ids"),
        pytest.param([], [5, 2, 9], id="no_edges_given_nodes"),
        pytest.param(
            [(1, 2), (2, 1), (1, 2), (3, 3), (4, 4), (4, 5), (5, 4)],
            None,
            id="duplicates_and_self_loops",
        ),
        pytest.param([(1, 2), (2, 1), (3, 3)], [1, 2, 3], id="self_loop_given_node"),
        pytest.param([(1, 99), (99, 2), (2, 3), (4, 98)], [1, 2, 3, 4], id="edge_to_absent_id"),
    ],
)
def test_connected_components_edge_cases(spark, broadcast_threshold, edges, nodes):
    want = _uf_components(edges, nodes)
    driver, loop = _cc_both_paths(spark, broadcast_threshold, edges, nodes)
    assert driver == want
    assert loop == want


def test_small_graph_finishes_on_driver(spark, tmp_path, broadcast_threshold, request):
    """Under get_spark's threshold a small graph skips the join loop: the
    edge barrier plus one collect, no store iteration files, and in reliable
    mode no persisted plan left behind."""
    broadcast_threshold(str(8 * 1024 * 1024))
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long")
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    store = CheckpointStore(spark, str(tmp_path), {"t": 1})

    def run():
        labels = connected_components(e, store=store, stage_prefix="cc")
        return {r["id"]: r["component"] for r in labels.collect()}

    sc = spark.sparkContext
    sc.setJobGroup("cc_driver_finish", "cc driver finish")
    try:
        assert run() == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cc_driver_finish")) <= 3

    spark.catalog.clearCache()
    request.getfixturevalue("checkpoint_dir")
    assert run() == want
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "the driver finish left persisted plans in the CacheManager"
    assert [d for d in os.listdir(tmp_path) if "_iter" in d] == []


def test_reduce_people_empty_input(spark):
    persons = spark.createDataFrame([], "id long, name string, name_key string, email string")
    out = reduce_people(persons, Blacklist.testing(), max_identities=20)
    assert out.count() == 0


def test_reduce_people_all_popular(spark):
    """All names popular and all emails popular → nothing ever merges."""
    rows = [(1, "popular", "popular@email.com"), (2, "popular", "popular@email.com")]
    persons = spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows], "id long, name string, name_key string, email string"
    )
    out = reduce_people(persons, Blacklist.testing(), max_identities=20)
    comps = {r["id"]: r["component"] for r in out.collect()}
    assert comps == {1: 1, 2: 2}


def test_reduce_people_single_person(spark):
    persons = spark.createDataFrame(
        [(7, "solo", "solo", "solo@x.com")], "id long, name string, name_key string, email string"
    )
    out = reduce_people(persons, Blacklist.testing(), max_identities=None)
    assert [(r["id"], r["component"]) for r in out.collect()] == [(7, 7)]


# --- email-block contraction and single-component block prune -------------
#
# 1. Email-block contraction before the phase-1 CC (operators/cluster.py):
#    reduce_people collapses every non-popular/non-matched email block to
#    its hub (min id) and runs the iterative CC over matcher/similarity
#    edges mapped to hub super-nodes. Edge contraction preserves
#    connectivity and min-id labels, so membership must be identical —
#    pinned against an independent union-find simulator WITH extra_edges
#    (similarity mode).
# 2. Single-component name-block prune: blocks whose phase-1 component
#    count is 1 can emit no merge edge on any path (star: src == dst; J3:
#    needs two ext groups; greedy: one accumulator, zero edges), so they are
#    dropped before the safe/unsafe split. Pinned: an over-cap
#    single-component block yields the same membership as an uncapped run,
#    and multi-component blocks still merge under the cap.


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


def test_greedy_retirement_matches_naive_scan():
    """The full-accumulator retirement in _greedy_block_edges must emit the
    exact edge list of the naive scan-every-accumulator greedy (the pinned
    deterministic cap semantics, q22 golden) on randomized blocks."""
    import random

    import pandas as pd

    from identity_matching_spark.operators.cluster import _greedy_block_edges

    def naive(pdf, cap):
        edges = []

        def greedy(items, is_j3=False):
            accs = []
            for it in items:
                placed = False
                for a in accs:
                    if a["ne"] + a["nn"] < cap and it["ne"] + it["nn"] < cap:
                        edges.append((a["id"], it["id"], is_j3))
                        a["ne"] += it["ne"]
                        a["nn"] += it["nn"] - 1
                        placed = True
                        break
                if not placed:
                    accs.append(dict(it))
            return accs

        exts = sorted(pdf["ext"].unique())
        survivors = []
        for ext in exts:
            sub = pdf[pdf["ext"] == ext].sort_values("comp")
            items = [
                {"id": int(r.comp), "ne": int(r.n_emails), "nn": int(r.n_names), "ext": ext}
                for r in sub.itertuples()
            ]
            survivors.extend(greedy(items))
        if len(exts) == 2 and "" in exts:
            survivors.sort(key=lambda a: a["id"])
            greedy(survivors, is_j3=True)
        return edges

    rng = random.Random(404)
    for trial in range(200):
        n = rng.randint(1, 40)
        cap = float(rng.randint(2, 8))
        exts = ["", "E1"][: rng.randint(1, 2)]
        pdf = pd.DataFrame(
            {
                "comp": rng.sample(range(1000), n),
                "ext": [rng.choice(exts) for _ in range(n)],
                "n_emails": [rng.randint(1, 5) for _ in range(n)],
                "n_names": [rng.randint(1, 5) for _ in range(n)],
            }
        )
        assert _greedy_block_edges(pdf, cap) == naive(pdf, cap), (trial, cap)
