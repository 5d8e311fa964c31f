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
