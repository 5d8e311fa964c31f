"""Cluster reduction — the reference's ``ReducePeople`` re-expressed as
DataFrame passes (SURVEY §2.5 J1–J6, §2.6 C1–C3, §2.4 A4–A6).

Pipeline shape (matching /root/reference/matching.go:102-236):

1. optional external matching — modeled as a join against a static
   ``external_ids(email, external_id)`` table (no network in this engine);
   star edges per shared external id.
2. email star edges (popular + matched emails skipped).
3. CC over matcher+email edges → email-phase components; external ids
   propagate to whole components (the reference DFS-stamps them,
   matching.go:251-285 — here it's a groupBy + consistency assertion).
4. name pass: per name block, merge components subject to the
   max-identities cap. The reference's cap is order-dependent (it admits
   this at matching.go:146); our deterministic replacement processes each
   name block independently — components sorted by id, greedily packed into
   accumulators, a merge refused when either side already holds
   ``max_identities`` unique emails+names (the same predicate as
   matching.go:238-248). Blocks run in parallel via ``applyInPandas``
   (blocks are small: popular names were qualified away); cross-block weight
   coupling is the one documented deviation, pinned by golden tests.
   With exactly two external-id groups where one is anonymous, the groups
   merge (J3, matching.go:184-207).
5. CC over accepted component-merge edges → final components; final id =
   min person id (people.go:332-353).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.blocking import (
    EMPTY_EXT,
    external_id_edges,
    star_edges,
)
from identity_matching_spark.operators.cc import connected_components

_EDGE_SCHEMA = "src long, dst long, is_j3 boolean"

# process-lifetime memo of persons-input fingerprints whose surrogate keys
# already verified collision-free (see reduce_people ``verify_token``)
_VERIFIED_KEY_TOKENS: set[str] = set()


def _greedy_block_edges(pdf: pd.DataFrame, cap: float) -> list[tuple[int, int]]:
    """Deterministic greedy packing of one name block's components.

    Components arrive as (comp, ext, n_emails, n_names). Within each
    external-id subgroup (sorted), components sorted by id are merged into
    the first accumulator where both sides are under the cap; merging
    decrements the shared block-name once. If exactly two ext subgroups
    exist and one is anonymous, a second pass merges the survivors (J3).
    """
    edges: list[tuple[int, int, bool]] = []

    def greedy(items: list[dict], is_j3: bool = False) -> list[dict]:
        # An accumulator at/over the cap never accepts again (weights only
        # grow), so it is retired from the scan list the moment it fills.
        # Identical merge decisions to scanning every accumulator — the
        # first OPEN accumulator is the first one under the cap — but a
        # residual mega-block (hot non-popular key, thousands of
        # components) costs O(n) instead of a quadratic scan over full
        # accumulators (measured straggler source in tools/skew_stress.py).
        accs: list[dict] = []
        open_accs: list[dict] = []
        for it in items:
            placed = False
            if it["ne"] + it["nn"] < cap:
                retire = 0
                for a in open_accs:
                    if a["ne"] + a["nn"] >= cap:
                        retire += 1
                        continue
                    edges.append((a["id"], it["id"], is_j3))
                    a["ne"] += it["ne"]
                    a["nn"] += it["nn"] - 1  # both sides contain this block's name
                    placed = True
                    break
                if retire:
                    open_accs[:retire] = []
            if not placed:
                acc = dict(it)
                accs.append(acc)
                open_accs.append(acc)
        return accs

    exts = sorted(pdf["ext"].unique())
    survivors: list[dict] = []
    for ext in exts:
        sub = pdf[pdf["ext"] == ext].sort_values("comp")
        items = [
            {"id": int(r.comp), "ne": int(r.n_emails), "nn": int(r.n_names), "ext": ext}
            for r in sub.itertuples()
        ]
        survivors.extend(greedy(items))
    if len(exts) == 2 and EMPTY_EXT in exts:
        survivors.sort(key=lambda a: a["id"])
        greedy(survivors, is_j3=True)
    return edges


def _make_block_merger(cap: float):
    def merge_block(pdf: pd.DataFrame) -> pd.DataFrame:
        out = _greedy_block_edges(pdf, cap)
        return pd.DataFrame(out, columns=["src", "dst", "is_j3"])

    return merge_block


def component_weights(members: DataFrame, comp_col: str = "component") -> DataFrame:
    """Unique emails + name keys per component (matching.go:287-303)."""
    return members.groupBy(F.col(comp_col).alias("comp")).agg(
        F.count_distinct("email").alias("n_emails"),
        F.count_distinct("name_key").alias("n_names"),
    )


def component_external_ids(
    members: DataFrame, comp_col: str = "component", strict: bool = True
) -> DataFrame:
    """One external id per component; >1 distinct non-empty is an error
    (reference ``setEdge``/``Merge`` reject those graphs,
    matching.go:251-285, people.go:332-353)."""
    agg = members.groupBy(F.col(comp_col).alias("comp")).agg(
        F.count_distinct(
            F.when(
                F.col("external_id").isNotNull() & (F.col("external_id") != EMPTY_EXT),
                F.col("external_id"),
            )
        ).alias("n_ext"),
        F.max(
            F.when(
                F.col("external_id").isNotNull() & (F.col("external_id") != EMPTY_EXT),
                F.col("external_id"),
            )
        ).alias("ext"),
    )
    if strict:
        bad = agg.where(F.col("n_ext") > 1).count()
        if bad:
            raise ValueError(
                f"{bad} component(s) hold multiple distinct external ids — "
                "cannot merge identities with conflicting external ids"
            )
    return agg.select("comp", F.coalesce("ext", F.lit(EMPTY_EXT)).alias("ext"))


def reduce_people(
    persons: DataFrame,
    blacklist: Blacklist,
    max_identities: int | None = 20,
    external_ids: DataFrame | None = None,
    extra_edges: DataFrame | None = None,
    store=None,
    reporter=None,
    verify_keys: bool = True,
    verify_token: str | None = None,
) -> DataFrame:
    """Resolve person rows into clusters.

    Parameters
    ----------
    persons : DataFrame[id, name_key, email, ...] — one identity signature
        per row (cleaned; from ``operators.people.build_persons``).
    external_ids : optional DataFrame[email, external_id] — ground-truth
        matches (the reference's GitHub/GitLab matcher, modeled as a static
        lookup table; matched emails skip email blocking).
    extra_edges : optional DataFrame[src, dst] — additional match edges
        (e.g. similarity-scored LSH candidates); they join the email phase
        (uncapped, like email edges).
    store : optional CheckpointStore — durable per-iteration CC checkpoints
        (resumable transitive closure).
    verify_keys : assert the 64-bit blocking-key surrogates are
        collision-free before clustering on them (two cheap per-code
        aggregate jobs; same default-on contract as ``build_persons``'s
        ``verify_ids``).
    verify_token : optional stable fingerprint of the persons input (e.g.
        the stage checkpoint path+confighash). When set, a passing key
        verification is memoized for the process lifetime — resumed or
        repeated runs over the same checkpointed persons skip the
        re-verification jobs. Collisions depend only on the key SET, which
        the fingerprint pins.

    Returns DataFrame[id, component, external_id] — person → final cluster
    (component = min person id in cluster) plus the cluster's external id
    ('' if none).
    """
    if external_ids is not None:
        ext = external_ids.select(
            "email", F.col("external_id").alias("_ext_lookup")
        ).dropDuplicates(["email"])
        persons = persons.join(ext, "email", "left").withColumn(
            "external_id",
            F.when(F.col("_ext_lookup") == EMPTY_EXT, F.lit(None)).otherwise(
                F.col("_ext_lookup")
            ),
        ).drop("_ext_lookup")
    else:
        persons = persons.withColumn("external_id", F.lit(None).cast("string"))

    # Project persons down to the columns this operator actually touches:
    # every shuffle below then moves far fewer bytes (hash, ts, repo, raw
    # name and the popularity flag never participate in clustering — only
    # in the caller's alias/identity build).
    #
    # Dictionary-encode the two blocking keys to 64-bit surrogates
    # (domain-separated xxhash64) and precompute the popular flags from the
    # strings before they are dropped: every clustering shuffle below —
    # email hubs, members0, weights, name blocks, star edges, the greedy
    # groupBy — then carries 3 longs + 2 booleans instead of two strings per
    # row (the measured dominant bytes on the bandwidth-bound stages,
    # BENCH/BASELINE.md r3 attribution). Clustering is key-equality algebra
    # throughout — groupBy/join/count_distinct/min — so equality-preserving
    # surrogates are semantics-preserving; ``external_id`` stays a string
    # (dimension-sized, and the capped-block greedy + J3 rule sort by its
    # VALUE — a hash would reorder the pinned deterministic tie-breaks).
    # 64-bit collisions (birthday ~2^32 distinct keys) would silently fuse
    # two blocks; ``verify_keys`` (one aggregate, default on like
    # ``verify_ids``) catches that before any merge happens.
    # ``keyed`` is deliberately NOT re-checkpointed here: the pipeline
    # already materializes the persons stage (and the driver queries pass
    # cheap parquet projections), so each of the handful of consumers —
    # the verify aggregate, the hub groupBy, the members0 build — re-runs
    # only a narrow scan plus two hash expressions. A third back-to-back
    # barrier on the same rows cost a full serialize of the table per
    # reduce_people call (measured −0.3 s on q07, −1.8 s on the sim e2e
    # after removing it); callers that pass an expensive, unmaterialized
    # persons plan should checkpoint it themselves. Every consumer below
    # projects the strings away before its first shuffle, so shuffles
    # still carry only the coded columns.
    # NULL keys keep a NULL surrogate: xxhash64 maps NULL to a constant, so
    # an unmasked surrogate would equi-join/group NULL-keyed rows where the
    # string key never joins — and count_distinct skips NULL strings but not
    # the constant, tripping the collision check spuriously (ADVICE r4).
    # NULL↔NULL preserves both join (never matches) and groupBy (one NULL
    # group) semantics exactly.
    keyed = persons.select(
        "id",
        "name_key",
        "email",
        "external_id",
        F.when(
            F.col("name_key").isNotNull(), F.xxhash64(F.lit(1), "name_key")
        ).alias("_nk"),
        F.when(F.col("email").isNotNull(), F.xxhash64(F.lit(2), "email")).alias("_em"),
        blacklist.is_popular_name(F.col("name_key")).alias("pop_name"),
        blacklist.is_popular_email(F.col("email")).alias("pop_email"),
    )
    if verify_keys and verify_token not in _VERIFIED_KEY_TOKENS:
        # Collision iff some surrogate covers >1 distinct string, i.e. iff
        # count_distinct(strings) > count_distinct(codes) (the code map is a
        # function of the string, and NULL strings map to NULL codes, so both
        # distinct counts skip the same rows). One multi-distinct aggregate
        # checks both key columns in a single job — the Expand it plans
        # replicates only this 4-column projection, and partial aggregation
        # still reduces each expand-group to its distinct values before the
        # shuffle, so the exchange carries the same bytes as the former two
        # per-code jobs while paying one driver round-trip instead of two.
        # The per-code groupBy probe (which NAMES the colliding code) runs
        # only on the failure path.
        row = keyed.agg(
            F.count_distinct("name_key").alias("s_nk"),
            F.count_distinct("_nk").alias("c_nk"),
            F.count_distinct("email").alias("s_em"),
            F.count_distinct("_em").alias("c_em"),
        ).collect()[0]
        for code, src, ok in (
            ("_nk", "name_key", row["s_nk"] == row["c_nk"]),
            ("_em", "email", row["s_em"] == row["c_em"]),
        ):
            if ok:
                continue
            bad = (
                keyed.groupBy(code)
                .agg(F.count_distinct(src).alias("n"))
                .where(F.col("n") > 1)
                .limit(1)
                .collect()
            )
            raise ValueError(
                f"blocking-key surrogate collision on {src}: code "
                f"{bad[0][code]} covers {bad[0]['n']} distinct values; "
                "re-salt the key hash"
            )
        if verify_token is not None:
            _VERIFIED_KEY_TOKENS.add(verify_token)
    persons = keyed.select(
        "id",
        F.col("_nk").alias("name_key"),
        F.col("_em").alias("email"),
        "external_id",
        "pop_name",
        "pop_email",
    )

    # Each person row holds exactly one email, so the email stars collapse
    # without a join loop: every non-popular (and non-matched) email block
    # maps to its hub (min person id) — the quotient node ``_q``. Without
    # matcher or similarity edges the quotient nodes ARE the email-phase
    # components. With them, only those edges — mapped to hub super-nodes
    # — enter the iterative CC. Edge contraction preserves connectivity,
    # and the final label (min member id of a component) is invariant
    # because every hub IS the minimum id of its block, so min over
    # quotient-node ids = min over person ids. The email stars are the bulk
    # of the phase-1 edge volume (every multi-member email block), so the
    # per-round shuffles run over the quotient graph (~4× fewer nodes at
    # the bench corpus: 162k persons → ~40k hubs) and converge in fewer
    # rounds (same-email chains are pre-collapsed). Equivalence pinned by
    # the q33 golden + parity suite. A NULL-email person is its own quotient
    # node (its email joins no hub): kept, never dropped.
    matched = F.col("external_id").isNotNull()
    eligible = ~F.col("pop_email") & ~matched
    # partial-aggregated groupBy + join back — the skew-safe shape (hot
    # emails never pile into one reducer)
    hubs = (
        persons.where(eligible)
        .groupBy("email")
        .agg(F.min("id").alias("_hub"))
    )
    # keep the person columns on the quotient map so members0 comes from
    # one join on the (small) component table instead of a second
    # persons-sized join on id
    qfull = (
        persons.join(hubs, "email", "left")
        .select(
            *persons.columns,
            F.when(eligible, F.coalesce("_hub", F.col("id")))
            .otherwise(F.col("id"))
            .alias("_q"),
        )
        .localCheckpoint(eager=False)
    )
    if external_ids is None and extra_edges is None:
        members0 = qfull.select(*persons.columns, F.col("_q").alias("component"))
    else:
        qmap = qfull.select("id", "_q")

        def _to_q(edges_df: DataFrame) -> DataFrame:
            return (
                edges_df.join(qmap.withColumnRenamed("id", "src"), "src")
                .select(F.col("_q").alias("qsrc"), "dst")
                .join(qmap.withColumnRenamed("id", "dst"), "dst")
                .select(F.col("qsrc").alias("src"), F.col("_q").alias("dst"))
            )

        phase1_edges = _to_q(external_id_edges(persons))
        if extra_edges is not None:
            phase1_edges = phase1_edges.union(_to_q(extra_edges.select("src", "dst")))
        qnodes = qmap.select(F.col("_q").alias("id")).distinct()
        comp0_q = connected_components(
            phase1_edges, nodes=qnodes, store=store, stage_prefix="cc_phase1"
        )
        members0 = (
            qfull.join(comp0_q.withColumnRenamed("id", "_q"), "_q")
            .select(*persons.columns, "component")
            .localCheckpoint(eager=False)
        )
    # without external ids every component's ext is the empty string: the
    # blocks take it as a literal instead of a strict aggregate + join
    comp_ext = None if external_ids is None else component_external_ids(members0)

    # --- name pass over components ------------------------------------
    # component-level external id (the reference DFS-propagates person ids
    # to the whole component before the name pass, so block grouping by the
    # component's id is faithful)
    blocks = (
        members0.where(~F.col("pop_name"))
        .select("name_key", F.col("component").alias("comp"))
        .distinct()
    )
    blocks = (
        blocks.withColumn("ext", F.lit(EMPTY_EXT))
        if comp_ext is None
        else blocks.join(comp_ext, "comp")
    )

    def _star_name_edges(b: DataFrame) -> DataFrame:
        """No-cap name edges: star per (name_key, ext) + J3 star across the
        block when exactly two ext groups exist and one is anonymous.
        J3 edges are tagged: they are the only edges that can mix external
        ids transitively, and conflict resolution below removes them."""
        per_ext = star_edges(b, ["name_key", "ext"], id_col="comp").withColumn(
            "is_j3", F.lit(False)
        )
        j3_keys = (
            b.groupBy("name_key")
            .agg(
                F.count_distinct("ext").alias("n_ext"),
                F.max(F.col("ext") == EMPTY_EXT).alias("has_empty"),
            )
            .where((F.col("n_ext") == 2) & F.col("has_empty"))
            .select("name_key")
        )
        j3 = star_edges(b.join(j3_keys, "name_key"), ["name_key"], id_col="comp").withColumn(
            "is_j3", F.lit(True)
        )
        return per_ext.union(j3)

    if max_identities is None:
        name_edges = _star_name_edges(blocks)
    else:
        # Blocks whose total weight stays within the cap provably merge
        # fully under the greedy (every intermediate side < cap), so they
        # take the pure-join star path; only over-cap blocks — rare by
        # construction, popular names were qualified away — pay the
        # per-block Python greedy. Keeps the name pass JVM-side at scale.
        weights = component_weights(members0)
        block_input = blocks.join(weights, "comp")
        totals = block_input.groupBy("name_key").agg(
            (F.sum("n_emails") + F.sum("n_names")).alias("_tw"),
            F.count(F.lit(1)).alias("_nc"),
        )
        # Single-component name blocks can emit no merge edge on ANY path —
        # the star emits nothing (src == dst), J3 needs two ext groups, and
        # the greedy with one item builds one accumulator and returns [] —
        # so drop them before the barrier. In similarity mode most blocks
        # are exactly this shape (the scored-pair phase already merged the
        # block's members into one component), and without the prune each
        # one still paid an applyInPandas Python group call when its
        # (single-component) weight exceeded the cap: measured 3,362 of
        # 3,362 over-cap blocks were single-component at the 300k-conv
        # bench corpus, a 10.7 s straggler stage. Output-identical by the
        # argument above (pinned by test_single_component_blocks_pruned).
        #
        # barrier: block_input fans out into safe/unsafe × star/J3 consumers
        # (5 references) — without it each consumer recomputes the
        # blocks⋈weights⋈totals shuffle chain
        block_input = (
            block_input.join(totals, "name_key")
            .where(F.col("_nc") >= 2)
            .localCheckpoint(eager=False)
        )
        safe = block_input.where(F.col("_tw") <= max_identities)
        unsafe = block_input.where(F.col("_tw") > max_identities)
        name_edges = _star_name_edges(safe).union(
            unsafe.groupBy("name_key").applyInPandas(
                _make_block_merger(float(max_identities)), schema=_EDGE_SCHEMA
            )
        )

    if reporter is not None:
        # A7 edge-class counters (matching.go:129,142,156,209,283). One
        # conditional-agg job per class, only when a reporter is attached.
        # Barrier first: the 'graph edges' count below and the CC call both
        # consume name_edges — without it the star-edge/greedy derivation
        # would run twice.
        #
        # NOTE on semantics: the email-side counters are BLOCK-OCCUPANCY
        # counts (members/edges of non-popular multi-member email blocks),
        # computed in one aggregate rather than traced edge-by-edge. On the
        # star graphs this engine builds they equal the reference's edge-walk
        # counters exactly when no external matcher is given; with one, the
        # reference skips matched emails during email blocking, so the
        # occupancy figure is an upper bound there.
        name_edges = name_edges.localCheckpoint(eager=False)
        email_stats = persons.groupBy("email").agg(
            F.count(F.lit(1)).alias("n"), F.max(F.col("pop_email").cast("int")).alias("pop")
        )
        row = email_stats.agg(
            F.sum(F.when((F.col("n") >= 2) & (F.col("pop") == 0), F.col("n"))).alias("matched"),
            F.sum(F.when(F.col("pop") == 1, F.col("n"))).alias("popular"),
            F.sum(
                F.when((F.col("n") >= 2) & (F.col("pop") == 0), F.col("n") - 1)
            ).alias("edges"),
        ).collect()[0]
        reporter.commit("people matched by email", int(row["matched"] or 0))
        reporter.commit("popular emails found", int(row["popular"] or 0))
        # J1: one star edge per extra member of each usable email block
        reporter.commit("graph edges by email (J1)", int(row["edges"] or 0))

        name_stats = persons.groupBy("name_key").agg(
            F.count(F.lit(1)).alias("n"), F.max(F.col("pop_name").cast("int")).alias("pop")
        )
        row = name_stats.agg(
            F.sum(F.when((F.col("n") >= 2) & (F.col("pop") == 0), F.col("n"))).alias("matched"),
            F.sum(F.when(F.col("pop") == 1, F.col("n"))).alias("popular"),
        ).collect()[0]
        reporter.commit("people matched by name", int(row["matched"] or 0))
        reporter.commit("popular names found", int(row["popular"] or 0))

        # name-pass edges split by class in one aggregate: J2 = per-external-id
        # name stars, J3 = the anonymous-group merge edges (matching.go:184-207)
        row = name_edges.agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("is_j3"), 1)).alias("j3"),
        ).collect()[0]
        reporter.commit("graph edges", int(row["total"]))
        reporter.commit("graph edges by name (J2)", int(row["total"] - row["j3"]))
        reporter.commit("graph edges anonymous merge (J3)", int(row["j3"]))

    # derive from the checkpointed members0, not comp0 — comp0's plan (hub
    # groupBy + join) would otherwise recompute per consumer
    comp_nodes = members0.select(F.col("component").alias("id")).distinct()
    final = connected_components(
        name_edges.select("src", "dst"), nodes=comp_nodes, store=store,
        stage_prefix="cc_name",
    )

    if external_ids is not None:
        # Conflict resolution: only J3 edges can transitively join two
        # components holding distinct external ids (the reference rejects
        # such edges one at a time during its sequential walk — which edge
        # survives there is map-order-dependent). Deterministic rule: find
        # conflicted final components, drop every J3 edge touching them,
        # recompute. Conservative: ambiguous anonymous groups stay separate.
        ext_by_comp = comp_ext.withColumnRenamed("comp", "id")
        conflicted = (
            final.join(ext_by_comp, "id")
            .where(F.col("ext") != EMPTY_EXT)
            .groupBy("component")
            .agg(F.count_distinct("ext").alias("n_ext"))
            .where(F.col("n_ext") > 1)
            .select("component")
        )
        if not conflicted.isEmpty():
            # keep non-J3 edges everywhere; keep J3 edges only when neither
            # endpoint landed in a conflicted component
            bad_nodes = final.join(conflicted, "component").select(F.col("id").alias("_bad"))
            keep_j3 = (
                name_edges.where(F.col("is_j3"))
                .join(bad_nodes.withColumnRenamed("_bad", "src"), "src", "left_anti")
                .join(bad_nodes.withColumnRenamed("_bad", "dst"), "dst", "left_anti")
            )
            cleaned = name_edges.where(~F.col("is_j3")).select("src", "dst").union(
                keep_j3.select("src", "dst")
            )
            final = connected_components(
                cleaned, nodes=comp_nodes, store=store, stage_prefix="cc_clean"
            )
    membership = (
        members0.select("id", F.col("component").alias("comp"))
        .join(final.withColumnRenamed("id", "comp"), "comp")
        .select("id", "component")
    )

    # final external id per cluster (strict: conflicting ids must not merge)
    if external_ids is None:
        return membership.select(
            "id", "component", F.lit(EMPTY_EXT).alias("external_id")
        )
    final_ext = component_external_ids(
        membership.join(persons.select("id", "external_id"), "id")
    ).select(F.col("comp").alias("component"), F.col("ext").alias("external_id"))
    return membership.join(final_ext, "component").select("id", "component", "external_id")


# --- cluster materialization (A4) + primary values (A6) -----------------


def build_aliases(members: DataFrame) -> DataFrame:
    """Alias rows matching the reference parquet schema
    (people.go:171-176, 296-319): one row per email (name='', repo='') and
    one per name-with-repo (email=''); repo is attached only for popular
    names, exactly as stored in ``NamesWithRepos``."""
    emails = (
        members.select(F.col("component").alias("id"), "email")
        .distinct()
        .select("id", "email", F.lit("").alias("name"), F.lit("").alias("repo"))
    )
    names = (
        members.select(
            F.col("component").alias("id"),
            "name",
            F.when(F.col("popular_name"), F.col("repo")).otherwise(F.lit("")).alias("repo"),
        )
        .distinct()
        .select("id", F.lit("").alias("email"), "name", "repo")
    )
    return emails.unionByName(names)


def _primary_value(values: DataFrame, freqs: DataFrame, min_recent_count: int) -> DataFrame:
    """Argmax by recent freq if the cluster has ≥ min_recent_count recent
    occurrences, else by total (matching.go:305-334). Ties break by value
    ascending — the reference's tie order is Go map iteration
    (nondeterministic); ours is pinned.
    """
    v = values.distinct().join(freqs, "value")
    w = Window.partitionBy("id")
    v = v.withColumn("use_recent", F.sum("recent").over(w) >= min_recent_count)
    order_key = F.when(F.col("use_recent"), F.col("recent")).otherwise(F.col("total"))
    rank_w = Window.partitionBy("id").orderBy(order_key.desc(), F.col("value").asc())
    return (
        v.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") == 1)
        .select("id", F.col("value").alias("primary"))
    )


def set_primary_values(
    members: DataFrame,
    name_freqs: DataFrame,
    email_freqs: DataFrame,
    min_recent_count: int = 5,
) -> DataFrame:
    """DataFrame[id, primary_name, primary_email] per cluster.

    Frequencies come from ``operators.stats.frequency_stats`` over *all*
    signatures (the reference counts pre-filter commits,
    people.go:371-388). Primary names use the bare cleaned name, not the
    repo-qualified key (matching.go:342-348).
    """
    names = members.select(F.col("component").alias("id"), F.col("name").alias("value"))
    emails = members.select(F.col("component").alias("id"), F.col("email").alias("value"))
    pn = _primary_value(names, name_freqs, min_recent_count).withColumnRenamed(
        "primary", "primary_name"
    )
    pe = _primary_value(emails, email_freqs, min_recent_count).withColumnRenamed(
        "primary", "primary_email"
    )
    return pn.join(pe, "id", "full")


def build_identities(
    members: DataFrame,
    name_freqs: DataFrame,
    email_freqs: DataFrame,
    min_recent_count: int = 5,
    external_id_provider: str = "",
) -> DataFrame:
    """Identity rows matching the reference parquet schema
    (people.go:178-184): id, primary_name, primary_email,
    external_id_provider, external_id."""
    primaries = set_primary_values(members, name_freqs, email_freqs, min_recent_count)
    ext = members.select(F.col("component").alias("id"), "external_id").distinct()
    return (
        ext.join(primaries, "id", "left")
        .select(
            "id",
            F.coalesce("primary_name", F.lit("")).alias("primary_name"),
            F.coalesce("primary_email", F.lit("")).alias("primary_email"),
            F.when(F.col("external_id") != "", F.lit(external_id_provider))
            .otherwise(F.lit(""))
            .alias("external_id_provider"),
            F.coalesce("external_id", F.lit("")).alias("external_id"),
        )
    )
