"""Distributed connected components (SURVEY §2.6 C1–C3).

The reference clusters with an in-core graph (gonum
``topo.ConnectedComponents``, /root/reference/matching.go:211-222) or a
union-find (/root/reference/research/idmatching/people.py:36-110). Neither
survives 10^12 rows, so a large graph runs an iterative-join min-label
propagation with pointer-jumping (the standard Spark CC shape; Kiveris et
al., "Connected Components in MapReduce and Beyond"); a small one still
finishes in-core, on the driver.

Scale notes:
* Small graphs finish on the driver. The symmetrized edges are materialized
  once by a barrier that also counts them (an ``Observation``, no extra
  job). When ``rows × 16 B`` (two longs) fits the session's
  ``spark.sql.autoBroadcastJoinThreshold`` — the size this engine already
  treats as "small enough to build on the driver and broadcast" (8 MB under
  ``session.get_spark``; −1 means never) — the edges are collected once via
  Arrow, labelled by hook-to-min-root union with pointer jumping in numpy,
  and broadcast back. On such graphs the join loop's rounds are nearly all
  driver overhead (Kiveris et al. observe the same of CC's tail rounds).
* Larger graphs run the join loop below; everything from here on applies
  to the loop only.
* Identity graphs here are built from *star* edges per block
  (operators/blocking.py), so per-block diameter ≤ 2 and chains across
  blocks are bounded by aliases-per-person — convergence in a handful of
  rounds, each round = 2 shuffle joins on the same key layout.
* Lineage is truncated every iteration (north_rule: checkpointed CC
  iterations) by ``session.barrier``: a reliable checkpoint into the
  SparkContext's checkpoint dir when one is set (an executor loss mid-loop
  replays from it, not from the raw edges), a local checkpoint otherwise
  — fine in local mode, configure a checkpoint dir on a real cluster.
* For cross-*job* durability, pass a ``CheckpointStore``: every completed
  iteration's labels are persisted under a key that includes a fingerprint
  of the (symmetrized) edge input, so a killed job resumes from the last
  finished iteration — and a different graph sharing the store can never
  resume from stale labels. Iteration files are deleted on convergence.
* Labels only decrease and are bounded by the component minimum, so the
  total-sum convergence test is exact (no row-level diff join needed). The
  sum is an ``Observation`` on the barrier that materializes the labels, so
  a round is one action.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from identity_matching_spark.session import barrier, observed

# bytes per symmetrized edge row on the driver: two longs
EDGE_ROW_BYTES = 16
# join-loop rounds before giving up (the returned labels are then
# unconverged); the driver finish always converges
MAX_ITER = 50


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge list → symmetric, loop-free, deduped (src, dst)."""
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    return (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def edges_fingerprint(edges: DataFrame) -> str:
    """Cheap order-insensitive fingerprint of an edge set: row count plus two
    independent hash-sums, computed as one aggregation. Keys the durable
    iteration checkpoints so resume can never cross graphs."""
    # NB: on a symmetrized edge set, sum(xxhash64(dst, src)) would equal
    # sum(xxhash64(src, dst)) — the second sum must mix differently to be
    # an independent check, hence the salt literal.
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(F.lit("salt"), "src", "dst").cast("decimal(38,0)")).alias("h2"),
    ).collect()[0]
    return hashlib.sha256(f"{row['n']}|{row['h1']}|{row['h2']}".encode()).hexdigest()[:12]


def _min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Min-id component labels of an edge list, computed on the driver.

    Each pass hooks every root that shares an edge with a smaller root onto
    the smallest such root, then pointer-jumps every node to its root.
    Parents only ever decrease, so the forest stays acyclic and each
    component's root is its minimum id. Returns ``(ids, component)`` over
    the edge endpoints."""
    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = idx[: len(src)], idx[len(src) :]
    parent = np.arange(len(ids))
    while True:
        rs, rd = parent[s], parent[d]
        live = rs != rd
        if not live.any():
            return ids, ids[parent]
        s, d, rs, rd = s[live], d[live], rs[live], rd[live]
        np.minimum.at(parent, np.maximum(rs, rd), np.minimum(rs, rd))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _finish_on_driver(e: DataFrame, nodes: DataFrame | None) -> DataFrame:
    """Labels of the (small) symmetrized edge set ``e``: collect it once,
    label on the driver, broadcast the labels back to ``nodes``."""
    edges = e.withColumnRenamed("src", "id")
    if nodes is not None:
        # the join loop ignores an edge with an endpoint outside ``nodes``:
        # (a, b) survives this join iff a is a node, and b is a node iff the
        # reverse edge (b, a) survives too
        edges = nodes.join(F.broadcast(edges), "id")
    pdf = edges.toPandas()
    if nodes is not None:
        pdf = pdf[pdf["dst"].isin(pdf["id"])]
    ids, comp = _min_labels(pdf["id"].to_numpy("int64"), pdf["dst"].to_numpy("int64"))
    labels = e.sparkSession.createDataFrame(
        pd.DataFrame({"id": ids, "component": comp}), "id long, component long"
    )
    if nodes is None:
        return labels
    return nodes.join(F.broadcast(labels), "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


def _summed(labels: DataFrame) -> tuple[DataFrame, object]:
    """``labels`` materialized by a barrier, and the sum of their components,
    which rides that barrier's action as an ``Observation``."""
    total = Observation()
    labels = barrier(
        labels.observe(total, F.sum(F.col("component").cast("decimal(38,0)")).alias("sum"))
    )
    return labels, observed(total, "sum")["sum"]


def _round(e: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation + pointer-jump round (lazy plan)."""
    nbr_min = (
        e.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src")
        .agg(F.min("component").alias("nbr_comp"))
        .withColumnRenamed("src", "id")
    )
    lbl = labels.join(nbr_min, "id", "left").select(
        "id",
        F.least(F.col("component"), F.coalesce("nbr_comp", "component")).alias("component"),
    )
    jump = lbl.select(F.col("id").alias("component"), F.col("component").alias("jumped"))
    return lbl.join(jump, "component", "left").select(
        "id", F.least("component", F.coalesce("jumped", "component")).alias("component")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    store=None,
    stage_prefix: str = "cc",
) -> DataFrame:
    """Compute connected components of an undirected graph.

    Parameters
    ----------
    edges : DataFrame[src: long, dst: long]
    nodes : optional DataFrame[id: long] — include isolated nodes; defaults
        to the nodes present in ``edges``. An edge with an endpoint absent
        from ``nodes`` is ignored: it neither labels that endpoint nor
        connects anything through it.
    store : optional CheckpointStore — loop only: every iteration's labels
        are written durably under ``{stage_prefix}_{edge_fingerprint}_iter{i}``
        (north_rule: checkpointed CC iterations; a killed run resumes from
        the last completed iteration instead of restarting the loop, and the
        fingerprint guarantees resume only against the same graph). The
        iteration files are removed once the loop converges.

    The symmetrized edges are counted by the barrier that materializes
    them. When ``rows × EDGE_ROW_BYTES`` is at most the session's
    ``spark.sql.autoBroadcastJoinThreshold`` (−1: never), the labels are
    computed on the driver and returned as ``nodes ⋈ broadcast(labels)``;
    no store file is written and no fingerprint computed. Otherwise the
    join loop runs, with the store, resume and fingerprint logic above.

    Returns DataFrame[id: long, component: long] where ``component`` is the
    minimum node id in the component (reference semantics: merged person id =
    min member id, /root/reference/people.go:332-353).
    """
    spark = edges.sparkSession
    counted = Observation()
    e = barrier(symmetrize(edges).observe(counted, F.count(F.lit(1)).alias("rows")))
    if nodes is not None:
        nodes = nodes.select(F.col("id").cast("long")).distinct()
    cap = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if observed(counted, "rows")["rows"] * EDGE_ROW_BYTES <= cap:
        return _finish_on_driver(e, nodes)

    if nodes is None:
        nodes = e.select(F.col("src").alias("id")).distinct()

    labels, prev_sum = _summed(nodes.select("id", F.col("id").alias("component")))

    start_iter = 0
    iter_key = None
    if store is not None:
        iter_key = f"{stage_prefix}_{edges_fingerprint(e)}"
        # resume from the last durably completed iteration of THIS graph
        for i in range(MAX_ITER - 1, -1, -1):
            if store.exists(f"{iter_key}_iter{i}"):
                # materialize off the store file: the scaffolding is deleted
                # after convergence and the result must not depend on it
                labels, prev_sum = _summed(store.read(f"{iter_key}_iter{i}"))
                start_iter = i + 1
                break

    converged = False
    for _it in range(start_iter, MAX_ITER):
        labels, cur_sum = _summed(_round(e, labels))
        # labels only decrease, so an unchanged sum proves no label moved
        if cur_sum == prev_sum:
            converged = True
            break
        if store is not None:
            labels = store.write(f"{iter_key}_iter{_it}", labels)
        prev_sum = cur_sum

    if store is not None and converged:
        # converged: iteration scaffolding is no longer a valid resume point.
        # An unconverged (MAX_ITER-exhausted) run keeps its files — they are
        # both the resume point for a follow-up run and, when the loop exited
        # right after a store.write, the backing storage of the returned
        # DataFrame.
        for i in range(MAX_ITER):
            store.delete(f"{iter_key}_iter{i}")
            store.delete(f"{iter_key}_iter{i}_metrics")
    return labels
