"""Distributed connected components (SURVEY §2.6 C1–C3).

The reference clusters with an in-core graph (gonum
``topo.ConnectedComponents``, /root/reference/matching.go:211-222) or a
union-find (/root/reference/research/idmatching/people.py:36-110). Neither
survives 10^12 rows, so this is an iterative-join min-label propagation with
pointer-jumping (the standard Spark CC shape; Kiveris et al., "Connected
Components in MapReduce and Beyond").

Scale notes:
* Identity graphs here are built from *star* edges per block
  (operators/blocking.py), so per-block diameter ≤ 2 and chains across
  blocks are bounded by aliases-per-person — convergence in a handful of
  rounds, each round = 2 shuffle joins on the same key layout.
* Lineage is truncated every iteration (north_rule: checkpointed CC
  iterations). When the SparkContext has a checkpoint directory configured
  (``sc.setCheckpointDir``), the truncation is a *reliable* ``checkpoint()``
  into it — an executor loss mid-loop replays from the checkpoint, not from
  the raw edges. Without one it falls back to ``localCheckpoint`` (fast,
  but executor-lost state recomputes) — fine in local mode, configure a
  checkpoint dir on a real cluster.
* For cross-*job* durability, pass a ``CheckpointStore``: every completed
  iteration's labels are persisted under a key that includes a fingerprint
  of the (symmetrized) edge input, so a killed job resumes from the last
  finished iteration — and a different graph sharing the store can never
  resume from stale labels. Iteration files are deleted on convergence.
* Labels only decrease and are bounded by the component minimum, so the
  total-sum convergence test is exact (no row-level diff join needed).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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


def _truncate(df: DataFrame, reliable: bool, eager: bool) -> tuple[DataFrame, DataFrame | None]:
    """Cut lineage: reliable checkpoint when a checkpoint dir is configured
    (survives executor loss), localCheckpoint otherwise.

    The reliable path persists first: an unpersisted RDD is recomputed from
    scratch by ``doCheckpoint`` when it writes the checkpoint files, doubling
    every iteration's work — exactly the cluster path the feature targets.

    Returns ``(truncated, cache_handle)``. The checkpointed DataFrame has a
    NEW plan (LogicalRDD), so calling ``unpersist`` on it would not release
    the cache entry — that entry is keyed to the pre-checkpoint plan. The
    caller must unpersist the returned handle once the next iteration's
    checkpoint has materialized (verified empirically: unpersisting the
    post-checkpoint DataFrame leaves the CacheManager entry alive).
    """
    if not reliable:
        return df.localCheckpoint(eager=eager), None
    cached = df.persist()
    return cached.checkpoint(eager=eager), cached


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
    max_iter: int = 50,
    store=None,
    stage_prefix: str = "cc",
) -> DataFrame:
    """Compute connected components of an undirected graph.

    Parameters
    ----------
    edges : DataFrame[src: long, dst: long]
    nodes : optional DataFrame[id: long] — include isolated nodes; defaults
        to the nodes present in ``edges``.
    store : optional CheckpointStore — when given, every iteration's labels
        are written durably under ``{stage_prefix}_{edge_fingerprint}_iter{i}``
        (north_rule: checkpointed CC iterations; a killed run resumes from
        the last completed iteration instead of restarting the loop, and the
        fingerprint guarantees resume only against the same graph). The
        iteration files are removed once the loop converges.

    Returns DataFrame[id: long, component: long] where ``component`` is the
    minimum node id in the component (reference semantics: merged person id =
    min member id, /root/reference/people.go:332-353).
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None

    e, e_handle = _truncate(symmetrize(edges), reliable, eager=True)
    if nodes is None:
        nodes = e.select(F.col("src").alias("id")).distinct()
    else:
        nodes = nodes.select(F.col("id").cast("long")).distinct()

    labels, labels_handle = _truncate(
        nodes.select("id", F.col("id").alias("component")), reliable, eager=True
    )
    prev_sum = labels.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]

    start_iter = 0
    iter_key = None
    if store is not None:
        iter_key = f"{stage_prefix}_{edges_fingerprint(e)}"
        # resume from the last durably completed iteration of THIS graph
        for i in range(max_iter - 1, -1, -1):
            if store.exists(f"{iter_key}_iter{i}"):
                # materialize off the store file: the scaffolding is deleted
                # after convergence and the result must not depend on it
                if labels_handle is not None:
                    labels_handle.unpersist()
                labels, labels_handle = _truncate(
                    store.read(f"{iter_key}_iter{i}"), reliable, eager=True
                )
                prev_sum = labels.agg(
                    F.sum(F.col("component").cast("decimal(38,0)"))
                ).collect()[0][0]
                start_iter = i + 1
                break

    converged = False
    prev_cached: DataFrame | None = labels_handle
    for _it in range(start_iter, max_iter):
        # lazy checkpoint: the convergence aggregation below is the single
        # action per round — it materializes the checkpoint as it runs
        lbl, lbl_handle = _truncate(_round(e, labels), reliable, eager=False)
        cur_sum = lbl.agg(F.sum(F.col("component").cast("decimal(38,0)"))).collect()[0][0]
        if reliable:
            # this round's checkpoint is on disk; free the previous round's
            # cache (the PERSIST handle — unpersisting the post-checkpoint
            # DataFrame would be a no-op, see _truncate)
            if prev_cached is not None:
                prev_cached.unpersist()
            prev_cached = lbl_handle
        labels = lbl
        # labels only decrease, so an unchanged sum proves no label moved
        if cur_sum == prev_sum:
            converged = True
            break
        if store is not None:
            labels = store.write(f"{iter_key}_iter{_it}", labels)
        prev_sum = cur_sum

    # loop done: the surviving labels are backed by checkpoint files (or a
    # store parquet), never by these caches — release them all
    for h in (prev_cached, e_handle):
        if h is not None:
            h.unpersist()

    if store is not None and converged:
        # converged: iteration scaffolding is no longer a valid resume point.
        # An unconverged (max_iter-exhausted) run keeps its files — they are
        # both the resume point for a follow-up run and, when the loop exited
        # right after a store.write, the backing storage of the returned
        # DataFrame.
        for i in range(max_iter):
            store.delete(f"{iter_key}_iter{i}")
            store.delete(f"{iter_key}_iter{i}_metrics")
    return labels
