"""Incremental (streaming) signature ingestion.

The reference is strictly batch (SURVEY §2.7: no watermarks, no event-time
windows anywhere), so the core engine needs no Structured Streaming. This
module covers the practical gap for a continuously-appended transcript
table: ingest turn streams, maintain per-conversation signature state, and
periodically fold finished conversations into the batch pipeline.

Design (Spark-first):

* signatures come from ``operators.signatures.stream_signatures`` — the
  batch extractor's per-turn projection and aggregation, grouped by
  (conv_id, session window) over a watermarked turn stream, so late turns
  within the allowed lateness still update the signature and the bronze
  rows carry the batch signature columns.
* clustering itself stays batch-incremental (foreachBatch → checkpointed
  pipeline stages): transitive closure is a global fixpoint — streaming it
  row-by-row would re-derive CC per update; re-running the checkpointed CC
  on the delta-merged signature table is the scalable contract.
"""

from __future__ import annotations

from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.operators import blocking
from identity_matching_spark.session import barrier, observed


# --- delta-scoped incremental clustering ---------------------------------
#
# A continuously-appended corpus must not pay a full-corpus resolution per
# micro-batch (the r3 design did exactly that). The exact-delta contract:
#
# 1. the batch's new person rows contribute blocking keys (non-popular
#    email + name_key, same 64-bit surrogates ``reduce_people`` encodes);
# 2. the set of CURRENT final clusters that must be re-resolved is the
#    closure of those keys over the bipartite cluster↔key graph: a key
#    touches every cluster holding it, a touched cluster contributes the
#    keys of all its members, iterate to fixpoint (bucket-probing
#    equi-joins, like CC rounds — :func:`_touched_closure_bucketed`);
# 3. re-run ``reduce_people`` on the touched clusters' members (the
#    membership rows the closure read) plus the delta; every untouched
#    membership row passes through unchanged.
#
# :func:`fold_batch` is the one engine: it runs these steps against the
# bucketed :class:`IncrementalState` below and commits only the buckets
# they change. The closure covers name/email keys only, so the state must
# come from an exact-mode resolution (no external ids, no similarity
# edges); the manifest's ``exact_mode`` marker records that, and a store
# without it is refused.
#
# Why this is EXACT, not approximate: at fixpoint, no non-popular blocking
# key is shared between a scoped and an unscoped person (a shared key would
# have pulled the unscoped person's cluster into the closure). Email-phase
# edges, name blocks, per-component weights, and the capped greedy all
# operate strictly within a block, so the edge set — and therefore CC and
# every greedy packing decision — decomposes over the scope boundary.
# Popular keys produce no edges by construction, and popularity here is the
# static blacklist (per-key, data-independent), so flags cannot drift as
# the corpus grows. Cluster ids are min(member person id) over global hash
# ids: untouched clusters keep their ids verbatim, re-scoped ones get
# exactly the id a from-scratch run would assign.
# (Co-occurrence popularity — a global statistic — would break the
# decomposition; the incremental path pins static-blacklist popularity.)


def blocking_keys(rows: DataFrame, blacklist, owner: str) -> DataFrame:
    """DataFrame[<owner>, key] — one row per usable (non-popular) blocking
    key of each row, encoded by :func:`operators.blocking.key_surrogate`,
    as the batch clusterer encodes it. NULL keys are excluded — their
    surrogate is NULL (never equi-joins), so they couple nothing and must
    not seed or carry closure edges."""
    names = rows.where(
        F.col("name_key").isNotNull() & ~blacklist.is_popular_name(F.col("name_key"))
    ).select(owner, blocking.key_surrogate("name_key").alias("key"))
    emails = rows.where(
        F.col("email").isNotNull() & ~blacklist.is_popular_email(F.col("email"))
    ).select(owner, blocking.key_surrogate("email").alias("key"))
    return names.union(emails)


def derive_cluster_keys(members: DataFrame, blacklist) -> DataFrame:
    """The (component, key) relation — the ``key_index`` table's rows — of
    member rows (person rows carrying their ``component``). At bootstrap
    :func:`fold_batch` derives it from the whole membership (one
    full-corpus shuffle); each fold derives it from the re-resolved rows
    only."""
    return blocking_keys(members, blacklist, "component").distinct()


# --- bucketed, manifest-committed state store ------------------------------
#
# The two state tables (membership and key_index) are laid out as
# <root>/<table>/bucket=K/gen=G/ parquet leaves, with a SINGLE
# atomically-replaced manifest JSON naming the live generation per
# bucket, each table's schema and its bucket column. Per batch only the
# AFFECTED buckets are rewritten under gen=<batch_id> (dynamic partition
# overwrite — untouched buckets are neither read nor written), and the one
# os.replace of the manifest is the commit point:
#
# * the table writes run concurrently (one driver thread each, carrying the
#   caller's job group and tags); each table's rows are repartitioned on
#   their bucket into min(affected buckets, cores) tasks first, so every
#   written leaf holds exactly one part file and the leaves are written on
#   every core;
# * the commit waits for all writes and re-raises the first failure before
#   it touches the manifest, so no write outlives commit();
# * crash anywhere before the manifest replace → the old manifest still
#   names only old generations; all tables stay mutually consistent;
# * foreachBatch replays the batch → the commit first clears any
#   gen=<batch_id> leaves a crashed attempt left in the affected buckets,
#   then re-applies idempotently;
# * a manifest batch_id >= the replayed batch's id → the fold is skipped
#   (already committed);
# * reads pass the manifest's schema and open its leaves in groups small
#   enough for Spark to list on the driver, so opening a leaf set runs no
#   footer-inference or file-listing job, and a bucket set holding no data
#   reads as an empty frame of that schema;
# * a store whose manifest records other bucket columns (or none) is
#   refused on open, before anything is read or written;
# * generations no manifest references are garbage-collected after the
#   publish: the writer's first commit sweeps every bucket, later commits
#   only their affected buckets. Opening a store never deletes anything, so
#   a reader opened during a commit cannot remove unpublished leaves.
#
# Bronze appends are keyed by batch_id partition (overwrite-in-place), so a
# replayed batch never double-appends.

# buckets per state table; the manifest records it and a store written with
# another count is refused on open
N_BUCKETS = 64


class IncrementalState:
    """Versioned bucket-partitioned state with an atomic manifest commit."""

    TABLES = ("membership", "key_index")
    # Each relation is stored once, bucketed by the column the closure
    # probes it on: key_index's (component, key) rows by key (key →
    # component) and membership — one row per person: its attributes, its
    # component and external_id — by component (component → member rows,
    # whose blocking keys are the next frontier). Every probe then reads
    # only matching buckets, so the fold's reads track the delta like its
    # shuffles do.
    BUCKET_COL = {"membership": "component", "key_index": "key"}

    def __init__(self, spark, root: str):
        import os

        self.spark = spark
        self.root = root
        self.n_buckets = N_BUCKETS
        self.manifest_path = os.path.join(root, "state_manifest.json")
        self._manifest = self._load()
        if self._manifest and self._manifest.get("n_buckets") != self.n_buckets:
            raise ValueError(
                f"state at {root} was written with n_buckets="
                f"{self._manifest.get('n_buckets')}, opened with {self.n_buckets}"
            )
        if self._manifest and self._manifest.get("bucket_cols") != self.BUCKET_COL:
            # probing a table by a column it is not bucketed on would miss
            # rows and silently under-scope the fold
            raise ValueError(
                f"state at {root} was written with another table layout "
                f"(bucket_cols={self._manifest.get('bucket_cols')}, expected "
                f"{self.BUCKET_COL}) — remove its state_manifest.json to "
                "re-bootstrap it from bronze"
            )
        # the first commit through this object sweeps every bucket
        self._swept = False

    # -- manifest ----------------------------------------------------------

    def _load(self) -> dict | None:
        import json
        import os

        if not os.path.exists(self.manifest_path):
            return None
        with open(self.manifest_path) as fh:
            return json.load(fh)

    def exists(self) -> bool:
        return self._manifest is not None

    def committed_batch(self) -> int:
        return self._manifest["batch_id"] if self._manifest else -1

    def bucket_expr(self, table: str):
        return F.pmod(F.xxhash64(F.col(self.BUCKET_COL[table])), F.lit(self.n_buckets))

    def _leaf(self, table: str, bucket: int, gen: int) -> str:
        import os

        return os.path.join(self.root, table, f"bucket={bucket}", f"gen={gen}")

    def exact_mode(self) -> bool:
        """True when the manifest records that this state was produced by an
        exact-mode resolution (no external ids, no similarity edges) — set
        at bootstrap by :func:`fold_batch`, whose reduce_people call can
        produce nothing else, and preserved across commits. :func:`fold_batch`
        refuses to fold into a store without it (see ADVICE r5: column
        shapes alone cannot distinguish a similarity-mode resolution, so
        state NOT written through ``fold_batch`` must be re-resolved rather
        than folded)."""
        return bool(self._manifest) and self._manifest.get("exact_mode", False)

    def _schema(self, table: str):
        """The table's committed schema, as recorded in the manifest."""
        import json

        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(self._manifest["schemas"][table]))

    def read(self, table: str) -> DataFrame:
        """Current contents of a table (live generation of every bucket)."""
        return self.read_buckets(table, range(self.n_buckets))

    def read_buckets(self, table: str, buckets) -> DataFrame:
        """Only the named buckets (partition-pruned read). Buckets holding
        no data — all of them, e.g. in a store bootstrapped from a zero-row
        first micro-batch — read as an empty frame with the committed
        schema, which also spares every read its footer-inference job.

        Spark lists more than ``spark.sql.sources.parallelPartitionDiscovery
        .threshold`` paths with a Spark job, so the leaves are opened in
        groups of at most that many and unioned: each group is listed on the
        driver, as ``commit`` and ``_gc`` list leaves, and building the frame
        starts no job. Raises ``ValueError`` on a store with no manifest."""
        from functools import reduce

        if self._manifest is None:
            raise ValueError(f"no committed state at {self.root}: nothing to read")
        schema = self._schema(table)
        gens = self._manifest["tables"][table]
        paths = [self._leaf(table, b, gens[str(b)]) for b in buckets if str(b) in gens]
        if not paths:
            return self.spark.createDataFrame([], schema)
        threshold = self.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        step = max(int(threshold), 1)
        reader = self.spark.read.schema(schema)
        return reduce(
            DataFrame.union,
            (reader.parquet(*paths[i : i + step]) for i in range(0, len(paths), step)),
        )

    # -- commit ------------------------------------------------------------

    def commit(
        self,
        batch_id: int,
        writes: dict[str, tuple[DataFrame, list[int]]],
        exact_mode: bool,
    ) -> None:
        """Persist ``{table: (content, affected_buckets)}`` as generation
        ``batch_id`` of the affected buckets, then atomically publish the
        new manifest. ``content`` must hold exactly the new rows of the
        affected buckets (pass-through rows of other buckets excluded).
        ``exact_mode`` is recorded in the manifest (see :meth:`exact_mode`):
        pass True only for content of an exact-mode resolution.

        The table writes run concurrently; every one finishes before the
        first failure is re-raised, and only then is the manifest touched."""
        import json
        import os
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        from pyspark.util import inheritable_thread_target

        live = self._manifest["tables"] if self._manifest else {}
        for table in self.TABLES:
            for b in writes[table][1]:
                # a crashed attempt at this batch may have left a leaf in a
                # bucket this attempt leaves empty; the existence check below
                # must not adopt it
                if live.get(table, {}).get(str(b)) != batch_id:
                    shutil.rmtree(self._leaf(table, b, batch_id), ignore_errors=True)

        # the tables write at once: each gets its share of the cores
        cores = max(1, self.spark.sparkContext.defaultParallelism // len(self.TABLES))

        def write(table: str) -> None:
            content, affected = writes[table]
            (
                content.withColumn("bucket", self.bucket_expr(table))
                .withColumn("gen", F.lit(batch_id))
                # every row of a bucket in one task → one part file per leaf;
                # AQE coalesces a shuffle without an explicit count to one
                # task here (a commit moves little data), which then writes
                # every leaf in turn, so the count spreads the leaves over
                # the table's cores
                .repartition(max(1, min(len(affected), cores)), "bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket", "gen")
                .parquet(os.path.join(self.root, table))
            )

        # each target is wrapped here, in the caller's thread, so its jobs
        # inherit the caller's job group and tags
        with ThreadPoolExecutor(len(self.TABLES)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(write), table)
                for table in self.TABLES
            ]
        for f in futures:
            f.result()  # all are done: re-raises the first failure

        schemas = {}
        new_tables = {}
        for table in self.TABLES:
            df, affected = writes[table]
            schemas[table] = df.schema.json()
            gens = dict(live.get(table, {}))
            for b in affected:
                # dynamic overwrite writes no leaf for an empty bucket: the
                # manifest entry is dropped and the bucket reads as empty
                if os.path.exists(self._leaf(table, b, batch_id)):
                    gens[str(b)] = batch_id
                else:
                    gens.pop(str(b), None)
            new_tables[table] = gens
        manifest = {
            "batch_id": batch_id,
            "n_buckets": self.n_buckets,
            "bucket_cols": self.BUCKET_COL,
            "exact_mode": exact_mode,
            "tables": new_tables,
            "schemas": schemas,
        }
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, self.manifest_path)  # the commit point
        self._manifest = manifest
        if self._swept:
            # commit knows exactly which buckets changed — GC only those
            # (a full walk is O(n_buckets × tables) driver listdir calls)
            self._gc({t: writes[t][1] for t in self.TABLES})
        else:
            # the writer's first commit sweeps every bucket: orphans of a
            # crash between a publish and its GC, or of a crashed attempt
            # at another batch, are collected here. Only the writer sweeps,
            # after its publish, so no unpublished leaf is ever at risk.
            self._gc(None)
            self._swept = True

    def _gc(self, affected: dict[str, list[int]] | None = None) -> None:
        """Delete generations the manifest no longer references. Runs after
        the commit point — a crash mid-GC leaves only unreferenced leaves.
        ``affected`` limits the walk to those buckets per table; None sweeps
        every bucket (the writer's first commit)."""
        import os
        import shutil

        for table in self.TABLES:
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            gens = self._manifest["tables"].get(table, {})
            if affected is None:
                bdirs = [d for d in os.listdir(tdir) if d.startswith("bucket=")]
            else:
                bdirs = [f"bucket={b}" for b in affected.get(table, [])]
            for bdir in bdirs:
                bucket = bdir.split("=", 1)[1]
                live = gens.get(bucket)
                bpath = os.path.join(tdir, bdir)
                if not os.path.isdir(bpath):
                    continue
                for gdir in os.listdir(bpath):
                    if not gdir.startswith("gen="):
                        continue
                    if live is None or int(gdir.split("=", 1)[1]) != live:
                        shutil.rmtree(os.path.join(bpath, gdir), ignore_errors=True)
                if live is None and not os.listdir(bpath):
                    os.rmdir(bpath)


def _collect_bucket_sets(state: IncrementalState, **frames: DataFrame) -> dict[str, list[int]]:
    """Distinct buckets of delta-scoped frames (small by contract) in one
    round trip: ``table=frame`` → ``{table: buckets}``, each frame holding
    the table's bucket column and tagged with its name. The rows come back
    through Arrow and are deduplicated on the driver: a distinct would add
    a shuffle, which AQE runs as a job of its own."""
    from functools import reduce

    tagged = [
        df.select(F.lit(table).alias("t"), state.bucket_expr(table).alias("b"))
        for table, df in frames.items()
    ]
    rows = reduce(DataFrame.union, tagged).toPandas()
    return {table: sorted(set(rows.loc[rows["t"] == table, "b"].tolist())) for table in frames}


def _touched_closure_bucketed(
    state: IncrementalState, delta: DataFrame, blacklist, max_hops: int = 25
) -> tuple[dict[int, int], DataFrame, int, int]:
    """Fixpoint of the clusters reachable from the delta's blocking keys
    over the bipartite (component, key) relation. A hop is two probes that
    read ONLY matching buckets: the frontier keys' key_index buckets give
    the newly touched components, and their membership buckets give the
    member rows, whose blocking keys are the next frontier. So the fold's
    read volume tracks the delta the way its shuffles already do. A bucket
    is a pure function of the equi-join key, so probing matching buckets
    loses no join partner.

    Each probe collects its delta-sized rows with their buckets through
    Arrow in one action — the frontier's (key, bucket) and the new
    components' (component, bucket), deduplicated on the driver, as a
    distinct would add a shuffle job — and hands them back to the next
    probe as a local relation to broadcast, so a hop runs two collects plus
    the member-rows barrier, and the touched set lives on the driver. Returns
    (touched — {component: its membership bucket} —, their member rows —
    the re-resolve scope —, hops, buckets_read); raises if the closure has
    not converged after ``max_hops`` (pathologically chained corpora)."""
    spark = state.spark
    touched: dict[int, int] = {}
    scope = state.read_buckets("membership", [])
    rows = delta
    buckets_read = 0
    for hops in range(max_hops):
        frontier = (
            blocking_keys(rows, blacklist, "id")
            .select("key", state.bucket_expr("key_index").alias("b"))
            .toPandas()
            .drop_duplicates()
        )
        if frontier.empty:
            return touched, scope, hops, buckets_read
        kb = sorted(set(frontier["b"].tolist()))
        comps = (
            state.read_buckets("key_index", kb)
            .join(F.broadcast(spark.createDataFrame(frontier[["key"]], "key long")), "key")
            .select("component", state.bucket_expr("membership").alias("b"))
            .toPandas()
            .drop_duplicates()
        )
        comps = comps[~comps["component"].isin(set(touched))]
        mb = sorted(set(comps["b"].tolist()))
        buckets_read += len(kb) + len(mb)
        if not mb:
            return touched, scope, hops, buckets_read
        touched.update(zip(comps["component"].tolist(), comps["b"].tolist()))
        new_comps = spark.createDataFrame(comps[["component"]], "component long")
        rows = (
            state.read_buckets("membership", mb)
            .join(F.broadcast(new_comps), "component", "semi")
            .transform(barrier)
        )
        scope = scope.unionByName(rows)
    raise RuntimeError(
        f"cluster closure did not converge in {max_hops} hops — "
        "fall back to a full re-resolution for this batch"
    )


@contextmanager
def _job_tag(spark, tag: str):
    """Tag every Spark job started in the block (this thread) with ``tag``."""
    spark.addTag(tag)
    try:
        yield
    finally:
        spark.removeTag(tag)


def fold_batch(
    state: IncrementalState,
    delta_persons: DataFrame,
    blacklist,
    max_identities: int | None = 20,
    batch_id: int = 0,
    collect_metrics: bool = False,
) -> dict:
    """Fold one batch of person rows into the maintained state — every
    Spark job in here is delta-scoped, READS included:

    * the touched-cluster closure probes key_index and membership
      bucket-by-bucket (never a full-table scan), and the member rows it
      reads are the re-resolve scope;
    * the membership/key_index rewrites touch only the buckets holding
      scoped/rescoped rows, whose sets come back in one round trip; an id
      colliding with the delta merges its old row from the same membership
      read (the groupBy shuffles colliding ∪ delta rows, never the corpus
      — metric ``merge_rows``);
    * the commit writes both tables concurrently, one part file per
      rewritten ``(bucket, gen)`` leaf, and publishes the manifest (the
      atomic point) only after every write has finished; the jobs keep the
      caller's job group and tags;
    * every state read takes its schema from the manifest (no footer
      inference job) and opens the manifest's leaves in groups Spark lists
      on the driver (no file-listing job); unreferenced generations are
      collected by the writer after its publish, never by a reader opening
      the store.

    The jobs of a fold's three steps carry the job tags ``fold:closure``,
    ``fold:re-resolve`` and ``fold:commit``.

    The first batch bootstraps the store with a from-scratch
    ``reduce_people``. Every later batch requires the manifest's
    ``exact_mode`` marker (:meth:`IncrementalState.exact_mode`): a store
    without it — written in similarity mode, or by a layout that predates
    the marker — raises ``ValueError`` before anything is read or written,
    and must be re-resolved from scratch. The folded membership equals a
    from-scratch ``reduce_people`` over every batch so far (see the module
    note; pinned by tests/test_incremental_delta.py).
    ``metrics['buckets_read']`` counts every bucket the fold reads (closure
    probes plus the membership and key_index rewrite reads) so tests can
    assert reads track the delta, not the corpus. With ``collect_metrics``
    the row counts (``scope_rows``, ``delta_rows``, ``merge_rows``) come
    from ``Observation``s on actions the fold runs anyway: no count job.
    """
    import logging

    from pyspark.sql import Observation

    from identity_matching_spark.operators.cluster import reduce_people

    if state.committed_batch() >= batch_id:
        if state.committed_batch() > batch_id:
            # A batch id BELOW the committed one means the streaming
            # checkpoint was lost and ids restarted — silently dropping
            # every "new" batch until ids catch up is the ADVICE-r5
            # failure. Refuse loudly; equal ids are normal replays.
            raise ValueError(
                f"incoming batch_id={batch_id} is below the committed "
                f"batch {state.committed_batch()} — the streaming "
                "checkpoint was likely deleted while the state manifest "
                "survived. Restore the checkpoint or start a fresh "
                "store_root; refusing to silently drop batches."
            )
        logging.getLogger(__name__).warning(
            "fold_batch: batch %s already committed (manifest batch %s) — "
            "replay skipped",
            batch_id,
            state.committed_batch(),
        )
        return {"skipped_replay": True}
    if state.exists() and not state.exact_mode():
        # The closure covers name/email blocking keys ONLY: external-id and
        # similarity edges couple clusters through relations the blocking
        # keys of member rows do not carry, so folding such state would
        # silently under-scope (ADVICE r4).
        raise ValueError(
            f"fold_batch requires an exact-mode store; the manifest at "
            f"{state.manifest_path} lacks the exact-mode marker (similarity "
            "mode, external ids, or a layout that predates the marker) — "
            "re-resolve the corpus from scratch into a fresh store"
        )
    spark = state.spark
    delta = delta_persons.transform(barrier)

    if not state.exists():
        membership = delta.join(
            reduce_people(delta, blacklist, max_identities=max_identities), "id"
        )
        all_buckets = list(range(state.n_buckets))
        state.commit(
            batch_id,
            {
                "membership": (membership, all_buckets),
                "key_index": (derive_cluster_keys(membership, blacklist), all_buckets),
            },
            exact_mode=True,
        )
        return {"bootstrap": True}

    observations: dict[str, Observation] = {}

    def counted(df: DataFrame, metric: str) -> DataFrame:
        """``df``, counting its rows into ``metrics[metric]`` when metrics
        are collected; ``df`` must feed exactly one action's plan."""
        if not collect_metrics:
            return df
        observations[metric] = Observation()
        return df.observe(observations[metric], F.count(F.lit(1)).alias("rows"))

    delta_ids = delta.select("id").distinct().transform(barrier)

    # --- touched closure, which reads the scope (bucket probes) -----------
    with _job_tag(spark, "fold:closure"):
        touched, scope, hops, buckets_read = _touched_closure_bucketed(state, delta, blacklist)
    metrics: dict = {"hops": hops, "touched_clusters": len(touched)}

    # --- re-resolve the scoped slice, then its affected buckets -----------
    with _job_tag(spark, "fold:re-resolve"):
        scope = scope.drop("component", "external_id")
        scoped = scope.unionByName(delta).dropDuplicates(["id"]).transform(barrier)
        # keys verified as in a from-scratch run: a surrogate collision must raise, not merge
        rescoped = reduce_people(scoped, blacklist, max_identities=max_identities)
        rescoped = counted(rescoped, "scope_rows").transform(barrier)
        # membership: the touched components (their buckets are known from
        # the closure), whose rows are replaced, and the rescoped ones — one
        # row per scoped person; key_index: the scope's keys, which are the
        # keys of the touched components' old rows (to drop) and of the new
        # rows alike
        affected = _collect_bucket_sets(
            state,
            membership=rescoped.select("component"),
            key_index=blocking_keys(scoped, blacklist, "id").select("key"),
        )
    member_buckets = sorted(set(affected["membership"]) | set(touched.values()))
    kidx_buckets = affected["key_index"]

    # --- membership: old rows minus the rescoped ids, plus the new rows ---
    # No old row of a rescoped id is missed: it lies in a touched component,
    # or the id has no usable key — then no closure seed finds it, and the
    # exact key_index (which every fold's exactness rests on) proves it was
    # a singleton, whose component is its own id and so one of rescoped's
    # components. The same read gives the old rows of ids colliding with
    # the delta, merged with their new rows (delta-sized groupBy).
    old_members = state.read_buckets("membership", member_buckets)
    merge_input = counted(
        old_members.join(F.broadcast(delta_ids), "id", "semi")
        .drop("component", "external_id")
        .unionByName(counted(delta, "delta_rows")),
        "merge_rows",
    )
    merged = merge_input.groupBy(
        "id", "repo", "name", "email", "name_key", "popular_name"
    ).agg(F.max("hash").alias("hash"), F.max("ts").alias("ts"))
    new_members = (
        scope.join(F.broadcast(delta_ids), "id", "left_anti")
        .unionByName(merged)
        .join(F.broadcast(rescoped), "id")
    )
    member_content = old_members.join(
        F.broadcast(rescoped.select("id")), "id", "left_anti"
    ).unionByName(new_members)

    # --- key_index: old rows minus the touched components', plus new -----
    # The new rows' keys are the scoped rows' own: an id is a hash of the
    # (repo, name, email) its keys derive from, so a merged row keeps them.
    touched_comps = spark.createDataFrame(
        pd.DataFrame({"component": list(touched)}, dtype="int64"), "component long"
    )
    kidx_content = (
        state.read_buckets("key_index", kidx_buckets)
        .join(F.broadcast(touched_comps), "component", "left_anti")
        .unionByName(derive_cluster_keys(scoped.join(F.broadcast(rescoped), "id"), blacklist))
    )

    with _job_tag(spark, "fold:commit"):
        state.commit(
            batch_id,
            {
                "membership": (member_content, member_buckets),
                "key_index": (kidx_content, kidx_buckets),
            },
            exact_mode=True,
        )
    if collect_metrics:
        metrics.update({m: observed(o, "rows")["rows"] for m, o in observations.items()})
        metrics["member_buckets"] = len(member_buckets)
        metrics["buckets_read"] = buckets_read + len(member_buckets) + len(kidx_buckets)
    return metrics


def run_incremental_resolution(
    spark,
    turn_stream: DataFrame,
    store_root: str,
    trigger_seconds: int = 60,
):
    """foreachBatch driver: write each micro-batch of signatures to a
    batch_id-partitioned bronze table (idempotent under replay), then fold
    the NEW persons into the maintained resolution via the delta-scoped
    closure above — per-batch cost follows the delta, not the bronze table.
    Returns the StreamingQuery (caller awaits/stops it). State under
    ``store_root``: the two bucketed tables of :class:`IncrementalState`
    behind one manifest (read the current resolution — one row per person:
    its attributes plus ``component`` and ``external_id`` — via
    ``IncrementalState(spark, root).read("membership")``, which raises
    ``ValueError`` until the first batch has committed); a store of
    another layout raises ``ValueError`` before the stream starts. If the
    manifest is missing but bronze data exists (state lost, or removed to
    re-bootstrap a store this layout or :func:`fold_batch` refuses), the
    fold REBUILDS from the full bronze table instead of silently
    restarting from one batch."""
    from identity_matching_spark.operators.blacklist import Blacklist
    from identity_matching_spark.operators.people import build_persons, dedup_signatures
    from identity_matching_spark.operators.signatures import stream_signatures

    bl = Blacklist.default()
    sigs = stream_signatures(turn_stream)
    bronze = f"{store_root}/signatures_bronze"
    state = IncrementalState(spark, store_root)

    def _persons_of(sig_df: DataFrame) -> DataFrame:
        return build_persons(
            dedup_signatures(
                sig_df.where((F.col("name") != "") & (F.col("email") != "")).select(
                    "repo", "name", "email", "hash", "ts"
                )
            ),
            bl,
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{bronze}/batch_id={batch_id}")
        if state.exists():
            delta = _persons_of(batch_df)
        else:
            # bootstrap — from ALL bronze (which already includes this
            # batch), so a lost manifest recovers the corpus, not one slice
            delta = _persons_of(spark.read.parquet(bronze))
        fold_batch(state, delta, bl, batch_id=batch_id)

    return (
        sigs.writeStream.outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .foreachBatch(fold)
        .option("checkpointLocation", f"{store_root}/_stream_checkpoint")
        .start()
    )
