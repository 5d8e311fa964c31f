"""Incremental (streaming) signature ingestion.

The reference is strictly batch (SURVEY §2.7: no watermarks, no event-time
windows anywhere), so the core engine needs no Structured Streaming. This
module covers the practical gap for a continuously-appended transcript
table: ingest turn streams, maintain per-conversation signature state, and
periodically fold finished conversations into the batch pipeline.

Design (Spark-first):

* ``stream_signatures`` — readStream → the same stateless projections the
  batch extractor uses (token regexes per turn) → watermarked groupBy on
  (conv_id, session window) so late turns within the allowed lateness still
  update the signature; output mode "update" into a sink the batch pipeline
  treats as the signatures source.
* clustering itself stays batch-incremental (foreachBatch → checkpointed
  pipeline stages): transitive closure is a global fixpoint — streaming it
  row-by-row would re-derive CC per update; re-running the checkpointed CC
  on the delta-merged signature table is the scalable contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.operators.signatures import EMAIL_TOKEN, NAME_LINE, channel_of


def stream_signatures(
    turn_stream: DataFrame,
    watermark: str = "10 minutes",
    session_gap: str = "30 minutes",
) -> DataFrame:
    """Streaming per-conversation signature aggregation.

    ``turn_stream`` must be a streaming DataFrame with the transcript
    schema. Returns a streaming DataFrame keyed by conversation session:
    one signature row per (conv_id, session window), updated as turns
    arrive; late turns beyond the watermark are dropped (documented
    divergence from batch, which has no lateness bound).
    """
    turns = turn_stream.withWatermark("ts", watermark).select(
        "conv_id",
        "turn_idx",
        "ts",
        F.regexp_extract("text", NAME_LINE, 1).alias("name_tok"),
        F.regexp_extract("text", EMAIL_TOKEN, 0).alias("email_tok"),
        F.coalesce("tool", F.lit("")).alias("tool"),
    )
    return (
        turns.groupBy("conv_id", F.session_window("ts", session_gap))
        .agg(
            F.min_by("name_tok", F.when(F.col("name_tok") != "", F.col("turn_idx"))).alias(
                "name"
            ),
            F.min_by("email_tok", F.when(F.col("email_tok") != "", F.col("turn_idx"))).alias(
                "email"
            ),
            F.max("ts").alias("ts"),
            F.array_sort(F.collect_set(F.when(F.col("tool") != "", F.col("tool")))).alias(
                "tools"
            ),
        )
        .select(
            channel_of(F.col("conv_id")).alias("repo"),
            F.coalesce("name", F.lit("")).alias("name"),
            F.coalesce("email", F.lit("")).alias("email"),
            F.col("conv_id").alias("hash"),
            "ts",
            "tools",
            "conv_id",
        )
    )


# --- delta-scoped incremental clustering ---------------------------------
#
# A continuously-appended corpus must not pay a full-corpus resolution per
# micro-batch (the r3 design did exactly that). The exact-delta contract:
#
# 1. the batch's new person rows contribute blocking keys (non-popular
#    email + name_key, same 64-bit surrogates ``reduce_people`` encodes);
# 2. the set of CURRENT final clusters that must be re-resolved is the
#    closure of those keys over the bipartite cluster↔key graph: a key
#    touches every cluster holding it, a touched cluster contributes all
#    its keys, iterate to fixpoint (bucket-probing equi-joins, like CC
#    rounds — :func:`_touched_closure_bucketed`);
# 3. re-run ``reduce_people`` on the touched clusters' members plus the
#    delta; every untouched membership row passes through unchanged.
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


def person_blocking_keys(persons: DataFrame, blacklist) -> DataFrame:
    """DataFrame[id, key] — one row per usable (non-popular) blocking key,
    encoded with the same domain-separated xxhash64 surrogates the batch
    clusterer uses (operators/cluster.py). NULL keys are excluded — the
    clusterer masks their surrogate to NULL (never equi-joins), so they
    couple nothing and must not seed or carry closure edges."""
    names = persons.where(
        F.col("name_key").isNotNull() & ~blacklist.is_popular_name(F.col("name_key"))
    ).select("id", F.xxhash64(F.lit(1), "name_key").alias("key"))
    emails = persons.where(
        F.col("email").isNotNull() & ~blacklist.is_popular_email(F.col("email"))
    ).select("id", F.xxhash64(F.lit(2), "email").alias("key"))
    return names.union(emails)


def derive_cluster_keys(
    silver_persons: DataFrame, membership: DataFrame, blacklist
) -> DataFrame:
    """Derive the (component, key) state relation from scratch — one
    full-corpus shuffle. :func:`fold_batch` runs it once, at bootstrap,
    and maintains the relation delta by delta afterwards."""
    return (
        person_blocking_keys(silver_persons, blacklist)
        .join(membership.select("id", "component"), "id")
        .select("component", "key")
        .distinct()
    )


# --- bucketed, manifest-committed state store ------------------------------
#
# The four state tables (persons_silver, membership, cluster_keys and
# key_index) are laid out as <root>/<table>/bucket=K/gen=G/ parquet leaves,
# with a SINGLE atomically-replaced manifest JSON naming the live generation
# per bucket, each table's schema and its bucket column. Per batch only the
# AFFECTED buckets are rewritten under gen=<batch_id> (dynamic partition
# overwrite — untouched buckets are neither read nor written), and the one
# os.replace of the manifest is the commit point:
#
# * the table writes run concurrently (one driver thread each, carrying the
#   caller's job group and tags); each table's rows are repartitioned on
#   their bucket first, so every written leaf holds exactly one part file;
# * the commit waits for all writes and re-raises the first failure before
#   it touches the manifest, so no write outlives commit();
# * crash anywhere before the manifest replace → the old manifest still
#   names only old generations; all tables stay mutually consistent;
# * foreachBatch replays the batch → the commit first clears any
#   gen=<batch_id> leaves a crashed attempt left in the affected buckets,
#   then re-applies idempotently;
# * a manifest batch_id >= the replayed batch's id → the fold is skipped
#   (already committed);
# * reads pass the manifest's schema, so opening a leaf set runs no
#   footer-inference job, and a bucket set holding no data reads as an
#   empty frame of that schema;
# * a store whose manifest records other bucket columns (or none) is
#   refused on open, before anything is read or written;
# * generations no manifest references are garbage-collected after the
#   publish: the writer's first commit sweeps every bucket, later commits
#   only their affected buckets. Opening a store never deletes anything, so
#   a reader opened during a commit cannot remove unpublished leaves.
#
# Bronze appends are keyed by batch_id partition (overwrite-in-place), so a
# replayed batch never double-appends.


class IncrementalState:
    """Versioned bucket-partitioned state with an atomic manifest commit."""

    TABLES = ("persons_silver", "membership", "cluster_keys", "key_index")
    # Each relation is stored once per direction the fold probes it: silver
    # by person id (affected buckets are the delta's ids), membership and
    # cluster_keys by component (scope probes and removals are keyed by
    # touched components), and key_index — cluster_keys' (component, key)
    # rows again, bucketed by key — for the closure's key → component hop.
    # Every probe then reads only matching buckets, so the fold's reads
    # track the delta like its shuffles do.
    BUCKET_COL = {
        "persons_silver": "id",
        "membership": "component",
        "cluster_keys": "component",
        "key_index": "key",
    }

    def __init__(self, spark, root: str, n_buckets: int = 64):
        import os

        self.spark = spark
        self.root = root
        self.n_buckets = n_buckets
        self.manifest_path = os.path.join(root, "state_manifest.json")
        self._manifest = self._load()
        if self._manifest and self._manifest.get("n_buckets") != n_buckets:
            raise ValueError(
                f"state at {root} was written with n_buckets="
                f"{self._manifest.get('n_buckets')}, opened with {n_buckets}"
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
        schema, which also spares every read its footer-inference job."""
        schema = self._schema(table)
        gens = self._manifest["tables"][table]
        paths = [self._leaf(table, b, gens[str(b)]) for b in buckets if str(b) in gens]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

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

        def write(table: str) -> None:
            (
                writes[table][0]
                .withColumn("bucket", self.bucket_expr(table))
                .withColumn("gen", F.lit(batch_id))
                # every row of a bucket in one task → one part file per leaf
                .repartition("bucket")
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


def _collect_buckets(df: DataFrame, expr) -> list[int]:
    """Distinct bucket values of a delta-scoped frame (small by contract)."""
    return [r[0] for r in df.select(expr.alias("b")).distinct().collect()]


def _collect_bucket_sets(frames: dict[str, tuple[DataFrame, object]]) -> dict[str, list[int]]:
    """:func:`_collect_buckets` of several frames in one round trip:
    ``{name: (frame, bucket_expr)}`` → ``{name: buckets}``, each frame's
    buckets tagged with its name inside one distinct."""
    from functools import reduce

    tagged = [
        df.select(F.lit(name).alias("t"), expr.alias("b"))
        for name, (df, expr) in frames.items()
    ]
    out: dict[str, list[int]] = {name: [] for name in frames}
    for r in reduce(DataFrame.union, tagged).distinct().collect():
        out[r["t"]].append(r["b"])
    return out


def _touched_closure_bucketed(
    state: IncrementalState, seed_keys: DataFrame, max_hops: int = 25
) -> tuple[DataFrame, int, int]:
    """Fixpoint of the clusters reachable from ``seed_keys`` over the
    bipartite (component, key) relation. Each hop is two equi-joins that
    read ONLY the key_index buckets matching the frontier keys and the
    cluster_keys buckets matching the newly touched components, so the
    fold's read volume tracks the delta the way its shuffles already do.
    A bucket is a pure function of the equi-join key, so probing matching
    buckets loses no join partner. Returns (touched components, hops,
    buckets_read); raises if the closure has not converged after
    ``max_hops`` (pathologically chained corpora)."""
    spark = seed_keys.sparkSession
    kidx_expr = state.bucket_expr("key_index")
    comp_expr = state.bucket_expr("cluster_keys")
    touched = spark.createDataFrame([], "component long")
    frontier = seed_keys.select("key").distinct().localCheckpoint(eager=False)
    buckets_read = 0
    for hops in range(max_hops):
        fb = _collect_buckets(frontier, kidx_expr)
        if not fb:
            return touched, hops, buckets_read
        buckets_read += len(fb)
        new_comps = (
            state.read_buckets("key_index", fb)
            .join(frontier, "key")
            .select("component")
            .distinct()
            .join(touched, "component", "left_anti")
            .localCheckpoint(eager=False)
        )
        # new_comps is empty exactly when its bucket list is: one round trip
        cb = _collect_buckets(new_comps, comp_expr)
        if not cb:
            return touched, hops, buckets_read
        touched = touched.union(new_comps).localCheckpoint(eager=False)
        buckets_read += len(cb)
        frontier = (
            state.read_buckets("cluster_keys", cb)
            .join(new_comps, "component")
            .select("key")
            .distinct()
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"cluster closure did not converge in {max_hops} hops — "
        "fall back to a full re-resolution for this batch"
    )


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

    * the touched-cluster closure probes the key_index / cluster_keys
      tables bucket-by-bucket (never a full-table scan);
    * the scope expands through the component-bucketed membership, and
      the silver rows it re-reads come from the matching id buckets only;
    * silver maintenance merges ONLY ids colliding with the delta
      (broadcast semi/anti joins; the groupBy shuffles colliding ∪ delta
      rows, never the corpus — metric ``merge_rows``);
    * membership/cluster_keys/key_index rewrites touch only the buckets
      holding scoped/rescoped rows; the affected bucket sets come back in
      two round trips (silver/cluster_keys, then membership/key_index);
    * the commit writes the four tables concurrently, one part file per
      rewritten ``(bucket, gen)`` leaf, and publishes the manifest (the
      atomic point) only after every write has finished; the jobs keep the
      caller's job group and tags;
    * every state read takes its schema from the manifest (no footer
      inference job), and unreferenced generations are collected by the
      writer after its publish, never by a reader opening the store.

    The first batch bootstraps the store with a from-scratch
    ``reduce_people``. Every later batch requires the manifest's
    ``exact_mode`` marker (:meth:`IncrementalState.exact_mode`): a store
    without it — written in similarity mode, or by a layout that predates
    the marker — raises ``ValueError`` before anything is read or written,
    and must be re-resolved from scratch. The folded membership equals a
    from-scratch ``reduce_people`` over every batch so far (see the module
    note; pinned by tests/test_incremental_delta.py).
    ``metrics['buckets_read']`` reports the probe volume so tests can
    assert reads track the delta, not the corpus.
    """
    import logging

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
        # similarity edges couple clusters through relations the (component,
        # key) state does not track, so folding such state would silently
        # under-scope (ADVICE r4).
        raise ValueError(
            f"fold_batch requires an exact-mode store; the manifest at "
            f"{state.manifest_path} lacks the exact-mode marker (similarity "
            "mode, external ids, or a layout that predates the marker) — "
            "re-resolve the corpus from scratch into a fresh store"
        )
    delta = delta_persons.localCheckpoint(eager=False)

    if not state.exists():
        membership = reduce_people(delta, blacklist, max_identities=max_identities)
        keys = derive_cluster_keys(delta, membership, blacklist)
        all_buckets = list(range(state.n_buckets))
        state.commit(
            batch_id,
            {
                "persons_silver": (delta, all_buckets),
                "membership": (membership, all_buckets),
                "cluster_keys": (keys, all_buckets),
                "key_index": (keys, all_buckets),
            },
            exact_mode=True,
        )
        return {"bootstrap": True, "delta_rows": delta.count() if collect_metrics else None}

    silver_expr = state.bucket_expr("persons_silver")
    member_expr = state.bucket_expr("membership")
    keys_expr = state.bucket_expr("cluster_keys")
    kidx_expr = state.bucket_expr("key_index")
    metrics: dict = {}

    delta_ids = delta.select("id").distinct().localCheckpoint(eager=False)
    seed_keys = person_blocking_keys(delta, blacklist)

    # --- touched closure + scope (bucket probes) -------------------------
    touched, hops, buckets_read = _touched_closure_bucketed(state, seed_keys)
    tb = _collect_buckets(touched, member_expr)
    buckets_read += len(tb)
    scope_ids = (
        state.read_buckets("membership", tb)
        .join(touched, "component")
        .select("id")
        .localCheckpoint(eager=False)
    )
    touched = touched.localCheckpoint(eager=False)
    metrics["hops"] = hops

    # --- re-resolve the scoped slice --------------------------------------
    scope_read_ids = scope_ids.unionByName(delta_ids).distinct()
    sread_buckets = _collect_buckets(scope_read_ids, silver_expr)
    buckets_read += len(sread_buckets)
    scoped = (
        state.read_buckets("persons_silver", sread_buckets)
        .join(scope_ids, "id")
        .unionByName(delta)
        .dropDuplicates(["id"])
        .localCheckpoint(eager=False)
    )
    rescoped = reduce_people(
        scoped, blacklist, max_identities=max_identities, verify_keys=False
    ).localCheckpoint(eager=False)
    new_keys = (
        person_blocking_keys(scoped, blacklist)
        .join(rescoped.select("id", "component"), "id")
        .select("component", "key")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if collect_metrics:
        metrics["touched_clusters"] = touched.count()
        metrics["scope_rows"] = scoped.count()
        metrics["delta_rows"] = delta.count()

    # --- affected buckets of silver and cluster_keys: one collect ---------
    # silver: the delta's ids; cluster_keys: removals by touched comps,
    # additions by rescoped ones
    affected = _collect_bucket_sets(
        {
            "persons_silver": (delta_ids, silver_expr),
            "cluster_keys": (touched.unionByName(new_keys.select("component")), keys_expr),
        }
    )
    silver_buckets = affected["persons_silver"]
    key_buckets = affected["cluster_keys"]

    # --- silver: merge colliding ids only (delta-sized) -------------------
    old_silver = state.read_buckets("persons_silver", silver_buckets)
    merge_input = old_silver.join(F.broadcast(delta_ids), "id", "semi").unionByName(delta)
    merged = (
        merge_input.groupBy("id", "repo", "name", "email", "name_key", "popular_name")
        .agg(F.max("hash").alias("hash"), F.max("ts").alias("ts"))
        .select(old_silver.columns)
    )
    silver_content = old_silver.join(
        F.broadcast(delta_ids), "id", "left_anti"
    ).unionByName(merged)
    metrics["merge_rows"] = merge_input.count() if collect_metrics else None

    # --- cluster_keys ----------------------------------------------------
    old_keys = state.read_buckets("cluster_keys", key_buckets)
    buckets_read += len(key_buckets)
    keys_content = old_keys.join(
        F.broadcast(touched), "component", "left_anti"
    ).unionByName(new_keys)

    # --- membership and key_index: affected buckets, one collect ---------
    # membership: the touched components, whose rows are replaced, and the
    # rescoped ones; key_index: the new keys plus the touched components'
    # old keys, whose rows must be dropped
    touched_old_keys = old_keys.join(F.broadcast(touched), "component", "semi")
    affected = _collect_bucket_sets(
        {
            "membership": (touched.unionByName(rescoped.select("component")), member_expr),
            "key_index": (
                new_keys.select("key").unionByName(touched_old_keys.select("key")),
                kidx_expr,
            ),
        }
    )
    member_buckets = affected["membership"]
    kidx_buckets = affected["key_index"]

    # --- membership: old rows minus the re-resolved ones, plus rescoped ---
    # No old row of a re-resolved id is missed: it lies in a touched
    # component, or the id has no usable key — then no closure seed finds
    # it, and the exact cluster_keys (which every fold's exactness rests
    # on) prove it was a singleton, whose component is its own id and so
    # one of rescoped's components.
    member_content = (
        state.read_buckets("membership", member_buckets)
        .join(F.broadcast(touched), "component", "left_anti")
        .join(F.broadcast(rescoped.select("id")), "id", "left_anti")
        .unionByName(rescoped)
    )

    # --- key_index: same rows as cluster_keys, bucketed by key ------------
    kidx_content = (
        state.read_buckets("key_index", kidx_buckets)
        .join(F.broadcast(touched), "component", "left_anti")
        .unionByName(new_keys)
    )
    buckets_read += len(kidx_buckets)

    if collect_metrics:
        metrics["silver_buckets"] = len(silver_buckets)
        metrics["member_buckets"] = len(member_buckets)
        metrics["key_buckets"] = len(key_buckets)
        metrics["buckets_read"] = buckets_read

    state.commit(
        batch_id,
        {
            "persons_silver": (silver_content, silver_buckets),
            "membership": (member_content, member_buckets),
            "cluster_keys": (keys_content, key_buckets),
            "key_index": (kidx_content, kidx_buckets),
        },
        exact_mode=True,
    )
    return metrics


def run_incremental_resolution(
    spark,
    turn_stream: DataFrame,
    store_root: str,
    config=None,
    trigger_seconds: int = 60,
    n_buckets: int = 64,
):
    """foreachBatch driver: write each micro-batch of signatures to a
    batch_id-partitioned bronze table (idempotent under replay), then fold
    the NEW persons into the maintained resolution via the delta-scoped
    closure above — per-batch cost follows the delta, not the bronze table.
    Returns the StreamingQuery (caller awaits/stops it). State under
    ``store_root``: the four bucketed tables of :class:`IncrementalState`
    behind one manifest (read the current resolution, ``(id, component,
    external_id)`` rows, via ``IncrementalState(spark, root).read(
    "membership")``); a store of another layout raises ``ValueError``
    before the stream starts. If the manifest is missing but bronze data
    exists (state lost, or removed to re-bootstrap a store this layout or
    :func:`fold_batch` refuses), the fold REBUILDS from the full bronze
    table instead of silently restarting from one batch."""
    import datetime as dt

    from identity_matching_spark.operators.blacklist import Blacklist
    from identity_matching_spark.operators.people import build_persons, dedup_signatures
    from identity_matching_spark.plans.pipeline import PipelineConfig

    cfg = config or PipelineConfig(reference_time=dt.datetime.now())
    bl = Blacklist.default()
    sigs = stream_signatures(turn_stream)
    bronze = f"{store_root}/signatures_bronze"
    state = IncrementalState(spark, store_root, n_buckets=n_buckets)

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
        batch_df.drop("tools").write.mode("overwrite").parquet(
            f"{bronze}/batch_id={batch_id}"
        )
        if state.exists():
            delta = _persons_of(batch_df)
        else:
            # bootstrap — from ALL bronze (which already includes this
            # batch), so a lost manifest recovers the corpus, not one slice
            delta = _persons_of(spark.read.parquet(bronze))
        fold_batch(
            state, delta, bl, max_identities=cfg.max_identities, batch_id=batch_id
        )

    return (
        sigs.writeStream.outputMode("append")
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .foreachBatch(fold)
        .option("checkpointLocation", f"{store_root}/_stream_checkpoint")
        .start()
    )
