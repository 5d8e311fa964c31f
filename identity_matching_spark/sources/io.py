"""Checkpointed table IO (SURVEY §2.1 S2–S6, §3.4 stage contract).

The reference caches each expensive stage to disk and resumes from it
(``findSignatures``, /root/reference/people.go:581-603), invalidating by a
fingerprint of the discovery SQL (people.go:434-442). This module
generalizes that into a per-stage checkpoint contract:

* every stage is a pure DataFrame → DataFrame function;
* its output is written once to ``<root>/<stage>__<confighash>`` (parquet
  here; the layout maps 1:1 onto an Iceberg ``writeTo`` on a real cluster —
  this sandbox has no Iceberg runtime jar);
* re-running with the same config hash reads the checkpoint instead of
  recomputing (resumability); a config change produces a new suffix —
  fingerprint invalidation exactly like the reference;
* alongside each checkpoint a ``_metrics`` row set records row counts and
  per-partition lineage (north_rule: per-partition lineage + metrics).

Also provides the reference's CSV signature cache (S2/S3) and the
aliases/identities parquet sinks (S5/S6).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import clean_email, clean_name


def config_hash(config: dict) -> str:
    """Stable fingerprint of a stage config (reference: FNV of the SQL)."""
    blob = json.dumps(config, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:12]


class CheckpointStore:
    """Per-stage checkpoints with config-hash invalidation, two backends:

    * parquet directories under ``root`` (default — works everywhere);
    * catalog tables via ``writeTo(...).createOrReplace()`` when
      ``table_prefix`` names a configured DSv2/Iceberg catalog namespace
      (SURVEY §3.4 "Iceberg checkpoint per stage"). Same contract either
      way: existence-check → read-or-compute+write, fingerprinted names.
      This sandbox ships no Iceberg runtime jar, so the table path is
      exercised by tests only when a v2 catalog is available (they skip
      with a reason otherwise) and on real clusters via
      ``spark.sql.catalog.<name>`` configuration.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        config: dict | None = None,
        table_prefix: str | None = None,
    ):
        self.spark = spark
        self.root = root
        self.suffix = config_hash(config or {})
        self.table_prefix = table_prefix

    def path(self, stage: str) -> str:
        if self.table_prefix:
            return f"{self.table_prefix}.{stage}__{self.suffix}"
        return os.path.join(self.root, f"{stage}__{self.suffix}")

    def exists(self, stage: str) -> bool:
        if self.table_prefix:
            return self.spark.catalog.tableExists(self.path(stage))
        return os.path.exists(os.path.join(self.path(stage), "_SUCCESS"))

    def write(self, stage: str, df: DataFrame) -> DataFrame:
        """Materialize a stage output + metrics/lineage sidecar; returns the
        re-read DataFrame so downstream plans start from the checkpoint (no
        recomputation, truncated lineage)."""
        t0 = time.time()
        if self.table_prefix:
            self._create_or_replace(df, self.path(stage))
            out = self.spark.read.table(self.path(stage))
        else:
            df.write.mode("overwrite").parquet(self.path(stage))
            out = self.spark.read.parquet(self.path(stage))
        # per-partition lineage + row counts (north_rule)
        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .withColumn("stage", F.lit(stage))
            .withColumn("config", F.lit(self.suffix))
        )
        if self.table_prefix:
            self._create_or_replace(lineage, self.path(f"{stage}_metrics"))
        else:
            lineage.write.mode("overwrite").parquet(self.path(f"{stage}_metrics"))
            meta = {
                "stage": stage,
                "rows": out.count(),
                "seconds": round(time.time() - t0, 3),
                "config": self.suffix,
            }
            with open(os.path.join(self.path(stage), "_metrics.json"), "w") as fh:
                json.dump(meta, fh)
        return out

    def _create_or_replace(self, df: DataFrame, name: str) -> None:
        """``writeTo(...).createOrReplace()`` with a session-catalog fallback.

        The primary path is the DSv2 atomic RTAS an Iceberg/v2 catalog
        provides. Spark's built-in session catalog (V1 tables) rejects it
        with UNSUPPORTED_FEATURE.TABLE_OPERATION; for that specific error —
        and only that one — fall back to drop + ``saveAsTable``. Non-atomic
        (a crash between drop and create loses the checkpoint; the next
        ``get_or_compute`` recomputes the stage — correct, just slower), so
        real deployments should configure an Iceberg catalog; the fallback
        keeps the table-mode code path executable everywhere.
        """
        try:
            df.writeTo(name).createOrReplace()
        except Exception as exc:  # AnalysisException; keyed on the error class
            if "UNSUPPORTED_FEATURE.TABLE_OPERATION" not in str(exc):
                raise
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            df.write.mode("overwrite").saveAsTable(name)

    def read(self, stage: str) -> DataFrame:
        if self.table_prefix:
            return self.spark.read.table(self.path(stage))
        return self.spark.read.parquet(self.path(stage))

    def delete(self, stage: str) -> None:
        """Remove a stage checkpoint (e.g. iteration scaffolding after the
        loop it resumes has converged). Safe on missing paths."""
        if self.table_prefix:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.path(stage)}")
            return
        import shutil

        shutil.rmtree(self.path(stage), ignore_errors=True)

    def get_or_compute(self, stage: str, compute) -> DataFrame:
        """Resume-from-checkpoint contract (reference cache-or-source S4)."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, compute())


# --- reference-parity CSV signature cache (S2/S3) ------------------------

SIGNATURE_CSV_SCHEMA = "repo string, name string, email string, hash string, time string"


def write_signature_cache(df: DataFrame, path: str) -> None:
    """CSV cache with the reference's header and RFC3339 times
    (people.go:548-579)."""
    out = df.select(
        "repo",
        "name",
        "email",
        "hash",
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("time"),
    )
    out.write.mode("overwrite").option("header", True).csv(path)


def read_signature_cache(spark: SparkSession, path: str) -> DataFrame:
    """Read the CSV cache, normalizing at read time and dropping rows with
    any empty field or unparseable timestamp (people.go:444-515)."""
    raw = spark.read.option("header", True).schema(SIGNATURE_CSV_SCHEMA).csv(path)
    df = raw.select(
        clean_email(F.col("repo")).alias("repo"),  # same lower/diacritic/space clean
        clean_name(F.col("name")).alias("name"),
        clean_email(F.col("email")).alias("email"),
        clean_email(F.col("hash")).alias("hash"),
        # try_: bad rows are dropped like the reference does, not fatal (ANSI)
        F.try_to_timestamp(F.trim(F.col("time")), F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")).alias("ts"),
    )
    return df.where(
        (F.col("repo") != "")
        & (F.col("name") != "")
        & (F.col("email") != "")
        & (F.col("hash") != "")
        & F.col("ts").isNotNull()
    )


# --- external-match cache (J4 persistence; external/cache.go:153-259) ----
#
# The reference persists every matcher lookup as CSV ``email,user,match``
# ("1"/"0") and merges on dump: existing rows are kept, rows identical to an
# existing entry are skipped, changed/new rows are appended, and the loader
# takes the LAST occurrence per email (cache.go:178-198 map overwrite). The
# Spark analog keeps the same observable contract — updates win per email,
# untouched entries survive — via a relational read-merge-rewrite (an
# append-to-one-file scheme doesn't distribute; the merged table is
# equivalent to the reference's "existing ++ appended, last wins" file).

MATCH_CACHE_SCHEMA = "email string, user string, match string"
MATCH_CACHE_SEQ_SCHEMA = "email string, user string, match string, seq long"


def _match_cache_files(path: str) -> list[str]:
    """Data files of a cache at ``path`` (a single CSV file or a directory of
    part files). Local-fs helper — the cache contract is a local file, like
    the reference's (cache.go:74-91 opens one os file)."""
    if os.path.isfile(path):
        return [path]
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if not f.startswith((".", "_"))
        )
    return []


def _recover_match_cache(path: str) -> None:
    """Finish an interrupted ``write_match_cache`` swap: if a crash left only
    the renamed-aside previous cache (``<path>__old``), restore it."""
    old = path.rstrip("/") + "__old"
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)


def read_match_cache(spark: SparkSession, path: str) -> DataFrame:
    """DataFrame[email, user, matched: boolean] — last row per email wins,
    mirroring the reference loader's map overwrite (cache.go:178-198).

    Two on-disk formats:

    * caches written by :func:`write_match_cache` carry an explicit ``seq``
      column — last-wins is exact regardless of how Spark splits or orders
      the part files;
    * foreign caches in the reference's 3-column append format have no seq:
      row order IS the file order, so the read forces one partition per file
      (``multiLine`` makes CSV unsplittable — ``monotonically_increasing_id``
      is then monotone within the file) and requires a SINGLE data file.
      Spark's file source packs splits by size, not file order, so a
      multi-file seq-less cache has no recoverable "last occurrence" — that
      layout is rejected loudly rather than resolved by listing order.
    """
    _recover_match_cache(path)
    files = _match_cache_files(path)
    has_seq = False
    if files:
        with open(files[0]) as fh:
            has_seq = fh.readline().strip().endswith(",seq")
    if has_seq:
        raw = (
            spark.read.option("header", True)
            .schema(MATCH_CACHE_SEQ_SCHEMA)
            .csv(path)
            .withColumnRenamed("seq", "_seq")
        )
    else:
        if len(files) > 1:
            raise ValueError(
                f"match cache at {path} has {len(files)} data files but no "
                "seq column: last-occurrence-wins is undefined across files "
                "(reference caches are single appended files, cache.go:74-91)"
            )
        raw = (
            spark.read.option("header", True)
            .schema(MATCH_CACHE_SCHEMA)
            .option("multiLine", True)  # unsplittable → id monotone with row order
            .csv(path)
            .withColumn("_seq", F.monotonically_increasing_id())
        )
    return raw.groupBy("email").agg(
        F.max_by("user", "_seq").alias("user"),
        (F.max_by("match", "_seq") == "1").alias("matched"),
    )


def merge_match_cache(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """The cache-merge relation (cache.go DumpOnDisk, :153-259): updates win
    per email, existing entries not touched by an update survive unchanged.
    Pure plan — an anti-join plus a union, so it broadcasts when the update
    batch is small and never widens beyond one shuffle of the cache."""
    upd = updates.select(
        "email", "user", F.col("matched").cast("boolean").alias("matched")
    ).dropDuplicates(["email"])
    return existing.join(upd.select("email"), "email", "left_anti").unionByName(upd)


def write_match_cache(spark: SparkSession, path: str, updates: DataFrame) -> None:
    """Read-merge-rewrite (cache.go DumpOnDisk): merge ``updates``
    [email, user, matched] into the cache at ``path`` — updates win per
    email, entries not touched by the update survive unchanged."""
    # a prior write may have crashed between the swap renames, leaving only
    # the renamed-aside copy — restore it BEFORE the existence check, else
    # the merge silently starts empty and the aside cleanup below would
    # destroy the only surviving entries (ADVICE r4).
    _recover_match_cache(path)
    upd = updates.select(
        "email", "user", F.col("matched").cast("boolean").alias("matched")
    ).dropDuplicates(["email"])
    if os.path.exists(path):
        merged = merge_match_cache(read_match_cache(spark, path), upd)
    else:
        merged = upd
    # explicit seq: merged caches are unique per email, so any total order
    # works — email rank keeps it deterministic. Future appends/re-merges
    # resolve last-wins by this column, never by file/split ordering.
    # (The global window = one-partition sort is fine here: the cache is
    # matcher-lookup-sized, a dimension table, like the reference's file.)
    w = Window.orderBy("email")
    out = merged.select(
        "email",
        "user",
        F.when(F.col("matched"), "1").otherwise("0").alias("match"),
        F.row_number().over(w).cast("long").alias("seq"),
    ).orderBy("email")
    # rewrite via a temp dir (the source CSV may be an input of this plan),
    # then a rename-aside swap: at every crash point either the old or the
    # new cache is recoverable (ADVICE r3 — plain rmtree+rename loses the
    # cache if interrupted between the two; the reference's append-only
    # DumpOnDisk never destroys entries, cache.go:204-259).
    tmp = path.rstrip("/") + "__tmp"
    old = path.rstrip("/") + "__old"
    out.write.mode("overwrite").option("header", True).csv(tmp)
    import shutil

    shutil.rmtree(old, ignore_errors=True)  # stale aside from a past crash
    if os.path.exists(old) and not os.path.isdir(old):
        os.remove(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(old) and not os.path.isdir(old):
        os.remove(old)


def external_ids_from_cache(cache: DataFrame) -> DataFrame:
    """Positive cache entries as the J4 static lookup table
    (DataFrame[email, external_id]) consumed by ``reduce_people`` — a
    resumed run re-resolves nothing the cache already answered."""
    return cache.where(F.col("matched")).select(
        "email", F.col("user").alias("external_id")
    )


# --- aliases/identities sinks (S5/S6, people.go:171-184,263-330) ---------


def write_outputs(aliases: DataFrame, identities: DataFrame, path: str) -> tuple[str, str]:
    base = path[: -len(".parquet")] if path.endswith(".parquet") else path
    pa, pi = base + "-aliases.parquet", base + "-identities.parquet"
    aliases.orderBy("id", "email", "name", "repo").write.mode("overwrite").parquet(pa)
    identities.orderBy("id").write.mode("overwrite").parquet(pi)
    return pa, pi


def read_outputs(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    base = path[: -len(".parquet")] if path.endswith(".parquet") else path
    return (
        spark.read.parquet(base + "-aliases.parquet"),
        spark.read.parquet(base + "-identities.parquet"),
    )


# buckets of a table written by write_bucketed_table
N_BUCKETS = 64


def write_bucketed_table(df: DataFrame, table: str, bucket_cols: list[str]) -> None:
    """Persist a stage as a table bucketed (and sorted within each bucket)
    by ``bucket_cols``, so repeated joins/aggregations on the bucket key are
    co-located (no Exchange in the join plan). The right physical layout
    for the alias tables at 100 TB: aliases bucketed by ``id`` join
    identities/freqs shuffle-free, and bucket pruning applies.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(N_BUCKETS, *bucket_cols)
        .sortBy(*bucket_cols)
        .format("parquet")
        .saveAsTable(table)
    )


def export_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    properties: dict[str, str] | None = None,
    batch_size: int = 10_000,
) -> None:
    """S8 parquet→SQL export (reference parquet2sql/parquet2sql.py:25-31,
    pandas ``to_sql`` over a chunked read). Spark-first: ``df.write.jdbc``
    writes partitions in parallel, ``batchsize`` controls insert batching.
    Requires the target database's JDBC driver jar on the Spark classpath
    (``spark.jars``) — none ships in this sandbox, so this is exercised only
    on real deployments.
    """
    props = {"batchsize": str(batch_size), **(properties or {})}
    df.write.jdbc(url=url, table=table, mode=mode, properties=props)


def export_csv(df: DataFrame, path: str) -> None:
    """Parquet→CSV export utility (reference research/parquet2csv.py — its
    only Spark usage); deterministic row order: sorted by every column."""
    df.orderBy(*df.columns).write.mode("overwrite").option("header", True).csv(path)
