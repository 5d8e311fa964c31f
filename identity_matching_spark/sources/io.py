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
* alongside each checkpoint a ``<stage>_metrics`` sidecar records its
  per-partition row counts (north_rule: per-partition lineage + metrics),
  the write's seconds and the reporter counters the stage committed, which
  a resumed run reports again.

The signatures checkpoint carries the reference's CSV signature cache
(S2/S3). Also provides the external-match cache merge relation (J4; the
cache file and the matcher that fills it are not carried) and the
aliases/identities parquet sinks (S5/S6).
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def write(self, stage: str, df: DataFrame, counters: dict | None = None) -> DataFrame:
        """Materialize a stage output + its ``<stage>_metrics`` sidecar; returns
        the re-read DataFrame so downstream plans start from the checkpoint (no
        recomputation, truncated lineage). The sidecar holds one row per
        output partition with its row count (one row with NULL ``partition``
        and ``rows`` for an empty output), each carrying the write's
        ``seconds`` and the reporter ``counters`` the stage committed, as JSON."""
        t0 = time.time()
        self._save(df, stage)
        out = self.read(stage)
        # per-partition lineage + row counts (north_rule)
        lineage = out.groupBy(F.spark_partition_id().alias("partition")).agg(
            F.count(F.lit(1)).alias("rows")
        )
        meta = self.spark.createDataFrame(
            [(stage, self.suffix, round(time.time() - t0, 3), json.dumps(counters or {}))],
            "stage string, config string, seconds double, counters string",
        )
        self._save(meta.join(lineage, how="left"), f"{stage}_metrics")
        return out

    def _save(self, df: DataFrame, stage: str) -> None:
        """Overwrite ``stage`` with ``df``: a parquet directory, or under a
        table prefix ``writeTo(...).createOrReplace()`` with a session-catalog
        fallback.

        The primary table path is the DSv2 atomic RTAS an Iceberg/v2 catalog
        provides. Spark's built-in session catalog (V1 tables) rejects it
        with UNSUPPORTED_FEATURE.TABLE_OPERATION; for that specific error —
        and only that one — fall back to drop + ``saveAsTable``. Non-atomic
        (a crash between drop and create loses the checkpoint; the next
        ``get_or_compute`` recomputes the stage — correct, just slower), so
        real deployments should configure an Iceberg catalog; the fallback
        keeps the table-mode code path executable everywhere.
        """
        name = self.path(stage)
        if not self.table_prefix:
            df.write.mode("overwrite").parquet(name)
            return
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

    def get_or_compute(self, stage: str, compute, reporter=None) -> DataFrame:
        """Resume-from-checkpoint contract (reference cache-or-source S4).
        With a ``reporter``, a computed stage keeps the counters its
        computation committed in its sidecar, and a resumed one commits them
        again from there, so a resumed run reports what a fresh one does. A
        stage whose sidecar is missing (a crash between the two writes) is
        computed again."""
        if self.exists(stage) and self.exists(f"{stage}_metrics"):
            if reporter is not None:
                # a sidecar written before counters were kept has none to replay
                sidecar = self.read(f"{stage}_metrics")
                counters = sidecar.first()["counters"] if "counters" in sidecar.columns else "{}"
                for name, value in json.loads(counters).items():
                    reporter.commit(name, value)
            return self.read(stage)
        before = reporter.report() if reporter is not None else {}
        df = compute()
        counters = dict(reporter.report().items() - before.items()) if reporter is not None else {}
        return self.write(stage, df, counters)


# --- external-match cache merge (J4; external/cache.go:153-259) ----------


def merge_match_cache(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """The cache-merge relation (cache.go DumpOnDisk, :153-259): updates win
    per email, existing entries not touched by an update survive unchanged,
    and duplicate update emails collapse to one row. ``existing`` and
    ``updates`` are ``DataFrame[email, user, matched]``. Pure plan — an anti-join plus a union, so it broadcasts when the update
    batch is small and never widens beyond one shuffle of the cache."""
    upd = updates.select(
        "email", "user", F.col("matched").cast("boolean").alias("matched")
    ).dropDuplicates(["email"])
    return existing.join(upd.select("email"), "email", "left_anti").unionByName(upd)


# --- aliases/identities sinks (S5/S6, people.go:171-184,263-330) ---------


def write_outputs(aliases: DataFrame, identities: DataFrame, path: str) -> tuple[str, str]:
    base = path[: -len(".parquet")] if path.endswith(".parquet") else path
    pa, pi = base + "-aliases.parquet", base + "-identities.parquet"
    aliases.orderBy("id", "email", "name", "repo").write.mode("overwrite").parquet(pa)
    identities.orderBy("id").write.mode("overwrite").parquet(pi)
    return pa, pi
