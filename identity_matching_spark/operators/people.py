"""Signature → person construction (SURVEY §2.1 A1, §2.2, §2.3 F10).

Reproduces ``newPeople`` (/root/reference/people.go:126-169) and the source
dedup query (/root/reference/people.go:428-432) Spark-first:

* source dedup: ``GROUP BY repo, name, email`` with ``MAX(hash), MAX(ts)`` —
  Catalyst runs this as partial + final hash aggregation (map-side combine),
  so the shuffle carries one row per distinct triplet, not per commit.
* normalization + popular-name repo-qualification + blacklist row filter.
* person id assignment: a 64-bit hash of the identity triplet —
  deterministic, no global sort, stable across reruns and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.functions.normalize import clean_email, clean_name, name_key
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.session import barrier


def verify_unique_ids(df: DataFrame) -> None:
    """Assert no 64-bit person-id hash collision (default-on safety).

    64-bit ids birthday-collide around 2^32 rows; a collision would silently
    fuse two identities into one graph node. Callers pass distinct
    (repo, name, email) rows, so a duplicated id IS a collision — detected
    by a per-id groupBy (map-side partial agg, one column read, no distinct
    machinery) that also names the colliding id. Disable via
    ``verify_ids=False`` only when the extra aggregate job provably matters
    and the corpus is far below 2^32 rows.
    """
    bad = (
        df.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"person id hash collision: id {bad[0]['id']} covers "
            f"{bad[0]['n']} distinct triplets; re-key with a salted hash "
            "or partition the corpus"
        )


def dedup_signatures(raw: DataFrame) -> DataFrame:
    """A1: one row per (repo, name, email) with MAX(hash), MAX(ts)."""
    return raw.groupBy("repo", "name", "email").agg(
        F.max("hash").alias("hash"), F.max("ts").alias("ts")
    )


def normalize_signatures(signatures: DataFrame) -> DataFrame:
    """Stage-0 projection: cleaned name/email columns added."""
    return signatures.withColumn("name_c", clean_name(F.col("name"))).withColumn(
        "email_c", clean_email(F.col("email"))
    )


def build_persons(
    signatures: DataFrame,
    blacklist: Blacklist,
    popular_names: DataFrame | None = None,
    reporter=None,
    verify_ids: bool = True,
) -> DataFrame:
    """Filter + key signatures into person rows.

    Parameters
    ----------
    signatures : DataFrame[repo, name, email, hash, ts] (raw values)
    popular_names : optional DataFrame[name_c] of *computed* popular names
        (co-occurrence popularity, operators/stats.py); unioned with the
        static ``blacklist.popular_names``. Broadcast-joined — it can be
        arbitrarily large-ish but is always dimension-sized.

    Returns DataFrame[id, repo, name, email, name_key, popular_name, hash, ts]
    where name/email are the cleaned values (the reference only ever works on
    cleaned values downstream) and ``name_key`` is the blocking key with
    popular names repo-qualified (/root/reference/people.go:140-145).
    """
    df = normalize_signatures(signatures)
    # dedupe on the CLEANED triplet: raw spelling variants of one identity
    # collapse here (the reference keeps them as separate persons that merge
    # via their shared email — same clusters, redundant rows; and our hash
    # ids would collide on the cleaned triplet anyway)
    df = df.groupBy("repo", "name_c", "email_c").agg(
        F.max("hash").alias("hash"), F.max("ts").alias("ts")
    )
    # materialization barrier: without it Catalyst pushes the
    # blacklist filter below this aggregate, substituting the full
    # clean_name/clean_email expression trees into every one of the ~10
    # sub-predicate references — re-running translate+regex per reference
    # per RAW row (measured 12× slower at 2.7M signatures). With the
    # barrier the predicates read materialized attributes once.
    df = df.transform(barrier)

    popular = blacklist.is_popular_name(F.col("name_c"))
    if popular_names is not None:
        pop = F.broadcast(
            popular_names.select(F.col(popular_names.columns[0]).alias("name_c")).withColumn(
                "_pop", F.lit(True)
            )
        )
        df = df.join(pop, "name_c", "left")
        popular = popular | F.coalesce(F.col("_pop"), F.lit(False))

    if reporter is not None:
        # A7 drop counters (people.go:141-167): Spark-first, one conditional
        # aggregation pass instead of per-row accumulators — accumulators
        # would force a Python UDF into the hot path. Costs one extra job,
        # only when a reporter is attached.
        ign_name = blacklist.is_ignored_name(F.col("name_c")) | F.col("name_c").isNull()
        ign_email = blacklist.is_ignored_email(F.col("email_c")) | F.col("email_c").isNull()
        stats = df.select(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(popular, 1)).alias("popular"),
            F.count(F.when(ign_name, 1)).alias("ign_name"),
            F.count(F.when(~ign_name & ign_email, 1)).alias("ign_email"),
        ).collect()[0]
        reporter.commit("people found", int(stats["total"]))
        reporter.commit("popular names", int(stats["popular"]))
        reporter.commit("ignored names", int(stats["ign_name"]))
        reporter.commit("ignored emails", int(stats["ign_email"]))
        reporter.commit(
            "people after filtering",
            int(stats["total"] - stats["ign_name"] - stats["ign_email"]),
        )

    df = (
        df.withColumn("popular_name", popular)
        .withColumn("name_key", name_key(F.col("name_c"), F.col("repo"), F.col("popular_name")))
        .where(
            ~blacklist.is_ignored_name(F.col("name_c"))
            & ~blacklist.is_ignored_email(F.col("email_c"))
            & F.col("name_c").isNotNull()
            & F.col("email_c").isNotNull()
        )
        .select(
            "repo",
            F.col("name_c").alias("name"),
            F.col("email_c").alias("email"),
            "name_key",
            "popular_name",
            "hash",
            "ts",
        )
    )

    df = df.withColumn("id", F.xxhash64("repo", "name", "email"))
    if verify_ids:
        verify_unique_ids(df)
    return df.select("id", "repo", "name", "email", "name_key", "popular_name", "hash", "ts")
