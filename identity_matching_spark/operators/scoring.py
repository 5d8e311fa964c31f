"""Pairwise candidate scoring (SURVEY §7 step 6; north_rule stage 3).

Exact mode needs no scorer — reference edges ARE matches (same block key =
score 1.0; J1–J3 semantics live in operators/cluster.py). Similarity mode
scores LSH/blocking candidates with batched Jaro-Winkler (pandas UDF) and
normalized Levenshtein (JVM built-in), keeping pairs above threshold.

Scale shape: the JW pandas UDF runs over DISTINCT unequal name pairs only —
equal names short-circuit to 1.0 in the JVM, and edges sharing a name pair
reuse one scored row via an AQE-broadcastable join — so Arrow transfer
volume tracks name-pair cardinality, not candidate-edge cardinality.

The candidate join broadcasts nothing blindly: both sides are keyed by person
id, so AQE picks the strategy; candidate volume is linear in block sizes by
construction (star edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.functions.similarity import jaro_winkler_udf, levenshtein_ratio
from identity_matching_spark.session import barrier


def score_pairs(
    persons: DataFrame,
    candidates: DataFrame,
    name_col: str = "name",
    jw_threshold: float = 0.90,
) -> DataFrame:
    """Attach similarity scores to candidate edges and filter.

    persons: DataFrame[id, <name_col>, ...]; candidates: DataFrame[src, dst].
    Returns DataFrame[src, dst, jw, lev] for pairs with ``jw >= jw_threshold``
    (``lev`` is reported, not filtered on).
    """
    left = persons.select(F.col("id").alias("src"), F.col(name_col).alias("_name_src"))
    right = persons.select(F.col("id").alias("dst"), F.col(name_col).alias("_name_dst"))
    # Materialization barrier: ``cand`` feeds both the distinct-pair branch
    # and the back-join below; without it Catalyst duplicates the subtree
    # and the whole candidate DAG (LSH banding, bucket join, name joins)
    # executes twice inside one action.
    cand = candidates.join(left, "src").join(right, "dst").transform(barrier)

    # Identical non-empty names are jw=1.0 by definition (empty==empty is
    # pinned to 0.0, matching the scalar kernel) — short-circuit them in the
    # JVM so the Arrow transfer never sees them. LSH buckets duplicate names
    # together, so on typo corpora equal-name edges dominate the candidates.
    trivial = (F.col("_name_src") == F.col("_name_dst")) & (F.length("_name_src") > 0)

    # Score each DISTINCT unequal (src_name, dst_name) pair exactly once,
    # then join scores back to the edges: candidates sharing a name pair pay
    # the pandas UDF once instead of per edge. NULL names dedupe together and
    # join back via eqNullSafe, preserving the original per-edge semantics
    # (UDF maps None -> "" -> 0.0).
    pairs = (
        cand.where(~F.coalesce(trivial, F.lit(False)))
        .select("_name_src", "_name_dst")
        .dropDuplicates(["_name_src", "_name_dst"])
        .select(
            F.col("_name_src").alias("_p_src"),
            F.col("_name_dst").alias("_p_dst"),
            jaro_winkler_udf(F.col("_name_src"), F.col("_name_dst")).alias("_jw_pair"),
        )
    )
    scored = (
        cand.join(
            pairs,
            F.col("_name_src").eqNullSafe(F.col("_p_src"))
            & F.col("_name_dst").eqNullSafe(F.col("_p_dst")),
            "left",
        )
        .withColumn("jw", F.when(trivial, F.lit(1.0)).otherwise(F.col("_jw_pair")))
        .withColumn("lev", levenshtein_ratio(F.col("_name_src"), F.col("_name_dst")))
    )
    return scored.where(F.col("jw") >= jw_threshold).select("src", "dst", "jw", "lev")
