"""Reference implementations the package's fast paths are tested against.

* ``jaro`` / ``jaro_winkler`` — the scalar Jaro-Winkler spec the vectorized
  kernel (``functions/similarity.jaro_winkler_batch``) must equal;
* ``brute_force_topk`` — the exact top-k cosine search that
  ``operators/similarity_search.ivf_topk`` approximates;
* ``per_cluster_prf`` — the research prototype's per-ground-truth-entity
  precision/recall/F1 (semantics of the reference's
  research/idmatching/pipeline.py:224-260), unweighted and weighted by
  predicted-cluster size;
* ``strip_accents_udf`` — the reference accent strip as a pandas UDF, which
  the JVM ``functions/normalize.strip_accents_col`` must equal.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from identity_matching_spark.functions.similarity import (
    JW_BOOST_THRESHOLD,
    JW_MAX_PREFIX,
    JW_PREFIX_WEIGHT,
    cosine_similarity,
)
from identity_matching_spark.functions.normalize import strip_accents_py
from identity_matching_spark.operators.similarity_search import ROUND_DIGITS, _vectors


def jaro(s1: str, s2: str) -> float:
    """Scalar reference implementation (kept as the spec the vectorized
    kernel is property-tested against)."""
    n1, n2 = len(s1), len(s2)
    if not n1 or not n2:
        return 0.0
    if s1 == s2:
        return 1.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2  # integer half-transpositions (DuckDB / classic C semantics)
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3


def jaro_winkler(s1: str, s2: str) -> float:
    j = jaro(s1, s2)
    if j <= JW_BOOST_THRESHOLD:
        return j
    prefix = 0
    for a, b in zip(s1[:JW_MAX_PREFIX], s2[:JW_MAX_PREFIX]):
        if a != b:
            break
        prefix += 1
    return j + prefix * JW_PREFIX_WEIGHT * (1 - j)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector — the BASELINE/
    ORACLE shape (broadcast corpus×queries). Production searches take
    :func:`ivf_topk` / :func:`ivf_neardup_pairs`; nothing in the package
    calls this from a pipeline (tests and q14's oracle twin only).

    Returns DataFrame[query_id, neighbor_id, sim, rank]; ties broken by
    neighbor id ascending (deterministic).
    """
    c = _vectors(corpus, "neighbor_id", "emb")
    q = _vectors(queries, "query_id", "qemb")
    sim = F.round(cosine_similarity(F.col("qemb"), F.col("emb")), ROUND_DIGITS)
    sims = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def per_cluster_prf(assignments: DataFrame) -> dict:
    """Per ground-truth entity: its members' predicted clusters are compared
    member-by-member (intersection / cluster size, intersection / truth
    size), averaged unweighted and weighted by predicted-cluster size."""
    cell = assignments.groupBy("person", "component").agg(F.count(F.lit(1)).alias("inter"))
    truth_sz = assignments.groupBy("person").agg(F.count(F.lit(1)).alias("t_sz"))
    pred_sz = assignments.groupBy("component").agg(F.count(F.lit(1)).alias("p_sz"))
    scored = (
        cell.join(truth_sz, "person")
        .join(pred_sz, "component")
        .withColumn("prec", F.col("inter") / F.col("p_sz"))
        .withColumn("rec", F.col("inter") / F.col("t_sz"))
        .withColumn(
            "f1",
            F.when(
                (F.col("prec") + F.col("rec")) > 0,
                2 * F.col("prec") * F.col("rec") / (F.col("prec") + F.col("rec")),
            ).otherwise(F.lit(0.0)),
        )
    )
    row = scored.agg(
        F.avg("prec").alias("precision"),
        F.avg("rec").alias("recall"),
        F.avg("f1").alias("f1"),
        (F.sum(F.col("prec") * F.col("p_sz")) / F.sum("p_sz")).alias("w_precision"),
        (F.sum(F.col("rec") * F.col("p_sz")) / F.sum("p_sz")).alias("w_recall"),
        (F.sum(F.col("f1") * F.col("p_sz")) / F.sum("p_sz")).alias("w_f1"),
    ).collect()[0]
    return {k: float(row[k]) for k in row.asDict()}


@F.pandas_udf(StringType())
def strip_accents_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: None if x is None else strip_accents_py(x))
