"""Near-duplicate document clustering (MinHash-LSH), DataFrame-native: the
heavy lifting — hashing, grouping, bucket joins — stays in the JVM; MinHash
uses the Arrow-vectorized UDF from functions/hashing.py.

shingle → minhash → band → bucket star-join → verified word-n-gram Jaccard
→ connected components → keep the min doc per cluster.

Scale notes: every pairing step is a star join per bucket (linear edge
count), never an all-pairs blowup; degenerate buckets are dropped with a
bound (boilerplate shingles are popular keys — the same skew story as
popular emails in the identity pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.functions.hashing import lsh_candidate_edges
from identity_matching_spark.operators.cc import connected_components

# MinHash signature width, LSH bands and character-shingle width of the
# candidate pass; word n-gram width of the Jaccard verify
N_PERM = 64
N_BANDS = 16
SHINGLE_K = 5
NGRAM_N = 3


def word_shingles(docs: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-grams per document: DataFrame[id, g]."""
    toks = docs.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), r"\s+").alias("w")
    ).where(F.size("w") >= n)
    return (
        toks.select("id", "w", F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"))
        .select("id", F.array_join(F.slice(F.col("w"), F.col("i"), n), " ").alias("g"))
        .distinct()
    )


def minhash_dedup(docs: DataFrame, jaccard_threshold: float = 0.7) -> DataFrame:
    """Near-duplicate clusters of DataFrame[doc_id, text]: LSH candidates →
    exact-Jaccard verification → connected components. Returns
    DataFrame[id, cluster, keep] where ``keep`` marks the representative
    (min id) of each near-dup cluster."""
    d = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("text"))
    cands = lsh_candidate_edges(d, "text", n_perm=N_PERM, n_bands=N_BANDS, shingle_k=SHINGLE_K)
    sh = word_shingles(d, "text", "id", NGRAM_N)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    verified = (
        cands.join(sh.select(F.col("id").alias("src"), "g"), "src")
        .join(sh.select(F.col("id").alias("dst"), "g"), ["dst", "g"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("id").alias("src"), F.col("n").alias("na")), "src")
        .join(sizes.select(F.col("id").alias("dst"), F.col("n").alias("nb")), "dst")
        .where(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= jaccard_threshold
        )
        .select("src", "dst")
    )
    comp = connected_components(verified, nodes=d.select("id"))
    return comp.select(
        "id",
        F.col("component").alias("cluster"),
        (F.col("id") == F.col("component")).alias("keep"),
    )
