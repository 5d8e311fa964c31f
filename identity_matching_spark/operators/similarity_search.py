"""Approximate nearest-neighbor search over embedding columns.

Over ``DataFrame[id, embedding: array<float>]``, ``ivf_topk`` is the scale
path: a deterministic random-hyperplane coarse quantizer assigns every
vector to a cell (like IVF/LSH bucketing); queries probe their own cell plus
``n_probe`` neighboring cells (lowest Hamming distance), so the scan touches
~n_probe/2^bits of the corpus. Partition the corpus by cell and the probe
join becomes partition-pruned. Cosine runs JVM-side (zip_with/aggregate —
no Python). ``ivf_neardup_pairs`` applies the same quantizer corpus-vs-corpus.

The quantizer's hyperplanes are seeded numpy vectors broadcast as literals —
deterministic across runs and cluster sizes.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from identity_matching_spark.functions.similarity import cosine_similarity

# quantizer seed; cosine similarities are rounded to this many digits
SEED = 13
ROUND_DIGITS = 4


def _vectors(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    """``DataFrame[id, embedding: array<float>]`` → (id, array<double>)."""
    return df.select(
        F.col("id").alias(id_alias), F.col("embedding").cast("array<double>").alias(vec_alias)
    )


def _hyperplanes(dim: int, bits: int) -> np.ndarray:
    rng = np.random.RandomState(SEED)
    return rng.randn(bits, dim)


def cell_of(vec_col, planes: np.ndarray):
    """Random-hyperplane cell id: bit b = sign(<v, h_b>). Pure expressions —
    the planes are literal arrays, dot products via zip_with/aggregate."""
    cell = F.lit(0)
    for b in range(planes.shape[0]):
        h = F.array(*[F.lit(float(x)) for x in planes[b]])
        dot = F.aggregate(
            F.zip_with(vec_col, h, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        cell = cell + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return cell


def _probe_masks(bits: int, n_probe: int) -> list[int]:
    """XOR masks of the ``n_probe`` nearest cells in the Hamming ball around
    any cell, ordered by (Hamming distance, mask value) — deterministic and
    query-independent. O(n_probe) driver work + a single distance-class sort,
    never a 2^bits × 2^bits table: bits=16+ plans build instantly.
    """
    import itertools

    n_probe = min(n_probe, 1 << bits)
    masks: list[int] = []
    for dist in range(bits + 1):
        cls = sorted(
            sum(1 << b for b in combo) for combo in itertools.combinations(range(bits), dist)
        )
        masks.extend(cls[: n_probe - len(masks)])
        if len(masks) >= n_probe:
            break
    return masks


def _expand_probes(df: DataFrame, cell_col: str, masks: list[int]) -> DataFrame:
    """One row per probed cell: cell XOR each Hamming-ball mask."""
    probe = F.explode(F.array(*[F.lit(m) for m in masks])).alias("_mask")
    return df.select("*", probe).withColumn(
        cell_col, F.col(cell_col).bitwiseXOR(F.col("_mask"))
    ).drop("_mask")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 4,
    n_probe: int = 5,
    *,
    dim: int,
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's probed cells
    are scored. Recall rises with n_probe (n_probe = 2^bits → exact).

    ``dim`` (the embedding width) is required: inferring it would need a
    ``.first()`` — a driver-side Spark action during plan construction,
    which serializes pipelines that build many plans before running them.
    """
    planes = _hyperplanes(dim, bits)

    c = _vectors(corpus, "neighbor_id", "emb").withColumn("cell", cell_of(F.col("emb"), planes))
    q = _vectors(queries, "query_id", "qemb").withColumn("qcell", cell_of(F.col("qemb"), planes))

    q = _expand_probes(q.withColumnRenamed("qcell", "cell"), "cell", _probe_masks(bits, n_probe))

    sim = F.round(cosine_similarity(F.col("qemb"), F.col("emb")), ROUND_DIGITS)
    sims = (
        c.join(F.broadcast(q), "cell")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return sims.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    bits: int = 4,
    n_probe: int = 2,
    *,
    dim: int,
) -> DataFrame:
    """Corpus-vs-corpus embedding near-duplicate pairs — the 100 TB scale
    path that replaces the all-pairs non-equi join.

    Every vector sits in its quantizer cell; one join side is additionally
    expanded into its ``n_probe``-cell Hamming ball. A pair (a, b) becomes a
    candidate iff ``cell(a) XOR cell(b)`` is one of the probe masks (the XOR
    makes the test symmetric, so expanding one side suffices). Candidates are
    verified with exact cosine; ``n_probe = 2^bits`` probes every mask, which
    makes the operator provably exact — the property the q30 oracle pins.

    Scale shape: an equi-join on ``cell`` (hash shuffle, AQE skew-split for
    hot cells) touching ~n_probe/2^bits of the corpus per vector — never an
    all-pairs cross join. Returns DataFrame[id_a, id_b, sim] with id_a < id_b.

    ``dim`` is required for the same reason as in ``ivf_topk``: no driver
    action during plan construction.
    """
    planes = _hyperplanes(dim, bits)

    base = _vectors(corpus, "id", "emb").withColumn("cell", cell_of(F.col("emb"), planes))
    probed = _expand_probes(
        base.select(F.col("id").alias("id_a"), F.col("emb").alias("ea"), "cell"),
        "cell",
        _probe_masks(bits, n_probe),
    )
    home = base.select(F.col("id").alias("id_b"), F.col("emb").alias("eb"), "cell")

    sim = F.round(cosine_similarity(F.col("ea"), F.col("eb")), ROUND_DIGITS)
    # no dedup needed: each pair (a, b) joins through exactly one mask —
    # m = cell(a) XOR cell(b) — and the mask list is duplicate-free, so a
    # dropDuplicates here would only add a second full shuffle of the
    # candidate set (carrying both embedding arrays) for nothing
    return (
        probed.join(home, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )
