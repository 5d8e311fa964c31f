"""Clustering quality evaluation (SURVEY §2.9): pairwise precision/recall/F1.

``pairwise_prf`` is the BASELINE gate: precision/recall/F1 over entity
pairs. Computed from counts, never materializing pairs: for cluster sizes n
the pair count is Σ n(n-1)/2, so TP/FP/FN come from three hash
aggregations — O(rows), works at any scale.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pairs(df: DataFrame, *cols: str):
    """Σ n·(n-1)/2 over group sizes."""
    sizes = df.groupBy(*cols).count()
    return sizes.agg(F.sum(F.col("count") * (F.col("count") - 1) / 2)).collect()[0][0] or 0.0


def pairwise_prf(assignments: DataFrame) -> dict:
    """assignments: DataFrame[..., component, person] — one row per entity
    with its predicted cluster and ground-truth label."""
    tp = _pairs(assignments, "component", "person")
    pred = _pairs(assignments, "component")
    truth = _pairs(assignments, "person")
    precision = tp / pred if pred else 1.0
    recall = tp / truth if truth else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp_pairs": float(tp),
        "pred_pairs": float(pred),
        "truth_pairs": float(truth),
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
