"""Blocking and edge generation (SURVEY §2.5 J1–J3, §4 star-edge note).

The reference builds reverse hash maps (exact-key blocking) and emits edges
from each block member to the block's first member
(/root/reference/matching.go:118-207). That star topology is the key scale
property: a block of n members emits n-1 edges, never O(n²). Here each block
key's hub is ``min(person id)`` — deterministic where the reference relied on
insertion order.

Skew: popular emails emit no edges (matching.go:128-131); popular names were
repo-qualified upstream (people.go:140-145), so no single name key explodes.
Residual hot keys are a single groupBy per key — AQE skew handling applies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMPTY_EXT = ""


def star_edges(df: DataFrame, key_cols: list[str], id_col: str = "id") -> DataFrame:
    """Per block key: edges (hub=min(id), id) for every other member.

    Skew-safe shape: the hub comes from a groupBy min — Catalyst runs it as
    partial + final aggregation, so a hot key costs one row per map
    partition, never a single-reducer pile-up (a window over the key would
    funnel the whole block into one partition). The hub join back is an
    equi-join AQE can split if a residual hot key survives the popular-key
    elimination. Returns DataFrame[src, dst].
    """
    members = df.select(*key_cols, F.col(id_col).alias("dst")).distinct()
    hubs = members.groupBy(*key_cols).agg(F.min("dst").alias("src"))
    return (
        members.join(hubs, key_cols)
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def external_id_edges(persons: DataFrame, ext_col: str = "external_id") -> DataFrame:
    """Matcher edges: star per shared external id (matching.go:77-84)."""
    df = persons.where(F.col(ext_col).isNotNull() & (F.col(ext_col) != EMPTY_EXT))
    return star_edges(df, [ext_col])
