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

Clustering blocks on 64-bit surrogates of the two key strings
(:func:`key_surrogate`); the batch clusterer and the incremental fold's key
index must encode them alike, so this module owns the encoding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EMPTY_EXT = ""

# hash domain per blocking-key column: a name and an email never share a code
KEY_DOMAINS = {"name_key": 1, "email": 2}


def key_surrogate(key: str) -> Column:
    """The 64-bit surrogate of blocking-key column ``key`` (``name_key`` or
    ``email``): ``xxhash64(<domain>, key)``, NULL for a NULL key. xxhash64
    maps NULL to a constant, so an unmasked surrogate would equi-join NULL
    keys the string key never joins."""
    return F.when(F.col(key).isNotNull(), F.xxhash64(F.lit(KEY_DOMAINS[key]), key))


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


def external_id_edges(persons: DataFrame) -> DataFrame:
    """Matcher edges: star per shared external id (matching.go:77-84)."""
    ext = F.col("external_id")
    return star_edges(persons.where(ext.isNotNull() & (ext != EMPTY_EXT)), ["external_id"])
