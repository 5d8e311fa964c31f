"""Frequency and popularity aggregations (SURVEY §2.4 A2, A3).

* ``frequency_stats`` — per cleaned name/email: total count + count within
  the recent window (/root/reference/people.go:396-426; window cutoff
  :385-386). One hash aggregation with a conditional count — Catalyst does
  map-side partial aggregation, so the shuffle is one row per distinct value.
* ``cooccurrence_popular_keys`` — research-prototype popularity: a key is
  popular when it co-occurs with ≥ threshold distinct values
  (/root/reference/research/idmatching/pipeline.py:62-79; thresholds 5/28 at
  :272). The exact distinct count per key is salted by value hash
  (:func:`salted_count_distinct`), so a hot key's pairs spread across
  reducers instead of piling onto one.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def frequency_stats(values: DataFrame, value_col: str, recent_cutoff) -> DataFrame:
    """DataFrame[value, recent, total] over cleaned values.

    ``values`` must carry ``value_col`` (already cleaned) and ``ts``. The
    reference counts rows with ``time.After(cutoff)`` — strictly greater.
    """
    return values.groupBy(F.col(value_col).alias("value")).agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(F.col("ts") > F.lit(recent_cutoff), 1)).alias("recent"),
    )


# reducers a hot key's distinct count is split across
N_SALTS = 32


def salted_count_distinct(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Exact distinct-value count per key, skew-proof via value-hash salting.

    A plain ``groupBy(key).agg(count_distinct(value))`` cannot partially
    aggregate distincts — every (key,value) pair of a hot key lands on one
    reducer. Salting by ``hash(value) % N_SALTS`` splits a hot key across
    ``N_SALTS`` reducers; distinct values are disjoint across salts, so the
    per-salt exact counts sum to the exact total (north_rule: salted
    repartitioning for hot-key skew). Returns DataFrame[key, n_values].
    """
    salted = df.select(
        F.col(key_col).alias("key"),
        F.col(value_col).alias("value"),
        F.pmod(F.xxhash64(value_col), F.lit(N_SALTS)).alias("_salt"),
    )
    per_salt = salted.groupBy("key", "_salt").agg(F.count_distinct("value").alias("_n"))
    return per_salt.groupBy("key").agg(F.sum("_n").alias("n_values"))


def cooccurrence_popular_keys(
    pairs: DataFrame,
    key_col: str,
    value_col: str,
    threshold: int,
    ignored_key: Column | None = None,
    ignored_value: Column | None = None,
) -> DataFrame:
    """Keys whose distinct-value co-occurrence count ≥ threshold, counted by
    the skew-proof two-level aggregation (:func:`salted_count_distinct`).

    Returns DataFrame[key]. ``ignored_key``/``ignored_value`` are boolean
    Column predicates over the respective columns (rows where either is true
    are excluded, mirroring CooccurrenceFiltering.fit's skip).
    """
    df = pairs.select(F.col(key_col).alias("key"), F.col(value_col).alias("value"))
    if ignored_key is not None:
        df = df.where(~ignored_key)
    if ignored_value is not None:
        df = df.where(~ignored_value)
    counts = salted_count_distinct(df, "key", "value")
    return counts.where(F.col("n_values") >= threshold).select("key")
