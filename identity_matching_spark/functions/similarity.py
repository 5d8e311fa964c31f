"""Batched pairwise string similarity (SURVEY §2.8 item 2).

The reference matches exactly; Jaro-Winkler / Levenshtein scoring is the
north_rule generalization for noisy transcript signatures (literature anchor:
/root/reference/research/idmatching_literature.md). Levenshtein is a Spark
built-in (`F.levenshtein`, JVM-side). Jaro-Winkler has no built-in, so it is
an Arrow-batched pandas UDF over candidate-pair batches — Python runs only on
blocked candidates, never on the full corpus — and the batch kernel is
numpy-vectorized: per Arrow batch, all pairs advance one character position
per loop step (O(max_len) python iterations per batch, each a C-speed
(batch × len) matrix op), instead of a per-pair interpreted char loop.

Pinned semantics (match DuckDB's ``jaro_winkler_similarity`` bit-for-bit on
ASCII so the scorer is oracle-checkable against an independent engine):

* matching window = max(len1, len2) // 2 - 1 (floored at 0);
* transpositions = (mismatched matched positions) // 2 — *integer* division,
  the classic C implementations' behavior;
* Winkler prefix boost (p = 0.1, max_prefix = 4) applies only when
  jaro > 0.7 (Winkler's original boost threshold);
* either string empty → 0.0 (including both empty).

DuckDB operates on UTF-8 *bytes*; this implementation operates on
codepoints, which is strictly better for diacritic-bearing names — the two
agree on all-ASCII input (property-tested in tests/test_similarity_kernel.py,
against DuckDB and the scalar spec in tests/reference_impl.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

JW_PREFIX_WEIGHT = 0.1
JW_MAX_PREFIX = 4
JW_BOOST_THRESHOLD = 0.7


# --- numpy-vectorized batch kernel ---------------------------------------

_CHUNK = 8192  # pairs per padded matrix: bounds memory at ~chunk × maxlen × 4B


def _codepoints(strs: list[str], pad: int) -> tuple[np.ndarray, np.ndarray]:
    """list of strings → (N, L) int32 codepoint matrix padded with `pad`,
    plus the (N,) length vector. One utf-32 encode of the concatenated chunk
    + a vectorized scatter — no per-string Python work."""
    n = len(strs)
    lens = np.array(list(map(len, strs)), dtype=np.int32) if n else np.zeros(0, np.int32)
    lmax = int(lens.max()) if n else 0
    out = np.full((n, max(lmax, 1)), pad, dtype=np.int32)
    total = int(lens.sum())
    if total:
        flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
        rows = np.repeat(np.arange(n, dtype=np.int64), lens)
        starts = np.concatenate(([0], np.cumsum(lens[:-1], dtype=np.int64)))
        cols = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
        out[rows, cols] = flat
    return out, lens


def _jw_chunk(a: list[str], b: list[str]) -> np.ndarray:
    """Vectorized Jaro-Winkler over one chunk of pairs. Distinct pad
    sentinels (-1 / -2) keep padding cells from ever comparing equal."""
    n = len(a)
    A, n1 = _codepoints(a, pad=-1)
    B, n2 = _codepoints(b, pad=-2)
    l1, l2 = A.shape[1], B.shape[1]
    w = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)

    matched1 = np.zeros((n, l1), dtype=bool)
    matched2 = np.zeros((n, l2), dtype=bool)
    jcols = np.arange(l2, dtype=np.int32)[None, :]
    rows = np.arange(n)
    # greedy matching, one s1 position per step across the whole chunk
    for i in range(l1):
        cand = (
            (B == A[:, i : i + 1])
            & ~matched2
            & (jcols >= (i - w)[:, None])
            & (jcols <= (i + w)[:, None])
        )
        first = cand.argmax(axis=1)
        has = cand[rows, first] & (i < n1)
        matched2[rows[has], first[has]] = True
        matched1[has, i] = True

    matches = matched1.sum(axis=1)
    m_safe = np.maximum(matches, 1)

    # transpositions: compact matched chars of both strings in order, compare
    mmax = int(matches.max()) if n else 0
    s1c = np.full((n, max(mmax, 1)), -1, dtype=np.int32)
    s2c = np.full((n, max(mmax, 1)), -2, dtype=np.int32)
    pos1 = matched1.cumsum(axis=1) - 1
    pos2 = matched2.cumsum(axis=1) - 1
    r1, c1 = np.nonzero(matched1)
    r2, c2 = np.nonzero(matched2)
    s1c[r1, pos1[r1, c1]] = A[r1, c1]
    s2c[r2, pos2[r2, c2]] = B[r2, c2]
    valid = np.arange(max(mmax, 1))[None, :] < matches[:, None]
    t = ((s1c != s2c) & valid).sum(axis=1) // 2

    jv = (matches / np.maximum(n1, 1) + matches / np.maximum(n2, 1) + (matches - t) / m_safe) / 3.0
    jv = np.where((matches == 0) | (n1 == 0) | (n2 == 0), 0.0, jv)

    # Winkler prefix boost above the 0.7 threshold
    k = min(JW_MAX_PREFIX, l1, l2)
    if k > 0:
        eq = (A[:, :k] == B[:, :k]).astype(np.int32)
        prefix = np.cumprod(eq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int32)
    boosted = jv + prefix * JW_PREFIX_WEIGHT * (1.0 - jv)
    return np.where(jv > JW_BOOST_THRESHOLD, boosted, jv)


def jaro_winkler_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized JW over two string Series; None on either side → 0.0."""
    av = a.tolist()
    bv = b.tolist()
    out = np.zeros(len(av), dtype=np.float64)
    for lo in range(0, len(av), _CHUNK):
        hi = min(lo + _CHUNK, len(av))
        ca = ["" if x is None else x for x in av[lo:hi]]
        cb = ["" if x is None else x for x in bv[lo:hi]]
        out[lo:hi] = _jw_chunk(ca, cb)
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return jaro_winkler_batch(a, b)


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """Normalized Levenshtein similarity in [0,1] — pure JVM expression."""
    denom = F.greatest(F.length(a), F.length(b))
    return F.when(denom == 0, F.lit(1.0)).otherwise(1.0 - F.levenshtein(a, b) / denom)


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<float|double> columns, JVM-side (zip_with +
    aggregate — no Python)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))
