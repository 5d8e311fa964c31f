"""MinHash-LSH banding over text shingles (SURVEY §2.8 item 3; north_rule
blocking pass 2).

Hand-rolled rather than Spark ML's ``MinHashLSH`` so banding is explicit and
deterministic (the north_rule pins reproducible blocking keys). The UDF is
Arrow-batched and numpy-vectorized: per batch, each document's character
shingles are hashed once (stable 64-bit FNV-ish mix), then ``n_perm``
universal-hash permutations are applied as one (n_shingles × n_perm)
broadcasted numpy op. Band hashes come out as ``array<bigint>`` —
``explode`` + star-edges per (band_idx, band_hash) gives linear candidate
edges per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from identity_matching_spark.session import barrier

# 31-bit Mersenne prime: hash values and permutation params live below 2^31,
# so every product in the universal hash (a*x + b) stays below 2^62 — exact
# int64 arithmetic, no silent wraparound. (The earlier 2^61-1 field overflowed
# int64 in the vectorized multiply, quietly breaking the universal-hash
# guarantee; 31-bit minhash space keeps the Jaccard-LSH collision bound with
# 2^-31 per-pair hash collisions — negligible against LSH band probabilities.)
_MERSENNE = (1 << 31) - 1

# seed of the permutation parameters (fixed: the q21/q25/q33 goldens pin the
# band hashes it yields)
SEED = 7
# LSH buckets with more member rows than this emit no edges (boilerplate)
MAX_BUCKET = 64


def _perm_params(n_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(SEED)
    a = rng.randint(1, _MERSENNE, size=n_perm, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=n_perm, dtype=np.int64)
    return a, b


_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)

# Vectorized (chunk_shingles × n_perm) blocks stay ~2 MB: small enough to be
# L2/L3-resident AND heap-recycled. Large numpy temporaries are mmap'd and
# munmap'd per expression, and on this host first-touch page faults run at
# ~150 MB/s — a 256 MB chunk spends 10× longer faulting pages than computing
# (measured). Small chunks + preallocated out= buffers avoid that entirely.
_CHUNK_SHINGLES = 4096


def make_minhash_bands_udf(n_perm: int = 64, n_bands: int = 16, shingle_k: int = 5):
    """Returns a pandas UDF: text → array of n_bands band-hash longs.

    NOTE on determinism: python's str hash is salted per process — we use a
    stable FNV-1a instead so signatures are identical across executors and
    runs. The whole Arrow batch is hashed as one numpy pipeline (sliding
    byte windows over the concatenated lowered texts → vectorized FNV-1a →
    ``minimum.reduceat`` per document), which produces byte-identical values
    to the original per-row loop: FNV over a character shingle's utf-8 bytes
    equals FNV over the same byte window when the text is pure ASCII, and
    non-ASCII rows take the scalar path. Shingle de-dup is skipped — the
    column-wise min is invariant under multiplicity.
    """
    assert n_perm % n_bands == 0
    rows_per_band = n_perm // n_bands
    a, b = _perm_params(n_perm)
    band_tag = (np.arange(n_bands, dtype=np.int64)) << 48

    def _fnv1a(s: str) -> int:
        h = 0xCBF29CE484222325
        for ch in s.encode("utf-8"):
            h ^= ch
            h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
        return h

    def _bands_from_sh(sh: np.ndarray) -> list[int]:
        # (n_shingles, n_perm) universal hashes → column-wise min; all
        # operands < 2^31 so products < 2^62: exact in int64
        sig = ((sh[:, None] * a + b) % _MERSENNE).min(axis=0)
        bands = sig.reshape(n_bands, rows_per_band)
        # one stable hash per band (mod per term keeps sums < 2^33·r)
        band_hash = (bands * a[:rows_per_band] % _MERSENNE).sum(axis=1) % _MERSENNE
        return (band_tag | band_hash).tolist()

    def _scalar_row(text: str) -> list[int]:
        t = text.lower()
        if len(t) < shingle_k:
            t = t.ljust(shingle_k, "_")
        seen = {_fnv1a(t[i : i + shingle_k]) for i in range(len(t) - shingle_k + 1)}
        sh = (np.fromiter(seen, dtype=np.uint64, count=len(seen)) % _MERSENNE).astype(
            np.int64
        )
        return _bands_from_sh(sh)

    def _vector_rows(texts: list[bytes]) -> np.ndarray:
        """All-ASCII fast path: one numpy pipeline for the whole group.

        Returns (n_docs, n_bands) int64 of tagged band hashes.
        """
        buf = np.frombuffer(b"".join(texts), dtype=np.uint8)
        lens = np.array([len(t) for t in texts], dtype=np.int64)
        n_sh = lens - shingle_k + 1
        doc_starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        sh_starts = np.concatenate(([0], np.cumsum(n_sh)[:-1]))
        total_sh = int(n_sh.sum())
        # global window-start positions: per-doc arange + doc byte offset
        base = (
            np.arange(total_sh, dtype=np.int64)
            - np.repeat(sh_starts, n_sh)
            + np.repeat(doc_starts, n_sh)
        )
        h = np.full(total_sh, _FNV_OFFSET, dtype=np.uint64)
        for j in range(shingle_k):
            h = (h ^ buf[base + j].astype(np.uint64)) * _FNV_PRIME
        sh = (h % np.uint64(_MERSENNE)).astype(np.int64)
        # Distinct-shingle table: short-text corpora (k=2 name bigrams) have
        # a tiny shingle alphabet, so the n_perm universal hashes — the int64
        # mod is the expensive op — are computed once per DISTINCT shingle
        # and gathered back. Falls back to direct per-chunk computation when
        # the alphabet is large (long documents) to bound the table size.
        u, inv = np.unique(sh, return_inverse=True)
        table = None
        if len(u) * 4 <= total_sh and len(u) <= 1 << 20:
            table = np.empty((len(u), n_perm), dtype=np.int64)
            np.multiply(u[:, None], a, out=table)
            np.add(table, b, out=table)
            np.remainder(table, _MERSENNE, out=table)
        out = np.empty((len(texts), n_bands), dtype=np.int64)
        # chunk the (shingles × n_perm) expansion on whole-document
        # boundaries, reusing ONE preallocated buffer for every chunk
        # a chunk always takes whole documents, so it can overshoot the
        # target by up to one document's shingles
        rows = _CHUNK_SHINGLES + int(n_sh.max())
        sig_buf = np.empty((rows, n_perm), dtype=np.int64)
        lo = 0
        while lo < len(texts):
            hi = lo + 1
            while hi < len(texts) and sh_starts[hi] - sh_starts[lo] < _CHUNK_SHINGLES:
                hi += 1
            s0 = int(sh_starts[lo])
            s1 = int(sh_starts[hi - 1] + n_sh[hi - 1])
            m = s1 - s0
            sig = sig_buf[:m]
            if table is not None:
                np.take(table, inv[s0:s1], axis=0, out=sig)
            else:
                np.multiply(sh[s0:s1, None], a, out=sig)
                np.add(sig, b, out=sig)
                np.remainder(sig, _MERSENNE, out=sig)
            mins = np.minimum.reduceat(sig, sh_starts[lo:hi] - s0, axis=0)
            bands = mins.reshape(hi - lo, n_bands, rows_per_band)
            band_hash = (bands * a[:rows_per_band] % _MERSENNE).sum(axis=2) % _MERSENNE
            out[lo:hi] = band_tag | band_hash
            lo = hi
        return out

    @F.pandas_udf(ArrayType(LongType()))
    def minhash_bands(texts: pd.Series) -> pd.Series:
        out: list[list[int] | None] = [None] * len(texts)
        vec_idx: list[int] = []
        vec_bytes: list[bytes] = []
        for i, text in enumerate(texts):
            if text is None or text == "":
                continue
            t = text.lower()
            if t.isascii():
                if len(t) < shingle_k:
                    t = t.ljust(shingle_k, "_")
                vec_idx.append(i)
                vec_bytes.append(t.encode("ascii"))
            else:
                out[i] = _scalar_row(text)
        if vec_idx:
            tagged = _vector_rows(vec_bytes)
            for row, i in enumerate(vec_idx):
                out[i] = tagged[row].tolist()
        return pd.Series(out)

    return minhash_bands


def lsh_candidate_edges(
    df: DataFrame,
    text_col: str,
    n_perm: int = 64,
    n_bands: int = 16,
    shingle_k: int = 5,
    reporter=None,
) -> DataFrame:
    """Candidate edges between the ``id``s of ``df`` from MinHash-LSH
    buckets: star edges per bucket.

    Buckets of more than ``MAX_BUCKET`` rows are dropped (boilerplate
    documents). With a ``reporter`` attached the drop is COUNTED — one
    conditional aggregate over the bucket stats commits ``candidates dropped by max_bucket`` (the
    member rows of over-cap buckets, i.e. the rows whose bucket produced no
    edges) and ``buckets dropped by max_bucket``; without a reporter the
    cap applies silently (cost: the aggregate job runs only when asked
    for, mirroring the A7 counters in ``reduce_people``). Returns
    DataFrame[src, dst].

    Scale shape: bands are a pure function of the TEXT, and identity corpora
    duplicate texts heavily (every person row sharing a name shares all 32
    band hashes), so the UDF + explode + bucket aggregation all run per
    DISTINCT text. The row-level bucket semantics are reconstructed exactly
    from per-text aggregates carried through the banding: ``min(id)`` of a
    bucket = min over the member texts' min-ids, and the bucket's member
    count = sum of the member texts' row counts — so the (src, bucket_n)
    pair, and therefore the emitted edge set, is byte-identical to banding
    every row individually (pinned by the q21/q25/q33 goldens). At 3.75 M
    conversations this cuts the Arrow UDF input ~3× and the exploded band
    rows (n_bands × rows) from 65 M to ~19 M.
    """
    udf = make_minhash_bands_udf(n_perm, n_bands, shingle_k)
    per_text = df.groupBy(F.col(text_col).alias("_text")).agg(
        F.min(F.col("id")).alias("_min_id"), F.count(F.lit(1)).alias("_n")
    )
    # Materialization barrier on the PER-TEXT band arrays, before the
    # explode: the banded relation feeds two consumers (the bucket-stats
    # aggregate and the join back), and without the barrier Catalyst
    # duplicates the whole subtree — the Arrow UDF ran TWICE per distinct
    # text (two ArrowEvalPython nodes in the q21 physical plan). The
    # checkpoint holds one row per distinct text (text + n_bands longs),
    # far cheaper than a second full UDF pass; the explode re-runs per
    # consumer but is a trivial JVM generator.
    banded = per_text.select(
        "_text", "_min_id", "_n", udf(F.col("_text")).alias("_bands")
    ).transform(barrier)
    bands = banded.select(
        "_text", "_min_id", "_n", F.explode("_bands").alias("bucket")
    )
    # partial-aggregated bucket stats + join back: skew-safe for degenerate
    # buckets (same shape as operators/blocking.star_edges)
    stats = bands.groupBy("bucket").agg(
        F.min("_min_id").alias("src"), F.sum("_n").alias("bucket_n")
    )
    if reporter is not None:
        row = stats.agg(
            F.sum(
                F.when(F.col("bucket_n") > MAX_BUCKET, F.col("bucket_n"))
            ).alias("dropped_members"),
            F.count(F.when(F.col("bucket_n") > MAX_BUCKET, 1)).alias("dropped_buckets"),
        ).collect()[0]
        reporter.commit(
            "candidates dropped by max_bucket", int(row["dropped_members"] or 0)
        )
        reporter.commit(
            "buckets dropped by max_bucket", int(row["dropped_buckets"] or 0)
        )
    out = (
        bands.join(stats, "bucket")
        .where(F.col("bucket_n") <= MAX_BUCKET)
        .select("_text", "src")
        .distinct()
        .join(df.select(F.col("id").alias("dst"), F.col(text_col).alias("_text")), "_text")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return out
