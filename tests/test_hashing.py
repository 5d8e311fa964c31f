"""MinHash banding and LSH candidate tests (``functions/hashing.py``):
bands of texts shorter than the shingle width, the vectorized band kernel
against a scalar reference, and distinct-text banding against per-row
banding."""

from pyspark.sql import functions as F


def test_minhash_bands_on_short_text(spark):
    """Texts shorter than shingle_k are padded to one shingle — the bands
    UDF must return usable band hashes, not crash (ADVICE r3 low, pinned)."""
    from identity_matching_spark.functions.hashing import make_minhash_bands_udf

    udf = make_minhash_bands_udf(n_perm=16, n_bands=8, shingle_k=2)
    df = spark.createDataFrame(
        [("a",), ("",), (None,), ("ab",)], "t string"
    ).select(udf(F.col("t")).alias("bands"))
    rows = df.collect()
    assert len(rows[0]["bands"]) == 8          # 1-char text: padded shingle
    assert rows[1]["bands"] is None            # empty: guarded
    assert rows[2]["bands"] is None            # null: guarded
    assert len(rows[3]["bands"]) == 8


class TestVectorizedMinhash:
    def test_batch_vectorized_bands_match_scalar_reference(self):
        """The batched numpy minhash pipeline must be byte-identical to the
        original per-row loop (goldens q21/q25/q33 depend on these values):
        ASCII fast path, non-ASCII scalar fallback, pad/short strings, and
        the chunked long-document path all pinned here."""
        import random
        import string

        import numpy as np
        import pandas as pd

        from identity_matching_spark.functions import hashing as H

        def ref_bands(text, n_perm, n_bands, shingle_k):
            if text is None or text == "":
                return None
            a, b = H._perm_params(n_perm)
            r = n_perm // n_bands

            def fnv(s):
                h = 0xCBF29CE484222325
                for ch in s.encode("utf-8"):
                    h ^= ch
                    h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
                return h

            t = text.lower()
            if len(t) < shingle_k:
                t = t.ljust(shingle_k, "_")
            seen = {fnv(t[i : i + shingle_k]) for i in range(len(t) - shingle_k + 1)}
            sh = (
                np.fromiter(seen, dtype=np.uint64, count=len(seen)) % H._MERSENNE
            ).astype(np.int64)
            sig = ((sh[:, None] * a + b) % H._MERSENNE).min(axis=0)
            bands = sig.reshape(n_bands, r)
            bh = (bands * a[:r] % H._MERSENNE).sum(axis=1) % H._MERSENNE
            return [int(i) << 48 | int(h) & 0xFFFFFFFFFFFF for i, h in enumerate(bh)]

        rng = random.Random(5)
        cases = [None, "", "a", "ab", "José García", "Ünïcødé nâme", "x" * 5000,
                 "short", "ALL CAPS NAME", "mixed Ascii and ü"]
        for _ in range(200):
            n = rng.randint(1, 40)
            cases.append(
                "".join(rng.choice(string.ascii_letters + "  .'-éü") for _ in range(n))
            )
        fn = H.make_minhash_bands_udf(64, 32, 2).func
        got = fn(pd.Series(cases))
        for text, g in zip(cases, got):
            assert ref_bands(text, 64, 32, 2) == g, repr(text)

        # k=5 long docs with the chunk boundary forced tiny (crosses docs)
        old_chunk = H._CHUNK_SHINGLES
        H._CHUNK_SHINGLES = 100
        try:
            fn5 = H.make_minhash_bands_udf(64, 16, 5).func
            docs = [
                "".join(
                    rng.choice(string.ascii_lowercase + " ")
                    for _ in range(rng.randint(1, 400))
                )
                for _ in range(100)
            ]
            got5 = fn5(pd.Series(docs))
            for t, g in zip(docs, got5):
                assert ref_bands(t, 64, 16, 5) == g
        finally:
            H._CHUNK_SHINGLES = old_chunk


# lsh_candidate_edges claims BYTE-IDENTICAL output to the per-row banding
# it replaced; this pins that claim against a straight reimplementation of
# the pre-rewrite plan on hostile inputs.


class TestDistinctTextLsh:
    """lsh_candidate_edges bands per DISTINCT text but must emit the exact
    per-row edge set (src = min id per bucket, bucket_n = member ROWS)."""

    def test_equals_per_row_banding(self, spark, monkeypatch):
        import random

        from identity_matching_spark.functions import hashing
        from identity_matching_spark.functions.hashing import (
            lsh_candidate_edges,
            make_minhash_bands_udf,
        )

        rng = random.Random(55)
        names = ["alice smith", "alice smyth", "bob jones", "bob jonez",
                 "carol rivera", "", "josé garcía", "dave o'neil"]
        rows = [(i, rng.choice(names)) for i in range(120)]
        # force a degenerate bucket: many rows of one text (max_bucket test)
        rows += [(1000 + i, "boilerplate text") for i in range(40)]
        df = spark.createDataFrame(rows, "id long, text string")

        monkeypatch.setattr(hashing, "MAX_BUCKET", 30)
        got = {
            (r.src, r.dst)
            for r in lsh_candidate_edges(df, "text", n_perm=16, n_bands=8, shingle_k=2).collect()
        }

        # pre-rewrite plan: band every ROW, bucket stats over rows
        udf = make_minhash_bands_udf(16, 8, 2)
        bands = df.select("id", F.explode(udf(F.col("text"))).alias("bucket"))
        stats = bands.groupBy("bucket").agg(
            F.min("id").alias("src"), F.count(F.lit(1)).alias("bucket_n")
        )
        want = {
            (r.src, r.dst)
            for r in bands.join(stats, "bucket")
            .where((F.col("src") != F.col("id")) & (F.col("bucket_n") <= 30))
            .select("src", F.col("id").alias("dst"))
            .distinct()
            .collect()
        }
        assert got == want and len(want) > 0
