"""Round-5 fix pins: distinct-pair JW scoring, verify-key null handling,
match-cache crash recovery on write, PPM maxval guard, vectorized MinHash
and distinct-text LSH equivalence. (The incremental state-store pins live
in tests/test_state_store.py and tests/test_incremental_delta.py.)
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from identity_matching_spark.functions.similarity import jaro_winkler, levenshtein_ratio
from identity_matching_spark.operators import cluster as cluster_mod
from identity_matching_spark.operators.blacklist import Blacklist
from identity_matching_spark.operators.cluster import reduce_people
from identity_matching_spark.operators.scoring import score_pairs


def _persons(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def _cands(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


class TestDistinctPairScoring:
    """score_pairs must be edge-for-edge identical to the naive per-edge
    scorer — the distinct-pair dedupe and equal-name short-circuit are pure
    plan optimizations."""

    def test_matches_scalar_kernel_per_edge(self, spark):
        rows = [
            (1, "alice smith"),
            (2, "alice smith"),   # duplicate name -> shares a scored pair
            (3, "alcie smith"),   # typo
            (4, "bob jones"),
            (5, ""),              # empty name
            (6, None),            # null name
        ]
        persons = _persons(spark, rows)
        pairs = [
            (1, 2),  # equal non-empty -> trivial 1.0
            (1, 3),  # unequal -> UDF
            (2, 3),  # same name pair as (1,3) -> must reuse, same value
            (3, 4),
            (5, 5),  # empty==empty -> pinned 0.0 (NOT trivial)
            (1, 6),  # null side -> jw 0.0, lev null
            (6, 6),  # null==null
        ]
        out = {
            (r.src, r.dst): (r.jw, r.lev)
            for r in score_pairs(persons, _cands(spark, pairs), jw_threshold=0.0).collect()
        }
        names = dict(rows)
        for s, d in pairs:
            a, b = names[s], names[d]
            exp_jw = jaro_winkler("" if a is None else a, "" if b is None else b)
            if (s, d) == (1, 6) or (s, d) == (6, 6):
                # lev on null input is null -> cond(jw>=0.0) still keeps row
                assert out[(s, d)][0] == pytest.approx(exp_jw)
                assert out[(s, d)][1] is None
                continue
            assert out[(s, d)][0] == pytest.approx(exp_jw), (s, d)
        assert out[(1, 2)] == (1.0, 1.0)
        assert out[(5, 5)][0] == 0.0 and out[(5, 5)][1] == 1.0
        assert out[(1, 3)] == out[(2, 3)]

    def test_threshold_filter_unchanged(self, spark):
        persons = _persons(spark, [(1, "alice"), (2, "alice"), (3, "zzzz")])
        cands = _cands(spark, [(1, 2), (1, 3)])
        kept = score_pairs(persons, cands, jw_threshold=0.9).select("src", "dst").collect()
        assert [(r.src, r.dst) for r in kept] == [(1, 2)]

    def test_udf_sees_only_distinct_unequal_pairs(self, spark):
        """The physical plan's ArrowEvalPython must sit above the dedup, so
        equal-name edges never reach Python."""
        persons = _persons(spark, [(1, "alice"), (2, "alice"), (3, "alcie")])
        cands = _cands(spark, [(1, 2), (1, 3), (2, 3)])
        plan = score_pairs(persons, cands, jw_threshold=0.0)._jdf.queryExecution().optimizedPlan().toString()
        # the pandas UDF is evaluated on the deduplicated pair relation:
        # optimizer puts ArrowEvalPython after an Aggregate/Deduplicate node
        assert "ArrowEvalPython" in plan or "arrowevalpython" in plan.lower()
        assert "Deduplicate" in plan or "Aggregate" in plan


def _keyed_persons(spark, rows):
    # rows: (id, name_key, email) — name == name_key (pre-qualified)
    return spark.createDataFrame(
        [(i, n, n, e) for i, n, e in rows],
        "id long, name string, name_key string, email string",
    )


class TestVerifyKeys:
    def test_null_keys_no_spurious_collision_and_string_semantics(self, spark):
        """NULL name_key/email must neither trip the collision check (ADVICE
        r4) nor cluster via the hash-of-NULL constant: the surrogate stays
        NULL, reproducing the string key's join/group behavior exactly. A
        NULL-email person joins no email block and is kept as a singleton —
        with or without extra edges (one phase-1 path for both)."""
        rows = [
            (1, "alice", "a@x.com"),
            (2, "alicia", "a@x.com"),
            (3, "bob", None),
            (4, "carol", None),
            (5, None, "e@x.com"),
        ]
        persons = _keyed_persons(spark, rows)
        no_edges = spark.createDataFrame([], "src long, dst long")
        for kwargs in ({}, {"extra_edges": no_edges}):
            out = reduce_people(
                persons, Blacklist.testing(), max_identities=None, **kwargs
            )
            comps = {r["id"]: r["component"] for r in out.collect()}
            # 1,2 share an email; 5 clusters alone; the NULL-email rows stay
            # apart (no email equi-join match, not even with each other)
            assert comps[1] == comps[2] == 1, kwargs
            assert comps.get(5) == 5, kwargs
            assert comps[3] == 3 and comps[4] == 4, kwargs

    def test_planted_surrogate_collision_raises(self, spark, monkeypatch):
        rows = [(1, "alice", "a@x.com"), (2, "bob", "b@x.com")]
        real = F.xxhash64
        monkeypatch.setattr(
            cluster_mod.F, "xxhash64", lambda *cols: F.lit(7).cast("long")
        )
        try:
            with pytest.raises(ValueError, match="surrogate collision"):
                reduce_people(
                    _keyed_persons(spark, rows), Blacklist.testing(), max_identities=None
                )
        finally:
            monkeypatch.setattr(cluster_mod.F, "xxhash64", real)

    def test_verify_token_memoizes_verdict(self, spark, monkeypatch):
        rows = [(1, "alice", "a@x.com"), (2, "bob", "b@x.com")]
        persons = _keyed_persons(spark, rows)
        cluster_mod._VERIFIED_KEY_TOKENS.discard("r5-token")
        reduce_people(
            persons, Blacklist.testing(), max_identities=None, verify_token="r5-token"
        ).collect()
        assert "r5-token" in cluster_mod._VERIFIED_KEY_TOKENS
        # plant a collision: with the memoized token it must be skipped,
        # with a fresh token it must raise
        real = F.xxhash64
        monkeypatch.setattr(
            cluster_mod.F, "xxhash64", lambda *cols: F.lit(7).cast("long")
        )
        try:
            reduce_people(
                persons, Blacklist.testing(), max_identities=None, verify_token="r5-token"
            ).collect()
            with pytest.raises(ValueError, match="surrogate collision"):
                reduce_people(
                    persons, Blacklist.testing(), max_identities=None,
                    verify_token="r5-other",
                )
        finally:
            monkeypatch.setattr(cluster_mod.F, "xxhash64", real)
            cluster_mod._VERIFIED_KEY_TOKENS.discard("r5-token")
            cluster_mod._VERIFIED_KEY_TOKENS.discard("r5-other")


def _ppm_bytes(w=8, h=4, value=200, maxval=255):
    header = f"P6\n{w} {h}\n{maxval}\n".encode()
    return header + bytes([value, value, value]) * (w * h)


class TestMultimodalDecode:
    def test_ppm_maxval_over_255_falls_back_to_stub(self, spark):
        """2-byte-per-sample PPM (maxval > 255) must NOT be mis-decoded as
        1-byte (ADVICE r4) — it takes the deterministic stub path."""
        import numpy as np

        from identity_matching_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            _fake_decode,
            extract_image_features,
        )

        # well-formed 16-bit P6: 2 bytes per sample
        w, h = 4, 2
        payload = f"P6\n{w} {h}\n65535\n".encode() + b"\x00\xc8" * (w * h * 3)
        media = spark.createDataFrame(
            [("deep", "image", bytearray(payload),
              {"width": w, "height": h, "sample_rate": None, "n_frames": None,
               "format": "ppm"})],
            MEDIA_SCHEMA,
        )
        got = extract_image_features(media, dim=8).collect()[0]["feature"]
        assert np.allclose(np.array(got), _fake_decode(payload, 8), atol=1e-7)

    def test_video_concatenated_ppm_real_frames(self, spark):
        """A concatenated-PPM payload decodes real frames: the stride runs
        over the actual frame count and each sampled frame is its pooled
        grayscale."""
        import numpy as np

        from identity_matching_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            sample_video_frames,
        )

        # 6 frames with distinct uniform intensities
        vals = [10, 50, 90, 130, 170, 210]
        payload = b"".join(_ppm_bytes(value=v) for v in vals)
        media = spark.createDataFrame(
            [
                ("vid", "video", bytearray(payload),
                 {"width": 8, "height": 4, "sample_rate": None, "n_frames": 6,
                  "format": "ppmv"}),
                ("stub", "video", bytearray(b"not-a-video" * 16),
                 {"width": None, "height": None, "sample_rate": None,
                  "n_frames": 8, "format": "mp4"}),
            ],
            MEDIA_SCHEMA,
        )
        rows = sample_video_frames(media, n_frames=4).collect()
        vid = sorted(
            ((r["frame_idx"], r["frame"]) for r in rows if r["media_id"] == "vid")
        )
        # stride = 6 // 4 = 1 → frames 0..3
        assert [i for i, _ in vid] == [0, 1, 2, 3]
        for (fi, frame), v in zip(vid, vals[:4]):
            assert np.allclose(np.array(frame), v / 255.0, atol=1e-6), fi
        # undecodable payloads keep the stub contract (golden parity)
        stub = [r for r in rows if r["media_id"] == "stub"]
        assert len(stub) == 4 and [r["frame_idx"] for r in sorted(
            stub, key=lambda r: r["frame_idx"]
        )] == [0, 2, 4, 6]

    def test_truncated_ppm_video_rejected(self):
        from identity_matching_spark.operators.multimodal import _ppm_frames

        good = _ppm_bytes(value=100) + _ppm_bytes(value=200)
        assert len(_ppm_frames(good)) == 2
        assert _ppm_frames(good[:-5]) is None           # truncated pixels
        assert _ppm_frames(good + b"junk") is None      # trailing garbage
        assert _ppm_frames(_ppm_bytes(maxval=300)) is None


class TestMatchCacheWriteRecovery:
    def test_write_after_interrupted_swap_keeps_prior_entries(self, spark, tmp_path):
        """A crash that left only <path>__old must be recovered by the NEXT
        WRITE too (ADVICE r4): without recovery the merge starts empty and
        the aside cleanup destroys the sole surviving copy."""
        import os

        from identity_matching_spark.sources.io import (
            read_match_cache,
            write_match_cache,
        )

        path = str(tmp_path / "cache.csv")
        first = spark.createDataFrame(
            [("a@x.com", "ua", True), ("b@x.com", "ub", False)],
            "email string, user string, matched boolean",
        )
        write_match_cache(spark, path, first)
        # simulate the crash window: cache renamed aside, new cache missing
        os.rename(path, path + "__old")
        second = spark.createDataFrame(
            [("c@x.com", "uc", True)], "email string, user string, matched boolean"
        )
        write_match_cache(spark, path, second)
        got = {
            r["email"]: (r["user"], r["matched"])
            for r in read_match_cache(spark, path).collect()
        }
        assert got == {
            "a@x.com": ("ua", True),
            "b@x.com": ("ub", False),
            "c@x.com": ("uc", True),
        }


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

        def ref_bands(text, n_perm, n_bands, shingle_k, seed):
            if text is None or text == "":
                return None
            a, b = H._perm_params(n_perm, seed)
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
        fn = H.make_minhash_bands_udf(64, 32, 2, 7).func
        got = fn(pd.Series(cases))
        for text, g in zip(cases, got):
            assert ref_bands(text, 64, 32, 2, 7) == g, repr(text)

        # k=5 long docs with the chunk boundary forced tiny (crosses docs)
        old_chunk = H._CHUNK_SHINGLES
        H._CHUNK_SHINGLES = 100
        try:
            fn5 = H.make_minhash_bands_udf(64, 16, 5, 7).func
            docs = [
                "".join(
                    rng.choice(string.ascii_lowercase + " ")
                    for _ in range(rng.randint(1, 400))
                )
                for _ in range(100)
            ]
            got5 = fn5(pd.Series(docs))
            for t, g in zip(docs, got5):
                assert ref_bands(t, 64, 16, 5, 7) == g
        finally:
            H._CHUNK_SHINGLES = old_chunk


# --- round-5 aggregation-shape rewrites: equivalence pins ------------------
#
# Both rewrites claim BYTE-IDENTICAL output to the naive formulation they
# replace; these tests pin that claim against straight reimplementations of
# the pre-rewrite plans on hostile inputs.


class TestDistinctTextLsh:
    """lsh_candidate_edges bands per DISTINCT text but must emit the exact
    per-row edge set (src = min id per bucket, bucket_n = member ROWS)."""

    def test_equals_per_row_banding(self, spark):
        import random

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

        got = {
            (r.src, r.dst)
            for r in lsh_candidate_edges(
                df, "text", n_perm=16, n_bands=8, shingle_k=2, max_bucket=30
            ).collect()
        }

        # pre-rewrite plan: band every ROW, bucket stats over rows
        udf = make_minhash_bands_udf(16, 8, 2, 7)
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
