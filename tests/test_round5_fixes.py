"""Round-5 fix pins: distinct-pair JW scoring and the PPM maxval guard.
(The vectorized MinHash and distinct-text LSH pins live in
tests/test_hashing.py, the incremental state-store pins in
tests/test_state_store.py and tests/test_incremental_delta.py, the
verify-key checks in tests/test_key_checks.py, the match-cache crash
recovery on write in tests/test_match_cache.py.)
"""

from __future__ import annotations

import pytest

from identity_matching_spark.functions.similarity import jaro_winkler, levenshtein_ratio
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
