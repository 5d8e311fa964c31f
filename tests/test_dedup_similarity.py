"""Tests for dedup operators, ANN search, and multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from identity_matching_spark.operators.dedup import minhash_dedup
from identity_matching_spark.operators.multimodal import (
    extract_image_features,
    sample_video_frames,
    synth_media,
)
from identity_matching_spark.operators.similarity_search import ivf_topk
from reference_impl import brute_force_topk

BASE = (
    "the quick brown fox jumps over the lazy dog while the busy spark "
    "executor shuffles partitions across the cluster during a wide join"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(30):
        if i % 10 == 0:
            text = BASE  # exact dup family
        elif i % 10 == 1:
            text = BASE + f" trailing {i}"  # near dup of BASE
        else:
            text = f"document {i} " + " ".join(f"tok{i}_{j}" for j in range(25))
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string").localCheckpoint()


def test_minhash_dedup_clusters(spark, docs):
    out = minhash_dedup(docs, jaccard_threshold=0.5).collect()
    by_id = {r["id"]: r["cluster"] for r in out}
    # the BASE family (0,1,10,11,20,21) clusters together
    fam = {by_id[i] for i in (0, 1, 10, 11, 20, 21)}
    assert len(fam) == 1
    # unrelated docs stay singletons
    assert by_id[5] == 5 and by_id[17] == 17
    keeps = {r["id"] for r in out if r["keep"]}
    assert 0 in keeps and 5 in keeps


def test_brute_force_topk_vs_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "id long, embedding array<float>",
    )
    out = brute_force_topk(df, df.where(F.col("id") < 3), k=5)
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in out.collect()
    }
    v = vecs.astype("float64")
    norms = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = np.round(norms @ norms.T, 4)
    for q in range(3):
        # rank by the rounded similarity, ties by neighbor id
        order = [i for i in np.lexsort((np.arange(40), -sims[q])) if i != q][:5]
        for rank, nid in enumerate(order, start=1):
            assert got[(q, rank)] == nid, (q, rank)


def test_ivf_topk_recall(spark):
    import numpy as np

    rng = np.random.RandomState(4)
    vecs = rng.randn(200, 16).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "id long, embedding array<float>",
    )
    queries = df.where(F.col("id") < 5)
    exact = brute_force_topk(df, queries, k=5)
    approx = ivf_topk(df, queries, k=5, bits=4, n_probe=8, dim=16)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, recall
    # full probe = exact
    full = ivf_topk(df, queries, k=5, bits=4, n_probe=16, dim=16)
    f = {(r["query_id"], r["neighbor_id"]) for r in full.collect()}
    assert f == e


def test_multimodal_features_and_frames(spark):
    media = synth_media(spark, n=24)
    feats = extract_image_features(media, dim=16).collect()
    assert len(feats) == 8  # every third row is an image
    assert all(len(r["feature"]) == 16 for r in feats)
    # determinism: same payload → same fake features
    feats2 = extract_image_features(synth_media(spark, n=24), dim=16).collect()
    assert {r["media_id"]: r["feature"] for r in feats} == {
        r["media_id"]: r["feature"] for r in feats2
    }
    frames = sample_video_frames(media, n_frames=4).collect()
    vids = {r["media_id"] for r in frames}
    assert len(vids) == 8 and len(frames) == 32
    assert all(len(r["frame"]) == 16 for r in frames)


def test_probe_masks_scale_to_wide_quantizers():
    """Hamming-ball probe masks are generated per distance class — never a
    2^bits × 2^bits table — so wide-quantizer plans build instantly."""
    import time

    from identity_matching_spark.operators.similarity_search import _probe_masks

    t0 = time.time()
    masks = _probe_masks(16, 40)
    assert time.time() - t0 < 1.0
    assert len(masks) == 40
    assert masks[0] == 0  # the cell itself probes first
    # ordered by (hamming distance, value): 16 single-bit flips follow
    assert masks[1:17] == [1 << b for b in range(16)]
    # then the smallest two-bit masks
    assert masks[17] == 0b11
    assert len(set(masks)) == 40

    wide = _probe_masks(24, 8)
    assert wide == [0] + [1 << b for b in range(7)]


def test_audio_features_kernel(spark):
    from identity_matching_spark.operators.multimodal import (
        extract_audio_features,
        synth_media,
    )

    media = synth_media(spark, n=30)
    out = extract_audio_features(media, n_mfcc=8).collect()
    # synth media: every third row is audio
    assert len(out) == 10
    for r in out:
        assert r["sample_rate"] == 16000
        assert len(r["mfcc"]) == 8
        # stub contract: payload = 16-bit PCM at meta.sample_rate
        assert abs(r["duration_s"] - 128 / 2 / 16000) < 1e-6
    # deterministic: same payload → same features
    again = extract_audio_features(synth_media(spark, n=30), n_mfcc=8).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))
