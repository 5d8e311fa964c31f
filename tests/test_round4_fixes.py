"""Round-4 hardening tests: the greedy's accumulator retirement against a
naive scan, and the audio/image kernels decoding real payloads.

The MinHash short-text test lives in test_hashing.py, the match-cache file
contract tests in test_match_cache.py.
"""

import pytest


def test_greedy_retirement_matches_naive_scan():
    """The full-accumulator retirement in _greedy_block_edges must emit the
    exact edge list of the naive scan-every-accumulator greedy (the pinned
    deterministic cap semantics, q22 golden) on randomized blocks."""
    import random

    import pandas as pd

    from identity_matching_spark.operators.cluster import _greedy_block_edges

    def naive(pdf, cap):
        edges = []

        def greedy(items, is_j3=False):
            accs = []
            for it in items:
                placed = False
                for a in accs:
                    if a["ne"] + a["nn"] < cap and it["ne"] + it["nn"] < cap:
                        edges.append((a["id"], it["id"], is_j3))
                        a["ne"] += it["ne"]
                        a["nn"] += it["nn"] - 1
                        placed = True
                        break
                if not placed:
                    accs.append(dict(it))
            return accs

        exts = sorted(pdf["ext"].unique())
        survivors = []
        for ext in exts:
            sub = pdf[pdf["ext"] == ext].sort_values("comp")
            items = [
                {"id": int(r.comp), "ne": int(r.n_emails), "nn": int(r.n_names), "ext": ext}
                for r in sub.itertuples()
            ]
            survivors.extend(greedy(items))
        if len(exts) == 2 and "" in exts:
            survivors.sort(key=lambda a: a["id"])
            greedy(survivors, is_j3=True)
        return edges

    rng = random.Random(404)
    for trial in range(200):
        n = rng.randint(1, 40)
        cap = float(rng.randint(2, 8))
        exts = ["", "E1"][: rng.randint(1, 2)]
        pdf = pd.DataFrame(
            {
                "comp": rng.sample(range(1000), n),
                "ext": [rng.choice(exts) for _ in range(n)],
                "n_emails": [rng.randint(1, 5) for _ in range(n)],
                "n_names": [rng.randint(1, 5) for _ in range(n)],
            }
        )
        assert _greedy_block_edges(pdf, cap) == naive(pdf, cap), (trial, cap)


# --- real media decode paths (stdlib WAV / PPM; stub fallback pinned) -------


def _wav_bytes(freq=440.0, sr=8000, seconds=0.25, amp=0.5):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        n = int(sr * seconds)
        frames = b"".join(
            struct.pack("<h", int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr)))
            for i in range(n)
        )
        w.writeframes(frames)
    return buf.getvalue()


def _ppm_bytes(w=8, h=4, value=200):
    header = f"P6\n{w} {h}\n255\n".encode()
    return header + bytes([value, value, value]) * (w * h)


def test_audio_kernel_decodes_real_wav(spark):
    """A genuine RIFF/WAV payload takes the stdlib decode: duration comes
    from the actual frame count and the spectral bands peak at the tone's
    frequency band — not the hash stub."""
    import numpy as np

    from identity_matching_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    sr, seconds = 8000, 0.25
    wav = _wav_bytes(freq=1000.0, sr=sr, seconds=seconds)
    media = spark.createDataFrame(
        [
            ("real", "audio", bytearray(wav),
             {"width": None, "height": None, "sample_rate": sr, "n_frames": None,
              "format": "wav"}),
            ("stub", "audio", bytearray(b"not-a-wav-payload" * 10),
             {"width": None, "height": None, "sample_rate": 16000, "n_frames": None,
              "format": "wav"}),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r for r in extract_audio_features(media, n_mfcc=8).collect()}
    assert abs(got["real"]["duration_s"] - seconds) < 1e-3
    assert got["real"]["sample_rate"] == sr
    bands = np.array(got["real"]["mfcc"])
    # the peak band must be the one holding the 1 kHz FFT bin under the
    # same array_split pooling the kernel uses
    n_bins = int(sr * seconds) // 2 + 1
    tone_bin = int(1000.0 * (sr * seconds) / sr)
    splits = np.array_split(np.arange(n_bins), 8)
    expected = next(i for i, seg in enumerate(splits) if tone_bin in seg)
    assert int(bands.argmax()) == expected
    # the stub path still runs for undecodable payloads (golden contract)
    assert len(got["stub"]["mfcc"]) == 8


def test_image_kernel_decodes_real_ppm(spark):
    """A binary PPM payload yields pooled real pixels (uniform image →
    uniform feature), anything else the deterministic stub."""
    import numpy as np

    from identity_matching_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_image_features,
    )

    media = spark.createDataFrame(
        [
            ("real", "image", bytearray(_ppm_bytes(value=200)),
             {"width": 8, "height": 4, "sample_rate": None, "n_frames": None,
              "format": "ppm"}),
            ("stub", "image", bytearray(b"not-an-image" * 8),
             {"width": 8, "height": 4, "sample_rate": None, "n_frames": None,
              "format": "png"}),
        ],
        MEDIA_SCHEMA,
    )
    got = {r["media_id"]: r["feature"] for r in extract_image_features(media, dim=16).collect()}
    real = np.array(got["real"])
    assert np.allclose(real, 200.0 / 255.0, atol=1e-6)
    stub = np.array(got["stub"])
    assert stub.shape == (16,) and not np.allclose(stub, stub[0])


def test_pil_image_decode_when_available(spark):
    """PIL widens the image path to compressed formats; absent here."""
    from identity_matching_spark.operators import multimodal

    if not multimodal.HAVE_PIL:
        pytest.skip("pillow not installed in this container — PNG/JPEG decode "
                    "path exercised only where PIL is available")
    import io

    import PIL.Image

    buf = io.BytesIO()
    PIL.Image.new("L", (8, 8), color=128).save(buf, format="PNG")
    media = spark.createDataFrame(
        [("png", "image", bytearray(buf.getvalue()),
          {"width": 8, "height": 8, "sample_rate": None, "n_frames": None,
           "format": "png"})],
        multimodal.MEDIA_SCHEMA,
    )
    feat = multimodal.extract_image_features(media, dim=4).collect()[0]["feature"]
    import numpy as np

    assert np.allclose(np.array(feat), 128.0 / 255.0, atol=1e-2)
