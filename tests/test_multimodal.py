"""Media feature kernels: the audio/image/video kernels decode real WAV and
PPM payloads, reject malformed ones onto the deterministic stub, and widen
to compressed images only where PIL is installed."""

import pytest


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


def _ppm_bytes(w=8, h=4, value=200, maxval=255):
    header = f"P6\n{w} {h}\n{maxval}\n".encode()
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


def test_ppm_decode_does_not_depend_on_pil(monkeypatch):
    """A P6 payload takes the stdlib parse whether or not PIL is installed,
    the strict-parse stub fallback included: PIL only adds the formats the
    stdlib cannot read. A PIL stand-in fails if it is called."""
    import pandas as pd

    from identity_matching_spark.operators import multimodal

    kernel, _ = multimodal.image_features(dim=16)
    batch = pd.DataFrame({
        "media_id": ["real", "malformed"],
        # a second whitespace byte after maxval fails the strict parse
        "payload": [_ppm_bytes(value=200), _ppm_bytes().replace(b"255\n", b"255\n\n", 1)],
    })
    without = next(kernel(iter([batch])))["feature"].tolist()

    class _Image:
        @staticmethod
        def open(*_args):
            raise AssertionError("PIL decoded a P6 payload")

    monkeypatch.setattr(multimodal, "HAVE_PIL", True)
    monkeypatch.setattr(multimodal, "PIL", type("PIL", (), {"Image": _Image}), raising=False)
    assert next(kernel(iter([batch])))["feature"].tolist() == without
    assert without[0] == pytest.approx([200.0 / 255.0] * 16)
    assert without[1] == multimodal._fake_decode(batch["payload"][1], 16).tolist()


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
