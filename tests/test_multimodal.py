"""Multimodal plumbing: schema, mapInPandas batching, content hashes, stubs."""

import pytest

from corpus_dedup_spark.multimodal.ops import (MEDIA_SCHEMA,
                                               extract_media_features)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("m1", "image", "image/png", b"\x89PNG-fake-bytes-1", 64, 64, None),
        ("m2", "image", "image/png", b"\x89PNG-fake-bytes-1", 64, 64, None),  # dup of m1
        ("m3", "image", "image/jpeg", b"\xff\xd8-other", 32, 32, None),
        ("m4", "audio", "audio/wav", b"RIFF-fake", None, None, 5000),
        ("m5", "video", "video/mp4", b"mp4-fake", 640, 480, 3500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_real_decode_guarded(spark, media):
    """fake=False behavior depends on executor codecs BY DESIGN: without Pillow
    it raises the honest NotImplementedError; with Pillow, undecodable payloads
    yield NULL features (bad media rows are data, not job failures)."""
    try:
        import PIL  # noqa: F401
        have_pil = True
    except ImportError:
        have_pil = False
    if not have_pil:
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            extract_media_features(media, fake=False).collect()
    else:
        rows = {r["media_id"]: r for r in
                extract_media_features(media, fake=False).collect()}
        # fake PNG bytes fail Image.open → NULL features; fingerprints still real
        assert rows["m1"]["features"] is None
        assert rows["m1"]["content_hash"] == rows["m2"]["content_hash"]


def test_fake_features_deterministic(spark, media):
    f1 = {r["media_id"]: r["features"]
          for r in extract_media_features(media, fake=True).collect()}
    f2 = {r["media_id"]: r["features"]
          for r in extract_media_features(media, fake=True).collect()}
    assert f1 == f2
    assert len(f1["m1"]) == 32
    assert f1["m1"] == f1["m2"]  # identical payload → identical features
    assert f1["m1"] != f1["m3"]


# --- real audio (stdlib WAV) and video (Y4M) decode ---------------------------

def _wav_bytes(freq=440.0, seconds=0.25, rate=8000, n_ch=1):
    import io
    import wave

    import numpy as np
    t = np.arange(int(rate * seconds)) / rate
    x = (np.sin(2 * np.pi * freq * t) * 20000).astype("<i2")
    if n_ch == 2:
        x = np.column_stack([x, x]).ravel()
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_ch)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def _y4m_bytes(w=16, h=8, n_frames=3):
    import numpy as np
    header = f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C420\n".encode()
    out = [header]
    for k in range(n_frames):
        out.append(b"FRAME\n")
        luma = (np.arange(w * h, dtype=np.uint8) + 7 * k)
        chroma = np.full(2 * (w // 2) * (h // 2), 128, np.uint8)
        out.append(luma.tobytes() + chroma.tobytes())
    return b"".join(out)


@pytest.fixture(scope="module")
def real_media(spark):
    rows = [
        ("a1", "audio", "audio/wav", _wav_bytes(440.0), None, None, 250),
        ("a2", "audio", "audio/wav", _wav_bytes(440.0), None, None, 250),  # dup
        ("a3", "audio", "audio/wav", _wav_bytes(880.0, n_ch=2), None, None, 250),
        ("a4", "audio", "audio/mpeg", b"ID3\x03corrupt-mp3", None, None, 250),
        ("v1", "video", "video/x-y4m", _y4m_bytes(), 16, 8, 120),
        ("v2", "video", "video/x-y4m", _y4m_bytes(), 16, 8, 120),  # dup
        ("v3", "video", "video/mp4", b"\x00\x00\x00\x18ftypmp42-corrupt", 640, 480, 100),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_wav_decode_real(spark, real_media):
    """PCM WAV decodes for REAL via the stdlib rung: identical payloads give
    identical envelopes, different signals differ, non-WAV audio yields NULL
    (unless soundfile is importable, in which case mp3 may still be NULL
    because the bytes are corrupt)."""
    rows = {r["media_id"]: r for r in
            extract_media_features(real_media, fake=False).collect()}
    assert rows["a1"]["features"] is not None
    assert len(rows["a1"]["features"]) == 32
    assert rows["a1"]["features"] == rows["a2"]["features"]
    assert rows["a1"]["features"] != rows["a3"]["features"]
    assert rows["a4"]["features"] is None
    # envelope is L2-normalized
    import numpy as np
    assert abs(float(np.linalg.norm(rows["a1"]["features"])) - 1.0) < 1e-5


def test_y4m_decode_real(spark, real_media):
    rows = {r["media_id"]: r for r in
            extract_media_features(real_media, fake=False).collect()}
    assert rows["v1"]["features"] is not None
    assert len(rows["v1"]["features"]) == 32
    assert rows["v1"]["features"] == rows["v2"]["features"]
    assert rows["v3"]["features"] is None  # corrupt mp4, no PyAV rung


def test_y4m_frame_sampling(spark, real_media):
    from corpus_dedup_spark.multimodal.ops import sample_frames_decoded

    frames = sample_frames_decoded(real_media, every_n=2).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r)
    # 3 frames, stride 2 → frames 0 and 2; v3 (mp4) contributes nothing
    assert sorted(by_id) == ["v1", "v2"]
    idxs = sorted(r["frame_idx"] for r in by_id["v1"])
    assert idxs == [0, 2]
    r0 = next(r for r in by_id["v1"] if r["frame_idx"] == 0)
    assert (r0["width"], r0["height"]) == (16, 8)
    assert len(r0["frame_features"]) == 32


def test_wav_y4m_parsers_reject_garbage():
    from corpus_dedup_spark.multimodal.ops import _wav_decode, _y4m_parse

    assert _wav_decode(b"") is None
    assert _wav_decode(b"RIFF but not really a wav file") is None
    assert _y4m_parse(b"") is None
    assert _y4m_parse(b"YUV4MPEG2 W0 H0\n") is None
    assert _y4m_parse(_y4m_bytes()[:-5]) is None  # truncated frame
