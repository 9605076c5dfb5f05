"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata. The Spark-side machinery —
schemas, mapInPandas batch shapes, partition sizing — is real and tested. Decode is
a per-kind guarded-import ladder (see ``_real_decode``): images via Pillow, audio
via soundfile OR the stdlib PCM-WAV path (real decode with zero external deps),
video via PyAV OR a pure-numpy YUV4MPEG2 (Y4M) parser. Payloads in a format below
the available rung yield NULL features (data, not an error, at corpus scale);
``fake=True`` swaps in a deterministic payload-hash stub for end-to-end plumbing
tests that must not depend on any codec.

Scale notes: media rows are large — mapInPandas with a small
``spark.sql.execution.arrow.maxRecordsPerBatch`` keeps Arrow batches bounded; binary
payload columns must be pruned before any wide shuffle (fingerprint first, shuffle the
fingerprint, never the bytes).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, LongType,
                               StringType, StructField, StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("mime", StringType(), True),
    StructField("payload", BinaryType(), True),
    StructField("width", LongType(), True),
    StructField("height", LongType(), True),
    StructField("duration_ms", LongType(), True),
])

FEATURES_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", LongType(), False),
    StructField("content_hash", LongType(), False),
    StructField("features", ArrayType(FloatType()), True),
])

FEATURE_DIM = 32


def _fake_decode(payload: bytes, kind: str) -> np.ndarray | None:
    """Deterministic fake feature extractor: a stable pseudo-embedding derived from the
    payload bytes. REAL decode (PIL/ffmpeg/torchaudio) goes here in production."""
    digest = hashlib.sha256(payload or b"").digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.default_rng(seed)
    v = rng.standard_normal(FEATURE_DIM).astype(np.float32)
    return v / np.linalg.norm(v)


def _wav_decode(payload: bytes) -> np.ndarray | None:
    """Real audio decode for PCM WAV via the stdlib ``wave`` module (no external
    codec needed): mono-mix the samples and return a FEATURE_DIM RMS energy
    envelope (L2-normalized) — the classic cheap audio fingerprint. Returns None
    on non-WAV / corrupt payloads (data, not an error, at corpus scale)."""
    import wave
    from io import BytesIO

    try:
        with wave.open(BytesIO(payload or b""), "rb") as w:
            n_ch, sw, _rate, n_frames = (w.getnchannels(), w.getsampwidth(),
                                         w.getframerate(), w.getnframes())
            raw = w.readframes(n_frames)
    except Exception:
        return None
    if sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    elif sw == 1:
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64)
    else:
        return None
    if n_ch > 1:
        x = x[: (x.size // n_ch) * n_ch].reshape(-1, n_ch).mean(axis=1)
    return _energy_envelope(x)


def _energy_envelope(x: np.ndarray) -> np.ndarray:
    """Mono samples → FEATURE_DIM RMS energy envelope, L2-normalized (RMS per
    equal time slice via one cumulative-sum pass)."""
    if x.size == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    edges = np.linspace(0, x.size, FEATURE_DIM + 1).astype(np.int64)
    sq = np.concatenate([[0.0], np.cumsum(x * x)])
    cnt = np.maximum(edges[1:] - edges[:-1], 1)
    v = np.sqrt((sq[edges[1:]] - sq[edges[:-1]]) / cnt).astype(np.float32)
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def _y4m_parse(payload: bytes):
    """Parse an uncompressed YUV4MPEG2 stream (pure numpy — the one video
    container that needs NO codec): returns (width, height, list of luma-plane
    uint8 arrays), or None if not Y4M/corrupt. Only 4:2:0 (default), 4:2:2 and
    4:4:4 subsampling are recognized."""
    if not payload or not payload.startswith(b"YUV4MPEG2"):
        return None
    try:
        hdr_end = payload.index(b"\n")
        w = h = 0
        csp = "420"
        for tok in payload[9:hdr_end].split(b" "):
            if tok.startswith(b"W"):
                w = int(tok[1:])
            elif tok.startswith(b"H"):
                h = int(tok[1:])
            elif tok.startswith(b"C"):
                csp = tok[1:].decode("ascii", "replace")
        if w <= 0 or h <= 0:
            return None
        luma = w * h
        if csp.startswith("420"):
            frame_sz = luma + 2 * ((w // 2) * (h // 2))
        elif csp.startswith("422"):
            frame_sz = luma + 2 * ((w // 2) * h)
        elif csp.startswith("444"):
            frame_sz = 3 * luma
        else:
            return None
        frames = []
        pos = hdr_end + 1
        data = memoryview(payload)
        while pos < len(payload):
            fh = payload.index(b"\n", pos)  # FRAME [params]\n
            if not payload[pos:fh].startswith(b"FRAME"):
                return None
            start = fh + 1
            if start + frame_sz > len(payload):
                return None
            frames.append(np.frombuffer(data[start:start + luma], np.uint8))
            pos = start + frame_sz
        return w, h, frames
    except (ValueError, IndexError):
        return None


def _y4m_decode(payload: bytes) -> np.ndarray | None:
    """Real video decode for Y4M: mean luma plane over all frames, downsampled
    to an 8x4 grid → L2-normalized FEATURE_DIM vector (same thumbnail feature
    as the image path, so image/video dedup share a feature space)."""
    parsed = _y4m_parse(payload)
    if parsed is None:
        return None
    w, h, frames = parsed
    if not frames:
        return None
    mean_luma = np.mean([f.astype(np.float64) for f in frames], axis=0).reshape(h, w)
    return _grid_feature(mean_luma)


def _grid_feature(luma: np.ndarray) -> np.ndarray:
    """2-D luma plane → 8×4 box-downsampled grid → L2-normalized FEATURE_DIM
    vector (same thumbnail feature space as the image path)."""
    h, w = luma.shape
    re = np.linspace(0, h, 5).astype(np.int64)
    ce = np.linspace(0, w, 9).astype(np.int64)
    v = np.array([[luma[re[i]:max(re[i + 1], re[i] + 1),
                        ce[j]:max(ce[j + 1], ce[j] + 1)].mean()
                   for j in range(8)] for i in range(4)],
                 dtype=np.float32).ravel()[:FEATURE_DIM]
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def _pil_decode(payload: bytes) -> np.ndarray | None:
    """Real image decode via Pillow: grayscale 8×4 thumbnail → L2-normalized
    FEATURE_DIM vector (the classic tiny-thumbnail perceptual feature). Corrupt
    payloads yield NULL features instead of failing the job: at corpus scale a
    bad media row is data, not an error. Raises NotImplementedError only when
    Pillow itself is absent on the executor."""
    from io import BytesIO

    try:
        from PIL import Image
    except ImportError:
        raise NotImplementedError(
            "image decoding requires Pillow on the executors") from None
    try:
        img = Image.open(BytesIO(payload or b"")).convert("L").resize((8, 4))
    except Exception:
        return None
    v = np.asarray(img, dtype=np.float32).ravel()[:FEATURE_DIM]
    n = float(np.linalg.norm(v))
    return v / n if n > 0 else v


def _real_decode(payload: bytes, kind: str) -> np.ndarray | None:
    """Per-kind real decoder with a guarded-import ladder (codec availability is
    a property of the executor image, resolved worker-side):

    - image: Pillow (raises NotImplementedError if absent — there is no
      stdlib image codec to fall back on)
    - audio: soundfile if importable (any libsndfile format), else the stdlib
      ``wave`` PCM path — REAL decode with zero external deps; non-WAV
      payloads without soundfile yield NULL
    - video: PyAV if importable (any ffmpeg codec), else the pure-numpy Y4M
      parser — REAL decode for uncompressed streams; other containers
      without PyAV yield NULL
    """
    from io import BytesIO

    if kind == "image":
        return _pil_decode(payload)
    if kind == "audio":
        try:
            import soundfile
        except ImportError:
            return _wav_decode(payload)
        try:
            x, _rate = soundfile.read(BytesIO(payload or b""), dtype="float64")
        except Exception:
            return None
        if x.ndim > 1:
            x = x.mean(axis=1)
        return _energy_envelope(x)
    if kind == "video":
        try:
            import av
        except ImportError:
            return _y4m_decode(payload)
        try:
            with av.open(BytesIO(payload or b"")) as container:
                lumas = [f.to_ndarray(format="gray").astype(np.float64)
                         for f in container.decode(video=0)]
        except Exception:
            return None
        if not lumas:
            return None
        return _grid_feature(np.mean(lumas, axis=0))
    return None


def _resolve_decoder(fake: bool):
    """Fake stub when asked, else the per-kind real-decoder ladder."""
    return _fake_decode if fake else _real_decode


def extract_media_features(media: DataFrame, fake: bool = False) -> DataFrame:
    """media table → (media_id, kind, n_bytes, content_hash, features).

    The mapInPandas batch shape, schema and fingerprinting are production-real.
    Decoding: with ``fake=True`` the deterministic stub runs everywhere; with
    ``fake=False`` the per-kind real-decoder ladder runs (Pillow images;
    soundfile-or-stdlib-WAV audio; PyAV-or-Y4M video — see ``_real_decode``).
    content_hash is CRC-based and decode-free, so exact-dup media detection
    works even with no codec at all.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decoder = _resolve_decoder(fake)
        for pdf in batches:
            feats = []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                v = decoder(bytes(payload or b""), kind)
                feats.append(v.tolist() if v is not None else None)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(p or b"") for p in pdf["payload"]],
                "content_hash": [
                    np.int64(np.uint64(zlib.crc32(bytes(p or b""))
                                       | (len(p or b"") << 32)).view(np.int64))
                    for p in pdf["payload"]],
                "features": feats,
            })

    pruned = media.select("media_id", "kind", "payload")
    return pruned.mapInPandas(run, schema=FEATURES_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("frame_idx", LongType(), False),
    StructField("width", LongType(), False),
    StructField("height", LongType(), False),
    StructField("frame_features", ArrayType(FloatType()), False),
])


def sample_frames_decoded(media: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL video frame sampling for Y4M payloads: one row per sampled frame with
    the frame's 8×4 luma-grid feature — the per-frame analog of the image path,
    so near-dup detection can run frame-level. Non-Y4M payloads contribute no
    rows (the compressed-codec rung needs PyAV; see ``_real_decode``).

    Scale shape: mapInPandas over (media_id, payload) pruned columns; each
    output row is ~FEATURE_DIM floats — the payload bytes never leave the task
    that decoded them."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ws, hs, feats = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = _y4m_parse(bytes(payload or b""))
                if parsed is None:
                    continue
                w, h, frames = parsed
                for k in range(0, len(frames), max(every_n, 1)):
                    luma = frames[k].astype(np.float64).reshape(h, w)
                    ids.append(mid)
                    idxs.append(k)
                    ws.append(w)
                    hs.append(h)
                    feats.append(_grid_feature(luma).tolist())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype=object),
                "frame_idx": pd.Series(idxs, dtype=np.int64),
                "width": pd.Series(ws, dtype=np.int64),
                "height": pd.Series(hs, dtype=np.int64),
                "frame_features": pd.Series(feats, dtype=object),
            })

    pruned = media.filter(F.col("kind") == "video").select("media_id", "payload")
    return pruned.mapInPandas(run, schema=FRAME_SCHEMA)
