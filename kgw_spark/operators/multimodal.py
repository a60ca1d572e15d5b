"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, partitioning) is
real and tested. Codec scope in this environment: no PIL/ffmpeg exist
in the container, so the fully-implemented decode and feature paths
operate on binary PPM (P6) payloads — a real, public image format
parseable with numpy alone — on RIFF/PCM WAV audio, and on videos
encoded as concatenated P6 frames. Compressed formats (JPEG/PNG/H.264)
would swap the per-batch decode call for PIL/pyav with the identical
mapInPandas shape. ``extract_features`` derives its 16-dim vector from
the decoded pixels/samples (channel statistics + luminance histogram
for images, level statistics + FFT band energies for audio, per-frame
means for video) — no digest placeholders anywhere. Batches flow
through ``mapInPandas`` so decode cost amortizes per Arrow batch, and
wide binary payloads never pass through a Python row object.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.StringType(), True),  # JSON metadata
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_sha256", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


FEATURE_DIM = 16
_N_AUDIO_BANDS = 12
_N_LUMA_BINS = 8


def _image_feature(img: "np.ndarray") -> list[float]:
    """16-dim image descriptor, all components in [0, 1]:
    [mean_r, mean_g, mean_b, std_r, std_g, std_b,
     8-bin luminance histogram (fractions), w/(w+h), h/(w+h)]."""
    h, w, _ = img.shape
    x = img.astype(np.float64)
    means = (x.mean(axis=(0, 1)) / 255.0).tolist()
    stds = (x.std(axis=(0, 1)) / 255.0).tolist()
    luma = x.mean(axis=2)  # per-pixel channel average, [0, 255]
    hist, _edges = np.histogram(luma, bins=_N_LUMA_BINS, range=(0.0, 256.0))
    hist = (hist / max(luma.size, 1)).tolist()
    return means + stds + hist + [w / (w + h), h / (w + h)]


def _audio_feature(payload: bytes) -> list[float]:
    """16-dim audio descriptor:
    [rms, peak, zero_crossing_rate, min(duration_sec/10, 1),
     12 spectral band energies (fractions of total power across 12
     equal-width bands of [0, nyquist], via numpy rfft)]."""
    x, rate = decode_wav(payload)
    n = len(x)
    if n == 0:
        return [0.0] * FEATURE_DIM
    rms = float(np.sqrt(np.mean(x * x)))
    peak = float(np.max(np.abs(x)))
    zcr = float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1]))) if n > 1 else 0.0
    dur = min(n / rate / 10.0, 1.0) if rate else 0.0
    power = np.abs(np.fft.rfft(x)) ** 2
    freqs = np.fft.rfftfreq(n, d=1.0 / rate) if rate else np.zeros(len(power))
    nyquist = rate / 2.0 if rate else 1.0
    band = np.minimum(
        (freqs / (nyquist / _N_AUDIO_BANDS)).astype(int), _N_AUDIO_BANDS - 1
    )
    total = float(power.sum())
    if total > 0:
        bands = [float(power[band == b].sum() / total) for b in range(_N_AUDIO_BANDS)]
    else:
        bands = [0.0] * _N_AUDIO_BANDS
    return [rms, peak, zcr, dur] + bands


def _feature_of(payload: bytes, kind: str) -> list[float]:
    if kind == "image":
        return _image_feature(decode_ppm(payload))
    if kind == "audio":
        return _audio_feature(payload)
    if kind == "video":
        frames = split_ppm_stream(payload)
        if not frames:
            return [0.0] * FEATURE_DIM
        per_frame = np.array([_image_feature(decode_ppm(f)) for f in frames])
        return per_frame.mean(axis=0).tolist()
    raise ValueError(f"unknown media kind {kind!r}")


def extract_features(media: DataFrame) -> DataFrame:
    """media table → per-item 16-dim feature vectors, decoded and
    reduced with the pure-numpy codecs below, batched per partition
    (compressed formats would swap decode_ppm/decode_wav for PIL /
    pyav calls — batch shape, schema, and feature layout unchanged).
    Undecodable payloads fail the job loudly rather than emitting
    placeholder vectors."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _feature_of(bytes(p), k)
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha256": [
                        hashlib.sha256(bytes(p)).hexdigest() for p in pdf["payload"]
                    ],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


# --------------------------------------------------------------------------
# PPM (P6) codec — pure numpy, no external libraries
# --------------------------------------------------------------------------
def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → uint8 array (h, w, 3). Raises ValueError on
    anything that isn't a maxval-255 P6 image."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header: magic, width, height, maxval — whitespace separated,
    # '#' comments allowed between tokens
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < 3 and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            i = payload.index(b"\n", i) + 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    w, h, maxval = (int(t) for t in tokens)
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=i + 1)
    return raster.reshape(h, w, 3)


def encode_ppm(img: np.ndarray) -> bytes:
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


def split_ppm_stream(payload: bytes) -> list[bytes]:
    """Split a concatenated-P6 'video' payload into per-frame P6 blobs."""
    frames = []
    pos = 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"P6":
            raise ValueError(f"bad frame boundary at byte {pos}")
        img = decode_ppm(payload[pos:])
        blob = encode_ppm(img)
        # frames were encoded by encode_ppm, so re-encoding is an exact
        # length oracle for the original frame slice
        frames.append(payload[pos : pos + len(blob)])
        pos += len(blob)
    return frames


# --------------------------------------------------------------------------
# WAV (RIFF PCM) codec — stdlib `wave` + numpy, no external libraries
# --------------------------------------------------------------------------
def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/PCM WAV → (float64 mono samples in [-1, 1], sample_rate).
    16-bit and 8-bit PCM supported (stdlib `wave`); multi-channel audio
    is averaged to mono for the feature pass."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        n_ch = w.getnchannels()
        width = w.getsampwidth()
        raw = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported PCM sample width {width}")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).mean(axis=1)
    return x, rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Mono float samples in [-1, 1] → 16-bit PCM WAV bytes."""
    import io
    import wave

    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()
