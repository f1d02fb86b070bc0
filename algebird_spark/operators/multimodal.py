"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata. The Spark-side plumbing — schemas,
Arrow-batched UDF signatures, partition sizing — is real and tested;
the codec kernels are STUBBED (image/audio libraries are not in this
container) behind ``DeterministicFakeCodec`` so pipelines exercise the
exact dataflow a real decoder would see.

Pattern: ``mapInArrow`` with a bounded batch size so a partition of
large blobs never materializes at once; metadata stays in columns so
filters prune *before* any decode.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, FloatType, IntegerType,
                               StringType, StructField, StructType)

from ..agg import _drop_spark_finders, _list_array

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),        # image|audio|video
    StructField("mime", StringType(), False),
    StructField("width", IntegerType(), True),       # images/video
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True), # audio/video
    StructField("payload", BinaryType(), False),     # opaque bytes
])

FEATURE_SCHEMA = "media_id string, kind string, n_bytes int, feature array<float>"


class DeterministicFakeCodec:
    """Stand-in for a real decoder: derives a fixed-size float feature
    deterministically from the payload bytes. Replace with a real
    image/audio decode when the libs exist.

    A real decoder would raise NotImplementedError here; the fake keeps
    the pipeline testable end-to-end."""

    def __init__(self, feat_dim: int = 16):
        self.feat_dim = feat_dim

    def decode_features(self, payload: bytes) -> np.ndarray:
        digest = hashlib.sha256(payload).digest()
        raw = np.frombuffer((digest * ((self.feat_dim * 4) // len(digest) + 1))
                            [: self.feat_dim * 4], dtype=np.uint32)
        return (raw.astype(np.float32) / np.float32(2**32)).astype(np.float32)


def real_decode_stub(payload: bytes) -> np.ndarray:
    """The real codec hook — intentionally unimplemented in this
    container (no PIL/ffmpeg). Wire actual decoding here."""
    raise NotImplementedError(
        "image/audio decoding requires codec libraries not present in "
        "this container; use DeterministicFakeCodec for pipeline tests")


class PILImageCodec:
    """Real image decode when Pillow is installed: decode -> grayscale
    -> thumbnail resize -> normalized pixel features. Raises
    ImportError at CONSTRUCTION (not per row) when PIL is absent, so
    callers can fall back explicitly; :func:`default_image_codec`
    does that probe once."""

    def __init__(self, feat_dim: int = 16):
        from PIL import Image  # noqa: F401 - probe the dependency
        self._Image = Image
        self.feat_dim = feat_dim
        # square thumbnail whose pixel count covers feat_dim
        self._side = int(np.ceil(np.sqrt(feat_dim)))

    def decode_features(self, payload: bytes) -> np.ndarray:
        import io
        img = self._Image.open(io.BytesIO(payload)).convert("L")
        img = img.resize((self._side, self._side))
        px = np.asarray(img, dtype=np.float32).ravel() / np.float32(255.0)
        return px[: self.feat_dim]


def default_image_codec(feat_dim: int = 16):
    """The best codec the environment supports: Pillow-backed real
    decode when importable, else the deterministic fake (this
    container has no image libraries — the Spark-side plumbing is
    identical either way)."""
    try:
        return PILImageCodec(feat_dim)
    except ImportError:
        return DeterministicFakeCodec(feat_dim)


def _clamp_unit_f32(arr: np.ndarray) -> np.ndarray:
    """Clamp a float32 array to the strict [0, 1) codec contract.
    Must run on the FLOAT32 values: any float64-side margin smaller
    than float32's spacing at 1.0 (~6e-8) rounds back to exactly 1.0f
    during the cast."""
    hi = np.nextafter(np.float32(1.0), np.float32(0.0))
    return np.clip(arr, np.float32(0.0), hi)


class ByteHistogramCodec:
    """Second dependency-free codec: normalized byte-value histogram of
    the payload, folded to ``feat_dim`` bins. A genuinely different
    feature derivation from :class:`DeterministicFakeCodec` — used by
    the contract test to prove the pipeline invariants hold for ANY
    conformant codec, not one blessed implementation (and useful on its
    own as cheap content features for near-dup blocking on blobs)."""

    def __init__(self, feat_dim: int = 16):
        self.feat_dim = feat_dim

    def decode_features(self, payload: bytes) -> np.ndarray:
        counts = np.bincount(np.frombuffer(payload, dtype=np.uint8),
                             minlength=256).astype(np.float64)
        folded = counts.reshape(self.feat_dim, -1).sum(axis=1) \
            if 256 % self.feat_dim == 0 else np.resize(counts, self.feat_dim)
        total = folded.sum()
        out = folded / (total + 1.0)  # strict [0, 1) in float64...
        # ...but the float32 CAST can round 1-eps back up to exactly
        # 1.0f (float64 margins below ~6e-8 vanish at float32 spacing;
        # a >~32 MB single-byte payload hits this) — clamp AFTER cast
        return _clamp_unit_f32(out.astype(np.float32))


class SoundfileAudioCodec:
    """Real audio decode when ``soundfile`` is installed — same
    probe-at-construction pattern as :class:`PILImageCodec` (raise
    ImportError HERE, not per row, so :func:`default_audio_codec` can
    fall back once). Features: ``feat_dim`` mean-absolute-amplitude
    bins over the first channel, normalized to [0, 1)."""

    def __init__(self, feat_dim: int = 16):
        import soundfile  # noqa: F401 - probe the dependency
        self._sf = soundfile
        self.feat_dim = feat_dim

    def decode_features(self, payload: bytes) -> np.ndarray:
        import io
        data, _rate = self._sf.read(io.BytesIO(payload), always_2d=True)
        mono = np.abs(data[:, 0].astype(np.float64))
        if mono.size == 0:
            return np.zeros(self.feat_dim, dtype=np.float32)
        pad = (-mono.size) % self.feat_dim
        mono = np.pad(mono, (0, pad))
        bins = mono.reshape(self.feat_dim, -1).mean(axis=1)
        # clamp AFTER the float32 cast: the max bin is ~1-2e-9 in
        # float64, which .astype(np.float32) rounds to exactly 1.0f
        # (float32 spacing at 1.0 is ~6e-8) — clipping in float64
        # first violated the [0, 1) contract for every non-silent clip
        scaled = (bins / (bins.max() + 1e-9)).astype(np.float32)
        return _clamp_unit_f32(scaled)


class AVVideoCodec:
    """Real video decode when PyAV is installed — probe at
    construction like the image/audio codecs. Features: grayscale
    means of ``feat_dim`` evenly sampled frames, normalized [0, 1)."""

    def __init__(self, feat_dim: int = 16):
        import av  # noqa: F401 - probe the dependency
        self._av = av
        self.feat_dim = feat_dim

    def decode_features(self, payload: bytes) -> np.ndarray:
        import io
        out = np.zeros(self.feat_dim, dtype=np.float32)
        with self._av.open(io.BytesIO(payload)) as container:
            frames = [f.to_ndarray(format="gray")
                      for f in container.decode(video=0)]
        if frames:
            idx = np.linspace(0, len(frames) - 1, self.feat_dim).astype(int)
            out = np.array([frames[i].mean() / 256.0 for i in idx],
                           dtype=np.float32)
        return out


class WaveAudioCodec:
    """REAL audio decode with zero dependencies: stdlib ``wave`` +
    ``audioop``-free numpy PCM parsing for RIFF/WAVE payloads (8/16/32
    bit integer PCM, any channel count — first channel used). Same
    feature derivation as :class:`SoundfileAudioCodec` (``feat_dim``
    mean-absolute-amplitude bins over time, peak-normalized to
    [0, 1)), so the two are drop-in replacements for WAV payloads and
    the silence/energy structure of a clip survives into the feature.
    Non-WAV payloads raise ``wave.Error`` per clip — this codec is for
    pipelines whose audio column really is WAV; arbitrary containers
    need ``soundfile``."""

    def __init__(self, feat_dim: int = 16):
        self.feat_dim = feat_dim

    def decode_features(self, payload: bytes) -> np.ndarray:
        import io
        import wave
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_ch = w.getnchannels()
            width = w.getsampwidth()
            frames = w.readframes(w.getnframes())
        if width == 1:
            # WAV 8-bit is UNSIGNED, midpoint 128
            data = (np.frombuffer(frames, dtype=np.uint8)
                    .astype(np.float64) - 128.0) / 128.0
        elif width == 2:
            data = np.frombuffer(frames, dtype="<i2") \
                .astype(np.float64) / 32768.0
        elif width == 4:
            data = np.frombuffer(frames, dtype="<i4") \
                .astype(np.float64) / 2147483648.0
        else:
            raise ValueError(f"unsupported PCM sample width {width}")
        mono = np.abs(data[::n_ch])
        if mono.size == 0:
            return np.zeros(self.feat_dim, dtype=np.float32)
        pad = (-mono.size) % self.feat_dim
        mono = np.pad(mono, (0, pad))
        bins = mono.reshape(self.feat_dim, -1).mean(axis=1)
        # clamp AFTER the float32 cast (see SoundfileAudioCodec)
        scaled = (bins / (bins.max() + 1e-9)).astype(np.float32)
        return _clamp_unit_f32(scaled)


def synth_wav_bytes(freq_hz: float, duration_ms: int, rate: int = 8000,
                    amplitude: float = 0.5,
                    silence_tail: float = 0.0) -> bytes:
    """Deterministic PCM16 mono WAV bytes (stdlib ``wave`` writer):
    a sine at ``freq_hz`` with the trailing ``silence_tail`` fraction
    zeroed — the planted structure the codec tests/queries verify
    (energy in the leading bins, exact zero in the tail bins). Framing
    is fixed: 44-byte RIFF header + 2 bytes/sample, so
    ``len == 44 + 2 * (rate * duration_ms // 1000)`` is reproducible
    in SQL."""
    import io
    import wave
    n = rate * duration_ms // 1000
    t = np.arange(n, dtype=np.float64) / rate
    sig = amplitude * np.sin(2 * np.pi * freq_hz * t)
    if silence_tail > 0:
        sig[int(n * (1.0 - silence_tail)):] = 0.0
    pcm = np.round(sig * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def default_audio_codec(feat_dim: int = 16):
    """Best available REAL audio decode: ``soundfile`` (any container)
    when installed, else the dependency-free :class:`WaveAudioCodec`
    (PCM WAV only). Callers whose audio payloads are not WAV and who
    may run without soundfile should pass an explicit codec (e.g.
    :class:`DeterministicFakeCodec` for plumbing tests)."""
    try:
        return SoundfileAudioCodec(feat_dim)
    except ImportError:
        return WaveAudioCodec(feat_dim)


def default_video_codec(feat_dim: int = 16):
    try:
        return AVVideoCodec(feat_dim)
    except ImportError:
        return DeterministicFakeCodec(feat_dim)


def check_codec_contract(spark, codec, feat_dim: int = 16,
                         n: int = 48) -> dict:
    """The codec-pluggability contract (mirrors the
    ``multimodal_features`` driver-query invariants): ANY codec whose
    ``decode_features`` returns a ``feat_dim``-length float vector with
    components in [0, 1) must pass — declared dimension, declared
    range, and Arrow-batch-size invariance of the mapInArrow plumbing.
    Returns the three verdict booleans keyed like the catalog query."""
    media = synthetic_media(spark, n=n)
    feats = extract_features(media, codec).toPandas() \
        .set_index("media_id").sort_index()
    again = extract_features(media, codec, batch_rows=7).toPandas() \
        .set_index("media_id").sort_index()
    dims = feats["feature"].map(len)
    flat = np.concatenate([np.asarray(f) for f in feats["feature"]])
    return {
        "feat_dim_ok": bool((dims == feat_dim).all()),
        "feat_range_ok": bool(((flat >= 0.0) & (flat < 1.0)).all()),
        "feat_batch_invariant": bool(all(
            np.array_equal(a, b) for a, b in
            zip(feats["feature"], again["feature"]))),
    }


def extract_features(df: DataFrame, codec: DeterministicFakeCodec | None = None,
                     batch_rows: int = 64) -> DataFrame:
    """payload -> feature vector, Arrow-batched with a small batch size
    so big blobs never pile up in one output batch."""
    codec = codec or DeterministicFakeCodec()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _drop_spark_finders()
        for batch in batches:
            for lo in range(0, batch.num_rows, batch_rows):
                chunk = batch.slice(lo, batch_rows)
                payloads = chunk.column("payload").to_pylist()
                feats = [np.asarray(codec.decode_features(p), np.float32)
                         for p in payloads]
                yield pa.RecordBatch.from_pydict({
                    "media_id": chunk.column("media_id"),
                    "kind": chunk.column("kind"),
                    "n_bytes": pc.binary_length(chunk.column("payload")),
                    "feature": _list_array(
                        np.concatenate(feats), None, pa.list_(pa.float32()),
                        [len(f) for f in feats]),
                })

    return df.mapInArrow(run, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  id_col: str = "media_id") -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_ts_ms) rows
    from duration metadata only — the actual frame decode is the
    stubbed codec. Metadata-only explode means pruning happens before
    any byte is touched."""
    return (df.filter(F.col("kind") == "video")
              .select(id_col, F.explode(
                  F.sequence(F.lit(0), F.col("duration_ms"),
                             F.lit(every_ms))).alias("frame_ts_ms")))


def synthetic_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(128 + (i % 5) * 64)
        rows.append((f"m{i:05d}", kind,
                     {"image": "image/png", "audio": "audio/wav",
                      "video": "video/mp4"}[kind],
                     64 if kind != "audio" else None,
                     48 if kind != "audio" else None,
                     None if kind == "image" else 4000 + 250 * (i % 7),
                     bytearray(payload)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
