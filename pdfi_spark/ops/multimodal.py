"""Multimodal-column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side machinery is real and tested — schemas, Arrow-batched
``mapInPandas`` signatures, partitioning — while the codec step is a
deterministic stub (the image/audio libraries are not in this
container): ``decode_media`` raises ``NotImplementedError`` for real
codecs, and the feature extractor uses a deterministic byte-level
"decode" instead, so every downstream shape (``array<float>``
embeddings, frame lists) is exercised end-to-end.

At 100 TB the same pattern holds: the binary column never leaves the
executor, the UDF sees Arrow batches sized by bytes (not rows), and all
post-decode analytics (groupBy codec, joins on metadata) stay JVM-side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._rows import map_rows
from ._scan import read

# magic-byte sniffing table: prefix -> (codec, modality)
MAGIC = [
    (b"%PDF", "pdf", "document"),
    (b"\x89PNG", "png", "image"),
    (b"\xff\xd8\xff", "jpeg", "image"),
    (b"GIF8", "gif", "image"),
    (b"RIFF", "riff", "audio"),
    (b"ID3", "mp3", "audio"),
    (b"\x1a\x45\xdf\xa3", "mkv", "video"),
]

N_FEATURES = 8  # deterministic stub feature width
N_FRAMES = 4    # frame-sample stub count


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read(spark, f"{sf_dir}/documents.parquet", fan="fanned")


def sniff_codec(payload: bytes) -> tuple[str, str]:
    for prefix, codec, modality in MAGIC:
        if payload.startswith(prefix):
            return codec, modality
    return "unknown", "unknown"


def decode_media(payload: bytes, codec: str):
    """Real codec decode — NOT implemented in this container (no
    image/audio libs). The Spark-side plumbing around it is real; swap
    this stub for PIL/libsndfile/pyav on a production cluster."""
    raise NotImplementedError(
        f"codec {codec!r}: media decoding requires image/audio libraries "
        "not present in this environment"
    )


def fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic stand-in for decode + feature-extract:
    stride-chunked byte means scaled by 1/255. Shape-compatible with a
    real embedding (array<float> of fixed width); exact-arithmetic so a
    SQL oracle reproduces it bit-for-bit (sum/len/255.0, no rounding)."""
    n = len(payload)
    if n == 0:
        return [0.0] * N_FEATURES
    stride = max(1, n // N_FEATURES)
    out = []
    for i in range(N_FEATURES):
        chunk = payload[i * stride:(i + 1) * stride] or payload[-1:]
        out.append(sum(chunk) / len(chunk) / 255.0)
    return out


def frame_sample_offsets(n_bytes: int, n_frames: int = N_FRAMES) -> list[int]:
    """Deterministic frame-sampling stub: evenly spaced byte offsets
    (a real sampler picks evenly spaced video frames the same way)."""
    if n_bytes <= 0:
        return []
    return [(i * n_bytes) // n_frames for i in range(n_frames)]


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column, all JVM-side:
    byte length + magic-prefix codec sniff (no Python in the plan).
    The testdata payload is utf-8 text bytes; the sniff columns behave
    identically over real media bytes (unit-tested with PDF/PNG magic)."""
    docs = _docs(spark, sf_dir).withColumn("payload", F.encode("text", "utf-8"))
    # Slice the binary BEFORE hex: hex() materializes a 2x-size string of
    # the whole blob, so on multi-MB payloads sniffing must only ever touch
    # the 4-byte prefix. One 8-hex-char column feeds every codec test.
    prefix_hex = F.upper(F.hex(F.expr("substring(payload, 1, 4)")))
    codec = F.lit("unknown")
    for prefix, name, _modality in reversed(MAGIC):
        hexpfx = prefix.hex().upper()
        codec = F.when(
            F.substring(prefix_hex, 1, len(hexpfx)) == hexpfx,
            F.lit(name),
        ).otherwise(codec)
    return docs.select(
        "doc_id",
        F.length("payload").cast("int").alias("n_bytes"),
        prefix_hex.alias("magic_hex"),
        codec.alias("codec"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract over binary payloads: the
    production shape (mapInPandas over BINARY -> array<float>), with the
    codec stage stubbed deterministically (see fake_decode_features)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def extract(doc_id, payload):
        payload = bytes(payload)
        _codec, modality = sniff_codec(payload)
        yield (doc_id, modality, fake_decode_features(payload),
               frame_sample_offsets(len(payload)))

    return map_rows(
        docs, extract,
        "doc_id long, modality string, features array<double>, "
        "frame_offsets array<int>",
    )


def media_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-friendly projection of the stub decode pipeline: first
    feature value (exact double arithmetic) + frame sampling columns."""
    feats = media_features(spark, sf_dir)
    return feats.select(
        "doc_id",
        F.element_at("features", 1).alias("f0"),
        F.size("frame_offsets").alias("n_frames"),
        F.element_at("frame_offsets", 2).alias("frame1_offset"),
    )


RESIZE_TARGET = 16  # stub "thumbnail" byte count


def fake_resize(payload: bytes, target: int = RESIZE_TARGET) -> bytes:
    """Deterministic stand-in for decode->resize->re-encode: stride
    subsampling of the raw bytes to a fixed-size thumbnail. Shape-
    compatible with a real resizer (binary in, smaller binary out);
    swap for PIL's Image.resize on a production cluster."""
    n = len(payload)
    if n == 0:
        return b""
    stride = max(1, n // target)
    return payload[::stride][:target]


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary->binary resize stage (mapInPandas): the
    thumbnail never exists driver-side, and downstream metadata
    (lengths, a byte checksum) is computed JVM-side after the UDF."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )

    def resize(doc_id, payload):
        yield doc_id, fake_resize(bytes(payload))

    thumbs = map_rows(docs, resize, "doc_id long, thumb binary")
    return thumbs.select(
        "doc_id",
        F.length("thumb").cast("int").alias("thumb_bytes"),
        F.upper(F.hex(F.expr("substring(thumb, 1, 4)"))).alias("thumb_prefix_hex"),
    )
