"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct, exactly like the PDF payloads do. The Spark-side
plumbing — schema, partitioning, Arrow batch shape (``map_batches``),
frame sampling — is real and tested.

Decode is REAL for JPEG payloads since round 3: ``decode_meta`` runs
the in-repo T.81 decoder (``kernel/jpegdec.py``) on any payload with a
JPEG SOI marker, reporting decoded width/height/channels
(decoder='jpegdec'); ``with_jpeg_payloads`` plants deterministic
encoder-built JPEG fixtures on a doc_id-keyed subset so the path is
exercised (and oracle-able) without external data. Everything else
falls back to the clearly-marked deterministic fake (header
arithmetic on payload length + byte sum), since the package ships no
image/audio libraries — swap that last resort for libvips/ffmpeg on a
real cluster; nothing else changes.

Scale: decode is embarrassingly parallel (no shuffle); batches cross
the Arrow boundary once per ~256 rows (session.py caps batch rows
because payloads are fat), and only (id, payload) columns are sent to
Python — metadata joins back by id if other columns are needed.
"""

from __future__ import annotations

from functools import lru_cache

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_parser_spark.operators.extraction import map_batches

DECODE_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("modality", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("byte_sum", T.LongType()),
    T.StructField("decoder", T.StringType()),
])

FRAME_STRIDE = 256


def as_media(docs: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Wrap a corpus as (doc_id, modality, payload binary). In
    production the payload column IS the stored image/audio bytes; here
    the documents' utf-8 bytes stand in (deterministic, same plumbing)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image").alias("modality"),
        F.encode(F.col(text_col), "utf-8").alias("payload"))


JPEG_EVERY = 5
# three deterministic gray fixture shapes — distinct dims so the
# decoded metadata is discriminative per doc_id
JPEG_SPECS = ((16, 8), (24, 16), (8, 32))


@lru_cache(maxsize=None)
def jpeg_fixture(i: int) -> bytes:
    """Deterministic baseline-JPEG fixture bytes (gradient gray raster
    encoded by the in-repo codec) — stands in for stored image blobs."""
    from pdf_parser_spark.kernel.jpegdec import encode_baseline_jpeg

    w, h = JPEG_SPECS[i % len(JPEG_SPECS)]
    px = bytes((x * 7 + y * 13 + i * 29) % 256
               for y in range(h) for x in range(w))
    return encode_baseline_jpeg(px, w, h, 1)


def with_jpeg_payloads(media: DataFrame,
                       every: int = JPEG_EVERY) -> DataFrame:
    """Replace the payload of every ``every``-th doc (doc_id-keyed)
    with one of the deterministic JPEG fixtures — pure codegen (binary
    literals in a when-chain, no UDF), so the real-decode path is
    driven without any external data."""
    m3 = F.pmod(F.col("doc_id"), F.lit(len(JPEG_SPECS)))
    pick = F.when(m3 == 0, F.lit(jpeg_fixture(0)))
    for i in range(1, len(JPEG_SPECS) - 1):
        pick = pick.when(m3 == i, F.lit(jpeg_fixture(i)))
    pick = pick.otherwise(F.lit(jpeg_fixture(len(JPEG_SPECS) - 1)))
    is_jpeg = F.pmod(F.col("doc_id"), F.lit(every)) == 0
    return media.withColumn(
        "payload", F.when(is_jpeg, pick).otherwise(F.col("payload")))


def _try_jpegdec(payload: bytes) -> dict | None:
    """REAL decode via the in-repo T.81 decoder for JPEG payloads
    (SOI-marker gated; utf-8 text can never contain 0xFF, so document
    stand-in payloads always skip this)."""
    if not payload.startswith(b"\xff\xd8"):
        return None
    from pdf_parser_spark.kernel.jpegdec import JpegError, decode_baseline_jpeg
    try:
        w, h, n, _pixels = decode_baseline_jpeg(payload)
    except JpegError:
        return None
    return {"n_bytes": len(payload), "width": w, "height": h,
            "channels": n, "byte_sum": sum(payload) % 65536,
            "decoder": "jpegdec"}


def _fake_decode(payload: bytes) -> dict:
    """STUB codec — deterministic arithmetic standing in for a real
    image decode. Replace with PIL/libvips on a real cluster."""
    n = len(payload)
    return {
        "n_bytes": n,
        "width": 1 + n % 640,
        "height": 1 + (n * 31) % 480,
        "channels": 3,
        "byte_sum": sum(payload) % 65536,
        "decoder": "fake",
    }


def _decode_meta_columns(batch: pa.RecordBatch) -> list:
    metas = []
    for payload in batch.column("payload").to_pylist():
        data = payload or b""
        metas.append(_try_jpegdec(data) or _fake_decode(data))
    return [batch.column("doc_id"), batch.column("modality")] + [
        [m[k] for m in metas] for k in DECODE_META_SCHEMA.names[2:]]


def decode_meta(media: DataFrame) -> DataFrame:
    """Arrow batch decode (``map_batches``): one Python call per batch,
    emitting a typed metadata row per payload (UDTF-shaped like the
    PDF kernel)."""
    return map_batches(media.select("doc_id", "modality", "payload"),
                       _decode_meta_columns, DECODE_META_SCHEMA)


def frame_sample(media: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Sample 'frames' every ``stride`` bytes: one output row per frame
    with its byte offset — the video-frame-sampling shape, as a pure
    codegen'd posexplode(sequence(...)), no Python at all."""
    n = F.octet_length("payload")
    frames = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / stride)))
    return (media
            .select("doc_id", "modality", n.alias("n_bytes"),
                    F.posexplode(frames).alias("frame_idx", "_f"))
            .select("doc_id", "modality", "n_bytes",
                    F.col("frame_idx").cast("int").alias("frame_idx"),
                    (F.col("frame_idx") * stride).cast("long")
                    .alias("byte_offset")))
