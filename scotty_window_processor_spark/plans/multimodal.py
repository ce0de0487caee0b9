"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages (one Python worker per input partition, batch-shaped
pandas in/out — never per-row Python). The decode libraries are not in
this container, so the codec step is STUBBED behind a deterministic fake
(`_fake_decode`) with the real Spark-side contract — schema, partition
preservation, batch iteration — fully implemented and tested; swapping in
PIL/ffmpeg is a one-function change.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stand-in binary column (utf-8 bytes of the text) +
    media metadata — lets the full pipeline run end-to-end without real
    media files. The media-type assignment uses the portable md5-60 hash
    so the whole stage is reproducible in plain SQL."""
    from .portable_hash import md5_60

    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8")).withColumn(
        "media_type",
        F.element_at(
            F.array(F.lit("image/png"), F.lit("audio/wav"), F.lit("video/mp4")),
            (F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(3)) + 1).cast("int"),
        ),
    )


def _fake_decode(payload: bytes, media_type: str):
    """STUB: deterministic fake decoder. Replace with PIL / soundfile /
    pyav here; everything upstream/downstream is production-shaped."""
    n = len(payload)
    if media_type == "image/png":
        return (64 + n % 640, 64 + (n * 7) % 480, None, "png-stub")
    if media_type == "audio/wav":
        return (None, None, None, "pcm-stub")
    return (320, 240, 1 + n % 120, "h264-stub")


# -- opportunistic real-codec seam -----------------------------------------
# The deterministic stubs above stay the DEFAULT (their output is a pure
# function of the payload, so tests can recompute it); auto_codec()/auto_resizer() return real-library-backed
# implementations WHEN the libraries exist on the machine — the documented
# one-function swap, made concrete. This container has neither PIL nor
# soundfile (installs forbidden), so here they fall back to the stubs; the
# golden-vector test (tests/test_multimodal_seam.py) runs wherever a real
# decoder is present and pins its contract.

try:  # pragma: no cover - container has no PIL
    from PIL import Image as _PILImage

    HAVE_PIL = True
except ImportError:
    _PILImage = None
    HAVE_PIL = False

try:  # pragma: no cover - container has no soundfile
    import soundfile as _soundfile

    HAVE_SOUNDFILE = True
except ImportError:
    _soundfile = None
    HAVE_SOUNDFILE = False


def auto_codec():
    """Codec callable for ``decode_metadata(codec=...)``: decodes images
    with PIL and audio with soundfile when those libraries are importable,
    falling back to ``_fake_decode`` per media type otherwise (video
    always falls back — no container-safe video lib). Returns the same
    ``(width, height, n_frames, codec_name)`` contract as the stub."""
    if not (HAVE_PIL or HAVE_SOUNDFILE):
        return _fake_decode

    def decode(payload: bytes, media_type: str):
        import io

        if media_type == "image/png" and HAVE_PIL:
            try:
                with _PILImage.open(io.BytesIO(payload)) as im:
                    return (im.width, im.height, None, (im.format or "img").lower())
            except Exception:
                return (None, None, None, "image-error")
        if media_type == "audio/wav" and HAVE_SOUNDFILE:
            try:
                with _soundfile.SoundFile(io.BytesIO(payload)) as sf:
                    return (None, None, int(sf.frames), sf.format.lower())
            except Exception:
                return (None, None, None, "audio-error")
        return _fake_decode(payload, media_type)

    return decode


def auto_resizer():
    """Resizer callable for ``resize_images(resizer=...)``: a real PIL
    decode→resize→re-encode when PIL is importable, else the stub."""
    if not HAVE_PIL:
        return _fake_resize

    def resize(payload: bytes, media_type: str, target_w: int, target_h: int):
        import io

        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                out = io.BytesIO()
                im.resize((target_w, target_h)).save(out, format=im.format or "PNG")
                return out.getvalue(), target_w, target_h
        except Exception:
            return _fake_resize(payload, media_type, target_w, target_h)

    return resize


def decode_metadata(df: DataFrame, codec=None) -> DataFrame:
    """Arrow-batched decode stage: binary payload → typed metadata rows.

    mapInPandas preserves partitioning (no shuffle); batch size follows
    spark.sql.execution.arrow.maxRecordsPerBatch.

    ``codec`` is the ONE-FUNCTION swap seam: any
    ``(payload: bytes, media_type: str) -> (width, height, n_frames,
    codec_name)`` callable (e.g. a PIL/pyav-backed decoder) slots in with
    zero plan changes — the closure ships to the Python workers with the
    stage. Defaults to the deterministic ``_fake_decode`` stub (no media
    libraries in this environment). The swap contract is pinned by
    tests/test_multimodal_seam.py."""
    decode = codec if codec is not None else _fake_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [
                decode(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])
            ]
            out = pd.DataFrame(
                meta, columns=["width", "height", "n_frames", "codec"]
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "byte_len", pdf["payload"].map(len).values)
            yield out

    return df.select("doc_id", "payload", "media_type").mapInPandas(run, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)


def _fake_resize(payload: bytes, media_type: str, target_w: int, target_h: int):
    """STUB: deterministic fake resizer — truncates the payload to a
    quarter (min 16 bytes), standing in for a real re-encode. Replace
    with a PIL ``Image.open(...).resize(...)`` here; the Spark contract
    (batch shape, schema, partition preservation) is what's real."""
    k = max(16, len(payload) // 4)
    return payload[:k], target_w, target_h


def resize_images(
    df: DataFrame, target_w: int = 224, target_h: int = 224, resizer=None
) -> DataFrame:
    """Arrow-batched image-resize stage over the image rows of a payload
    table (``attach_binary_payload`` shape): binary in, resized binary +
    target dims out. mapInPandas, partition-preserving, no shuffle; the
    ``resizer`` seam takes ``(payload, media_type, target_w, target_h) ->
    (bytes, w, h)`` exactly like ``decode_metadata``'s codec seam."""
    rs = resizer if resizer is not None else _fake_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows = [rs(p, m, target_w, target_h)
                        for p, m in zip(pdf["payload"], pdf["media_type"])]
            out = pd.DataFrame(out_rows, columns=["resized", "width", "height"])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out[["doc_id", "width", "height", "resized"]]

    images = df.where(F.col("media_type") == "image/png")
    return images.select("doc_id", "payload", "media_type").mapInPandas(run, RESIZED_SCHEMA)


def _fake_features(payload: bytes, media_type: str, dim: int):
    """STUB: deterministic integer feature vector derived from the decoded
    metadata — the seam where a CNN / fbank extractor runs on a real
    cluster. Integer (mod-997) features keep the output float-free."""
    w, h, nf, _ = _fake_decode(payload, media_type)
    n, w0, h0, nf0 = len(payload), w or 0, h or 0, nf or 0
    return [
        (n * (j + 1) + w0 * (j + 2) + h0 * (j + 3) + nf0 * (j + 4)) % 997
        for j in range(dim)
    ]


def extract_features(df: DataFrame, dim: int = 16, extractor=None) -> DataFrame:
    """Arrow-batched feature-extraction stage: binary payload → fixed-dim
    vector (``array<long>``). Same plan shape as ``decode_metadata``
    (mapInPandas, no shuffle); ``extractor(payload, media_type, dim) ->
    list`` is the swap seam for a real embedding model — on a cluster
    this is where an ONNX/torch session runs per Arrow batch."""
    ex = extractor if extractor is not None else _fake_features

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("features", T.ArrayType(T.LongType()), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [ex(p, m, dim) for p, m in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values,
                 "media_type": pdf["media_type"].values,
                 "features": feats}
            )

    return df.select("doc_id", "payload", "media_type").mapInPandas(run, schema)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: explodes sampled frame indices
    (metadata only — decode is stubbed). Shows the fan-out shape: one
    output row per sampled frame, partition-local."""
    video = df.where(F.col("n_frames").isNotNull())
    return video.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))).alias("frame_idx"),
    )
