"""Multimodal media operators: typed metadata + decode/feature plumbing.

Media payloads are opaque ``binary`` columns with typed metadata
extracted per payload: each operator is one ``per_row`` function and
its error row over the package's row boundary
(:func:`pdf_ocr_spark.operators.rows.map_rows`). Every default decode
path is real and from-scratch: PNG (pngcodec), WAV/RIFF-PCM audio
(wavcodec), and MJPEG/AVI video (avicodec + jpegcodec). Other codecs
(mp3, h264, ...) have no backend in this container and surface as
typed error rows; alternative decoders are injectable via
``decode_fn`` (contract documented per operator), so swapping in
ffmpeg/torchaudio is a one-function change inside the kernel.
"""

from __future__ import annotations

import struct
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pdf_ocr_spark.operators.rows import map_rows

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("format", StringType(), True),  # 'png' | 'unknown'
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("n_bytes", IntegerType(), False),
        StructField("valid", StringType(), False),  # 'ok' | error message
    ]
)


def png_dimensions(payload: bytes) -> tuple[int, int]:
    """Width/height straight from the IHDR chunk (no full decode)."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    w, h = struct.unpack(">II", payload[16:24])
    return int(w), int(h)


def media_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata for every media payload; malformed payloads are
    error-as-row (valid != 'ok'), never exceptions."""

    def per_row(media_ref, payload):
        w, h = png_dimensions(payload or b"")
        return [(media_ref, "png", w, h, len(payload), "ok")]

    def on_error(media_ref, payload, e):
        return [(media_ref, "unknown", None, None, len(payload or b""), f"error: {e}")]

    cols = media.select("media_ref", "payload")
    return map_rows(cols, per_row, MEDIA_META_SCHEMA, on_error)


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("mean_intensity", DoubleType(), True),
        StructField("ink_ratio", DoubleType(), True),
        StructField("embedding", ArrayType(FloatType()), True),
    ]
)


def image_features(media: DataFrame, grid: int = 4) -> DataFrame:
    """Decode -> downsample to a grid -> cheap visual embedding
    (per-cell mean intensity). Real end-to-end for PNG payloads."""

    def per_row(media_ref, payload):
        import numpy as np

        from pdf_ocr_spark.operators.imaging import to_grayscale
        from pdf_ocr_spark.sources.pngcodec import decode_png

        img = to_grayscale(decode_png(payload))
        h, w = img.shape
        cells = []
        for gy in range(grid):
            for gx in range(grid):
                block = img[
                    gy * h // grid : (gy + 1) * h // grid or 1,
                    gx * w // grid : (gx + 1) * w // grid or 1,
                ]
                cells.append(float(block.mean()) / 255.0 if block.size else 0.0)
        return [
            (
                media_ref, w, h, float(img.mean()), float((img < 128).mean()),
                np.array(cells, dtype="float32"),
            )
        ]

    cols = media.select("media_ref", "payload")
    return map_rows(
        cols, per_row, IMAGE_FEATURES_SCHEMA, lambda media_ref, payload, e: [(media_ref,) + (None,) * 5]
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("valid", StringType(), False),  # 'ok' | error message
        StructField("sample_rate", IntegerType(), True),
        StructField("n_samples", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("peak", IntegerType(), True),
        StructField("rms", DoubleType(), True),
        StructField("sum_amp", LongType(), True),
        StructField("zero_crossings", IntegerType(), True),
    ]
)

VIDEO_FRAMES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("frame_png", BinaryType(), True),
    ]
)


def _decode_avi_mjpeg(payload: bytes, every_n: int):
    """Default video decode: the from-scratch MJPEG/AVI chunk walker +
    baseline JPEG codec. Contract: yield (frame_no, HxW[x3] uint8) for
    every ``every_n``-th frame. Other containers/codecs can be injected
    via ``decode_fn``; unsupported payloads raise (error-as-row)."""
    from pdf_ocr_spark.sources.avicodec import decode_avi
    from pdf_ocr_spark.sources.jpegcodec import decode_jpeg

    _w, _h, frames = decode_avi(payload)
    for frame_no in range(0, len(frames), max(1, every_n)):
        yield frame_no, decode_jpeg(frames[frame_no])


def audio_features(
    media: DataFrame, decode_fn: Callable | None = None
) -> DataFrame:
    """Audio feature extraction over opaque payloads (0 shuffles).

    Default decode is the from-scratch RIFF/PCM parser
    (:func:`pdf_ocr_spark.sources.wavcodec.decode_wav`); other codecs
    can be injected via ``decode_fn`` (contract: payload -> (samples
    int/float array, rate)). Malformed/unsupported payloads become
    error rows (``valid != 'ok'``), never task failures — the
    reference's error-as-data pages, /root/reference/app.py:323-337.

    Features are computed over centered integer sample values in
    float64; sums of squares of 16-bit audio stay exact in double up to
    ~2^21 samples, so the values are engine-portable bit-for-bit.
    """

    def per_row(media_ref, payload):
        import numpy as np

        from pdf_ocr_spark.sources.wavcodec import decode_wav

        samples, rate = (decode_fn or decode_wav)(payload or b"")
        s = np.asarray(samples, dtype=np.float64)
        if s.ndim > 1:  # downmix for features; fixtures are mono
            s = s.mean(axis=1)
        if not len(s):
            raise ValueError("empty audio stream")
        neg = s < 0
        return [
            (
                media_ref, "ok", rate, len(s), len(s) / rate, int(np.abs(s).max()),
                float(np.sqrt((s * s).mean())), int(round(s.sum())),
                int((neg[1:] != neg[:-1]).sum()),
            )
        ]

    def on_error(media_ref, payload, e):
        return [(media_ref, f"error: {e}") + (None,) * 7]

    cols = media.select("media_ref", "payload")
    return map_rows(cols, per_row, AUDIO_FEATURES_SCHEMA, on_error)


def video_frame_sample(
    media: DataFrame, every_n: int = 10, decode_fn: Callable | None = None
) -> DataFrame:
    """1 input row -> N frame rows (UDTF-shaped fan-out, 0 shuffles).
    Frames are re-encoded PNG so downstream ops (OCR, features)
    compose. Default decode is the from-scratch MJPEG/AVI path
    (:func:`_decode_avi_mjpeg`). A payload whose decode fails, even
    after some frames, is exactly one ``frame_no = -1`` error row (no
    partial frames), never a task failure."""
    decode = decode_fn or _decode_avi_mjpeg

    def per_row(media_ref, payload):
        from pdf_ocr_spark.sources.pngcodec import encode_png

        return [
            (media_ref, frame_no, encode_png(frame))
            for frame_no, frame in decode(bytes(payload), every_n)
        ]

    cols = media.select("media_ref", "payload")
    return map_rows(
        cols, per_row, VIDEO_FRAMES_SCHEMA, lambda media_ref, payload, e: [(media_ref, -1, None)]
    )


MEDIA_SPANS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("offset", IntegerType(), False),
        StructField("kind", StringType(), False),
        StructField("content", StringType(), False),
    ]
)


def extract_media_spans(spans: DataFrame) -> DataFrame:
    """Kind-dispatched extraction over interleaved span rows — the
    input_hint shape with every media kind handled in ONE Arrow stage
    (0 shuffles): ``(doc_id, offset, kind, text, payload)`` ->
    ``(doc_id, offset, kind, content)`` where

    * ``text``  -> the span text as-is,
    * ``image`` -> OCR-decoded page text (PNG payload),
    * ``audio`` -> ``audio {n}@{rate}`` from the WAV stream header+data,
    * ``video`` -> ``video {frames}f {w}x{h}`` from the AVI container,
    * any undecodable payload -> ``error: ...`` (error-as-row, the
      reference's page-failure containment, app.py:323-337).

    This is the engine-side dispatch table the reference implements
    for OCR engines (app.py:243-323), generalized across modalities.
    """

    def content(kind, text, payload):
        from pdf_ocr_spark.operators.imaging import ocr_decode, to_grayscale
        from pdf_ocr_spark.sources.avicodec import decode_avi
        from pdf_ocr_spark.sources.pngcodec import decode_png
        from pdf_ocr_spark.sources.wavcodec import decode_wav

        if kind == "text":
            return text or ""
        if kind == "image":
            return ocr_decode(to_grayscale(decode_png(bytes(payload))))[0]
        if kind == "audio":
            samples, rate = decode_wav(bytes(payload))
            return f"audio {len(samples)}@{rate}"
        if kind == "video":
            w, h, frames = decode_avi(bytes(payload))
            return f"video {len(frames)}f {w}x{h}"
        raise ValueError(f"unknown span kind {kind!r}")

    def per_row(doc_id, offset, kind, text, payload):
        return [(doc_id, offset, kind, content(kind, text, payload))]

    def on_error(doc_id, offset, kind, text, payload, e):
        return [(doc_id, offset, kind, f"error: {e}")]

    cols = spans.select("doc_id", "offset", "kind", "text", "payload")
    return map_rows(cols, per_row, MEDIA_SPANS_SCHEMA, on_error)


FRAME_FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("frame_no", IntegerType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("left_luma", IntegerType(), True),
        StructField("right_luma", IntegerType(), True),
        StructField("sum_luma", LongType(), True),
    ]
)


def frame_features(frames: DataFrame) -> DataFrame:
    """Per-frame pixel statistics over :func:`video_frame_sample`
    output (PNG frame payloads): dimensions, the mean of each half
    plane (integers on the fixture corpus — flat half-planes), and the
    exact integer pixel sum. Error rows (``frame_no = -1``, null
    payload) pass through with null features."""

    def per_row(media_ref, frame_no, frame_png):
        import numpy as np

        from pdf_ocr_spark.operators.imaging import to_grayscale
        from pdf_ocr_spark.sources.pngcodec import decode_png

        img = to_grayscale(decode_png(bytes(frame_png)))
        h, w = img.shape
        return [
            (
                media_ref, frame_no, w, h, int(img[:, : w // 2].mean()),
                int(img[:, w // 2 :].mean()), int(img.sum(dtype=np.int64)),
            )
        ]

    def on_error(media_ref, frame_no, frame_png, e):
        return [(media_ref, frame_no) + (None,) * 5]

    cols = frames.select("media_ref", "frame_no", "frame_png")
    return map_rows(cols, per_row, FRAME_FEATURES_SCHEMA, on_error)
