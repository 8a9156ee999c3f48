"""Multimodal plumbing: PNG metadata/features are real end-to-end;
audio/video kernels run with injected fake decoders (the backend stub
path yields error rows, never exceptions)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from pdf_ocr_spark.operators.multimodal import (
    audio_features,
    image_features,
    media_metadata,
    png_dimensions,
    video_frame_sample,
)
from pdf_ocr_spark.schema import MEDIA_SCHEMA
from pdf_ocr_spark.sources.glyphs import render_text_image
from pdf_ocr_spark.sources.pngcodec import decode_png, encode_png


@pytest.fixture(scope="module")
def media(spark):
    img = render_text_image("METADATA TEST")
    rows = [
        Row(media_ref="m://ok", payload=bytes(encode_png(img))),
        Row(media_ref="m://bad", payload=b"not a png at all"),
        Row(media_ref="m://null", payload=None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_png_dimensions():
    img = render_text_image("AB\nCD")
    w, h = png_dimensions(encode_png(img))
    assert (h, w) == img.shape


def test_media_metadata(spark, media):
    out = {r["media_ref"]: r for r in media_metadata(media).collect()}
    ok = out["m://ok"]
    assert ok["format"] == "png" and ok["valid"] == "ok" and ok["width"] > 0
    assert out["m://bad"]["valid"].startswith("error:")
    assert out["m://null"]["valid"].startswith("error:")
    assert len(out) == 3  # error-as-row, nothing dropped


def test_image_features(spark, media):
    out = {r["media_ref"]: r for r in image_features(media, grid=2).collect()}
    ok = out["m://ok"]
    assert len(ok["embedding"]) == 4
    assert 0.0 < ok["ink_ratio"] < 0.5  # text page: some ink, mostly paper
    assert out["m://bad"]["embedding"] is None


def test_audio_non_wav_is_error_row(spark, media):
    """Default decode is the real WAV parser now; PNG/garbage payloads
    must come back as error rows, never task failures."""
    out = audio_features(media).collect()
    assert len(out) == 3
    assert all(r["rms"] is None for r in out)
    assert all(r["valid"].startswith("error:") for r in out)


def test_audio_with_injected_decoder(spark, media):
    def fake_decode(payload):
        rng = np.random.default_rng(len(payload))
        return rng.standard_normal(16000).astype("float32"), 16000

    out = {r["media_ref"]: r for r in audio_features(media, decode_fn=fake_decode).collect()}
    a = out["m://ok"]
    assert a["duration_s"] == pytest.approx(1.0)
    assert a["sample_rate"] == 16000 and a["rms"] > 0


def test_video_frame_sample_with_injected_decoder(spark, media):
    def fake_decode(payload, every_n):
        img = decode_png(payload)  # raises for non-PNG -> error row
        for k in range(3):
            yield k * every_n, img

    out = video_frame_sample(media, every_n=5, decode_fn=fake_decode).collect()
    by_ref = {}
    for r in out:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert [r["frame_no"] for r in sorted(by_ref["m://ok"], key=lambda r: r["frame_no"])] == [0, 5, 10]
    # frames are re-encoded PNG that decode back
    f0 = [r for r in by_ref["m://ok"] if r["frame_no"] == 0][0]
    assert decode_png(bytes(f0["frame_png"])).shape == decode_png(
        bytes(encode_png(render_text_image("METADATA TEST")))
    ).shape
    assert by_ref["m://bad"][0]["frame_no"] == -1  # error row


def test_video_frame_sample_failing_part_way_is_one_error_row(spark, media):
    """A payload whose decoder fails after some frames is exactly one
    ``frame_no = -1`` row: no frame of it survives."""

    def two_then_fail(payload, every_n):
        img = decode_png(payload)
        yield 0, img
        yield every_n, img
        raise ValueError("truncated stream")

    rows = video_frame_sample(media, every_n=5, decode_fn=two_then_fail).collect()
    got = sorted((r["media_ref"], r["frame_no"], r["frame_png"]) for r in rows)
    assert got == [("m://bad", -1, None), ("m://null", -1, None), ("m://ok", -1, None)]


def test_extract_media_spans_dispatch_and_containment(spark):
    """Kind-dispatched extraction: every modality decodes through its
    real from-scratch codec; garbage payloads and unknown kinds become
    error rows, never task failures."""
    import pandas as pd

    from pdf_ocr_spark.operators.multimodal import extract_media_spans
    from pdf_ocr_spark.sources.audiogen import audio_payload_for
    from pdf_ocr_spark.sources.glyphs import render_text_image
    from pdf_ocr_spark.sources.videogen import avi_payload_for

    png = encode_png(render_text_image("HELLO 42"))
    rows = pd.DataFrame(
        {
            "doc_id": ["d"] * 6,
            "offset": list(range(6)),
            "kind": ["text", "image", "audio", "video", "image", "alien"],
            "text": ["plain", None, None, None, None, None],
            "payload": [None, png, audio_payload_for(4), avi_payload_for(4),
                        b"not a png", b""],
        }
    )
    df = spark.createDataFrame(rows)
    out = {r["offset"]: r["content"] for r in extract_media_spans(df).collect()}
    assert out[0] == "plain"
    assert out[1] == "HELLO 42"
    assert out[2].startswith("audio ") and "@" in out[2]
    assert out[3].startswith("video ") and "x" in out[3]
    assert out[4].startswith("error:")
    assert out[5].startswith("error:") and "alien" in out[5]
