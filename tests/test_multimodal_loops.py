"""The multimodal family's two shared bodies
(``operators/multimodal.py``).

* Every stats extractor runs the one decode loop ``_decoded_rows``:
  a NULL payload, an empty payload, a truncated payload of the
  extractor's own format and another format's payload are each
  dropped without raising, the intact payload beside them is kept,
  and an input whose rows are all dropped (or that has no rows) still
  gives a typed, empty result.
* ``mapInPandas`` is called only in the two helpers and the two 1:1
  maps that keep their own bodies (``decode_media``,
  ``extract_features``).
"""

from __future__ import annotations

import ast
import os

import pytest

from curw_mike_data_handler_spark.operators import multimodal as mm

MODULE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "curw_mike_data_handler_spark", "operators", "multimodal.py",
)

_PNG = mm.make_png(20, 12, pixels=True)
_WAV = mm.make_wav(8000, 2, n_samples=16)

# extractor → (its schema, an intact payload of its format, a payload
# of another format)
EXTRACTORS = {
    "jpeg_pixel_stats": (mm.PIXEL_STATS_SCHEMA, mm.make_jpeg(24, 16, pixels=True), _WAV),
    "png_pixel_stats": (mm.PIXEL_STATS_SCHEMA, _PNG, _WAV),
    "wav_sample_stats": (mm.WAV_STATS_SCHEMA, _WAV, _PNG),
    "wav_float_sample_stats": (
        mm.WAV_FLOAT_STATS_SCHEMA, mm.make_wav(8000, 2, n_samples=16, ieee_float=True), _PNG,
    ),
    "avi_frame_pixel_stats": (
        mm.FRAME_PIXEL_SCHEMA, mm.make_avi(16, 16, n_frames=12, mjpeg=True), _PNG,
    ),
    "avi_meta": (mm.AVI_META_SCHEMA, mm.make_avi(16, 16, n_frames=3), _PNG),
    "gif_frame_pixel_stats": (mm.FRAME_PIXEL_SCHEMA, mm.make_animated_gif(16, [2, 3]), _PNG),
    "gif_pixel_stats": (mm.PIXEL_STATS_SCHEMA, mm.make_gif(16, 4), _PNG),
    "bmp_pixel_stats": (mm.PIXEL_STATS_SCHEMA, mm.make_bmp(16, 8), _PNG),
    "tiff_page_stats": (
        mm.FRAME_PIXEL_SCHEMA, mm.make_multipage_tiff([(16, 8, 0), (32, 8, 1)]), _PNG,
    ),
    "tiff_pixel_stats": (mm.PIXEL_STATS_SCHEMA, mm.make_tiff(16, 8), _PNG),
    "media_pixel_stats": (mm.PIXEL_STATS_SCHEMA, _PNG, _WAV),
}


def _media(spark, payloads):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({
            "media_id": list(range(1, len(payloads) + 1)),
            "media_type": [None] * len(payloads),
            "payload": [None if p is None else bytearray(p) for p in payloads],
        }),
        schema=mm.MEDIA_SCHEMA,
    )


@pytest.mark.parametrize("name", sorted(EXTRACTORS))
def test_extractor_drops_hostile_payloads_and_keeps_its_own(spark, name):
    schema, own, other = EXTRACTORS[name]
    fn = getattr(mm, name)
    bad = [None, b"", own[: len(own) // 2], other]

    got = fn(_media(spark, [*bad, own]))
    assert got.schema == schema
    assert {r["media_id"] for r in got.collect()} == {5}

    for media in (_media(spark, bad), _media(spark, [])):
        got = fn(media)
        assert got.schema == schema
        assert got.collect() == []


def test_mapinpandas_only_in_the_shared_bodies():
    with open(MODULE, encoding="utf-8") as fh:
        source = fh.read()
    sites = [
        top.name
        for top in ast.parse(source).body
        if isinstance(top, ast.FunctionDef)
        for node in ast.walk(top)
        if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
    ]
    assert sorted(sites) == [
        "_decoded_rows", "_synthesize", "decode_media", "extract_features",
    ]
    assert source.count("mapInPandas(") == 4
