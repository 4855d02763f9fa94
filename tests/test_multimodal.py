from __future__ import annotations

import pytest

from cnics_to_fhir_spark.operators import multimodal as mm


def _media(spark):
    rows = [
        (1, bytearray(b"\x00\x01\x02\x03" * 64)),
        (2, bytearray(b"\xff" * 16)),
        (3, bytearray(b"")),
    ]
    return spark.createDataFrame(rows, "doc_id long, payload binary")


def test_decode_stub_shapes(spark):
    out = {r["id"]: r for r in mm.decode_image_stub(_media(spark)).collect()}
    assert out[1]["n_bytes"] == 256
    assert len(out[1]["feature"]) == mm.FEATURE_DIM
    assert out[2]["feature"] == [255.0] * mm.FEATURE_DIM
    assert out[3]["n_bytes"] == 0 and out[3]["feature"] == [0.0] * mm.FEATURE_DIM


def test_decode_stub_deterministic(spark):
    a = mm.decode_image_stub(_media(spark)).collect()
    b = mm.decode_image_stub(_media(spark)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_real_decode_rejects_undecodable_bytes(spark):
    # real_decode=True now actually decodes (PNG via stdlib, more via PIL);
    # non-image bytes must fail loudly, naming the optional dependency,
    # rather than emitting fake features. Real-decode success paths are
    # covered in tests/test_mediacodec.py.
    with pytest.raises(Exception) as ei:
        mm.decode_image_stub(_media(spark), real_decode=True).collect()
    msg = str(ei.value)
    assert "NotImplementedError" in msg or "Pillow" in msg or isinstance(
        ei.value, NotImplementedError
    )


def test_frame_sample_explode_shape(spark):
    out = mm.frame_sample_stub(_media(spark), every_n_bytes=64).collect()
    per_id = {}
    for r in out:
        per_id.setdefault(r["id"], []).append(r["sample_index"])
    assert sorted(per_id[1]) == [0, 1, 2, 3]  # 256 bytes / 64
    assert sorted(per_id[2]) == [0]
    assert 3 not in per_id  # empty payload → no samples
