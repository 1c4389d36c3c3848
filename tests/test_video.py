"""Video modality: vendored Y4M codec round-trip + the Spark op
against a pure-Python reference."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark_scd_spark.functions import videocodec


@given(
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=6),
    n=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=255),
)
@settings(max_examples=40, deadline=None)
def test_y4m_roundtrip(w, h, n, seed):
    frames = [
        (
            bytes((seed + f + i) % 256 for i in range(w * h)),
            bytes((seed + f + i + 1) % 256 for i in range(w * h)),
            bytes((seed + f + i + 2) % 256 for i in range(w * h)),
        )
        for f in range(n)
    ]
    payload = videocodec.encode_y4m(frames, w, h, fps=(30, 1))
    assert videocodec.sniff(payload)
    meta, got = videocodec.decode_y4m(payload)
    assert got == frames
    assert meta["width"] == w and meta["height"] == h
    assert meta["n_frames"] == n
    assert (meta["fps_num"], meta["fps_den"]) == (30, 1)
    assert meta["colorspace"] == "C444"


def test_c420_layout_parses():
    """C420 chroma planes are quarter-size — the decoder must split
    frame bytes by the colorspace, not assume C444."""
    w, h = 4, 2
    y = bytes(range(w * h))
    u, v = b"\x10\x11", b"\x20\x21"  # (w//2)*(h//2) = 2 bytes each
    payload = (
        b"YUV4MPEG2 W4 H2 F25:1 C420jpeg\n" + b"FRAME\n" + y + u + v
    )
    meta, frames = videocodec.decode_y4m(payload)
    assert meta["colorspace"] == "C420jpeg"
    assert frames == [(y, u, v)]


def test_truncated_frame_raises():
    payload = videocodec.encode_y4m(
        [(b"\x01\x02", b"\x03\x04", b"\x05\x06")], 2, 1
    )
    with pytest.raises(ValueError, match="truncated frame"):
        videocodec.decode_y4m(payload[:-2])


def test_unknown_colorspace_raises():
    payload = b"YUV4MPEG2 W2 H2 F25:1 C422\nFRAME\n" + b"\x00" * 16
    with pytest.raises(NotImplementedError, match="C422"):
        videocodec.decode_y4m(payload)


def _vid_plane(
    doc_id: int, f: int, w: int, h: int, coef, boost: int = 0
) -> bytes:
    """Pure-Python reference form of one plane — the pinned semantics
    the vectorized ``multimodal._vid_planes_np`` must reproduce
    bit-for-bit (the test below recomputes planes through this
    form)."""
    a, b, c, d = coef
    return bytes(
        (
            doc_id * a
            + f * b
            + y * c
            + x * d
            + (boost if f == 0 and y == 0 and x == 0 else 0)
        )
        % 256
        for y in range(h)
        for x in range(w)
    )


def test_video_frame_stats_matches_python_reference(spark):
    from pyspark_scd_spark.operators import multimodal

    ids = [0, 1, 7, 59, 123]
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"])
    got = {
        (r["doc_id"], r["frame_idx"]): (
            r["width"], r["height"], r["sum_y"], r["sum_u"],
            r["sum_v"], r["max_y"],
        )
        for r in multimodal.video_frame_stats(
            multimodal.with_video_payload(df)
        ).collect()
    }
    want = {}
    for i in ids:
        w, h, n = multimodal._vid_dims(i)
        for f in range(n):
            planes = [
                _vid_plane(i, f, w, h, coef)
                for coef in
                (multimodal._VID_Y, multimodal._VID_U, multimodal._VID_V)
            ]
            want[(i, f)] = (
                w, h, sum(planes[0]), sum(planes[1]), sum(planes[2]),
                max(planes[0]),
            )
    assert got == want
