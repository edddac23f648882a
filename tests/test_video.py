"""MJPEG-in-AVI container codec tests (llm/video.py): byte-level
round-trip, header/idx1 cross-validation, error paths, and the stride
sampling of frame_stats_plan. The query's value-level check is its
golden record (tests/golden.py), like every registered query.
"""

from __future__ import annotations

import struct

import pytest

from sparkksqldbbenchmark_spark.llm.codecs import (
    UnsupportedMediaError,
    decode_jpeg,
    encode_jpeg,
)
from sparkksqldbbenchmark_spark.llm.video import (
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    frame_stats_plan,
    synth_avi_frames,
    synth_video_blobs,
)


def _avi_for(doc_id: int) -> bytes:
    return encode_avi_mjpeg(
        [encode_jpeg(rows) for rows in synth_avi_frames(doc_id)]
    )


def test_roundtrip_exact_frames():
    """Every frame must decode to EXACTLY the encoded scanlines
    (block-constant tiles + DC-exact quant → lossless through the lossy
    path), and container geometry must match the JPEG geometry."""
    for d in (0, 1, 5, 17, 42, 118):
        framesets = synth_avi_frames(d)
        w, h, fps, frames = decode_avi_mjpeg(_avi_for(d))
        assert len(frames) == d % 4 + 2
        assert (w, h) == ((d % 3 + 1) * 8, (d % 2 + 1) * 8)
        assert fps == 25
        for jf, rows_in in zip(frames, framesets):
            fw, fh, ch, rows = decode_jpeg(jf)
            assert (fw, fh, ch) == (w, h, 1)
            assert rows == rows_in


def test_rejects_non_avi_riff():
    with pytest.raises(UnsupportedMediaError):
        decode_avi_mjpeg(b"RIFF\x08\x00\x00\x00WAVEdata")


def test_rejects_header_frame_count_mismatch():
    """avih dwTotalFrames is cross-checked against the movi walk — a
    header must never be trusted over the bytes."""
    avi = _avi_for(3)
    i = avi.find(b"avih") + 8 + 16  # dwTotalFrames field
    bad = avi[:i] + struct.pack("<I", 99) + avi[i + 4 :]
    with pytest.raises(UnsupportedMediaError):
        decode_avi_mjpeg(bad)


def test_rejects_idx1_size_mismatch():
    avi = _avi_for(3)
    i = avi.find(b"idx1") + 8 + 12  # first entry's dwChunkLength
    bad = avi[:i] + struct.pack("<I", 1) + avi[i + 4 :]
    with pytest.raises(UnsupportedMediaError):
        decode_avi_mjpeg(bad)


def test_rejects_mixed_frame_dimensions():
    f1 = encode_jpeg(synth_avi_frames(0)[0])  # 8x8
    f2 = encode_jpeg(synth_avi_frames(1)[0])  # 16x16
    with pytest.raises(ValueError):
        encode_avi_mjpeg([f1, f2])


def test_frame_stride_sampling(spark):
    """every_n=2 must emit exactly the even-indexed frames with the
    same per-frame stats the full pass computes."""
    df = spark.range(20).withColumnRenamed("id", "doc_id")
    blobs = synth_video_blobs(df)
    full = {
        (r.doc_id, r.frame_idx): r.pixel_sum
        for r in frame_stats_plan(blobs, every_n=1).collect()
    }
    sampled = {
        (r.doc_id, r.frame_idx): r.pixel_sum
        for r in frame_stats_plan(blobs, every_n=2).collect()
    }
    assert sampled
    assert set(sampled) == {k for k in full if k[1] % 2 == 0}
    assert all(full[k] == v for k, v in sampled.items())


def test_container_transparency_random_frames():
    """The AVI container must return the EXACT JPEG bitstreams it was
    given (container transparency — lossiness lives only inside the
    codec), across varying frame counts and sizes, including odd-length
    frames that need RIFF even-padding."""
    import random

    rng = random.Random(7)
    for _ in range(10):
        w8, h8 = rng.randint(1, 4), rng.randint(1, 3)
        frames = []
        for _f in range(rng.randint(1, 6)):
            rows = [
                bytes(rng.randrange(256) for _ in range(w8 * 8))
                for _ in range(h8 * 8)
            ]
            frames.append(encode_jpeg(rows))
        avi = encode_avi_mjpeg(frames, fps=rng.choice([10, 25, 30]))
        _w, _h, _fps, back = decode_avi_mjpeg(avi)
        assert back == frames


def test_fused_synth_stats_matches_two_stage_pipeline(spark):
    """r18: synth_frame_stats_plan fuses encode+decode into one
    mapInPandas (blobs never cross the Python boundary). Its rows must
    be identical to the two-stage synth -> decode pipeline, and the
    plan must carry exactly ONE Python map stage plus the row-grain
    repartition that spreads codec work across cores."""
    from sparkksqldbbenchmark_spark.llm.video import (
        synth_frame_stats_plan,
    )

    df = spark.range(25).withColumnRenamed("id", "doc_id")
    two_stage = {
        (r.doc_id, r.frame_idx): (r.width, r.height, r.pixel_sum)
        for r in frame_stats_plan(
            synth_video_blobs(df), every_n=1
        ).collect()
    }
    fused_df = synth_frame_stats_plan(df, every_n=1)
    fused = {
        (r.doc_id, r.frame_idx): (r.width, r.height, r.pixel_sum)
        for r in fused_df.collect()
    }
    assert fused == two_stage
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    # after execution AQE prints Final + Initial plans; count the final
    plan = plan.split("== Initial Plan ==")[0]
    n_map_nodes = sum(
        1
        for line in plan.splitlines()
        if line.replace("+-", "").replace("*", "").strip().startswith(
            "MapInPandas"
        )
    )
    assert n_map_nodes == 1, plan
    assert "Exchange" in plan  # the id repartition (8-byte rows)
