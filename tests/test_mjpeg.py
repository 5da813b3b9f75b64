"""MJPEG AVI demux: synth→demux roundtrip with closed-form per-frame
payload checksums, strh-vs-avih timing precedence, the
sample_frames_real dispatch, and refusal of torn containers / non-JPEG streams (the
compressed-codec case that still genuinely needs ffmpeg)."""

from __future__ import annotations

import struct

import pytest

from media_fixtures import synth_mjpeg_avi
from survivor_processing_spark.operators.multimodal import (
    avi_mjpeg_frames,
    avi_slice_frames,
    synth_gif,
)


def _payload_sum(k: int) -> int:
    return sum((31 * k + i) % 256 for i in range(64))


def test_roundtrip_frames_dims_fps():
    b = synth_mjpeg_avi(12, 7, 5, fps=4)
    doc = avi_mjpeg_frames(b)
    assert doc is not None
    # strh packs (scale=1, rate=fps) -> fps = rate/scale = 4.0
    assert (doc["width"], doc["height"], doc["fps"]) == (12, 7, 4.0)
    assert len(doc["frames"]) == 5
    for k, f in enumerate(doc["frames"]):
        assert f[:2] == b"\xff\xd8" and f[-2:] == b"\xff\xd9"
        # the COM payload sits 4 bytes after the marker+length
        i = f.find(b"\xff\xfe")
        payload = f[i + 4 : i + 4 + 64]
        assert sum(payload) == _payload_sum(k)


def test_timing_and_slices():
    b = synth_mjpeg_avi(4, 4, 3, fps=5)
    doc = avi_mjpeg_frames(b)
    assert doc["fps"] == 5.0  # strh rate/scale
    sliced = avi_slice_frames(b, every_s=9.0)
    assert [(k, round(t, 6)) for k, t, _f in sliced] == [
        (0, 0.0),
        (1, 0.2),
        (2, 0.4),
    ]
    # frames leave the container verbatim
    assert [f for _k, _t, f in sliced] == doc["frames"]


def test_avih_fallback_when_strh_unusable():
    b = bytearray(synth_mjpeg_avi(4, 4, 2, fps=8))
    i = b.find(b"strh") + 8 + 20  # dwScale offset inside strh data
    b[i : i + 8] = struct.pack("<II", 0, 0)  # zero scale/rate
    doc = avi_mjpeg_frames(bytes(b))
    assert doc is not None and doc["fps"] == 8.0  # 1e6 / µs-per-frame


def test_refusals():
    assert avi_mjpeg_frames(b"") is None
    assert avi_mjpeg_frames(synth_gif(4, 4)) is None
    # RIFF/WAVE is not AVI
    assert avi_mjpeg_frames(b"RIFF\x04\x00\x00\x00WAVE") is None
    # torn chunk: declared size overruns the buffer
    b = bytearray(synth_mjpeg_avi(4, 4, 2))
    i = b.find(b"00dc") + 4
    b[i : i + 4] = struct.pack("<I", 10_000_000)
    assert avi_mjpeg_frames(bytes(b)) is None
    # a compressed-codec stream (video chunks that are not JPEGs)
    b = bytearray(synth_mjpeg_avi(4, 4, 1))
    j = b.find(b"\xff\xd8", 12)
    b[j : j + 2] = b"\x00\x00"
    assert avi_mjpeg_frames(bytes(b)) is None


def test_frame_sample_dispatches_avi():
    from survivor_processing_spark.operators.multimodal import (
        sample_frames_real,
    )

    out = sample_frames_real(synth_mjpeg_avi(6, 4, 3, fps=2), every_s=1.0)
    assert [(idx, ts) for idx, ts, _f in out] == [
        (0, 0.0),
        (1, 0.5),
        (2, 1.0),
    ]
    for idx, _ts, f in out:
        assert f[:2] == b"\xff\xd8" and f[-2:] == b"\xff\xd9"
        i = f.find(b"\xff\xfe")
        assert sum(f[i + 4 : i + 4 + 64]) == _payload_sum(idx)

