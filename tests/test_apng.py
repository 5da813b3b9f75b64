"""APNG stdlib codec: parse/slice roundtrips, per-frame pixel sums
(closed form from synth_apng), still-PNG single-frame contract,
timing from fcTL delays, corruption refusals, and the
sample_frames_real codec dispatch."""

from __future__ import annotations

import struct

import pytest

from media_fixtures import synth_apng
from survivor_processing_spark.operators.multimodal import (
    apng_frames,
    apng_slice_frames,
    png_decode,
    synth_gif,
    synth_png,
)


def _expected_sum(w: int, h: int, k: int) -> int:
    return sum((31 * k + x + y) % 256 for y in range(h) for x in range(w))


def test_roundtrip_frames_and_pixels():
    b = synth_apng(7, 5, 4)
    doc = apng_frames(b)
    assert doc is not None
    assert (doc["width"], doc["height"]) == (7, 5)
    assert len(doc["frames"]) == 4
    sliced = apng_slice_frames(b, 1.0)
    assert [f[0] for f in sliced] == [0, 1, 2, 3]
    for k, _ts, png in sliced:
        w, h, nch, px = png_decode(png)
        assert (w, h, nch) == (7, 5, 1)
        assert sum(px) == _expected_sum(7, 5, k)


def test_cumulative_fctl_timing():
    # synth delays are k/10 s; frame 0's delay is 0 -> every_s
    # fallback, then cumulative: ts = [0, e, e+0.1, e+0.3]
    sliced = apng_slice_frames(synth_apng(4, 4, 4), 2.0)
    ts = [round(t, 6) for _k, t, _p in sliced]
    assert ts == [0.0, 2.0, 2.1, 2.3]


def test_still_png_is_one_frame():
    b = synth_png(9, 3)
    sliced = apng_slice_frames(b, 1.0)
    assert len(sliced) == 1
    k, t, png = sliced[0]
    assert (k, t) == (0, 0.0)
    w, h, nch, px = png_decode(png)
    assert (w, h, sum(px)) == (9, 3, 0)  # synth_png is all-zero gray


def _synth_palette_apng(w: int, h: int, n_frames: int) -> bytes:
    """Color-type-3 APNG with a 4-entry PLTE and a tRNS chunk; frame
    k's pixel (x, y) holds palette index ``(k + x + y) % 4``."""
    import zlib

    from survivor_processing_spark.operators.multimodal import (
        _PNG_MAGIC,
        _png_chunk,
    )

    plte = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    trns = bytes([255, 128])
    out = bytearray(
        _PNG_MAGIC
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
    )
    out += _png_chunk(b"PLTE", plte)
    out += _png_chunk(b"tRNS", trns)
    out += _png_chunk(b"acTL", struct.pack(">II", n_frames, 0))
    seq = 0
    for k in range(n_frames):
        fctl = struct.pack(">IIIIIHHBB", seq, w, h, 0, 0, k, 10, 0, 0)
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        raw = b"".join(
            b"\x00" + bytes((k + x + y) % 4 for x in range(w))
            for y in range(h)
        )
        z = zlib.compress(raw)
        if k == 0:
            out += _png_chunk(b"IDAT", z)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + z)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def test_palette_frames_carry_plte_and_trns():
    # the r7 ADVICE finding: sliced color-type-3 frames used to drop
    # PLTE/tRNS, emitting undecodable PNGs
    b = _synth_palette_apng(6, 4, 3)
    doc = apng_frames(b)
    assert doc is not None and doc["colortype"] == 3
    assert doc["plte"] is not None and doc["trns"] == bytes([255, 128])
    sliced = apng_slice_frames(b, 1.0)
    assert len(sliced) == 3
    for k, _ts, png in sliced:
        # PLTE must precede IDAT, tRNS must follow PLTE (spec §5.6)
        assert png.find(b"PLTE") != -1
        assert png.find(b"PLTE") < png.find(b"tRNS") < png.find(b"IDAT")
        # each sliced frame round-trips through the parser as a valid
        # 1-frame still carrying the same palette
        sub = apng_frames(png)
        assert sub is not None and len(sub["frames"]) == 1
        assert sub["plte"] == doc["plte"] and sub["trns"] == doc["trns"]


def test_palette_apng_without_plte_refused():
    b = bytearray(_synth_palette_apng(4, 4, 2))
    # excise the PLTE chunk entirely (length+type+data+crc = 12+len)
    i = b.find(b"PLTE") - 4
    ln = struct.unpack(">I", b[i : i + 4])[0]
    del b[i : i + 12 + ln]
    assert apng_frames(bytes(b)) is None


def test_non_png_returns_none():
    assert apng_slice_frames(b"GIF89a......", 1.0) is None
    assert apng_slice_frames(synth_gif(4, 4), 1.0) is None
    assert apng_slice_frames(b"", 1.0) is None


def test_crc_corruption_refused():
    b = bytearray(synth_apng(6, 6, 2))
    b[40] ^= 0xFF  # flip a byte inside a chunk body
    assert apng_frames(bytes(b)) is None


def test_broken_sequence_refused():
    b = synth_apng(6, 6, 3)
    # locate the second fcTL and bump its sequence number
    i = b.find(b"fcTL", b.find(b"fcTL") + 4)
    ba = bytearray(b)
    seq = struct.unpack(">I", ba[i + 4 : i + 8])[0]
    ba[i + 4 : i + 8] = struct.pack(">I", seq + 7)
    # fix the chunk CRC so ONLY the sequence break is on trial
    import zlib

    ln = struct.unpack(">I", ba[i - 4 : i])[0]
    body = bytes(ba[i : i + 4 + ln])
    ba[i + 4 + ln : i + 8 + ln] = struct.pack(
        ">I", zlib.crc32(body) & 0xFFFFFFFF
    )
    assert apng_frames(bytes(ba)) is None


def test_frame_sample_dispatches_apng():
    from survivor_processing_spark.operators.multimodal import (
        sample_frames_real,
    )

    out = sample_frames_real(synth_apng(5, 4, 3), every_s=1.0)
    assert [idx for idx, _ts, _f in out] == [0, 1, 2]
    for idx, _ts, frame in out:
        w, h, nch, px = png_decode(frame)
        assert (w, h) == (5, 4)
        assert sum(px) == _expected_sum(5, 4, idx)


def test_unknown_codec_still_raises():
    from survivor_processing_spark.operators.multimodal import (
        sample_frames_real,
    )

    with pytest.raises(NotImplementedError, match="ffmpeg"):
        sample_frames_real(b"\x00\x00\x00\x18ftypmp42 fake mp4", every_s=1.0)
