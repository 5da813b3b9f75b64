"""Container fixtures for the multimodal codec tests: byte-exact
APNG and MJPEG-AVI generators with closed-form per-frame content."""

from __future__ import annotations

from survivor_processing_spark.operators.multimodal import (
    _PNG_MAGIC,
    _png_chunk,
)


def synth_apng(width: int, height: int, n_frames: int) -> bytes:
    """A fully valid 8-bit grayscale APNG (CRCs, acTL/fcTL/fdAT
    sequence numbers, one zlib stream per frame) — frame k's pixel
    (x, y) holds ``(31 * k + x + y) % 256``, so tests get a
    closed-form per-frame pixel sum.  Frame delays are k/10 s."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    out = bytearray(_PNG_MAGIC + _png_chunk(b"IHDR", ihdr))
    out += _png_chunk(b"acTL", struct.pack(">II", n_frames, 0))
    seq = 0
    for k in range(n_frames):
        fctl = struct.pack(
            ">IIIIIHHBB", seq, width, height, 0, 0, k, 10, 0, 0
        )
        out += _png_chunk(b"fcTL", fctl)
        seq += 1
        scan = b"".join(
            b"\x00"
            + bytes((31 * k + x + y) % 256 for x in range(width))
            for y in range(height)
        )
        z = zlib.compress(scan)
        if k == 0:
            out += _png_chunk(b"IDAT", z)
        else:
            out += _png_chunk(b"fdAT", struct.pack(">I", seq) + z)
            seq += 1
    out += _png_chunk(b"IEND", b"")
    return bytes(out)


def synth_jpeg(width: int, height: int) -> bytes:
    """Minimal JPEG segment stream: SOI + JFIF APP0 + SOF0 carrying
    the frame dimensions + EOI."""
    import struct

    app0 = (
        b"\xff\xe0"
        + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1)
        + b"\x00\x00"
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def synth_mjpeg_avi(
    width: int, height: int, n_frames: int, fps: int = 4
) -> bytes:
    """A structurally valid MJPEG AVI (RIFF/hdrl/strl/movi, strh
    timing, even-padded chunks): frame k is a JPEG segment stream
    whose COM payload byte i is ``(31*k + i) % 256`` over 64 bytes —
    a closed-form per-frame checksum for tests/oracles."""
    import struct

    def chunk(cid: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return cid + struct.pack("<I", len(data)) + data + pad

    def lst(ltype: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", ltype + data)

    jpegs = []
    base = synth_jpeg(width, height)[:-2]  # strip EOI
    for k in range(n_frames):
        payload = bytes((31 * k + i) % 256 for i in range(64))
        com = b"\xff\xfe" + struct.pack(">H", 2 + len(payload)) + payload
        jpegs.append(base + com + b"\xff\xd9")
    avih = struct.pack("<I", 1_000_000 // fps) + bytes(28) + struct.pack(
        "<II", width, height
    ) + bytes(16)
    strh = (
        b"vids"
        + b"MJPG"
        + bytes(12)
        + struct.pack("<II", 1, fps)
        + bytes(8)
    )
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body
