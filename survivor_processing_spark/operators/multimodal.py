"""Stdlib media codecs for the multimodal queries.

Convention: media is an opaque ``binary`` blob plus typed metadata
(mime, width, height, duration_s) — the same shape the reference used
for its binary file staging (xlsx/docx downloads,
episode_stats_extract.py:55-59 / confessional_extract.py:156-166),
generalized.  The queries (queries/llm_multimodal.py) call these
byte-level functions inside one fused ``mapInPandas`` per query, so
blobs never pass through the driver.

The engine depends on no pixel/sample-level codec library
(PIL/ffmpeg), so everything here is pure stdlib:

* ``parse_media_header`` sniffs the magic bytes and parses real
  format headers — PNG IHDR, GIF logical-screen descriptor, JPEG SOF
  frame dimensions, BMP info header, WAV fmt/data chunk walk for
  duration;
* ``png_decode``/``png_encode``/``png_resize_nn`` — zlib IDAT, all
  five scanline filters, nearest-neighbor resample;
* ``sample_frames_real`` splits WAV audio, GIF / APNG animation and
  MJPEG AVI into standalone per-frame blobs; compressed video codecs
  genuinely need ffmpeg, so any other blob raises rather than
  silently degrading.
"""
from __future__ import annotations


def parse_media_header(b: bytes) -> tuple[str | None, int | None, int | None, float | None]:
    """(mime, width, height, duration_s) from real container headers,
    pure stdlib ``struct`` — no codec libraries.

    PNG: IHDR width/height (big-endian u32 at offset 16, per the spec
    the IHDR chunk is always first).  GIF: logical-screen descriptor
    (little-endian u16 at offset 6).  BMP: BITMAPINFOHEADER (i32 LE at
    18/22; height may be negative for top-down rows).  JPEG: walk the
    marker segments to the first SOF0-SOF15 frame header (height then
    width, big-endian u16).  WAV: walk RIFF chunks; duration =
    data-chunk byte length / fmt byte-rate.  Unknown magic → all None.
    """
    import struct

    n = len(b)
    if n >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", b[16:24])
        return "image/png", w, h, None
    if n >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "image/gif", w, h, None
    if n >= 26 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return "image/bmp", w, abs(h), None
    if n >= 4 and b[:2] == b"\xff\xd8":
        # walk segments: [FFxx][len_hi][len_lo][payload...]; frame
        # headers are FFC0..FFCF except C4 (DHT), C8 (JPG), CC (DAC)
        i = 2
        while i + 9 <= n:
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return "image/jpeg", w, h, None
            i += 2 + seg_len
        return "image/jpeg", None, None, None
    if n >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        i, byte_rate, data_size = 12, None, None
        while i + 8 <= n:
            cid = b[i : i + 4]
            size = struct.unpack("<I", b[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= n:
                byte_rate = struct.unpack("<I", b[i + 16 : i + 20])[0]
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        dur = (
            float(data_size) / float(byte_rate)
            if byte_rate and data_size is not None
            else None
        )
        return "audio/wav", None, None, dur
    return None, None, None, None


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def synth_png(width: int, height: int) -> bytes:
    """A fully valid 8-bit grayscale PNG (zlib IDAT, correct CRCs) —
    stdlib-only fixture generator for the real header-parse path."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    scanlines = (b"\x00" + b"\x00" * width) * height
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def png_decode(b: bytes) -> tuple[int, int, int, bytes]:
    """REAL stdlib PNG decode → (width, height, channels, raw pixel
    bytes, row-major).  Supports the common web subset: 8-bit depth,
    gray / gray+alpha / RGB / RGBA color types, non-interlaced, all
    five scanline filters (None/Sub/Up/Average/Paeth per the PNG
    spec §9).  Pure-Python per-byte unfiltering — right for fixtures
    and thumbnails; a production cluster would decode with Pillow."""
    import struct
    import zlib

    if b[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, width, height, colortype = 8, None, None, None
    idat = bytearray()
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            width, height, depth, colortype, _c, _f, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0 or colortype not in (0, 2, 4, 6):
                raise ValueError("unsupported PNG variant")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if width is None:
        raise ValueError("no IHDR")
    nch = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
    raw = zlib.decompress(bytes(idat))
    stride = width * nch
    out = bytearray(stride * height)
    prev = bytearray(stride)
    p = 0
    for y in range(height):
        f = raw[p]
        line = bytearray(raw[p + 1 : p + 1 + stride])
        p += 1 + stride
        if f == 1:  # Sub
            for i in range(nch, stride):
                line[i] = (line[i] + line[i - nch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - nch] if i >= nch else 0
                c = prev[i - nch] if i >= nch else 0
                up = prev[i]
                pr = a + up - c
                pa, pb, pc = abs(pr - a), abs(pr - up), abs(pr - c)
                pred = a if pa <= pb and pa <= pc else (up if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter {f}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return width, height, nch, bytes(out)


def png_encode(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Raw pixels → valid PNG (filter 0 rows, one zlib IDAT)."""
    import struct
    import zlib

    colortype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    ihdr = struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0)
    stride = width * channels
    scan = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan))
        + _png_chunk(b"IEND", b"")
    )


def png_resize_nn(b: bytes, new_w: int, new_h: int) -> bytes:
    """Nearest-neighbor PNG resize through the stdlib codec: decode,
    sample source pixel (x*w//new_w, y*h//new_h), re-encode."""
    w, h, nch, px = png_decode(b)
    out = bytearray(new_w * new_h * nch)
    for y in range(new_h):
        srow = (y * h // new_h) * w * nch
        orow = y * new_w * nch
        for x in range(new_w):
            s = srow + (x * w // new_w) * nch
            o = orow + x * nch
            out[o : o + nch] = px[s : s + nch]
    return png_encode(new_w, new_h, nch, bytes(out))


def synth_gif(width: int, height: int) -> bytes:
    """GIF87a header + logical-screen descriptor + trailer (enough
    header structure for dimension parsing; no image block)."""
    import struct

    return (
        b"GIF87a" + struct.pack("<HH", width, height) + b"\x00\x00\x00\x3b"
    )


# --- GIF frame codec (stdlib, real) ------------------------------------------
#
# GIF is the one animation container fully decodable with pure stdlib
# arithmetic.  The LZW here is the real variable-width GIF dialect —
# code width grows with the table (encoder one emission later than
# the decoder, the classic early-change off-by-one), CLEAR resets,
# 12-bit cap with a frozen table — not a literals-only toy, so the
# decoder accepts third-party GIF streams and the round-trip test can
# drive the growth path.


def _lzw_encode(pixels: bytes, mcs: int = 8) -> bytes:
    """GIF-dialect LZW: LSB-first variable-width codes starting at
    mcs+1 bits; emits CLEAR up front, freezes the table at 4096."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, mcs + 1
    out = bytearray()
    acc = acc_bits = 0

    def emit(code: int, w: int) -> None:
        nonlocal acc, acc_bits
        acc |= code << acc_bits
        acc_bits += w
        while acc_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            acc_bits -= 8

    emit(clear, width)
    w_seq = b""
    for px in bytes(pixels):
        wk = w_seq + bytes([px])
        if wk in table:
            w_seq = wk
            continue
        emit(table[w_seq], width)
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            # encoder grows ONE emission after the decoder's table
            # hits 2^width (the decoder grows before READING the
            # first code that could need the extra bit)
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w_seq = bytes([px])
    if w_seq:
        emit(table[w_seq], width)
    emit(end, width)
    if acc_bits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int = 8) -> bytes:
    """Inverse of :func:`_lzw_encode`; accepts any conformant GIF
    LZW stream (KwKwK case, width growth, CLEAR, frozen table)."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    buf = int.from_bytes(data, "little")
    total = len(data) * 8
    pos = 0
    out = bytearray()

    def reset() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], mcs + 1

    table, width = reset()
    prev: bytes | None = None
    while pos + width <= total:
        code = (buf >> pos) & ((1 << width) - 1)
        pos += width
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt LZW: literal expected after clear")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # KwKwK
            else:
                raise ValueError("corrupt LZW: code beyond table")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out += entry
        prev = entry
    return bytes(out)


def _deinterlace(idx: bytes, w: int, h: int) -> bytes:
    """Reorder the 4-pass GIF interlace row sequence to scanline
    order."""
    rows = [b""] * h
    src = 0
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        for y in range(start, h, step):
            rows[y] = idx[src * w : (src + 1) * w]
            src += 1
    return b"".join(rows)


def gif_frames(b: bytes) -> dict | None:
    """Full stdlib GIF parse: header + logical-screen descriptor,
    global/local color tables, extension-block skip, per-frame LZW
    decode (+ deinterlace).  Returns ``{"width", "height", "palette":
    bytes, "frames": [(left, top, w, h, index_bytes)]}`` with one
    entry per image block, pixels as palette-index bytes in scanline
    order — or None when the blob is not a parseable GIF."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    import struct

    sw, sh = struct.unpack("<HH", b[6:10])
    flags = b[10]
    off = 13
    palette = b""
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = b[off : off + 3 * n]
        off += 3 * n
    frames: list[tuple[int, int, int, int, bytes]] = []
    try:
        while off < len(b):
            block = b[off]
            if block == 0x3B:  # trailer
                break
            if block == 0x21:  # extension: label + sub-blocks
                off += 2
                while b[off] != 0:
                    off += 1 + b[off]
                off += 1
                continue
            if block != 0x2C:
                return None  # unknown block type: refuse, don't guess
            left, top, fw, fh = struct.unpack("<HHHH", b[off + 1 : off + 9])
            iflags = b[off + 9]
            off += 10
            if iflags & 0x80:  # local color table
                off += 3 * (2 << (iflags & 0x07))
            mcs = b[off]
            off += 1
            data = bytearray()
            while b[off] != 0:
                sz = b[off]
                data += b[off + 1 : off + 1 + sz]
                off += 1 + sz
            off += 1
            idx = _lzw_decode(bytes(data), mcs)[: fw * fh]
            if len(idx) < fw * fh:
                raise ValueError("short frame")
            if iflags & 0x40:
                idx = _deinterlace(idx, fw, fh)
            frames.append((left, top, fw, fh, idx))
    except (IndexError, ValueError):
        return None
    return {"width": sw, "height": sh, "palette": palette, "frames": frames}


def gif_encode_frames(
    width: int, height: int, frames: list[bytes], palette: bytes | None = None
) -> bytes:
    """Emit a multi-frame GIF89a: 256-entry global color table
    (default: color i = (i, 2i%256, 3i%256)), one image block per
    frame (full-screen, non-interlaced), real LZW image data in
    255-byte sub-blocks.  Each ``frames[k]`` is width*height palette
    indices."""
    import struct

    if palette is None:
        palette = bytes(
            v for i in range(256) for v in (i, (2 * i) % 256, (3 * i) % 256)
        )
    # GCT size field is log2(entries)-1; pad the palette up to the
    # declared power-of-two entry count so the parse offsets agree
    pbits = 0
    while (2 << pbits) * 3 < len(palette) and pbits < 7:
        pbits += 1
    palette = palette.ljust((2 << pbits) * 3, b"\x00")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | 0x70 | pbits, 0, 0))
    out += palette
    for idx in frames:
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out.append(8)  # LZW min code size
        data = _lzw_encode(idx, 8)
        for i in range(0, len(data), 255):
            blockb = data[i : i + 255]
            out.append(len(blockb))
            out += blockb
        out.append(0)
    out.append(0x3B)
    return bytes(out)


def gif_slice_frames(
    b: bytes, every_s: float
) -> list[tuple[int, float, bytes]] | None:
    """Split a multi-frame GIF into standalone single-frame GIFs —
    the animation counterpart of :func:`wav_slice_frames`: frame k
    becomes its own valid GIF (same palette, frame-sized screen) at
    ts = k*every_s (GIF87a carries no per-frame delay; the sampler's
    cadence is the caller's ``every_s``, matching the WAV contract).
    Returns None when the blob is not a parseable GIF (a valid GIF
    with zero image blocks is [], NOT None — the distinction drives
    the codec dispatch in :func:`sample_frames_real`)."""
    doc = gif_frames(b)
    if doc is None:
        return None
    out = []
    for k, (_l, _t, fw, fh, idx) in enumerate(doc["frames"]):
        pal = doc["palette"] or None
        out.append(
            (k, k * every_s, gif_encode_frames(fw, fh, [idx], palette=pal))
        )
    return out


def apng_frames(b: bytes) -> dict | None:
    """Full stdlib APNG parse (PNG spec third edition §4.10, public):
    chunk walk with CRC validation, IHDR geometry, acTL animation
    control, fcTL frame controls, and each frame's own complete zlib
    stream from IDAT (first frame, when an fcTL precedes it) or
    fdAT chunks.  Returns ``{"width", "height", "bitdepth",
    "colortype", "plte", "trns", "frames":
    [(x, y, w, h, delay_s, zdata)]}`` — or, for a plain still PNG
    (no acTL), a single full-canvas frame with delay 0.0 (a still is
    a 1-frame animation, the same contract a single-image GIF gets).
    PLTE/tRNS are carried verbatim (None when absent) so palette
    frames can be re-wrapped as decodable PNGs; a color-type-3 blob
    with no PLTE is invalid per spec §11.2.3 and returns None.  None
    when the blob is not a parseable PNG or the APNG sequence
    numbers are broken."""
    import struct
    import zlib

    if len(b) < 8 or b[:8] != _PNG_MAGIC:
        return None
    off = 8
    ihdr = None
    actl_frames = None
    plte = None
    trns = None
    frames: list[list] = []  # [x, y, w, h, delay_s, bytearray]
    default_idat = bytearray()
    idat_is_frame0 = False
    next_seq = 0
    try:
        while off + 8 <= len(b):
            (ln,) = struct.unpack(">I", b[off : off + 4])
            typ = b[off + 4 : off + 8]
            data = b[off + 8 : off + 8 + ln]
            (crc,) = struct.unpack(">I", b[off + 8 + ln : off + 12 + ln])
            if len(data) != ln or zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
                return None
            off += 12 + ln
            if typ == b"IHDR":
                w, h, depth, ctype, comp, filt, inter = struct.unpack(
                    ">IIBBBBB", data
                )
                if comp or filt or inter:  # interlaced APNG: refuse
                    return None
                ihdr = (w, h, depth, ctype)
            elif typ == b"acTL":
                actl_frames = struct.unpack(">II", data)[0]
            elif typ == b"PLTE":
                plte = data
            elif typ == b"tRNS":
                trns = data
            elif typ == b"fcTL":
                seq, fw, fh, x, y, dnum, dden = struct.unpack(
                    ">IIIIIHH", data[:24]
                )
                if seq != next_seq:
                    return None
                next_seq += 1
                delay = dnum / (dden if dden else 100)
                frames.append([x, y, fw, fh, delay, bytearray()])
                if not default_idat:
                    idat_is_frame0 = True
            elif typ == b"IDAT":
                if idat_is_frame0 and frames:
                    frames[-1][5] += data
                else:
                    default_idat += data
            elif typ == b"fdAT":
                (seq,) = struct.unpack(">I", data[:4])
                if seq != next_seq or not frames:
                    return None
                next_seq += 1
                frames[-1][5] += data[4:]
            elif typ == b"IEND":
                break
    except struct.error:
        return None
    if ihdr is None:
        return None
    w, h, depth, ctype = ihdr
    if ctype == 3 and plte is None:  # palette image with no palette
        return None
    if actl_frames is None:
        # still PNG: one full-canvas frame from the plain IDAT stream
        if not default_idat:
            return None
        frames = [[0, 0, w, h, 0.0, default_idat]]
    else:
        if actl_frames != len(frames) or any(not f[5] for f in frames):
            return None
    return {
        "width": w,
        "height": h,
        "bitdepth": depth,
        "colortype": ctype,
        "plte": plte,
        "trns": trns,
        "frames": [
            (x, y, fw, fh, d, bytes(z)) for x, y, fw, fh, d, z in frames
        ],
    }


def apng_slice_frames(
    b: bytes, every_s: float
) -> list[tuple[int, float, bytes]] | None:
    """Split an APNG into standalone single-frame PNGs — the PNG
    counterpart of :func:`gif_slice_frames`.  Each APNG frame
    carries its OWN complete zlib stream over its region's filtered
    scanlines (spec §4.10.6), so frame k re-wraps as
    IHDR(region geometry) [+ PLTE [+ tRNS]] + IDAT(stream) + IEND
    with no pixel re-encode — the source's palette chunks are carried
    into every sliced frame so color-type-3 (and transparent) frames
    stay decodable; ts is the CUMULATIVE fcTL delay (APNG, unlike
    GIF87a, carries real timing — delay_den 0 means 1/100 s per
    spec), and ``every_s`` is only the still-PNG/zero-delay fallback
    cadence.  Returns None when the blob is not a parseable PNG."""
    import struct

    doc = apng_frames(b)
    if doc is None:
        return None
    shared = b""
    if doc["plte"] is not None:
        shared += _png_chunk(b"PLTE", doc["plte"])
    if doc["trns"] is not None:
        shared += _png_chunk(b"tRNS", doc["trns"])
    out = []
    t = 0.0
    for k, (_x, _y, fw, fh, delay, zdata) in enumerate(doc["frames"]):
        ihdr = struct.pack(
            ">IIBBBBB", fw, fh, doc["bitdepth"], doc["colortype"], 0, 0, 0
        )
        png = (
            _PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + shared
            + _png_chunk(b"IDAT", zdata)
            + _png_chunk(b"IEND", b"")
        )
        out.append((k, t, png))
        t += delay if delay > 0 else every_s
    return out


def _jpeg_sof_size(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the first JPEG SOF marker, or None."""
    import struct

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 9 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", b[i + 5 : i + 9])
            return w, h
        i += 2 + seg_len
    return None


def avi_mjpeg_frames(b: bytes) -> dict | None:
    """Stdlib AVI demux for MJPEG video (Microsoft AVI RIFF form,
    public spec): chunk walk with even padding, ``avih``/``strh``
    timing (strh dwRate/dwScale wins; avih µs-per-frame is the
    fallback), frames from the ``##dc``/``##db`` stream chunks —
    each of which IS a complete standalone JPEG in MJPEG, so frame
    EXTRACTION needs no codec at all.  Returns ``{"width",
    "height", "fps", "frames": [jpeg_bytes, ...]}`` with dimensions
    from the first frame's SOF marker.  None when the blob is not a
    parseable AVI or any video chunk is not a JPEG (a compressed
    codec like h264 — decode remains the documented ffmpeg limit,
    but MJPEG demux is pure chunk arithmetic)."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    strh_fps = None
    avih_fps = None
    frames: list[bytes] = []

    def walk(s: int, e: int) -> None:
        nonlocal strh_fps, avih_fps
        i = s
        while i + 8 <= e:
            cid = b[i : i + 4]
            (size,) = struct.unpack("<I", b[i + 4 : i + 8])
            ds, de = i + 8, i + 8 + size
            if de > e:
                raise ValueError("torn chunk")
            if cid == b"LIST":
                if size < 4:
                    raise ValueError("torn LIST")
                walk(ds + 4, de)
            elif cid == b"strh" and size >= 28 and b[ds : ds + 4] == b"vids":
                scale, rate = struct.unpack("<II", b[ds + 20 : ds + 28])
                if scale and rate:
                    strh_fps = rate / scale
            elif cid == b"avih" and size >= 4:
                (usec,) = struct.unpack("<I", b[ds : ds + 4])
                if usec:
                    avih_fps = 1_000_000.0 / usec
            elif cid[2:4] in (b"dc", b"db"):
                frames.append(bytes(b[ds:de]))
            i = de + (size & 1)

    try:
        walk(12, len(b))
    except (ValueError, struct.error):
        return None
    if not frames or any(f[:2] != b"\xff\xd8" for f in frames):
        return None  # not MJPEG (or a torn stream)
    dims = _jpeg_sof_size(frames[0])
    if dims is None:
        return None
    return {
        "width": dims[0],
        "height": dims[1],
        "fps": strh_fps or avih_fps,
        "frames": frames,
    }


def avi_slice_frames(
    b: bytes, every_s: float
) -> list[tuple[int, float, bytes]] | None:
    """Split an MJPEG AVI into its standalone JPEG frames — the
    video counterpart of :func:`gif_slice_frames` (no re-encode;
    frame k's bytes leave the container verbatim).  ts is k/fps from
    the stream header; ``every_s`` is only the no-timing fallback
    cadence.  None when the blob is not a parseable MJPEG AVI."""
    doc = avi_mjpeg_frames(b)
    if doc is None:
        return None
    fps = doc["fps"]
    step = (1.0 / fps) if fps else every_s
    return [(k, k * step, f) for k, f in enumerate(doc["frames"])]


def wav_info(b: bytes) -> dict | None:
    """RIFF chunk walk for SLICING (the header parser at
    :func:`parse_media_header` only derives duration): returns fmt
    geometry plus the data chunk's byte offset/length, or None when
    the blob is not a parseable WAV."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    off, fmt, data = 12, None, None
    while off + 8 <= len(b):
        cid = b[off : off + 4]
        sz = int.from_bytes(b[off + 4 : off + 8], "little")
        if cid == b"fmt " and sz >= 16:
            fmt = b[off + 8 : off + 8 + sz]
        elif cid == b"data":
            data = (off + 8, min(sz, len(b) - off - 8))
        off += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or data is None:
        # len guard: a truncated blob can DECLARE a 16-byte fmt chunk
        # but carry fewer bytes — the slice clamps silently and
        # struct.unpack would raise instead of returning None
        return None
    _afmt, _nch, rate, _brate, block, _bits = struct.unpack("<HHIIHH", fmt[:16])
    if rate <= 0 or block <= 0:
        return None
    return {
        "rate": rate,
        "block": block,
        "fmt": fmt,
        "data_off": data[0],
        "n_samples": data[1] // block,
    }


def wav_encode(fmt_chunk: bytes, data: bytes) -> bytes:
    """Re-emit a valid WAV around an existing fmt chunk + sample
    bytes (the slice writer for the real audio frame-sample path).
    Odd-length chunks get the RIFF pad byte — the walker in
    :func:`wav_info` advances word-aligned, so an unpadded odd chunk
    would misparse the very blob this function produced."""
    import struct

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    body = b"WAVE" + chunk(b"fmt ", fmt_chunk) + chunk(b"data", data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def wav_slice_frames(
    b: bytes, every_s: float
) -> list[tuple[int, float, bytes]]:
    """Slice a WAV blob into consecutive ``every_s``-second segments,
    each re-encoded as a standalone valid WAV.  Sample-domain
    arithmetic only (step = round(every_s*rate)), so segment
    boundaries are exact integers an oracle can replay — no float
    cumulative-time drift.  Returns [(frame_idx, ts_s, wav_bytes)]."""
    info = wav_info(b)
    if info is None:
        return []
    n, rate, block = info["n_samples"], info["rate"], info["block"]
    step = int(round(every_s * rate))
    if step <= 0:
        step = 1
    frames: list[tuple[int, float, bytes]] = []
    idx = 0
    while idx * step < n:
        s0, s1 = idx * step, min((idx + 1) * step, n)
        seg = b[info["data_off"] + s0 * block : info["data_off"] + s1 * block]
        frames.append((idx, idx * every_s, wav_encode(info["fmt"], seg)))
        idx += 1
    return frames


def synth_wav(n_samples: int, sample_rate: int = 8000) -> bytes:
    """A valid 16-bit mono PCM WAV with ``n_samples`` zero samples —
    duration parses back as n_samples*2 / (sample_rate*2)."""
    import struct

    data = b"\x00\x00" * n_samples
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def sample_frames_real(b: bytes, every_s: float) -> list:
    """Frame sampling for one media blob →
    ``[(frame_idx, ts_s, frame_bytes), ...]``.  Codec dispatch order:
    WAV audio is sliced into [t, t+every_s) sample segments, each a
    standalone valid WAV (:func:`wav_slice_frames`); animated GIF
    splits into standalone single-frame GIFs through the full stdlib
    parse + LZW decode (:func:`gif_slice_frames`); (A)PNG frames
    re-wrap their own zlib streams (:func:`apng_slice_frames`); MJPEG
    AVI demuxes into its standalone JPEG frames
    (:func:`avi_slice_frames`).  Anything else raises
    NotImplementedError."""
    if wav_info(b) is not None:
        return wav_slice_frames(b, every_s)
    frames = gif_slice_frames(b, every_s)
    if frames is None:
        frames = apng_slice_frames(b, every_s)
    if frames is None:
        frames = avi_slice_frames(b, every_s)
    if frames is None:
        raise NotImplementedError(
            "real frame sampling decodes WAV audio, "
            "GIF/(A)PNG animation, and MJPEG AVI "
            "containers; compressed video codecs "
            "need ffmpeg, which the engine does not use"
        )
    return frames
