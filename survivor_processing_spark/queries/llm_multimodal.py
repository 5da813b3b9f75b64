"""LLM-data-pipeline MULTIMODAL queries: binary media columns decoded
by real stdlib codecs (PNG/GIF/WAV/APNG/MJPEG-AVI) via mapInPandas.

Each query synthesizes its media, runs the operators/multimodal.py
codec and checksums the result inside ONE fused mapInPandas, so no
blob crosses the JVM↔Python boundary more than once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table, table_rows
from ..operators.dedup import spread_rows
from ._registry import register


@register(
    "multimodal_header_parse",
    doc="REAL media decode, no codec libs: synthesize fully valid "
    "PNG (zlib IDAT + CRCs) / GIF87a / 16-bit PCM WAV files per doc "
    "(format = doc_id % 3) in one mapInPandas pass, then "
    "parse_media_header parses the actual container headers "
    "back — PNG IHDR big-endian dims, GIF little-endian logical "
    "screen, WAV fmt/data chunk walk for duration.  The oracle "
    "predicts the parsed metadata in closed form; duration is the "
    "same int/int double division on both engines (bit-equal)",
    oracle="""
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
            ELSE 'audio/wav' END AS mime,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN CAST(doc_id % 64 + 1 AS INTEGER)
            WHEN 1 THEN CAST(doc_id % 100 + 1 AS INTEGER)
            ELSE NULL END AS width,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 0 THEN CAST(doc_id % 48 + 1 AS INTEGER)
            WHEN 1 THEN CAST(doc_id % 80 + 1 AS INTEGER)
            ELSE NULL END AS height,
       CASE CAST(doc_id % 3 AS INTEGER)
            WHEN 2 THEN CAST((doc_id % 500) * 32 AS DOUBLE) / 16000.0
            ELSE NULL END AS duration_s
FROM documents
""",
)
def multimodal_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # CPU-bound Python codec over a tiny id column: row-aware spread
    # before the mapInPandas — the sf1 doc table is one parquet
    # split (the GIF-query lesson) so it must widen, but a fixed
    # 32-way spread doubles the tiny-SF wall time on task overhead;
    # footer row count sizes the stage instead (clamps to all cores
    # at scale)
    d = spread_rows(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        table_rows(sf_dir, "documents"),
    )

    # synth → header parse fused into ONE mapInPandas (guide §4): the
    # container blob never crosses the JVM↔Python boundary.  The
    # header walk is the operator's own parse_media_header, so the
    # parse stays hash-gated.
    def fused(batches):
        from ..operators.multimodal import (
            parse_media_header,
            synth_gif,
            synth_png,
            synth_wav,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                kind = i % 3
                if kind == 0:
                    blob = synth_png(i % 64 + 1, i % 48 + 1)
                elif kind == 1:
                    blob = synth_gif(i % 100 + 1, i % 80 + 1)
                else:
                    blob = synth_wav((i % 500) * 16)
                mime, w, h, dur = parse_media_header(blob)
                rows.append((i, mime, w, h, dur))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "mime", "width", "height", "duration_s"],
            )

    return d.mapInPandas(
        fused,
        schema="asset_id long, mime string, width int, height int, "
        "duration_s double",
    )


@register(
    "multimodal_resize_pipeline",
    doc="REAL distributed image resize, no codec libs: synthesize a "
    "doc-dependent grayscale gradient PNG per document (w = "
    "doc_id%13+4, h = doc_id%7+3, pixel(x,y) = (doc_id+37x+11y)%256), "
    "nearest-neighbor resize every blob to 4x3 through the stdlib "
    "PNG codec (png_resize_nn: zlib decode, unfilter, sample, "
    "re-encode), decode the OUTPUT blob again and emit its parsed "
    "dims plus the sum of its 12 pixels.  The oracle replays the "
    "whole pixel pipeline in closed form (NN sample index x*w//4, "
    "y*h//3) — a wrong filter impl, sample index, or re-encode "
    "corrupts pixel_sum, so this hash-gates the codec end to end",
    oracle="""
SELECT CAST(d.doc_id AS BIGINT) AS asset_id,
       'image/png' AS mime,
       4 AS out_w, 3 AS out_h,
       CAST(SUM((d.doc_id + 37 * ((x.x * (d.doc_id % 13 + 4)) // 4)
                 + 11 * ((y.y * (d.doc_id % 7 + 3)) // 3)) % 256)
            AS BIGINT) AS pixel_sum
FROM documents d
CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS x) x
CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS y) y
GROUP BY d.doc_id
""",
)
def multimodal_resize_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # CPU-bound Python codec over a tiny id column: row-aware spread
    # before the mapInPandas — the sf1 doc table is one parquet
    # split (the GIF-query lesson) so it must widen, but a fixed
    # 32-way spread doubles the tiny-SF wall time on task overhead;
    # footer row count sizes the stage instead (clamps to all cores
    # at scale)
    d = spread_rows(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        table_rows(sf_dir, "documents"),
    )

    # synth → resize → checksum fused into ONE mapInPandas (guide §4):
    # a chain of Python stages would ship the PNG blob across the
    # JVM↔Python boundary four more times (synth out, resize in/out,
    # checksum in).  The resize is the operator's own codec
    # (png_resize_nn), so the zlib/unfilter/sample/re-encode path
    # stays hash-gated.
    def fused(batches):
        from ..operators.multimodal import (
            png_decode,
            png_encode,
            png_resize_nn,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = i % 13 + 4, i % 7 + 3
                px = bytes(
                    (i + 37 * x + 11 * y) % 256
                    for y in range(h)
                    for x in range(w)
                )
                resized = png_resize_nn(png_encode(w, h, 1, px), 4, 3)
                ow, oh, _nch, opx = png_decode(resized)
                rows.append((i, "image/png", ow, oh, sum(opx)))
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "mime", "out_w", "out_h", "pixel_sum"],
            )

    return d.mapInPandas(
        fused,
        schema="asset_id long, mime string, out_w int, out_h int, "
        "pixel_sum long",
    )


@register(
    "multimodal_wav_slice",
    doc="REAL distributed audio frame-sampling, no codec libs: "
    "synthesize a doc-dependent 16-bit mono PCM WAV per document "
    "(rate 800 Hz, n = (doc_id%40+5)*40 samples, sample(i) = "
    "(doc_id*31 + i*7) % 65536 - 32768), slice it into 0.5 s frames "
    "through the stdlib RIFF walk (sample_frames_real: fmt/data "
    "chunk parse, sample-domain [f*400, (f+1)*400) slice, re-encode "
    "each segment as a standalone valid WAV), then re-parse every "
    "emitted frame and sum its decoded samples.  The oracle replays "
    "sample synthesis + slicing in closed form — a wrong chunk "
    "offset, boundary, or re-encode corrupts sample_sum, so this "
    "hash-gates the audio path end to end (the WAV counterpart of "
    "q:multimodal_resize_pipeline; ffmpeg video decode remains the "
    "documented environment limit)",
    oracle="""
WITH docs AS (
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           (doc_id % 40 + 5) * 40 AS n
    FROM documents
),
frames AS (
    SELECT d.asset_id, d.n, f.f AS frame_idx
    FROM docs d,
         LATERAL (SELECT unnest(generate_series(0,
                      CAST((d.n - 1) // 400 AS BIGINT))) AS f) f
)
SELECT fr.asset_id,
       CAST(fr.frame_idx AS INTEGER) AS frame_idx,
       CAST(fr.frame_idx AS DOUBLE) * CAST(0.5 AS DOUBLE) AS ts_s,
       CAST(least((fr.frame_idx + 1) * 400, fr.n)
            - fr.frame_idx * 400 AS INTEGER) AS n_frame_samples,
       CAST(SUM((fr.asset_id * 31 + i.i * 7) % 65536 - 32768)
            AS BIGINT) AS sample_sum
FROM frames fr,
     LATERAL (SELECT unnest(generate_series(fr.frame_idx * 400,
                  least((fr.frame_idx + 1) * 400, fr.n) - 1)) AS i) i
GROUP BY fr.asset_id, fr.frame_idx, fr.n
""",
)
def multimodal_wav_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from ..operators.multimodal import wav_info

    # CPU-bound Python codec over a tiny id column: row-aware spread
    # before the first mapInPandas — the sf1 doc table is one parquet
    # split (the GIF-query lesson) so it must widen, but a fixed
    # 32-way spread doubles the tiny-SF wall time on task overhead;
    # footer row count sizes the stage instead (clamps to all cores
    # at scale)
    d = spread_rows(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        table_rows(sf_dir, "documents"),
    )

    # synth → frame slice → checksum fused into ONE mapInPandas
    # (guide §4 — same shape as the GIF query: two fewer JVM↔Python
    # blob round trips, one worker per task instead of three).  Frame
    # slicing runs through the operator's own codec dispatch
    # (sample_frames_real), so the RIFF walk stays hash-gated.
    def fused(batches):
        import struct as _s

        import numpy as np

        from ..operators.multimodal import sample_frames_real, wav_encode

        fmt = _s.pack("<HHIIHH", 1, 1, 800, 1600, 2, 16)
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n = (i % 40 + 5) * 40
                # vectorized int16 synthesis ('<i2' = the WAV PCM
                # little-endian lane layout, no per-sample Python loop)
                vals = ((i * 31 + np.arange(n, dtype=np.int64) * 7) % 65536
                        - 32768).astype("<i2")
                blob = wav_encode(fmt, vals.tobytes())
                for frame_idx, ts_s, seg in sample_frames_real(blob, 0.5):
                    b = bytes(seg)
                    info = wav_info(b)
                    nf = info["n_samples"]
                    fvals = np.frombuffer(
                        b, dtype="<i2", count=nf, offset=info["data_off"]
                    )
                    rows.append(
                        (i, frame_idx, ts_s, nf, int(fvals.sum(dtype=np.int64)))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "frame_idx", "ts_s",
                    "n_frame_samples", "sample_sum",
                ],
            )

    return d.mapInPandas(
        fused,
        schema="asset_id long, frame_idx int, ts_s double, "
        "n_frame_samples int, sample_sum long",
    )


@register(
    "multimodal_gif_frames",
    doc="REAL distributed animation frame-sampling, no codec libs "
    "(ffmpeg is needed only for true video codecs): "
    "synthesize a doc-dependent "
    "multi-frame GIF89a per document (w = id%5+3, h = id%4+2, "
    "n_frames = id%3+1, pixel index(f, j) = (id*7 + f*13 + j) % 256) "
    "through the real stdlib encoder (variable-width GIF LZW, "
    "256-entry global color table), split it with sample_frames_real "
    "(full GIF parse + LZW decode, each frame re-encoded as a "
    "standalone valid GIF), then re-parse every emitted frame and "
    "sum its decoded palette indices.  The oracle replays synthesis "
    "+ slicing in closed form — a wrong LZW width change, sub-block "
    "boundary, or re-encode corrupts index_sum, so this hash-gates "
    "the animation path end to end.  operators/multimodal.py "
    "gif_frames/gif_encode_frames; round-trip + growth-path "
    "properties in tests/test_round7_ops.py",
    oracle="""
WITH docs AS (
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           doc_id % 5 + 3 AS w,
           doc_id % 4 + 2 AS h,
           doc_id % 3 + 1 AS nf
    FROM documents
),
frames AS (
    SELECT asset_id, w, h, f.f AS frame_idx
    FROM docs, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) f
)
SELECT fr.asset_id,
       CAST(fr.frame_idx AS INTEGER) AS frame_idx,
       CAST(fr.w AS INTEGER) AS width,
       CAST(fr.h AS INTEGER) AS height,
       CAST(fr.w * fr.h AS INTEGER) AS n_pixels,
       CAST(SUM((fr.asset_id * 7 + fr.frame_idx * 13 + j.j) % 256)
            AS BIGINT) AS index_sum
FROM frames fr,
     LATERAL (SELECT unnest(generate_series(0, fr.w * fr.h - 1)) AS j) j
GROUP BY fr.asset_id, fr.frame_idx, fr.w, fr.h
""",
)
def multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    # the codec stages are CPU-bound Python over tiny input bytes, so
    # the scan's byte-based split count (ONE partition for the whole
    # sf1 doc-id column) is the wrong parallelism — row-aware spread
    # before the mapInPandas (measured 38 s -> ~3 s at sf1;
    # hash-identical output).  The fused pass carries all three codec
    # stages per row (synth + LZW slice + decode checksum), so its
    # chunk is smaller still: 100 rows/task swept best post-fusion
    # (0.82 -> 0.69 s at sf0.1 vs the pre-fusion 300) and still
    # clamps to every core from sf0.1 up
    d = spread_rows(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        table_rows(sf_dir, "documents"),
        rows_per_task=100,
    )

    # synth → frame slice → checksum fused into ONE mapInPandas
    # (guide §4: three chained Python stages would each run in their
    # own worker, shipping every GIF blob JVM→Python→JVM twice more
    # than needed, and with one Arrow batch per partition the
    # downstream workers would sit blocked on the upstream's whole
    # partition).  The frame slicing is the operator's own codec
    # dispatch (sample_frames_real), so the codec path stays
    # hash-gated end to end.
    def fused(batches):
        import numpy as np

        from ..operators.multimodal import (
            gif_encode_frames,
            gif_frames,
            sample_frames_real,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, nf = i % 5 + 3, i % 4 + 2, i % 3 + 1
                frames = [
                    (
                        (i * 7 + f * 13 + np.arange(w * h, dtype=np.int64))
                        % 256
                    )
                    .astype(np.uint8)
                    .tobytes()
                    for f in range(nf)
                ]
                blob = gif_encode_frames(w, h, frames)
                for frame_idx, _ts, seg in sample_frames_real(blob, 1.0):
                    doc = gif_frames(bytes(seg))
                    _l, _t, fw, fh, idx = doc["frames"][0]
                    s = int(
                        np.frombuffer(idx, dtype=np.uint8).sum(dtype=np.int64)
                    )
                    rows.append((i, frame_idx, fw, fh, len(idx), s))
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id", "frame_idx", "width", "height",
                    "n_pixels", "index_sum",
                ],
            )

    return d.mapInPandas(
        fused,
        schema="asset_id long, frame_idx int, width int, height int, "
        "n_pixels int, index_sum long",
    )
