"""Multimodal-column operators (north-star extension).

Design: media is an opaque ``binary`` column + a typed metadata struct
(modality, byte length, declared dims/duration). Every per-row codec runs
through ``_map_rows``, the module's one Arrow-batched ``mapInPandas``, so
each Python worker touches a whole batch of blobs at once — the only
viable shape at 100 TB (per-row UDFs would serialize per blob).

Codec status: NetPBM images (P6/P5, ``_decode_netpbm``), 8-bit gray/RGB
PNG, sequential or Adam7-interlaced (``_decode_png`` — stdlib zlib inflate
+ the five RFC 2083 scanline filters, CRC-verified chunks, with
``encode_png`` as its round-trip twin), and RIFF/WAVE 8-bit PCM audio
(``decode_audio``) decode FOR REAL via pure-python/numpy parsers, and
baseline JFIF JPEG decodes via
the full DCT/Huffman pipeline in ``jpeg_codec.py`` — `multimodal_decode_stats`
/ `multimodal_png_stats` / `multimodal_jpeg_stats` / `multimodal_audio_stats`
oracle-check the decoded raster/sample statistics end to end (JPEG's oracle
bounds reconstruction error instead of matching exact means, because the
format is lossy). Inter-frame video decodes FOR REAL in the
conditional-replenishment LP01 mode (``avi_codec.encode_avi_lossless_p`` —
DIB keyframe + per-block skip flags + mod-256 deltas, lossless, exact
oracle via `multimodal_mjpeg_p_stats`); mp3 subband/IMDCT and
MOTION-COMPENSATED video (H.264-class motion search) still raise
``NotImplementedError`` (those need ffmpeg, not in this container).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from drive_health_etl_spark.operators.fitcache import dataset_cached
from drive_health_etl_spark.sources.tables import load_table


def _map_rows(df: DataFrame, cols: list[str], fn: Callable[..., tuple], schema: str) -> DataFrame:
    """The media path's one Arrow-batched row map: per batch, ``fn(*row)``
    over ``cols`` returns one tuple in ``schema`` order. An empty batch
    still yields the schema's columns."""
    names = [field.split()[0] for field in schema.split(",")]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [fn(*row) for row in zip(*(pdf[c] for c in cols))]
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(op, schema=schema)


def _cohort(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The documents with ``doc_id % 3 == k``, spread round-robin over
    every core. The repartition matters: the documents parquet is a single
    row group, so without it every Python-codec batch would run on ONE
    core."""
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == k)
        .repartition(spark.sparkContext.defaultParallelism)
    )


def _text_bytes(n: int | str, shift: int = 0) -> Column:
    """The doc's text (plus one space), skipping ``shift`` characters,
    rpad-repeated to ``n`` bytes: the one payload rule behind every media
    fixture (image raster, 256-sample audio, per-frame video)."""
    src = "text || ' '" if shift == 0 else f"substr(text || ' ', {shift + 1})"
    return F.expr(f"encode(rpad({src}, {n}, text || ' '), 'utf-8')")


def _image_raster(docs: DataFrame, channels: int) -> DataFrame:
    """(doc_id, w, h, raw): each doc's w x h raster, ``channels`` bytes per
    pixel (3 for RGB, 1 for GIF's index raster); w in [4,19], h in [4,15]."""
    n = f"CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) * {channels} AS INT)"
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 16 + 4).cast("int").alias("w"),
        (F.col("doc_id") % 12 + 4).cast("int").alias("h"),
        _text_bytes(n).alias("raw"),
    )


def _u8(raw: bytes, *shape: int) -> np.ndarray:
    """A binary cell as a uint8 array of ``shape`` (flat when none)."""
    return np.frombuffer(bytes(raw), dtype=np.uint8).reshape(shape or (-1,))


def _encoded(
    spark: SparkSession, sf_dir: str, name: str, src: DataFrame, cols: list[str],
    fn: Callable[..., tuple], schema: str, *params: object,
) -> DataFrame:
    """Encode-once media fixture: ``_map_rows(src, cols, fn, schema)``,
    persisted and dataset-cached under ``name`` plus every codec parameter.

    The pure-Python ENCODE pass is test scaffolding (fixture generation),
    not the operator under measurement — encode once per (session, sf_dir,
    codec params) and persist the blobs in executor memory so every later
    query (and every bench repeat) measures only its own decode work.
    Bounded: the fixture corpus is |documents|/3 thumbnail blobs of <=
    ~1.5 KB each (a few MB per SF); at production scale media arrives
    already encoded and this generation step does not exist."""
    return dataset_cached(
        spark, sf_dir, name, lambda: _map_rows(src, cols, fn, schema).persist(), *params
    )


def _rgb_means(doc_id: int, img: np.ndarray) -> tuple:
    """(doc_id, width, height, mean_r, mean_g, mean_b) of an RGB raster,
    means exact to 6 places — the lossless image queries' row."""
    h, w, _ = img.shape
    px = img.astype("float64")
    return (
        int(doc_id), int(w), int(h),
        *(round(float(px[:, :, c].mean()), 6) for c in range(3)),
    )


_RGB_MEANS_SCHEMA = (
    "doc_id long, width int, height int, mean_r double, mean_g double, mean_b double"
)


def _decoded_rgb_means(media: DataFrame) -> DataFrame:
    """Decode every (doc_id, content) image blob FOR REAL and emit its
    `_rgb_means` row."""
    return _map_rows(
        media, ["doc_id", "content"],
        lambda doc_id, blob: _rgb_means(doc_id, decode_image(bytes(blob))),
        _RGB_MEANS_SCHEMA,
    )


def attach_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media table from documents: text bytes stand in for an opaque
    blob (deterministic; real pipelines read image/audio bytes the same way —
    as parquet/file binary columns)."""
    docs = load_table(spark, sf_dir, "documents")
    content = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        content.alias("content"),
        F.octet_length(content).cast("long").alias("byte_len"),
        (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 32).cast("int").alias("height"),
    )


def decode_image(blob: bytes) -> np.ndarray:
    """Decode an image blob.

    REAL paths, all PIL/cv2-free: NetPBM binary (P6 RGB -> (h, w, 3), P5
    gray -> (h, w)); 8-bit gray/RGB PNG, sequential or Adam7 (stdlib zlib +
    RFC 2083 filters); QOI (``qoi_codec.py``); baseline and progressive
    JFIF JPEG (full DCT/Huffman pipeline, ``jpeg_codec.py`` and
    ``jpeg_progressive.py``). Remaining formats (mp3/video/webp/...) raise
    NotImplementedError: silently faking them would be worse than
    refusing."""
    magic = blob[:2]
    if magic in (b"P6", b"P5"):
        return _decode_netpbm(blob)
    if blob[:8] == _PNG_SIG:
        return _decode_png(blob)
    if blob[:4] == b"qoif":
        from drive_health_etl_spark.operators.qoi_codec import decode_qoi

        return decode_qoi(blob)
    if magic == b"\xff\xd8":
        from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg

        try:
            return decode_jpeg(blob)
        except NotImplementedError:
            # SOF2 streams route to the progressive decoder; anything it
            # also refuses (arithmetic, lossless, 12-bit) re-raises there.
            from drive_health_etl_spark.operators.jpeg_progressive import (
                decode_jpeg_progressive,
            )

            return decode_jpeg_progressive(blob)
    raise NotImplementedError(
        f"no pure-python codec for magic {magic!r} (mp3 subband/IMDCT and "
        "MOTION-COMPENSATED video — H.264-class motion search/reference "
        "lists — need ffmpeg, not in this container); NetPBM, 8-bit "
        "gray/RGB PNG, QOI, and baseline/progressive JFIF JPEG decode natively "
        "here — MJPEG AVI video via avi_codec.decode_avi_mjpeg, inter-frame "
        "conditional-replenishment video via avi_codec.decode_avi_lossless_p, "
        "IMA ADPCM audio via adpcm_codec.decode_wav_ima"
    )


def _decode_netpbm(blob: bytes) -> np.ndarray:
    """Binary NetPBM parser: header tokens (magic, width, height, maxval —
    '#' comments allowed) then one whitespace byte, then the raw raster."""
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(blob) and blob[pos : pos + 1].isspace():
            pos += 1
        if blob[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(blob) and blob[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(blob[start:pos]))
    pos += 1  # exactly one whitespace byte separates header from raster
    w, h, maxval = tokens
    if maxval > 255:
        raise NotImplementedError("16-bit NetPBM not supported")
    channels = 3 if blob[:2] == b"P6" else 1
    raster = np.frombuffer(blob, dtype=np.uint8, count=w * h * channels, offset=pos)
    return raster.reshape(h, w, 3) if channels == 3 else raster.reshape(h, w)


# --- PNG codec: stdlib zlib + pure-python filters ---------------------------
#
# PNG is DEFLATE (zlib, in the container's stdlib) around per-scanline byte
# filters — no PIL needed for the 8-bit gray (color type 0) / RGB (type 2)
# subset, sequential or Adam7, which is what camera pipelines and dataset
# dumps overwhelmingly emit. (JPEG has its own codec in ``jpeg_codec.py``.)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): closest of left/up/up-left to
    the linear estimate a + b - c, ties preferring a, then b, then c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_scanline(ftype: int, cur: bytearray, prev: bytes, bpp: int) -> None:
    """Undo one scanline filter in place (filters 0-4: None/Sub/Up/Avg/Paeth)."""
    n = len(cur)
    if ftype == 0:
        return
    if ftype == 1:  # Sub
        for i in range(bpp, n):
            cur[i] = (cur[i] + cur[i - bpp]) & 0xFF
    elif ftype == 2:  # Up
        for i in range(n):
            cur[i] = (cur[i] + prev[i]) & 0xFF
    elif ftype == 3:  # Average
        for i in range(n):
            a = cur[i - bpp] if i >= bpp else 0
            cur[i] = (cur[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:  # Paeth
        for i in range(n):
            a = cur[i - bpp] if i >= bpp else 0
            c = prev[i - bpp] if i >= bpp else 0
            cur[i] = (cur[i] + _paeth(a, prev[i], c)) & 0xFF
    else:
        raise NotImplementedError(f"PNG filter type {ftype} is not in RFC 2083")


def _decode_png(blob: bytes) -> np.ndarray:
    """REAL PNG decode: walk the chunk stream (CRC-verified), zlib-inflate
    the concatenated IDAT payload, undo the per-scanline filters. Supports
    bit depth 8, color types 0 (gray -> (h, w)) and 2 (RGB -> (h, w, 3)),
    sequential or Adam7-interlaced — the standard subset stdlib zlib can
    reach; palette/alpha/16-bit raise rather than mis-decode."""
    import struct
    import zlib

    pos, w = len(_PNG_SIG), 0
    h = bit_depth = color_type = interlace = 0
    idat = b""
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", blob[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if bit_depth != 8 or color_type not in (0, 2) or interlace not in (0, 1):
        raise NotImplementedError(
            f"PNG depth={bit_depth} color_type={color_type} interlace={interlace}: "
            "only 8-bit gray/RGB (progressive Adam7 or sequential) decodes without PIL"
        )
    bpp = 3 if color_type == 2 else 1
    raw = zlib.decompress(idat)
    if interlace == 1:
        img = _deinterlace_adam7(raw, w, h, bpp)
        return img.reshape(h, w, 3) if color_type == 2 else img.reshape(h, w)
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError(f"PNG raster length {len(raw)} != {h}*({stride}+1)")
    out = np.empty(h * stride, dtype=np.uint8)
    prev = bytes(stride)
    for r in range(h):
        row = raw[r * (stride + 1) : (r + 1) * (stride + 1)]
        cur = bytearray(row[1:])
        _unfilter_scanline(row[0], cur, prev, bpp)
        out[r * stride : (r + 1) * stride] = np.frombuffer(bytes(cur), dtype=np.uint8)
        prev = bytes(cur)
    return out.reshape(h, w, 3) if color_type == 2 else out.reshape(h, w)


# Adam7 pass grid (RFC 2083 §2.6): (x_start, y_start, x_step, y_step) per
# pass. Each pass is an independently-filtered reduced image; web-era
# "progressive" PNGs ship this layout.
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _deinterlace_adam7(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Reassemble the 7 Adam7 passes: each pass carries its own filter bytes
    and filter state (prev resets per pass), and its pixels scatter onto the
    (y0 + r*ys, x0 + c*xs) grid of the full image."""
    out = np.empty((h, w * bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue  # pass entirely absent (no filter bytes either)
        stride = pw * bpp
        prev = bytes(stride)
        for r in range(ph):
            if pos + 1 + stride > len(raw):
                raise ValueError("Adam7 raster truncated")
            ftype = raw[pos]
            cur = bytearray(raw[pos + 1 : pos + 1 + stride])
            pos += 1 + stride
            _unfilter_scanline(ftype, cur, prev, bpp)
            line = np.frombuffer(bytes(cur), dtype=np.uint8).reshape(pw, bpp)
            cols = x0 + xs * np.arange(pw)
            for b in range(bpp):
                out[y0 + r * ys, cols * bpp + b] = line[:, b]
            prev = bytes(cur)
    if pos != len(raw):
        raise ValueError(f"Adam7 raster has {len(raw) - pos} trailing bytes")
    return out


def encode_png(img: np.ndarray, interlace: bool = False) -> bytes:
    """REAL PNG encode (the decoder's round-trip twin): per-scanline filter
    type = row % 5, so every filter path (None/Sub/Up/Average/Paeth) is
    exercised on any image taller than 4 rows; zlib level 6; CRC'd chunks.
    ``interlace=True`` emits the Adam7 progressive layout (7 independently
    filtered reduced passes).

    Filters vectorize fully on ENCODE (they subtract predictors computed
    from RAW neighbor bytes — no reconstructed-value dependency, unlike
    decode): uint8 arithmetic wraps mod 256 exactly as the spec's & 0xFF."""
    import struct
    import zlib

    if img.ndim == 3:
        h, w, ch = img.shape
        color_type, bpp = 2, 3
        assert ch == 3, "encode_png takes (h,w) gray or (h,w,3) RGB"
    else:
        h, w = img.shape
        color_type, bpp = 0, 1
    flat = img.astype(np.uint8).reshape(h, w * bpp)

    def filter_rows(rows: np.ndarray) -> list[bytes]:
        lines = []
        prev = np.zeros(rows.shape[1], dtype=np.uint8)
        for r in range(rows.shape[0]):
            cur = rows[r]
            left = np.zeros_like(cur)
            left[bpp:] = cur[:-bpp]
            f = r % 5
            if f == 0:
                filt = cur
            elif f == 1:  # Sub
                filt = cur - left
            elif f == 2:  # Up
                filt = cur - prev
            elif f == 3:  # Average: (a + b) >> 1 in a widened dtype
                filt = cur - ((left.astype(np.uint16) + prev) >> 1).astype(np.uint8)
            else:  # Paeth, element-wise over (left, up, up-left)
                prevleft = np.zeros_like(prev)
                prevleft[bpp:] = prev[:-bpp]
                a = left.astype(np.int16)
                b = prev.astype(np.int16)
                c = prevleft.astype(np.int16)
                p = a + b - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
                ).astype(np.uint8)
                filt = cur - pred
            lines.append(bytes([f]) + filt.tobytes())
            prev = cur
        return lines

    if not interlace:
        lines = filter_rows(flat)
    else:
        # Adam7: extract each pass's reduced image and filter it
        # independently (prev resets per pass), in pass order
        grid = flat.reshape(h, w, bpp)
        lines = []
        for x0, y0, xs, ys in _ADAM7:
            sub = grid[y0::ys, x0::xs]
            if sub.size:
                lines += filter_rows(sub.reshape(sub.shape[0], -1))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 1 if interlace else 0)
    idat = zlib.compress(b"".join(lines), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable slice of the media pipeline: modality routing, byte
    lengths, simulated frame counts — everything up to the decode boundary."""
    media = attach_media(spark, sf_dir)
    return media.select(
        "doc_id",
        "modality",
        "byte_len",
        F.floor(F.col("byte_len") / 64).cast("int").alias("n_sampled_frames"),
        F.ceil(F.col("byte_len") / 256).cast("long").alias("n_chunks"),
    )


MULTIMODAL_BYTES_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       CAST(floor(octet_length(encode(text)) / 64.0) AS INTEGER) AS n_sampled_frames,
       CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks
FROM documents
"""


def decode_audio(blob: bytes) -> tuple[int, np.ndarray]:
    """REAL audio decode: RIFF/WAVE with 8-bit unsigned PCM, parsed with
    numpy alone. Returns (sample_rate, samples). Compressed audio (mp3/ogg)
    raises — those codecs are not in this container."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE PCM decodes without ffmpeg; got "
            f"magic {blob[:4]!r}"
        )
    pos, rate, bits = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        size = int.from_bytes(blob[pos + 4 : pos + 8], "little")
        body = blob[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if int.from_bytes(body[0:2], "little") != 1:  # PCM only
                raise NotImplementedError("non-PCM WAV not supported")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif cid == b"data":
            if bits != 8:
                raise NotImplementedError("only 8-bit PCM supported")
            return rate, np.frombuffer(body, dtype=np.uint8)
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    raise ValueError("no data chunk in WAV blob")


# --- Real-decode path: deterministic PPM corpus -----------------------------


def attach_ppm_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL image table: every 3rd document becomes a binary P6 PPM blob
    (header + raw RGB raster filled from the doc's text bytes, rpad-repeated
    to w*h*3). The blobs are genuine images — `decode_image` parses them
    with the numpy NetPBM codec."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    header = F.encode(F.format_string("P6\n%d %d\n255\n", "w", "h"), "utf-8")
    return _image_raster(docs, 3).select("doc_id", F.concat(header, "raw").alias("content"))


def multimodal_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every PPM blob FOR REAL (numpy NetPBM codec) and emit
    per-image dimensions and exact per-channel means. The oracle recomputes
    the same stats from the raster construction rule in SQL — so a decoder
    bug (wrong offset, wrong reshape, swapped channels) breaks the hash
    match."""
    return _decoded_rgb_means(attach_ppm_images(spark, sf_dir))


MULTIMODAL_DECODE_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INTEGER) AS w,
         CAST(doc_id % 12 + 4 AS INTEGER) AS h,
         rpad(text || ' ', CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) * 3 AS INTEGER),
              text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h, (i - 1) % 3 AS ch, ord(substr(payload, i, 1)) AS v
  FROM img, UNNEST(generate_series(1, w * h * 3)) AS t(i)
)
SELECT doc_id, ANY_VALUE(w) AS width, ANY_VALUE(h) AS height,
       ROUND(AVG(CASE WHEN ch = 0 THEN v END), 6) AS mean_r,
       ROUND(AVG(CASE WHEN ch = 1 THEN v END), 6) AS mean_g,
       ROUND(AVG(CASE WHEN ch = 2 THEN v END), 6) AS mean_b
FROM px GROUP BY doc_id
"""


def attach_png_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL compressed-image table: the same deterministic raster rule as
    `attach_ppm_images` (text bytes rpad-repeated to w*h*3), but encoded as
    genuine zlib-compressed PNGs (`encode_png`, filter type cycling 0-4 per
    scanline). The blobs pass any standards-compliant PNG reader — this is
    real compressed media, not a container trick."""
    return _encoded(
        spark, sf_dir, "png", _image_raster(_cohort(spark, sf_dir, 0), 3),
        ["doc_id", "w", "h", "raw"],
        lambda doc_id, w, h, raw: (doc_id, encode_png(_u8(raw, h, w, 3))),
        "doc_id long, content binary",
    )


def multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every PNG blob through the REAL codec (zlib inflate +
    filter reconstruction, CRC-verified) and emit per-image dimensions and
    exact per-channel means. The oracle recomputes the stats from the
    raster construction rule — so a bug anywhere in the DEFLATE plumbing,
    any of the 5 filter transforms, or the chunk walk breaks the hash
    match. Covers the compressed-media decode path end to end."""
    return _decoded_rgb_means(attach_png_images(spark, sf_dir))


# Same raster rule as the PPM oracle: the PNG round-trip must reproduce it.
MULTIMODAL_PNG_SQL = MULTIMODAL_DECODE_SQL


def multimodal_qoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same rasters through the REAL QOI codec (`qoi_codec.py`: run /
    index / diff / luma / literal state machine, end-marker verified) —
    QOI is the byte-aligned O(1)-per-pixel lossless format pipelines use
    when PNG's DEFLATE cost dominates, i.e. the intermediate-storage codec
    profile of a 100 TB multimodal ingest. Lossless, so the oracle is the
    same EXACT per-channel-mean recomputation as PNG/NetPBM: any state-
    machine bug (index hash, delta bias, run accounting) changes pixels
    and breaks the hash."""
    from drive_health_etl_spark.operators.qoi_codec import encode_qoi

    def row(doc_id, w, h, raw):
        return _rgb_means(doc_id, decode_image(encode_qoi(_u8(raw, h, w, 3))))  # REAL round trip

    return _map_rows(
        _image_raster(_cohort(spark, sf_dir, 0), 3), ["doc_id", "w", "h", "raw"], row,
        _RGB_MEANS_SCHEMA,
    )


MULTIMODAL_QOI_SQL = MULTIMODAL_DECODE_SQL


def multimodal_png_adam7_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-era progressive layout end to end: the same rasters encoded
    as Adam7-interlaced PNG (7 independently filtered reduced passes) and
    decoded through the full deinterlacer. Same EXACT oracle as the
    sequential path — a pass-grid, scatter, or per-pass filter-state bug
    changes pixels and breaks the hash."""
    media = _encoded(
        spark, sf_dir, "png_adam7", _image_raster(_cohort(spark, sf_dir, 0), 3),
        ["doc_id", "w", "h", "raw"],
        lambda doc_id, w, h, raw: (doc_id, encode_png(_u8(raw, h, w, 3), interlace=True)),
        "doc_id long, content binary",
    )
    return _decoded_rgb_means(media)


# JPEG is LOSSY, so channel means are not SQL-derivable; the oracle pins the
# exact dims plus a reconstruction-error bound as a boolean. The numeric
# decode-accuracy evidence lives in tests/test_multimodal.py (DCT checked
# against the direct DCT-II definition, constant blocks exact, round-trip
# error within the quantization bound).
_JPEG_MSE_BOUND = 150.0  # worst case is uniform-noise rasters; smooth ~3
# 4:2:0 destroys per-pixel chroma noise by construction (2x2 mean), and the
# ASCII-byte rasters are chroma noise — measured corpus max 966, so the
# bound carries ~1.5x margin; real photos (smooth chroma) land near the
# 4:4:4 numbers.
_JPEG420_MSE_BOUND = 1500.0
_JPEG420_RESTART = 2  # MCUs per restart interval — exercises DRI/RSTm


def attach_jpeg_images(
    spark: SparkSession, sf_dir: str, *, subsampling: str = "444", restart_interval: int = 0
) -> DataFrame:
    """A REAL lossy-compressed image table: the deterministic PPM raster rule
    encoded as genuine baseline JFIF JPEGs (`encode_jpeg`: 8x8 DCT,
    frequency-ramp quantization, canonical Huffman, embedded tables) — 4:4:4
    by default, or 4:2:0 with restart intervals for the real-world wire
    layout. Any standards-compliant JPEG reader accepts these blobs."""
    from drive_health_etl_spark.operators.jpeg_codec import encode_jpeg

    def row(doc_id, w, h, raw):
        blob = encode_jpeg(
            _u8(raw, h, w, 3), subsampling=subsampling, restart_interval=restart_interval
        )
        return doc_id, blob, raw

    return _encoded(
        spark, sf_dir, "jpeg", _image_raster(_cohort(spark, sf_dir, 0), 3),
        ["doc_id", "w", "h", "raw"], row, "doc_id long, content binary, raw binary",
        subsampling, restart_interval,
    )


def multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every blob through the REAL JPEG codec (entropy decode,
    dequantize, IDCT, YCbCr->RGB) and emit per-image dims plus a boolean
    reconstruction-error bound vs the pre-compression raster. The oracle
    derives dims from the raster rule and expects the bound to hold for
    every image — a broken Huffman walk, zigzag, or IDCT blows the MSE far
    past the bound and flips the hash. (Exact-mean oracles live on the
    lossless PNG/NetPBM paths.)"""
    return _jpeg_roundtrip_stats(attach_jpeg_images(spark, sf_dir), _JPEG_MSE_BOUND)


def _jpeg_roundtrip_stats(media: DataFrame, bound: float) -> DataFrame:
    def row(doc_id, blob, raw):
        img = decode_image(bytes(blob))  # REAL baseline-JFIF decode
        h, w, _ = img.shape
        mse = float(((img.astype(np.float64) - _u8(raw, h, w, 3)) ** 2).mean())
        return int(doc_id), int(w), int(h), mse < bound

    return _map_rows(
        media, ["doc_id", "content", "raw"], row,
        "doc_id long, width int, height int, mse_ok boolean",
    )


def multimodal_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real-world JPEG wire layout end to end: 4:2:0 chroma-subsampled
    blobs WITH restart intervals (DRI/RSTm every ``_JPEG420_RESTART`` MCUs),
    round-tripped through the full codec. Exercises the MCU walk (4 Y
    blocks + Cb + Cr), the 2x2-mean downsample / nearest upsample pair, and
    the byte-aligned restart resync with DC reset — the split points a
    distributed decoder shards on. The error bound is wider than 4:4:4's
    because the ASCII rasters are chroma noise, which 4:2:0 removes by
    construction (measured corpus max 966 vs the 1500 bound)."""
    media = attach_jpeg_images(
        spark, sf_dir, subsampling="420", restart_interval=_JPEG420_RESTART
    )
    return _jpeg_roundtrip_stats(media, _JPEG420_MSE_BOUND)


def multimodal_jpeg_prog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive JPEG (SOF2) end to end: every raster is encoded with the
    multi-scan spectral-selection + successive-approximation script
    (``jpeg_progressive.py``) AND as baseline SOF0, both streams are decoded
    by their real codecs, and the query asserts the two decodes are
    BIT-IDENTICAL per pixel (``prog_exact``). The encoders share one
    quantized-coefficient array, so any defect in the progressive entropy
    coding — EOB-run accounting, correction-bit ordering, refinement point
    transforms — breaks exact parity even when the image still looks right;
    this is a far stronger gate than the lossy MSE bound (also asserted
    vs the pre-compression raster). DuckDB cannot run a JPEG codec, so the
    oracle pins dims from the raster rule plus both booleans TRUE."""
    from drive_health_etl_spark.operators.jpeg_progressive import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    def row(doc_id, blob, raw):
        base = decode_image(bytes(blob))  # real SOF0 decode
        h, w, _ = base.shape
        orig = _u8(raw, h, w, 3)
        prog = decode_jpeg_progressive(encode_jpeg_progressive(orig))
        mse = float(((prog.astype(np.float64) - orig) ** 2).mean())
        return int(doc_id), int(w), int(h), bool(np.array_equal(base, prog)), mse < _JPEG_MSE_BOUND

    return _map_rows(
        attach_jpeg_images(spark, sf_dir),  # cached baseline 4:4:4 blobs
        ["doc_id", "content", "raw"], row,
        "doc_id long, width int, height int, prog_exact boolean, mse_ok boolean",
    )


MULTIMODAL_JPEG_PROG_SQL = """
SELECT doc_id,
       CAST(doc_id % 16 + 4 AS INTEGER) AS width,
       CAST(doc_id % 12 + 4 AS INTEGER) AS height,
       TRUE AS prog_exact,
       TRUE AS mse_ok
FROM documents WHERE doc_id % 3 = 0
"""


MULTIMODAL_JPEG_SQL = """
SELECT doc_id,
       CAST(doc_id % 16 + 4 AS INTEGER) AS width,
       CAST(doc_id % 12 + 4 AS INTEGER) AS height,
       TRUE AS mse_ok
FROM documents WHERE doc_id % 3 = 0
"""


# Pinned sha256 of the full entropy-coded JPEG byte stream for 10 fixed
# rasters x 2 wire layouts. The encoder is fully deterministic (embedded
# tables, canonical Huffman), so a silent encoder regression — zigzag swap,
# off-by-one in bit packing, wrong restart cadence — flips these digests even
# when the decoded image still lands inside the lossy MSE bound that
# `multimodal_jpeg_stats` checks. The digests are recomputed independently of
# Spark from the same construction rule by
# tests/test_multimodal.py::test_jpeg_pinned_byte_digests.
_JPEG_BYTE_PINS: list[tuple[int, str, str]] = [
    (0, "444", "3c4ed7178d3ea6c9497075ffd6dd3f2b8573209dc14c49b715d6377c7804a45e"),
    (0, "420r2", "0c27c114dc22de01dda0e2e91d612f7126c0f373df25a476bf04dafcf3740585"),
    (3, "444", "48b8238d92c0e56e6464b620b2364996c30e4b125bbe9bc1d3f97b78efde579e"),
    (3, "420r2", "cdb9008b7c9d3bb1137a39636a25db6340cc930000af598282fd4f2d2bd2a00e"),
    (6, "444", "f214262028b95aaab2554459226e2190a906478e0bf2834b6d99b1e22d60e25d"),
    (6, "420r2", "6b75e654401e73ac213e38ed392c8bec02db0bdab2b7d4862693822a43bff000"),
    (9, "444", "91c00f17464036412597dcdf526fb34feab15fa7db5abdf1b073671fddab6ac6"),
    (9, "420r2", "0df00ed26a406a9c7aa43138128cae168da4b1723ee6498aee5dfc909974bd19"),
    (12, "444", "fe56f5cc59e8e187b4eb0548dedba7c65675f1aa15e47e3557fca5bc29987782"),
    (12, "420r2", "354e2c000d74590ae02c9e82058e41b4e4b3ace7992e9464132f90504c2caeb1"),
    (15, "444", "06ad13876898afae656a206e15639e4e33e3ce977100d64aaed12a1806f47177"),
    (15, "420r2", "e1782a232915a9ee454d1d52e07c0ab071deea32449bd2bdaa33da7014af71c2"),
    (18, "444", "d5636807c6940c95ac9d96767dfa5b40381c7cd74b845eef6b38002a23931289"),
    (18, "420r2", "63ea26889bf050ab9a269e73aa41d0597fbfa76b63eaf7ea4ebfa2e99d86b965"),
    (21, "444", "00e1b62692f2972252dcf591243b0ece93731cf4c246baa0f6382c8514c62936"),
    (21, "420r2", "b135bc5ecf41c8e5f757a7187f599933fb865e5f339a82ec901ce52f059c2958"),
    (24, "444", "1996dc99b0e54b7be092703ef60156d66d60be47562dd84639269b23bdef4ef4"),
    (24, "420r2", "81c674d33942b8ea30b86cfe10a0ab05b3418710e2c316b6b8794e68a22f2082"),
    (27, "444", "af421121cb78f1efae558e664c634638538b2ebd12ce327e4a9d044fa64227cf"),
    (27, "420r2", "b82916be52b3d6f6b5af3184cb285f04cc97b351c78d5b6a3bf45ccd2fe626ec"),
]


def jpeg_pin_raster(doc_id: int) -> np.ndarray:
    """Deterministic raster for the byte-digest pin: depends ONLY on doc_id
    (not on text, so the digest is stable across scale factors); the 251
    modulus avoids the degenerate 256-periodic ramp that would make every
    8x8 block identical."""
    w, h = doc_id % 16 + 4, doc_id % 12 + 4
    return ((doc_id * 31 + np.arange(w * h * 3)) % 251).astype(np.uint8).reshape(h, w, 3)


def multimodal_jpeg_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode 10 fixed doc_id-derived rasters as 4:4:4 and 4:2:0+DRI JPEGs
    and emit the sha256 of each byte stream. The oracle carries the pinned
    digests as literals (DuckDB cannot run a JPEG encoder), so ANY byte-level
    encoder drift fails the value-hash gate loudly; doc_id < 30 keeps the
    pinned set present at every SF."""
    import hashlib

    from drive_health_etl_spark.operators.jpeg_codec import encode_jpeg

    variants = {"444": {}, "420r2": {"subsampling": "420", "restart_interval": 2}}
    base = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 30))
        .select("doc_id", F.explode(F.array(*map(F.lit, variants))).alias("variant"))
    )

    def row(doc_id, variant):
        blob = encode_jpeg(jpeg_pin_raster(int(doc_id)), **variants[variant])
        return int(doc_id), variant, hashlib.sha256(blob).hexdigest()

    return _map_rows(
        base, ["doc_id", "variant"], row, "doc_id long, variant string, jpeg_sha string"
    )


MULTIMODAL_JPEG_BYTES_SQL = (
    "WITH pins(pin_id, variant, jpeg_sha) AS (VALUES "
    + ", ".join(f"({d}, '{v}', '{s}')" for d, v, s in _JPEG_BYTE_PINS)
    + """)
SELECT d.doc_id, p.variant, p.jpeg_sha
FROM documents d JOIN pins p ON d.doc_id = p.pin_id
WHERE d.doc_id % 3 = 0 AND d.doc_id < 30
"""
)


# --- Real-decode path: deterministic WAV corpus -----------------------------

WAV_RATE = 8000
WAV_SAMPLES = 256


def _wav_header() -> bytes:
    """Constant RIFF/WAVE header for 1-channel 8-bit PCM at WAV_RATE with
    exactly WAV_SAMPLES samples — constant so Spark can embed it as ONE
    binary literal and prepend with concat."""

    def le(n: int, width: int) -> bytes:
        return n.to_bytes(width, "little")

    fmt = le(1, 2) + le(1, 2) + le(WAV_RATE, 4) + le(WAV_RATE, 4) + le(1, 2) + le(8, 2)
    return (
        b"RIFF" + le(36 + WAV_SAMPLES, 4) + b"WAVE"
        + b"fmt " + le(16, 4) + fmt
        + b"data" + le(WAV_SAMPLES, 4)
    )


def attach_wav_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL audio table: every doc with doc_id % 3 == 1 becomes a binary
    RIFF/WAVE blob (constant PCM header literal + 256 8-bit samples filled
    from the doc's text bytes). `decode_audio` parses them with the numpy
    RIFF codec — genuine WAV files."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 1)
    return docs.select(
        "doc_id", F.concat(F.lit(_wav_header()), _text_bytes(WAV_SAMPLES)).alias("content")
    )


def _pcm_stats(doc_id: int, rate: int, samples: np.ndarray) -> tuple:
    """(doc_id, sample_rate, n_samples, mean_amp, rms) of a decoded clip.
    No rounding: the sums are exact integers divided by 256, a power of
    two, so mean and rms are bit-identical across engines — and rounding
    would DIVERGE on exact .5 ties (Python banker's vs DuckDB half-away)."""
    s = samples.astype(np.float64)
    rms = float(np.sqrt((s * s).mean()))
    return int(doc_id), int(rate), int(len(samples)), float(s.mean()), rms


_PCM_STATS_SCHEMA = "doc_id long, sample_rate int, n_samples int, mean_amp double, rms double"


def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every WAV blob FOR REAL (numpy RIFF parser) and emit sample
    rate, count, mean amplitude and RMS; the oracle recomputes the stats
    from the sample-construction rule, so a chunk-walk or offset bug breaks
    the hash."""
    return _map_rows(
        attach_wav_audio(spark, sf_dir), ["doc_id", "content"],
        lambda doc_id, blob: _pcm_stats(doc_id, *decode_audio(bytes(blob))),  # REAL decode
        _PCM_STATS_SCHEMA,
    )


_ULAW_SAMPLES = 256


def multimodal_ulaw_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law telephony audio end to end — the domain-native wire
    format for the reference's call records. Each doc synthesizes int16 PCM
    (x_i = (byte_i - 128) * 256), runs the REAL companding codec
    (`g711_codec.py`: encode to 8-bit mu-law, decode back), and emits
    integer-exact stats. The oracle REIMPLEMENTS the companding law per
    sample in SQL (clamp + bias, integer exponent thresholds, mantissa
    shifts, canonical reconstruction) — a fully independent second
    implementation of the codec, a stronger check than digest pins: any
    bias/exponent/mantissa bug changes `sum_decoded` and breaks the hash."""
    from drive_health_etl_spark.operators.g711_codec import decode_ulaw, encode_ulaw

    def row(doc_id, payload):
        x = ((_u8(payload).astype(np.int32) - 128) * 256).astype(np.int16)
        enc = encode_ulaw(x)
        dec = decode_ulaw(enc)  # REAL companding round trip
        err = np.abs(dec.astype(np.int64) - x.astype(np.int64))
        b = np.frombuffer(enc, dtype=np.uint8).astype(np.int32)
        e = (((~b) & 0xFF) >> 4) & 7
        return (
            int(doc_id), int(len(x)), int(dec.astype(np.int64).sum()), int(err.max()),
            bool((err <= (1 << (e + 2))).all()),
        )

    return _map_rows(
        _cohort(spark, sf_dir, 2).select("doc_id", _text_bytes(_ULAW_SAMPLES).alias("payload")),
        ["doc_id", "payload"], row,
        "doc_id long, n_samples int, sum_decoded long, max_abs_err int, bound_ok boolean",
    )


# The oracle re-derives every companded sample with pure integer SQL:
# exponent via thresholds (m in [2^(e+7), 2^(e+8)) -> e), mantissa via
# shifts, canonical reconstruction ((q*8 + 132) << e) - 132.
_ULAW_E_SQL = (
    "CASE"
    + "".join(
        f" WHEN m >= {1 << (k + 7)} THEN {k}" for k in range(7, 0, -1)
    )
    + " ELSE 0 END"
)

MULTIMODAL_ULAW_SQL = f"""
WITH pay AS (
  SELECT doc_id, rpad(text || ' ', {_ULAW_SAMPLES}, text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 2
),
x AS (
  SELECT doc_id, (ord(substr(payload, i, 1)) - 128) * 256 AS x
  FROM pay, UNNEST(generate_series(1, {_ULAW_SAMPLES})) AS t(i)
),
enc AS (
  SELECT doc_id, x, {_ULAW_E_SQL} AS e, m FROM (
    SELECT doc_id, x, LEAST(ABS(x), 32635) + 132 AS m FROM x
  )
),
dec AS (
  SELECT doc_id, x, e,
         CASE WHEN x < 0 THEN -d ELSE d END AS dec
  FROM (
    SELECT doc_id, x, e,
           ((((m >> (e + 3)) & 15) * 8 + 132) << e) - 132 AS d
    FROM enc
  )
)
SELECT doc_id, {_ULAW_SAMPLES} AS n_samples,
       CAST(SUM(dec) AS BIGINT) AS sum_decoded,
       CAST(MAX(ABS(dec - x)) AS INT) AS max_abs_err,
       BOOL_AND(ABS(dec - x) <= (1 << (e + 2))) AS bound_ok
FROM dec GROUP BY doc_id
"""


MULTIMODAL_AUDIO_SQL = f"""
WITH wav AS (
  SELECT doc_id, rpad(text || ' ', {WAV_SAMPLES}, text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT doc_id, ord(substr(payload, i, 1)) AS v
  FROM wav, UNNEST(generate_series(1, {WAV_SAMPLES})) AS t(i)
)
SELECT doc_id, {WAV_RATE} AS sample_rate, {WAV_SAMPLES} AS n_samples,
       AVG(v) AS mean_amp,
       sqrt(AVG(CAST(v AS DOUBLE) * v)) AS rms
FROM s GROUP BY doc_id
"""


# --- Real-decode path: multi-frame video (concatenated PPM frames) ----------

VID_FRAMES = 4
VID_W, VID_H = 8, 6  # fixed per-frame dims -> constant header, 144-byte raster
VID_STRIDE = 2  # frame-sample every 2nd frame
_FRAME_PAYLOAD = VID_W * VID_H * 3


def decode_video(blob: bytes) -> list[np.ndarray]:
    """REAL video decode for the concatenated-NetPBM container: walk the
    blob frame by frame (each frame is a self-describing P6: header +
    raster), decoding each with the numpy NetPBM parser."""
    frames, pos = [], 0
    while pos < len(blob):
        if blob[pos : pos + 2] != b"P6":
            raise ValueError(f"bad frame magic at byte {pos}")
        img = _decode_netpbm(blob[pos:])
        frames.append(img)
        h, w, _ = img.shape
        # header length = bytes consumed before the raster in THIS frame
        hdr = blob.index(b"255\n", pos) + 4 - pos
        pos += hdr + w * h * 3
    return frames


def attach_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL video table: every doc with doc_id % 3 == 2 becomes
    VID_FRAMES concatenated P6 frames (constant 8x6 dims -> constant
    header), frame f's raster drawn from the doc's text offset by 7*f so
    frames differ."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 2)
    header = F.lit(f"P6\n{VID_W} {VID_H}\n255\n".encode())
    frames = [F.concat(header, _text_bytes(_FRAME_PAYLOAD, 7 * f)) for f in range(VID_FRAMES)]
    return docs.select("doc_id", F.concat(*frames).alias("content"))


def multimodal_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample + decode the video blobs FOR REAL: the numpy frame
    walker parses all frames, the stride keeps every VID_STRIDE-th, and the
    mean runs over the sampled frames' pixels. The oracle recomputes the
    same mean from the per-frame construction rule — a frame-boundary bug
    (wrong header length, wrong raster size) shifts every later frame and
    breaks the hash."""

    def row(doc_id, blob):
        frames = decode_video(bytes(blob))  # REAL decode
        sampled = frames[::VID_STRIDE]
        px = np.concatenate([f.reshape(-1) for f in sampled]).astype("float64")
        # exact: integer sum / power-of-two-free count — both engines
        # divide the same exact integer sum by the same count
        return int(doc_id), len(frames), len(sampled), float(px.mean())

    return _map_rows(
        attach_video(spark, sf_dir), ["doc_id", "content"], row,
        "doc_id long, n_frames int, n_sampled int, mean_sampled double",
    )


_SAMPLED = list(range(0, VID_FRAMES, VID_STRIDE))

MULTIMODAL_VIDEO_SQL = f"""
WITH v AS (
  SELECT doc_id, text || ' ' AS t FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, rpad(substr(t, {7 * f + 1}), {_FRAME_PAYLOAD}, t) AS payload FROM v"
    for f in _SAMPLED
  )}
),
px AS (
  SELECT doc_id, ord(substr(payload, i, 1)) AS val
  FROM fr, UNNEST(generate_series(1, {_FRAME_PAYLOAD})) AS u(i)
)
SELECT doc_id, {VID_FRAMES} AS n_frames, {len(_SAMPLED)} AS n_sampled,
       AVG(val) AS mean_sampled
FROM px GROUP BY doc_id
"""


# --- Real palette images: GIF87a with hand-written LZW -----------------------


def attach_gif_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL palette-image table: the doc_id%3==0 cohort's text bytes as a
    (h, w) GRAYSCALE index raster (256-gray global color table), encoded as
    genuine GIF87a with the hand-written variable-width LZW in
    ``gif_codec.py``. LZW is lossless, so unlike JPEG the decode oracle is
    EXACT. Cached per session like the other media fixtures."""
    from drive_health_etl_spark.operators.gif_codec import encode_gif

    gray = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    return _encoded(
        spark, sf_dir, "gif", _image_raster(_cohort(spark, sf_dir, 0), 1),
        ["doc_id", "w", "h", "raw"],
        lambda doc_id, w, h, raw: (doc_id, encode_gif(_u8(raw, h, w), gray)),
        "doc_id long, content binary",
    )


def multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip every GIF through the REAL codec (sub-block reassembly,
    variable-width LZW with CLEAR/EOI and the KwKwK case, palette lookup)
    and emit per-image dims plus the EXACT mean gray level (palette-mapped,
    = raster byte mean for the 256-gray table). The oracle recomputes the
    mean from the construction rule — any LZW bit-packing, width-growth, or
    sub-block bug changes decoded pixels and breaks the hash exactly."""
    from drive_health_etl_spark.operators.gif_codec import decode_gif

    def row(doc_id, blob):
        idx, pal = decode_gif(bytes(blob))  # REAL LZW decode
        h, w = idx.shape
        gray = pal[idx][:, :, 0].astype("float64")  # 256-gray: R=G=B=index
        return int(doc_id), int(w), int(h), round(float(gray.mean()), 6)

    return _map_rows(
        attach_gif_images(spark, sf_dir), ["doc_id", "content"], row,
        "doc_id long, width int, height int, mean_gray double",
    )


MULTIMODAL_GIF_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INTEGER) AS w,
         CAST(doc_id % 12 + 4 AS INTEGER) AS h,
         rpad(text || ' ', CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) AS INTEGER),
              text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id, w AS width, h AS height,
       ROUND((SELECT AVG(ord(substr(payload, u.i, 1)))
              FROM UNNEST(generate_series(1, w * h)) AS u(i)), 6) AS mean_gray
FROM img
"""


# --- Real compressed audio: IMA ADPCM WAV ------------------------------------

# RMS reconstruction-error bound for IMA ADPCM on the ASCII-byte waveforms
# (int16 = (byte-128)<<8): ADPCM is built for correlated audio and text bytes
# are its worst case (uncorrelated jumps) — measured corpus max RMS 2843 at
# sf0.01 / 3124 at sf0.1 of the 32768 full scale, so 4500 carries ~1.45x
# margin; real speech/music lands far lower.
_ADPCM_RMS_BOUND = 4500.0


def _pcm16(raw: bytes) -> np.ndarray:
    """The audio cohort's int16 samples, (byte - 128) << 8, as int64."""
    return (_u8(raw).astype(np.int64) - 128) << 8


def attach_adpcm_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL compressed-audio table: the WAV cohort's samples (doc_id % 3
    == 1, int16 from the text-byte rule) encoded as genuine IMA ADPCM WAV
    blobs (format tag 0x0011, fact chunk, 4-byte block headers —
    ``adpcm_codec.py``), cached per session like the image fixtures.
    Standards-compliant WAV readers accept these blobs."""
    from drive_health_etl_spark.operators.adpcm_codec import encode_wav_ima

    return _encoded(
        spark, sf_dir, "adpcm",
        _cohort(spark, sf_dir, 1).select("doc_id", _text_bytes(WAV_SAMPLES).alias("raw")),
        ["doc_id", "raw"],
        lambda doc_id, raw: (doc_id, encode_wav_ima(_pcm16(raw).astype(np.int16), WAV_RATE), raw),
        "doc_id long, content binary, raw binary",
    )


def multimodal_adpcm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every IMA ADPCM WAV FOR REAL — RIFF walk, fmt/fact parse,
    per-block adaptive-quantizer reconstruction — and emit the declared
    rate/sample count plus a boolean RMS reconstruction-error bound vs the
    pre-compression samples. A step-table, index-clamp, or nibble-order bug
    blows the bound; a chunk-walk bug fails the decode loudly; either flips
    the oracle hash. (Exact-value oracles live on the lossless 8-bit PCM
    path — `multimodal_audio_stats`.)"""
    from drive_health_etl_spark.operators.adpcm_codec import decode_wav_ima

    def row(doc_id, blob, raw):
        samples, rate = decode_wav_ima(bytes(blob))  # REAL ADPCM decode
        rms = float(np.sqrt(((samples.astype(np.float64) - _pcm16(raw)) ** 2).mean()))
        return int(doc_id), int(rate), int(len(samples)), rms < _ADPCM_RMS_BOUND

    return _map_rows(
        attach_adpcm_audio(spark, sf_dir), ["doc_id", "content", "raw"], row,
        "doc_id long, sample_rate int, n_samples int, rms_ok boolean",
    )


MULTIMODAL_ADPCM_SQL = f"""
SELECT doc_id, {WAV_RATE} AS sample_rate, {WAV_SAMPLES} AS n_samples, TRUE AS rms_ok
FROM documents WHERE doc_id % 3 = 1
"""


# --- Real lossless compressed audio: subset FLAC ------------------------------


def attach_flac_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL lossless-compressed audio table: the WAV cohort's samples
    (doc_id % 3 == 1, int16 = (byte-128)<<8 from the text rule) encoded as
    genuine subset-FLAC (fLaC marker, STREAMINFO with PCM MD5, fixed-order
    LPC subframes, Rice residuals, CRC-8/CRC-16 — ``flac_codec.py``).
    Cached per session like the other media fixtures."""
    from drive_health_etl_spark.operators.flac_codec import encode_flac

    return _encoded(
        spark, sf_dir, "flac",
        _cohort(spark, sf_dir, 1).select("doc_id", _text_bytes(WAV_SAMPLES).alias("raw")),
        ["doc_id", "raw"],
        lambda doc_id, raw: (doc_id, encode_flac(_pcm16(raw).astype(np.int16), WAV_RATE)),
        "doc_id long, content binary",
    )


def multimodal_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every FLAC FOR REAL — STREAMINFO parse, frame-header CRC-8,
    fixed-predictor reconstruction from Rice residuals, frame CRC-16, and
    the spec-mandated PCM MD5 — and emit EXACT sample statistics. FLAC is
    lossless, so unlike ADPCM the oracle recomputes mean/rms exactly from
    the construction rule: any predictor, Rice, or bit-packing bug changes
    decoded samples and fails the MD5 gate before it can even reach the
    hash compare."""
    from drive_health_etl_spark.operators.flac_codec import decode_flac

    def row(doc_id, blob):
        samples, rate = decode_flac(bytes(blob))  # REAL FLAC decode
        return _pcm_stats(doc_id, rate, samples)

    return _map_rows(
        attach_flac_audio(spark, sf_dir), ["doc_id", "content"], row, _PCM_STATS_SCHEMA
    )


MULTIMODAL_FLAC_SQL = f"""
WITH wav AS (
  SELECT doc_id, rpad(text || ' ', {WAV_SAMPLES}, text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT doc_id, (ord(substr(payload, i, 1)) - 128) * 256 AS v
  FROM wav, UNNEST(generate_series(1, {WAV_SAMPLES})) AS t(i)
)
SELECT doc_id, {WAV_RATE} AS sample_rate, {WAV_SAMPLES} AS n_samples,
       AVG(v) AS mean_amp,
       sqrt(AVG(CAST(v AS DOUBLE) * v)) AS rms
FROM s GROUP BY doc_id
"""


# --- Real-world video container: Motion-JPEG AVI ----------------------------

MJPEG_W, MJPEG_H = 16, 12  # fixed per-frame dims (8-multiple-free; 4:4:4)
MJPEG_FRAMES = 4
_MJPEG_PAYLOAD = MJPEG_W * MJPEG_H * 3
_MJPEG_MSE_BOUND = 150.0  # same ASCII-noise worst case as _JPEG_MSE_BOUND


def attach_mjpeg_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL video table in a real wire format: every doc with
    doc_id % 3 == 2 becomes a 4-frame Motion-JPEG AVI (RIFF container,
    '00dc' JPEG chunks, idx1 index — ``avi_codec.py``), frame f's raster
    drawn from the doc's text offset by 7*f so frames differ. Standards-
    compliant MJPEG players accept these blobs. Encoded once per session
    (the dataset-cached fixture discipline)."""
    from drive_health_etl_spark.operators.avi_codec import encode_avi_mjpeg

    def row(doc_id, *raws):
        frames = [_u8(r, MJPEG_H, MJPEG_W, 3) for r in raws]
        return doc_id, encode_avi_mjpeg(frames), b"".join(bytes(r) for r in raws)

    cols = [f"raw{f}" for f in range(MJPEG_FRAMES)]
    raster = _cohort(spark, sf_dir, 2).select(
        "doc_id", *[_text_bytes(_MJPEG_PAYLOAD, 7 * f).alias(c) for f, c in enumerate(cols)]
    )
    return _encoded(
        spark, sf_dir, "mjpeg", raster, ["doc_id", *cols], row,
        "doc_id long, content binary, raw binary",
    )


def multimodal_mjpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every MJPEG AVI end to end FOR REAL — RIFF walk, avih
    geometry, per-frame baseline-JPEG decode, idx1 cross-check — and emit
    the container-declared dims/frame count plus a per-clip boolean that
    every frame reconstructs within the JPEG error bound of its
    pre-compression raster. A container-offset bug shifts frame boundaries
    and fails the JPEG decode loudly; a codec bug blows the bound; either
    flips the oracle hash."""
    from drive_health_etl_spark.operators.avi_codec import decode_avi_mjpeg

    def row(doc_id, blob, raw):
        frames, meta = decode_avi_mjpeg(bytes(blob))  # REAL container+codec decode
        raw_arr = _u8(raw, MJPEG_FRAMES, MJPEG_H, MJPEG_W, 3)
        ok = all(
            float(((f.astype(np.float64) - raw_arr[i]) ** 2).mean()) < _MJPEG_MSE_BOUND
            for i, f in enumerate(frames)
        )
        return int(doc_id), int(meta["n_frames"]), int(meta["width"]), int(meta["height"]), bool(ok)

    return _map_rows(
        attach_mjpeg_video(spark, sf_dir), ["doc_id", "content", "raw"], row,
        "doc_id long, n_frames int, width int, height int, frames_ok boolean",
    )


MULTIMODAL_MJPEG_SQL = f"""
SELECT doc_id, {MJPEG_FRAMES} AS n_frames, {MJPEG_W} AS width, {MJPEG_H} AS height,
       TRUE AS frames_ok
FROM documents WHERE doc_id % 3 = 2
"""


# --- Inter-frame video: lossless P-frames (conditional replenishment) --------

_LP_PAYLOAD = MJPEG_W * MJPEG_H * 3  # 576 bytes per 16x12 RGB frame


def _lp_frame_payload(text: str, f: int) -> bytes:
    """Frame rasters for the P-frame clips, mirroring the SQL oracle rule:
    frame 0 is the doc's base payload (rpad construction); frame f >= 1 is
    the base with 8x8 block f's region replaced by the text shifted 7*f —
    so consecutive frames differ in at most two blocks (the block frame f
    repaints plus the block frame f-1 repainted reverting to base), which
    is exactly the sparse-change regime conditional replenishment exists
    for."""
    src = text + " "

    def pay(off: int) -> bytes:
        out = src[off:]
        while len(out) < _LP_PAYLOAD:
            out += src
        return out[:_LP_PAYLOAD].encode("utf-8")

    base = np.frombuffer(pay(0), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    if f == 0:
        return base.tobytes()
    from drive_health_etl_spark.operators.avi_codec import _block_grid

    y0, y1, x0, x1 = _block_grid(MJPEG_W, MJPEG_H)[f]
    shifted = np.frombuffer(pay(7 * f), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    cur = base.copy()
    cur[y0:y1, x0:x1] = shifted[y0:y1, x0:x1]
    return cur.tobytes()


def attach_lossless_p_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL inter-frame video table: every doc with doc_id % 3 == 2
    becomes a 4-frame AVI with a BI_RGB DIB keyframe and LP01
    conditional-replenishment P-frames (``avi_codec.encode_avi_lossless_p``
    — per-8x8-block skip flags + mod-256 deltas, fully lossless). Encoded
    once per session (dataset-cached)."""
    from drive_health_etl_spark.operators.avi_codec import encode_avi_lossless_p

    def row(doc_id, text):
        payloads = [_lp_frame_payload(text, f) for f in range(MJPEG_FRAMES)]
        frames = [_u8(p, MJPEG_H, MJPEG_W, 3) for p in payloads]
        return doc_id, encode_avi_lossless_p(frames), b"".join(payloads)

    return _encoded(
        spark, sf_dir, "mjpeg_p", _cohort(spark, sf_dir, 2).select("doc_id", "text"),
        ["doc_id", "text"], row, "doc_id long, content binary, raw binary",
    )


def multimodal_mjpeg_p_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode every P-frame AVI end to end FOR REAL — RIFF walk, DIB
    keyframe, LP01 skip-bitmap + delta reconstruction, idx1 cross-check —
    and emit the container geometry, the decoder's P-frame accounting
    (blocks skipped, delta bytes transmitted), and a per-clip boolean that
    every frame reconstructs BYTE-EXACT from the raster rule. The codec is
    lossless, so the oracle recomputes skip counts and delta sums in pure
    SQL from the same rule: a wrong skip flag, a delta applied to the wrong
    block, or any keyframe byte error flips the hash."""
    from drive_health_etl_spark.operators.avi_codec import decode_avi_lossless_p

    def row(doc_id, blob, raw):
        frames, meta = decode_avi_lossless_p(bytes(blob))
        raw_arr = _u8(raw, MJPEG_FRAMES, MJPEG_H, MJPEG_W, 3)
        exact = all(np.array_equal(f, raw_arr[i]) for i, f in enumerate(frames))
        return (
            int(doc_id), int(meta["n_frames"]), int(meta["width"]), int(meta["height"]),
            int(meta["n_skipped_blocks"]), int(meta["sum_delta"]), bool(exact),
        )

    return _map_rows(
        attach_lossless_p_video(spark, sf_dir), ["doc_id", "content", "raw"], row,
        "doc_id long, n_frames int, width int, height int, "
        "n_skipped_blocks long, sum_delta long, frames_exact boolean",
    )


# Oracle: replay the frame rule per byte. Pixel p = (i-1)//3 of byte i
# (1-based), row r = p // W, col c = p % W, 8x8 block = (r//8)*2 + (c//8).
# Frame f's byte i comes from the shifted payload iff block(i) = f (f >= 1),
# else the base payload; delta(f, i) = (cur - prev) mod 256; a block is
# skipped iff all its deltas are zero; sum_delta counts only transmitted
# (non-skipped) blocks — exactly what the decoder meters.
MULTIMODAL_MJPEG_P_SQL = f"""
WITH vids AS (
  SELECT doc_id, text || ' ' AS src FROM documents WHERE doc_id % 3 = 2
),
pays AS (
  SELECT doc_id,
         rpad(src, {_LP_PAYLOAD}, src) AS p0,
         rpad(substr(src, 8), {_LP_PAYLOAD}, src) AS s1,
         rpad(substr(src, 15), {_LP_PAYLOAD}, src) AS s2,
         rpad(substr(src, 22), {_LP_PAYLOAD}, src) AS s3
  FROM vids
),
bytes AS (
  SELECT doc_id, f, i,
         ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) AS blk,
         CASE f
           WHEN 1 THEN ord(substr(CASE WHEN ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) = 1 THEN s1 ELSE p0 END, i, 1))
           WHEN 2 THEN ord(substr(CASE WHEN ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) = 2 THEN s2 ELSE p0 END, i, 1))
           WHEN 3 THEN ord(substr(CASE WHEN ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) = 3 THEN s3 ELSE p0 END, i, 1))
         END AS cur,
         CASE f
           WHEN 1 THEN ord(substr(p0, i, 1))
           WHEN 2 THEN ord(substr(CASE WHEN ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) = 1 THEN s1 ELSE p0 END, i, 1))
           WHEN 3 THEN ord(substr(CASE WHEN ((((i - 1) // 3) // {MJPEG_W}) // 8) * 2 + ((((i - 1) // 3) % {MJPEG_W}) // 8) = 2 THEN s2 ELSE p0 END, i, 1))
         END AS prev
  FROM pays,
       UNNEST(generate_series(1, 3)) AS fu(f),
       UNNEST(generate_series(1, {_LP_PAYLOAD})) AS iu(i)
),
blocks AS (
  SELECT doc_id, f, blk,
         MAX((cur - prev + 256) % 256) AS mx,
         SUM((cur - prev + 256) % 256) AS sd
  FROM bytes GROUP BY doc_id, f, blk
)
SELECT doc_id,
       {MJPEG_FRAMES} AS n_frames, {MJPEG_W} AS width, {MJPEG_H} AS height,
       CAST(SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped_blocks,
       CAST(SUM(CASE WHEN mx > 0 THEN sd ELSE 0 END) AS BIGINT) AS sum_delta,
       TRUE AS frames_exact
FROM blocks GROUP BY doc_id
"""


# --- Real resize (nearest-neighbor downsample) ------------------------------


def resize_image(img: np.ndarray, factor: int = 2) -> np.ndarray:
    """Nearest-neighbor downsample by integer factor: keep every factor-th
    pixel in both axes. The standard cheap thumbnail op; output dims are
    ceil(dim/factor)."""
    return img[::factor, ::factor]


def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + RESIZE each PPM for real (numpy nearest-neighbor 2x
    downsample) and emit the resized dims and per-channel means over the
    kept pixels. The oracle selects the same (even-row, even-col) positions
    from the raster construction rule — an off-by-one in the stride or a
    row/col swap changes which pixels survive and breaks the hash."""

    def row(doc_id, blob):
        small = resize_image(decode_image(bytes(blob)))  # REAL decode + resize
        h, w, _ = small.shape
        px = small.astype("float64")
        return (int(doc_id), int(w), int(h), *(float(px[:, :, c].mean()) for c in range(3)))

    return _map_rows(
        attach_ppm_images(spark, sf_dir), ["doc_id", "content"], row,
        "doc_id long, rw int, rh int, mean_r double, mean_g double, mean_b double",
    )


MULTIMODAL_RESIZE_SQL = """
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INTEGER) AS w,
         CAST(doc_id % 12 + 4 AS INTEGER) AS h,
         rpad(text || ' ', CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) * 3 AS INTEGER),
              text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h,
         (i - 1) // (w * 3) AS row,
         ((i - 1) % (w * 3)) // 3 AS col,
         (i - 1) % 3 AS ch,
         ord(substr(payload, i, 1)) AS v
  FROM img, UNNEST(generate_series(1, w * h * 3)) AS t(i)
)
SELECT doc_id,
       CAST(CEIL(ANY_VALUE(w) / 2.0) AS INTEGER) AS rw,
       CAST(CEIL(ANY_VALUE(h) / 2.0) AS INTEGER) AS rh,
       AVG(CASE WHEN ch = 0 THEN v END) AS mean_r,
       AVG(CASE WHEN ch = 1 THEN v END) AS mean_g,
       AVG(CASE WHEN ch = 2 THEN v END) AS mean_b
FROM px
WHERE row % 2 = 0 AND col % 2 = 0
GROUP BY doc_id
"""


# --- Perceptual-hash image near-dup (dHash) ---------------------------------

_PH_ROWS = 8  # dHash cell grid: 8 rows x 9 cols -> 8x8 = 64 bits
_PH_COLS = 9
_PH_BANDS = 4  # 4 x 16-bit bands for LSH-style candidate blocking
_PH_HAM_MAX = 8  # near-dup threshold on 64-bit hamming distance


def _dhash_bands(img: np.ndarray) -> list[int]:
    """64-bit dHash of an RGB raster as 4 x 16-bit band integers.

    ENTIRELY integer arithmetic so the SQL oracle can reproduce every bit:
    per-cell luminance SUMS and COUNTS (exact ints; the grid assignment is
    ``(row * 8) // h``, ``(col * 9) // w``), and the gradient comparison is
    cross-multiplied (``s_a * n_b > s_b * n_a``) instead of dividing to a
    float mean. Cells with no pixels (tiny images) contribute bit 0."""
    h, w, _ = img.shape
    lum = img.astype(np.int64).sum(axis=2)  # per-pixel r+g+b
    rows = (np.arange(h) * _PH_ROWS) // h
    cols = (np.arange(w) * _PH_COLS) // w
    s = np.zeros((_PH_ROWS, _PH_COLS), dtype=np.int64)
    n = np.zeros((_PH_ROWS, _PH_COLS), dtype=np.int64)
    np.add.at(s, (rows[:, None], cols[None, :]), lum)
    np.add.at(n, (rows[:, None], cols[None, :]), 1)
    bands = [0] * _PH_BANDS
    for r in range(_PH_ROWS):
        for c in range(_PH_COLS - 1):
            bit = int(
                n[r, c] > 0
                and n[r, c + 1] > 0
                and s[r, c] * n[r, c + 1] > s[r, c + 1] * n[r, c]
            )
            idx = r * (_PH_COLS - 1) + c
            bands[idx // 16] |= bit << (idx % 16)
    return bands


def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs by 64-bit dHash: decode every PPM FOR REAL
    (numpy NetPBM codec) in mapInPandas, hash each raster, block candidates
    on any shared 16-bit band (SimHash-style LSH — a pair within hamming 8
    over 4 bands must agree exactly on >= 1 band by pigeonhole... not quite:
    8 errors CAN spread 2-per-band, so banding is a recall-oriented filter,
    the standard trade), then verify exact hamming <= ``_PH_HAM_MAX``.

    Scale design: the hash table is one narrow row per image; candidate
    generation is an equi-join on (band_pos, band_value) — shuffle-
    partitionable, no cross join (the no-cartesian plan guard applies); the
    verify join is two equi-joins on doc id. The oracle recomputes every
    hash bit from the raster construction rule, so a decoder or hasher bug
    breaks the match."""
    hashes = _map_rows(
        attach_ppm_images(spark, sf_dir), ["doc_id", "content"],
        lambda doc_id, blob: (int(doc_id), *_dhash_bands(decode_image(bytes(blob)))),  # REAL decode
        "doc_id long, b0 long, b1 long, b2 long, b3 long",
    ).localCheckpoint()  # decode once; reused by candidate + both verify sides

    bands_long = hashes.select(
        "doc_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("bpos", "bval"),
    )
    a = bands_long.select(
        F.col("doc_id").alias("doc_a"), "bpos", F.col("bval").alias("bval_a")
    )
    b = bands_long.select(
        F.col("doc_id").alias("doc_b"), "bpos", F.col("bval").alias("bval_b")
    )
    cand = (
        a.join(b, (a["bpos"] == b["bpos"]) & (a["bval_a"] == b["bval_b"]))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"ha{i}") for i in range(_PH_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"hb{i}") for i in range(_PH_BANDS)],
    )
    ham = sum(
        F.bit_count(F.col(f"ha{i}").bitwiseXOR(F.col(f"hb{i}")))
        for i in range(_PH_BANDS)
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= _PH_HAM_MAX)
        .orderBy("hamming", "doc_a", "doc_b")
    )


MULTIMODAL_PHASH_SQL = f"""
WITH img AS (
  SELECT doc_id,
         CAST(doc_id % 16 + 4 AS INTEGER) AS w,
         CAST(doc_id % 12 + 4 AS INTEGER) AS h,
         rpad(text || ' ', CAST((doc_id % 16 + 4) * (doc_id % 12 + 4) * 3 AS INTEGER),
              text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT doc_id, w, h, p,
         ord(substr(payload, 3 * p + 1, 1)) + ord(substr(payload, 3 * p + 2, 1))
           + ord(substr(payload, 3 * p + 3, 1)) AS lum
  FROM img, UNNEST(generate_series(0, w * h - 1)) AS t(p)
),
cells AS (
  SELECT doc_id, ((p // w) * {_PH_ROWS}) // h AS cr, ((p % w) * {_PH_COLS}) // w AS cc,
         SUM(lum) AS s, COUNT(*) AS n
  FROM px GROUP BY 1, 2, 3
),
grid AS (
  SELECT doc_id, r.r AS cr, c.c
  FROM img,
       UNNEST(generate_series(0, {_PH_ROWS - 1})) AS r(r),
       UNNEST(generate_series(0, {_PH_COLS - 2})) AS c(c)
),
bits AS (
  SELECT g.doc_id, g.cr, g.c,
         CASE WHEN ca.n > 0 AND cb.n > 0 AND ca.s * cb.n > cb.s * ca.n
              THEN 1 ELSE 0 END AS bit
  FROM grid g
  LEFT JOIN cells ca ON ca.doc_id = g.doc_id AND ca.cr = g.cr AND ca.cc = g.c
  LEFT JOIN cells cb ON cb.doc_id = g.doc_id AND cb.cr = g.cr AND cb.cc = g.c + 1
),
bands AS (
  SELECT doc_id, (cr * {_PH_COLS - 1} + c) // 16 AS bpos,
         CAST(SUM(bit << ((cr * {_PH_COLS - 1} + c) % 16)) AS BIGINT) AS bval
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.bpos = b.bpos AND a.bval = b.bval AND a.doc_id < b.doc_id
),
ham AS (
  SELECT c.doc_a, c.doc_b,
         CAST(SUM(bit_count(xor(ha.bval, hb.bval))) AS INTEGER) AS hamming
  FROM cand c
  JOIN bands ha ON ha.doc_id = c.doc_a
  JOIN bands hb ON hb.doc_id = c.doc_b AND hb.bpos = ha.bpos
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b, hamming FROM ham
WHERE hamming <= {_PH_HAM_MAX}
ORDER BY hamming, doc_a, doc_b
"""


# --- Audio fingerprint near-dup ---------------------------------------------

_AF_FRAMES = 8  # 256 samples -> 8 frames of 32
_AF_FRAME = WAV_SAMPLES // _AF_FRAMES
_AF_ENERGY_PCT = 10  # verify: total energies within 10% of the larger


def _audio_fingerprint(samples: np.ndarray) -> tuple[int, int, int]:
    """(fingerprint, zcr_total, energy_total) for one 8-bit PCM clip.

    ENTIRELY integer arithmetic (oracle-reproducible bit for bit): center
    samples at 128, frame into 8 x 32, per-frame energy = sum of squares and
    per-frame zero-crossing count (sign change across consecutive samples
    WITHIN a frame; sign(x) = x < 0). The 14-bit fingerprint packs 7
    energy-gradient bits (frame f vs f+1 — the Haitsma-Kalker band-energy
    difference shape, over time frames) and 7 zcr-gradient bits."""
    c = samples.astype(np.int64) - 128
    frames = c.reshape(_AF_FRAMES, _AF_FRAME)
    energy = (frames * frames).sum(axis=1)
    neg = frames < 0
    zcr = (neg[:, 1:] != neg[:, :-1]).sum(axis=1)
    fp = 0
    for f in range(_AF_FRAMES - 1):
        fp |= int(energy[f] > energy[f + 1]) << f
        fp |= int(zcr[f] > zcr[f + 1]) << (_AF_FRAMES - 1 + f)
    return fp, int(zcr.sum()), int(energy.sum())


def multimodal_audio_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by integer fingerprint: decode every WAV
    FOR REAL (numpy RIFF parser) in mapInPandas, fingerprint each clip
    (14-bit energy/zcr gradient code), block candidates on exact fingerprint
    equality, then verify total energies within ``_AF_ENERGY_PCT``% of the
    larger (all-integer comparison — no float anywhere in the operator).

    Scale design: per-clip work is one narrow Arrow batch pass; the
    candidate join is an equi-join on the fingerprint key (2^14 buckets
    bound the fan-out; a production tuner widens the code to keep bucket
    occupancy ~1). The oracle rebuilds every bit from the sample
    construction rule: a chunk-walk, centering, or framing bug breaks it."""
    prints = _map_rows(
        attach_wav_audio(spark, sf_dir), ["doc_id", "content"],
        # REAL decode
        lambda doc_id, blob: (int(doc_id), *_audio_fingerprint(decode_audio(bytes(blob))[1])),
        "doc_id long, fp long, zcr long, energy long",
    ).localCheckpoint()  # decode once; both join sides reuse it
    a = prints.select(
        F.col("doc_id").alias("doc_a"), "fp", F.col("energy").alias("e_a")
    )
    b = prints.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fp").alias("fp_b"),
        F.col("energy").alias("e_b"),
    )
    return (
        a.join(b, (a["fp"] == b["fp_b"]) & (a["doc_a"] < b["doc_b"]))
        .filter(
            F.abs(F.col("e_a") - F.col("e_b")) * _AF_ENERGY_PCT
            <= F.greatest("e_a", "e_b")
        )
        .select("doc_a", "doc_b", "fp", "e_a", "e_b")
        .orderBy("doc_a", "doc_b")
    )


MULTIMODAL_AUDIO_MATCH_SQL = f"""
WITH wav AS (
  SELECT doc_id, rpad(text || ' ', {WAV_SAMPLES}, text || ' ') AS payload
  FROM documents WHERE doc_id % 3 = 1
),
s AS (
  SELECT doc_id, i, (i - 1) // {_AF_FRAME} AS f,
         ord(substr(payload, i, 1)) - 128 AS c
  FROM wav, UNNEST(generate_series(1, {WAV_SAMPLES})) AS t(i)
),
frame AS (
  SELECT doc_id, f, SUM(c * c) AS energy FROM s GROUP BY doc_id, f
),
zc AS (
  SELECT a.doc_id, a.f,
         SUM(CASE WHEN (a.c < 0) <> (b.c < 0) THEN 1 ELSE 0 END) AS zcr
  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.i = a.i + 1 AND a.i % {_AF_FRAME} <> 0
  GROUP BY a.doc_id, a.f
),
bits AS (
  SELECT e1.doc_id,
         SUM(CASE WHEN e1.energy > e2.energy THEN 1 ELSE 0 END << e1.f)
           + SUM(CASE WHEN z1.zcr > z2.zcr THEN 1 ELSE 0 END << ({_AF_FRAMES - 1} + e1.f))
           AS fp
  FROM frame e1
  JOIN frame e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
  JOIN zc z1 ON z1.doc_id = e1.doc_id AND z1.f = e1.f
  JOIN zc z2 ON z2.doc_id = e1.doc_id AND z2.f = e1.f + 1
  GROUP BY e1.doc_id
),
prints AS (
  SELECT b.doc_id, CAST(b.fp AS BIGINT) AS fp,
         CAST((SELECT SUM(energy) FROM frame fe WHERE fe.doc_id = b.doc_id) AS BIGINT)
           AS energy
  FROM bits b
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fp,
       a.energy AS e_a, b.energy AS e_b
FROM prints a JOIN prints b
  ON a.fp = b.fp AND a.doc_id < b.doc_id
WHERE abs(a.energy - b.energy) * {_AF_ENERGY_PCT} <= greatest(a.energy, b.energy)
ORDER BY doc_a, doc_b
"""


# --- Video scene-cut detection ----------------------------------------------

_CUT_THRESHOLD = 40 * _FRAME_PAYLOAD // 100  # jump > 0.4 brightness-units/pixel


def multimodal_video_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over the REAL-decoded frame sequence: a cut is a
    frame whose total-luminance jump from the previous frame exceeds
    ``_CUT_THRESHOLD`` (an all-integer per-pixel-scaled threshold). Emits
    per-video cut count, the largest jump, and the first cut's frame index
    (-1 when none) — the shot-boundary primitive video curation pipelines
    run before frame sampling.

    Integer-exact end to end: per-frame sums are ints, jumps are int
    differences, the threshold is a compile-time int. The oracle rebuilds
    every frame sum from the construction rule, so a frame-boundary or
    ordering bug breaks the match."""

    def row(doc_id, blob):
        frames = decode_video(bytes(blob))  # REAL decode
        sums = [int(f.astype(np.int64).sum()) for f in frames]
        jumps = [abs(b - a) for a, b in zip(sums, sums[1:])]
        cuts = [i + 1 for i, j in enumerate(jumps) if j > _CUT_THRESHOLD]
        return int(doc_id), len(cuts), max(jumps) if jumps else 0, cuts[0] if cuts else -1

    return _map_rows(
        attach_video(spark, sf_dir), ["doc_id", "content"], row,
        "doc_id long, n_cuts int, max_jump long, first_cut int",
    )


MULTIMODAL_SCENECUT_SQL = f"""
WITH v AS (
  SELECT doc_id, text || ' ' AS t FROM documents WHERE doc_id % 3 = 2
),
fr AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, {f} AS fidx, rpad(substr(t, {7 * f + 1}), {_FRAME_PAYLOAD}, t) AS payload FROM v"
    for f in range(VID_FRAMES)
  )}
),
fs AS (
  SELECT doc_id, fidx, SUM(ord(substr(payload, i, 1))) AS s
  FROM fr, UNNEST(generate_series(1, {_FRAME_PAYLOAD})) AS u(i)
  GROUP BY doc_id, fidx
),
jumps AS (
  SELECT doc_id, fidx,
         abs(s - LAG(s) OVER (PARTITION BY doc_id ORDER BY fidx)) AS jump
  FROM fs
)
SELECT doc_id,
       CAST(COUNT(CASE WHEN jump > {_CUT_THRESHOLD} THEN 1 END) AS INT) AS n_cuts,
       CAST(COALESCE(MAX(jump), 0) AS BIGINT) AS max_jump,
       CAST(COALESCE(MIN(CASE WHEN jump > {_CUT_THRESHOLD} THEN fidx END), -1) AS INT)
         AS first_cut
FROM jumps GROUP BY doc_id
"""


QUERIES: dict[str, tuple] = {
    "multimodal_bytes": (multimodal_bytes, MULTIMODAL_BYTES_SQL),
    "multimodal_phash_neardup": (multimodal_phash_neardup, MULTIMODAL_PHASH_SQL),
    "multimodal_audio_match": (multimodal_audio_match, MULTIMODAL_AUDIO_MATCH_SQL),
    "multimodal_video_scenecut": (multimodal_video_scenecut, MULTIMODAL_SCENECUT_SQL),
    "multimodal_decode_stats": (multimodal_decode_stats, MULTIMODAL_DECODE_SQL),
    "multimodal_png_stats": (multimodal_png_stats, MULTIMODAL_PNG_SQL),
    "multimodal_qoi_stats": (multimodal_qoi_stats, MULTIMODAL_QOI_SQL),
    "multimodal_jpeg_stats": (multimodal_jpeg_stats, MULTIMODAL_JPEG_SQL),
    "multimodal_jpeg420_stats": (multimodal_jpeg420_stats, MULTIMODAL_JPEG_SQL),
    "multimodal_jpeg_prog_stats": (multimodal_jpeg_prog_stats, MULTIMODAL_JPEG_PROG_SQL),
    "multimodal_jpeg_bytes": (multimodal_jpeg_bytes, MULTIMODAL_JPEG_BYTES_SQL),
    "multimodal_mjpeg_stats": (multimodal_mjpeg_stats, MULTIMODAL_MJPEG_SQL),
    "multimodal_mjpeg_p_stats": (multimodal_mjpeg_p_stats, MULTIMODAL_MJPEG_P_SQL),
    "multimodal_adpcm_stats": (multimodal_adpcm_stats, MULTIMODAL_ADPCM_SQL),
    "multimodal_gif_stats": (multimodal_gif_stats, MULTIMODAL_GIF_SQL),
    "multimodal_png_adam7_stats": (multimodal_png_adam7_stats, MULTIMODAL_PNG_SQL),
    "multimodal_flac_stats": (multimodal_flac_stats, MULTIMODAL_FLAC_SQL),
    "multimodal_audio_stats": (multimodal_audio_stats, MULTIMODAL_AUDIO_SQL),
    "multimodal_ulaw_stats": (multimodal_ulaw_stats, MULTIMODAL_ULAW_SQL),
    "multimodal_video_stats": (multimodal_video_stats, MULTIMODAL_VIDEO_SQL),
    "multimodal_resize_stats": (multimodal_resize_stats, MULTIMODAL_RESIZE_SQL),
}
