from __future__ import annotations

import numpy as np
import pytest

from drive_health_etl_spark.operators.multimodal import attach_media, decode_image


def test_decode_refuses_unknown_format():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG\r\n...")  # truncated PNG signature: no codec claims it


def test_decode_netpbm_real():
    import numpy as np

    # P6 RGB 2x2 with a header comment
    p6 = b"P6\n# test\n2 2\n255\n" + bytes(range(12))
    img = decode_image(p6)
    assert img.shape == (2, 2, 3)
    assert img[0, 0, 0] == 0 and img[1, 1, 2] == 11
    # P5 grayscale 3x2
    p5 = b"P5\n3 2\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    g = decode_image(p5)
    assert g.shape == (2, 3) and g[1, 2] == 60
    assert isinstance(img, np.ndarray)


def test_ppm_roundtrip_through_spark(spark, sf_dir):
    from drive_health_etl_spark.operators.multimodal import attach_ppm_images

    blob = bytes(attach_ppm_images(spark, sf_dir).first()["content"])
    img = decode_image(blob)  # real decode of the Spark-built blob
    assert img.ndim == 3 and img.shape[2] == 3


def test_attach_media_schema(spark, sf_dir):
    row = attach_media(spark, sf_dir).first()
    assert isinstance(row["content"], bytearray | bytes)
    assert row["byte_len"] == len(row["content"])
    assert row["modality"] in ("image", "audio", "video")


def test_decode_wav_real():
    from drive_health_etl_spark.operators.multimodal import (
        WAV_RATE,
        _wav_header,
        decode_audio,
    )

    blob = _wav_header() + bytes(range(256))
    rate, samples = decode_audio(blob)
    assert rate == WAV_RATE
    assert len(samples) == 256 and samples[255] == 255
    import pytest

    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3data....")


def test_decode_video_frame_walk():
    from drive_health_etl_spark.operators.multimodal import decode_video

    frame = b"P6\n2 2\n255\n" + bytes(range(12))
    frames = decode_video(frame * 3)
    assert len(frames) == 3
    assert all(f.shape == (2, 2, 3) for f in frames)
    assert frames[2][1, 1, 2] == 11
    import pytest

    with pytest.raises(ValueError):
        decode_video(frame + b"garbage")


def test_resize_nearest_neighbor():
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import resize_image

    img = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
    small = resize_image(img)
    assert small.shape == (3, 2, 3)  # ceil(5/2) x ceil(4/2)
    assert (small[0, 0] == img[0, 0]).all()
    assert (small[1, 1] == img[2, 2]).all()


def test_binary_file_source_feeds_real_decode(spark, sf_dir, tmp_path):
    """End-to-end real-file path: PPM blobs written as FILES on disk, read
    back through Spark's binaryFile source (path/length/content columns),
    decoded with the numpy NetPBM codec — the exact ingestion shape a
    production image corpus uses (files in object storage, opaque binary
    column + metadata in the DataFrame)."""
    import os

    from pyspark.sql import functions as F

    from drive_health_etl_spark.operators.multimodal import attach_ppm_images, decode_image

    blobs = attach_ppm_images(spark, sf_dir).limit(20).collect()
    img_dir = tmp_path / "imgs"
    os.makedirs(img_dir)
    for r in blobs:
        (img_dir / f"doc_{r['doc_id']:06d}.ppm").write_bytes(bytes(r["content"]))

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(str(img_dir))
        .select("path", "length", "content")
    )
    rows = df.collect()
    assert len(rows) == len(blobs)
    # binaryFile's length metadata matches the real file bytes
    assert all(r["length"] == len(bytes(r["content"])) for r in rows)
    # every file decodes through the REAL codec with the right raster shape
    by_id = {r["doc_id"]: bytes(r["content"]) for r in blobs}
    for r in rows:
        doc_id = int(os.path.basename(r["path"]).split("_")[1].split(".")[0])
        img = decode_image(bytes(r["content"]))
        assert img.shape == (doc_id % 12 + 4, doc_id % 16 + 4, 3)
        assert bytes(r["content"]) == by_id[doc_id]


def test_dhash_bands_known_answers():
    """dHash bit rule on crafted rasters: a left-to-right dark->bright
    gradient sets every comparable bit 0 (right cell brighter), the reverse
    gradient sets them 1, and a constant image sets none."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import _dhash_bands

    h, w = 16, 18  # every one of the 8x9 cells populated
    ramp = np.tile(np.arange(w, dtype=np.uint8) * 10, (h, 1))
    img_up = np.stack([ramp] * 3, axis=2)
    assert _dhash_bands(img_up) == [0, 0, 0, 0]
    img_down = img_up[:, ::-1, :]
    assert _dhash_bands(img_down) == [0xFFFF] * 4
    const = np.full((h, w, 3), 7, dtype=np.uint8)
    assert _dhash_bands(const) == [0, 0, 0, 0]


def test_dhash_empty_cells_are_zero_bits():
    """A 4x4 image leaves grid cells empty; empty-cell comparisons must be
    bit 0, never an exception or NaN-dependent."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import _dhash_bands

    img = np.random.default_rng(7).integers(0, 255, (4, 4, 3), dtype=np.uint8)
    bands = _dhash_bands(img)
    assert len(bands) == 4 and all(0 <= b <= 0xFFFF for b in bands)


def test_png_filter_vectors_match_rfc2083():
    """Hand-computed RFC 2083 filter vectors (not a round-trip, which a
    symmetric encode/decode bug would pass): Sub, Up, Average, and Paeth
    scanlines computed on paper, asserted against both directions."""
    from drive_health_etl_spark.operators.multimodal import (
        _paeth,
        _unfilter_scanline,
    )

    # Paeth predictor picks: a=0,b=100,c=0 -> 100; a=110,b=50,c=100 -> 50;
    # a=60,b=200,c=50 -> 200 (all worked by hand from the RFC definition)
    assert _paeth(0, 100, 0) == 100
    assert _paeth(110, 50, 100) == 50
    assert _paeth(60, 200, 50) == 200
    # Sub, bpp=1: raw [1,2,3] -> filtered [1,1,1]
    cur = bytearray([1, 1, 1])
    _unfilter_scanline(1, cur, bytes(3), 1)
    assert bytes(cur) == bytes([1, 2, 3])
    # Up: raw [5,6,7] over prev [1,2,3] -> filtered [4,4,4]
    cur = bytearray([4, 4, 4])
    _unfilter_scanline(2, cur, bytes([1, 2, 3]), 1)
    assert bytes(cur) == bytes([5, 6, 7])
    # Average: raw [10,20,30] over prev [4,8,12] -> filtered [8,11,14]
    cur = bytearray([8, 11, 14])
    _unfilter_scanline(3, cur, bytes([4, 8, 12]), 1)
    assert bytes(cur) == bytes([10, 20, 30])
    # Paeth: raw [110,60,190] over prev [100,50,200] -> filtered [10,10,246]
    cur = bytearray([10, 10, 246])
    _unfilter_scanline(4, cur, bytes([100, 50, 200]), 1)
    assert bytes(cur) == bytes([110, 60, 190])


def test_png_roundtrip_real_codec():
    """encode_png -> decode_image recovers every pixel for RGB and gray,
    across sizes that exercise all 5 filter types and edge rows/cols."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import decode_image, encode_png

    rng = np.random.default_rng(11)
    for shape in [(4, 19, 3), (15, 4, 3), (8, 8), (1, 1, 3), (6, 1)]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        out = decode_image(bytes(encode_png(img)))
        assert out.shape == img.shape and (out == img).all()


def test_png_corrupt_crc_refused():
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.multimodal import decode_image, encode_png

    blob = bytearray(encode_png(np.zeros((4, 4, 3), dtype=np.uint8)))
    blob[40] ^= 0xFF  # flip a byte inside a chunk payload
    with pytest.raises(ValueError, match="CRC"):
        decode_image(bytes(blob))


def test_jpeg_dct_matches_direct_definition():
    """The codec's DCT matrix against a direct O(n^4) transcription of the
    DCT-II definition — an independent math path, not a round-trip."""
    import numpy as np

    from drive_health_etl_spark.operators.jpeg_codec import _dct2, _idct2

    rng = np.random.default_rng(3)
    b = rng.uniform(-128, 127, (8, 8))
    ref = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            ku = 1 / np.sqrt(2) if u == 0 else 1.0
            kv = 1 / np.sqrt(2) if v == 0 else 1.0
            s = sum(
                b[x, y]
                * np.cos((2 * x + 1) * u * np.pi / 16)
                * np.cos((2 * y + 1) * v * np.pi / 16)
                for x in range(8)
                for y in range(8)
            )
            ref[u, v] = 0.25 * ku * kv * s
    assert np.abs(_dct2(b) - ref).max() < 1e-9
    assert np.abs(_idct2(_dct2(b)) - b).max() < 1e-9


def test_jpeg_roundtrip_error_bounds():
    """Constant images decode exactly; smooth images decode near-losslessly;
    uniform noise (JPEG's worst case) stays within the quantization bound."""
    import numpy as np

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    const = np.full((16, 16, 3), 97, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(const))
    assert out.shape == const.shape and np.abs(out.astype(int) - 97).max() == 0

    x, y = np.linspace(0, 4, 40), np.linspace(0, 3, 30)
    smooth = (127 + 100 * np.outer(np.sin(y), np.cos(x))).astype(np.uint8)
    smooth3 = np.stack([smooth] * 3, axis=2)
    out = decode_jpeg(encode_jpeg(smooth3))
    assert ((out.astype(float) - smooth3) ** 2).mean() < 10

    rng = np.random.default_rng(11)
    noise = rng.integers(0, 256, (24, 37, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(noise))
    assert out.shape == noise.shape
    assert ((out.astype(float) - noise) ** 2).mean() < 150

    gray = rng.integers(0, 256, (9, 13), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(gray))
    assert out.shape == gray.shape and ((out.astype(float) - gray) ** 2).mean() < 150


def test_jpeg_decoder_refuses_unsupported():
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # flip SOF0 -> SOF2 (progressive) in a real blob
    blob = bytearray(encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8)))
    idx = bytes(blob).find(b"\xff\xc0")
    blob[idx + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(bytes(blob))


def test_jpeg_dispatch_through_decode_image():
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import decode_image
    from drive_health_etl_spark.operators.jpeg_codec import encode_jpeg

    img = np.full((8, 8, 3), 42, dtype=np.uint8)
    assert (decode_image(bytes(encode_jpeg(img))) == img).all()


def test_jpeg_zigzag_matches_itu_t81():
    """The zigzag table pinned against ITU T.81 Figure A.6 verbatim — a
    transposed variant round-trips against itself but garbles interop with
    every real codec, so the table is asserted, not derived-twice."""
    from drive_health_etl_spark.operators.jpeg_codec import _ZIGZAG

    full = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert list(_ZIGZAG) == full


def test_jpeg_fill_bytes_before_marker_accepted():
    """T.81 B.1.1.2 allows 0xFF fill bytes before any marker; insert some
    before DQT and the decoder must still parse (real cameras emit them)."""
    import numpy as np

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    img = np.full((8, 8, 3), 55, dtype=np.uint8)
    blob = encode_jpeg(img)
    idx = blob.find(b"\xff\xdb")
    padded = blob[:idx] + b"\xff\xff\xff" + blob[idx:]
    out = decode_jpeg(padded)
    assert out.shape == img.shape and (out == img).all()


def test_jpeg_420_and_restart_roundtrip():
    """4:2:0 + restart intervals: constant images exact, smooth images
    near-lossless, restart marker sequence verified (a decoder that skips
    DC reset or marker order fails loudly, not subtly)."""
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    const = np.full((18, 22, 3), 77, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(const, subsampling="420", restart_interval=2))
    assert out.shape == const.shape and np.abs(out.astype(int) - 77).max() == 0

    x, y = np.linspace(0, 4, 40), np.linspace(0, 3, 30)
    smooth = (127 + 100 * np.outer(np.sin(y), np.cos(x))).astype(np.uint8)
    s3 = np.stack([smooth] * 3, axis=2)
    out = decode_jpeg(encode_jpeg(s3, subsampling="420", restart_interval=1))
    assert out.shape == s3.shape
    assert ((out.astype(float) - s3) ** 2).mean() < 10

    # corrupt a restart marker's sequence number -> decoder must refuse
    blob = bytearray(encode_jpeg(s3, subsampling="420", restart_interval=1))
    idx = bytes(blob).find(b"\xff\xd0")  # first RST0 in the entropy stream
    assert idx > 0
    blob[idx + 1] = 0xD5  # RST0 -> RST5, out of sequence
    with pytest.raises(ValueError, match="restart sequence"):
        decode_jpeg(bytes(blob))


def test_jpeg_rejects_unsupported_sampling():
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    with pytest.raises(NotImplementedError, match="444/420"):
        encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8), subsampling="422")
    # hand-patch a 4:2:0 blob's SOF to claim 4:2:2 -> decoder refuses
    blob = bytearray(encode_jpeg(np.zeros((16, 16, 3), dtype=np.uint8), subsampling="420"))
    sof = bytes(blob).find(b"\xff\xc0")
    assert blob[sof + 11] == 0x22  # Y sampling byte
    blob[sof + 11] = 0x21  # claim 4:2:2
    with pytest.raises(NotImplementedError, match="sampling factors"):
        decode_jpeg(bytes(blob))


def test_jpeg_fill_bytes_before_restart_marker():
    """T.81 B.1.1.2 also permits 0xFF fill bytes INSIDE the entropy-coded
    segment before an RSTm marker; encoders that pad restart boundaries
    must still decode (ADVICE round 3)."""
    import numpy as np

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    img = np.full((18, 22, 3), 77, dtype=np.uint8)
    blob = encode_jpeg(img, subsampling="420", restart_interval=2)
    idx = blob.find(b"\xff\xd0")  # first RST0 in the entropy stream
    assert idx > 0
    padded = blob[:idx] + b"\xff\xff" + blob[idx:]
    out = decode_jpeg(padded)
    assert out.shape == img.shape and np.abs(out.astype(int) - 77).max() == 0


def test_jpeg_standalone_markers_in_header():
    """TEM (0xFF01) and stray RSTm carry NO length field (T.81 B.1.1.3-4);
    the header walk must skip them instead of reading image bytes as a
    segment length (ADVICE round 3)."""
    import numpy as np

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg

    img = np.full((8, 8, 3), 55, dtype=np.uint8)
    blob = encode_jpeg(img)
    idx = blob.find(b"\xff\xdb")
    padded = blob[:idx] + b"\xff\x01" + b"\xff\xd3" + blob[idx:]
    out = decode_jpeg(padded)
    assert out.shape == img.shape and (out == img).all()


def test_jpeg_pinned_byte_digests():
    """Recompute every pinned entropy-stream digest from the construction
    rule, independent of Spark — keeps the literals in
    MULTIMODAL_JPEG_BYTES_SQL honest (a codec change must update BOTH or
    fail here AND at the oracle gate)."""
    import hashlib

    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg
    from drive_health_etl_spark.operators.multimodal import _JPEG_BYTE_PINS, jpeg_pin_raster

    assert len(_JPEG_BYTE_PINS) == 20
    for doc_id, variant, pinned in _JPEG_BYTE_PINS:
        img = jpeg_pin_raster(doc_id)
        blob = (
            encode_jpeg(img)
            if variant == "444"
            else encode_jpeg(img, subsampling="420", restart_interval=2)
        )
        assert hashlib.sha256(blob).hexdigest() == pinned, (doc_id, variant)
        assert decode_jpeg(blob).shape == img.shape


def test_avi_mjpeg_roundtrip_and_container_layout():
    """MJPEG AVI: RIFF magic + hdrl geometry + idx1 agree with the stream;
    constant frames reconstruct exactly; corrupt index / truncated header
    refused loudly."""
    import struct

    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.avi_codec import decode_avi_mjpeg, encode_avi_mjpeg

    frames = [np.full((12, 16, 3), 40 + 30 * f, dtype=np.uint8) for f in range(4)]
    blob = encode_avi_mjpeg(frames, fps=10)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    out, meta = decode_avi_mjpeg(blob)
    assert meta == {"n_frames": 4, "width": 16, "height": 12, "usec_per_frame": 100000}
    for f, o in zip(frames, out):
        assert ((o.astype(float) - f) ** 2).mean() < 1.0  # constant blocks ~exact

    # 4:2:0 frame variant decodes through the same container walk
    x = (np.arange(16 * 12 * 3).reshape(12, 16, 3) % 251).astype(np.uint8)
    out2, meta2 = decode_avi_mjpeg(encode_avi_mjpeg([x, x[::-1].copy()], quality_444=False))
    assert meta2["n_frames"] == 2 and len(out2) == 2

    with pytest.raises(ValueError, match="RIFF"):
        decode_avi_mjpeg(b"not an avi at all")

    bad = bytearray(blob)
    i = bytes(bad).find(b"idx1")
    bad[i + 4 : i + 8] = struct.pack("<I", 16)  # index claims 1 entry for 4 frames
    with pytest.raises(ValueError, match="idx1"):
        decode_avi_mjpeg(bytes(bad))

    bad2 = bytearray(blob)
    j = bytes(bad2).find(b"avih")
    bad2[j + 8 + 16 : j + 8 + 20] = struct.pack("<I", 9)  # dwTotalFrames=9
    with pytest.raises(ValueError, match="frames"):
        decode_avi_mjpeg(bytes(bad2))


def test_ima_adpcm_roundtrip_and_container():
    """IMA ADPCM: constant input reconstructs exactly, correlated input
    within quantization error, container parse (fmt 0x0011 + fact) honored,
    corrupt index / missing fact refused loudly."""
    import struct

    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.adpcm_codec import decode_wav_ima, encode_wav_ima

    const = np.full(256, 1234, dtype=np.int16)
    out, rate = decode_wav_ima(encode_wav_ima(const, 8000))
    assert rate == 8000 and len(out) == 256 and (out == const).all()

    sine = (np.sin(np.linspace(0, 20, 300)) * 20000).astype(np.int16)  # 2 blocks
    blob = encode_wav_ima(sine, 16000)
    out, rate = decode_wav_ima(blob)
    assert rate == 16000 and len(out) == 300
    assert np.sqrt(((out.astype(float) - sine) ** 2).mean()) < 1500

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav_ima(b"nope")

    bad = bytearray(blob)
    i = bytes(bad).find(b"data") + 8 + 2  # first block's step-index byte
    bad[i] = 200  # index > 88
    with pytest.raises(ValueError, match="step index"):
        decode_wav_ima(bytes(bad))

    nofact = bytearray(blob)
    j = bytes(nofact).find(b"fact")
    nofact[j : j + 4] = b"junk"
    with pytest.raises(ValueError, match="fact"):
        decode_wav_ima(bytes(nofact))


def test_gif_lzw_roundtrip_and_refusals():
    """GIF87a: index rasters round-trip bit-exactly through the hand-written
    variable-width LZW (dictionary growth, 4096-code CLEAR, KwKwK case);
    89a extension blocks are skipped; interlace/local palettes refuse."""
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.gif_codec import decode_gif, encode_gif

    rng = np.random.RandomState(3)
    gray = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    for idx in (
        rng.randint(0, 256, (13, 17)).astype(np.uint8),          # noise
        np.full((8, 8), 7, dtype=np.uint8),                       # constant
        np.tile(rng.randint(0, 4, (4, 4)), (20, 20)).astype(np.uint8),  # repeats
        rng.randint(0, 256, (120, 130)).astype(np.uint8),         # >4095 codes
    ):
        out, pal = decode_gif(encode_gif(idx, gray))
        assert (out == idx).all() and (pal == gray).all()

    pal4 = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
    idx4 = rng.randint(0, 4, (50, 60)).astype(np.uint8)
    out, _ = decode_gif(encode_gif(idx4, pal4))
    assert (out == idx4).all()

    blob = encode_gif(idx4, pal4)
    # 89a stream with a graphics-control extension before the image: skipped
    ext = b"GIF89a" + blob[6:13 + 3 * 4] + b"\x21\xf9\x04\x00\x00\x00\x00\x00" + blob[13 + 3 * 4:]
    out, _ = decode_gif(ext)
    assert (out == idx4).all()

    with pytest.raises(ValueError, match="GIF87a"):
        decode_gif(b"not a gif")
    interlaced = bytearray(blob)
    img = bytes(interlaced).find(b"\x2c")
    interlaced[img + 9] |= 0x40
    with pytest.raises(NotImplementedError, match="interlaced"):
        decode_gif(bytes(interlaced))


def test_png_adam7_roundtrip_edge_shapes():
    """Adam7 interlace: exact round-trip including shapes where whole
    passes are absent (1x1, 3-row, 2-col) — the pass grid, per-pass filter
    state, and scatter must all be exact."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import _decode_png, encode_png

    rng = np.random.RandomState(5)
    for img in (
        rng.randint(0, 256, (13, 17, 3)).astype(np.uint8),
        rng.randint(0, 256, (9, 31)).astype(np.uint8),   # gray
        rng.randint(0, 256, (1, 1, 3)).astype(np.uint8),  # most passes empty
        rng.randint(0, 256, (3, 64, 3)).astype(np.uint8),
        rng.randint(0, 256, (64, 2)).astype(np.uint8),
        rng.randint(0, 256, (8, 8, 3)).astype(np.uint8),
    ):
        out = _decode_png(encode_png(img, interlace=True))
        assert out.shape == img.shape and (out == img).all()


def test_adam7_pass_grid_covers_every_pixel():
    """The 7 passes must tile the full image with no gap and no overlap for
    arbitrary dimensions — the bug class where a wrong pass origin leaves
    np.empty garbage in 'decoded' pixels (round-trips can mask it via
    buffer reuse; this test cannot be fooled that way)."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import _ADAM7

    for h, w in ((1, 1), (4, 4), (7, 5), (8, 8), (13, 17), (3, 64)):
        hit = np.zeros((h, w), dtype=int)
        for x0, y0, xs, ys in _ADAM7:
            hit[y0::ys, x0::xs] += 1
        assert (hit == 1).all(), (h, w)


def test_flac_roundtrip_and_integrity_gates():
    """Subset FLAC: bit-exact round-trip over every subframe class
    (constant, fixed orders via sine/ramp/noise), multi-frame streams,
    and all three integrity gates (CRC-8, CRC-16, STREAMINFO PCM MD5)
    rejecting corruption."""
    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.flac_codec import decode_flac, encode_flac

    rng = np.random.RandomState(11)
    for s in (
        (np.sin(np.linspace(0, 80, 9000)) * 20000).astype(np.int16),   # order>0
        np.full(5000, -321, dtype=np.int16),                            # constant
        rng.randint(-32768, 32767, 3000).astype(np.int16),              # k=14 cap
        np.arange(-2000, 2000, dtype=np.int16),                         # ramp
        np.array([5], dtype=np.int16),                                  # 1 sample
        (np.sin(np.linspace(0, 300, 13000)) * 15000).astype(np.int16),  # 4 frames
    ):
        out, rate = decode_flac(encode_flac(s, 8000))
        assert rate == 8000 and (out == s).all()

    blob = bytearray(encode_flac((np.sin(np.linspace(0, 80, 9000)) * 20000).astype(np.int16), 8000))
    blob[150] ^= 0x40  # flip a residual bit
    with pytest.raises(ValueError, match="CRC-16|MD5"):
        decode_flac(bytes(blob))
    with pytest.raises(ValueError, match="fLaC"):
        decode_flac(b"not flac")


def test_jpeg_progressive_parity_is_bit_exact():
    """Progressive (SOF2) and baseline (SOF0) encoders share the SAME
    quantized coefficient array, so their decodes must be IDENTICAL per
    pixel — a symmetric entropy-coding bug (EOB-run accounting,
    correction-bit ordering) breaks this even when the image looks fine."""
    from drive_health_etl_spark.operators.jpeg_codec import decode_jpeg, encode_jpeg
    from drive_health_etl_spark.operators.jpeg_progressive import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    rng = np.random.RandomState(3)
    cases = [
        np.full((40, 56, 3), 128, np.uint8),                     # max EOB runs
        (np.indices((33, 47)).sum(0) % 2 * 255).astype(np.uint8),  # dense AC
        rng.randint(0, 256, (13, 19, 3)).astype(np.uint8),       # noise RGB
        rng.randint(0, 256, (24, 24)).astype(np.uint8),          # noise gray
        rng.randint(0, 256, (1, 1, 3)).astype(np.uint8),         # single pixel
        np.kron(rng.randint(0, 256, (3, 3, 3)), np.ones((16, 16, 1)))
        .astype(np.uint8)[:41, :37],                             # smooth, EOBRUN-heavy
    ]
    for img in cases:
        base = decode_jpeg(encode_jpeg(img))
        blob = encode_jpeg_progressive(img)
        assert blob[:2] == b"\xff\xd8" and b"\xff\xc2" in blob[:200]  # SOF2 present
        prog = decode_jpeg_progressive(blob)
        assert np.array_equal(base, prog), img.shape


def test_jpeg_progressive_dispatch_and_refusals():
    from drive_health_etl_spark.operators.jpeg_codec import encode_jpeg
    from drive_health_etl_spark.operators.jpeg_progressive import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )
    from drive_health_etl_spark.operators.multimodal import decode_image

    img = np.arange(11 * 14 * 3, dtype=np.uint8).reshape(11, 14, 3)
    # decode_image routes SOF2 blobs to the progressive decoder
    out = decode_image(encode_jpeg_progressive(img))
    assert out.shape == (11, 14, 3)
    # the progressive decoder refuses baseline streams (they belong to
    # decode_jpeg) instead of guessing
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg_progressive(encode_jpeg(img))


def test_jpeg_progressive_scan_validator_rejects_illegal_scripts():
    """T.81 G.1.1.1.1 legality checked independently of the codec — the
    Adam7 lesson: symmetric encode/decode bugs pass round-trips, so interop
    tables/scripts need a validator that cannot be fooled by symmetry."""
    from drive_health_etl_spark.operators.jpeg_progressive import _validate_scans

    good = [
        ([0], 0, 0, 0, 1),
        ([0], 1, 63, 0, 1),
        ([0], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0),
    ]
    _validate_scans(good, 1)
    bad_scripts = [
        ([([0], 1, 63, 0, 0), ([0], 0, 0, 0, 0)], "AC scan before its DC"),  # AC first
        ([([0], 0, 0, 0, 0), ([0], 2, 63, 0, 0)], "never refined"),          # gap at k=1
        ([([0], 0, 0, 0, 0), ([0], 1, 63, 0, 0), ([0], 1, 5, 0, 0)], "duplicate"),
        ([([0], 0, 0, 0, 1), ([0], 1, 63, 0, 0)], "never refined"),          # DC stuck at Al=1
        ([([0], 0, 0, 0, 2), ([0], 0, 0, 1, 0), ([0], 1, 63, 0, 0)], "refinement Ah=1"),  # skip Al level
        ([([0, 1], 1, 63, 0, 0)], "single-component"),
        ([([0], 0, 5, 0, 0)], "DC and AC"),
    ]
    for scans, msg in bad_scripts:
        with pytest.raises(ValueError, match=msg):
            _validate_scans(scans, 2)


def test_jpeg_progressive_pinned_byte_digests():
    """The progressive encoder is fully deterministic (embedded tables,
    fixed scan script): pin the whole-stream sha256 for two fixture rasters
    so a silent bitstream regression cannot hide behind decode symmetry."""
    import hashlib

    from drive_health_etl_spark.operators.jpeg_progressive import encode_jpeg_progressive
    from drive_health_etl_spark.operators.multimodal import jpeg_pin_raster

    pins = {
        0: "4c1777b48d30df3a4d963c2d9f3ff773373348ce46ae078492d5c99ca52bbd5c",
        9: "fb422a1561aefbe4b9c0cdf9c8fdb393c459a585ff7df630b826c973573da4a9",
    }
    for doc_id, pinned in pins.items():
        blob = encode_jpeg_progressive(jpeg_pin_raster(doc_id))
        assert hashlib.sha256(blob).hexdigest() == pinned, doc_id


def test_qoi_roundtrip_and_container():
    """QOI (qoiformat.org): every op class exercised — runs (constant),
    INDEX (small palette), DIFF/LUMA (smooth ramps), literal RGB (noise) —
    all must round-trip exactly; container gates (magic, end marker,
    truncation) must fail loudly."""
    from drive_health_etl_spark.operators.qoi_codec import decode_qoi, encode_qoi
    from drive_health_etl_spark.operators.multimodal import decode_image

    rng = np.random.RandomState(9)
    cases = [
        np.zeros((7, 9, 3), np.uint8),                              # one long run
        (rng.randint(0, 4, (50, 50, 3)) * 80).astype(np.uint8),     # INDEX-heavy
        (np.indices((64, 64)).sum(0) % 256).astype(np.uint8)[..., None].repeat(3, 2),  # DIFF/LUMA ramps
        rng.randint(0, 256, (31, 17, 3)).astype(np.uint8),          # literal-heavy
        np.arange(3, dtype=np.uint8).reshape(1, 1, 3),              # single pixel
    ]
    for img in cases:
        blob = encode_qoi(img)
        assert blob[:4] == b"qoif" and blob[-8:] == b"\x00" * 7 + b"\x01"
        assert np.array_equal(decode_qoi(blob), img)
        assert np.array_equal(decode_image(blob), img)  # dispatch by magic

    with pytest.raises(ValueError, match="magic"):
        decode_qoi(b"nope" + b"\x00" * 20)
    blob = encode_qoi(cases[2])
    with pytest.raises(ValueError, match="truncated|end marker"):
        decode_qoi(blob[:-10])


def test_ulaw_codec_properties():
    """G.711 mu-law: half-step error bound per exponent, idempotence on the
    full 256-code lattice, and the canonical anchor points."""
    from drive_health_etl_spark.operators.g711_codec import decode_ulaw, encode_ulaw

    rng = np.random.RandomState(3)
    x = rng.randint(-32768, 32768, 50000).astype(np.int16)
    dec = decode_ulaw(encode_ulaw(x))
    err = np.abs(dec.astype(np.int64) - np.clip(x.astype(np.int64), -32635, 32635))
    b = np.frombuffer(encode_ulaw(x), dtype=np.uint8).astype(np.int32)
    e = (((~b) & 0xFF) >> 4) & 7
    assert (err <= (1 << (e + 2))).all()  # half a quantization step
    # idempotent on the code lattice: decode o encode o decode == decode
    lattice = decode_ulaw(bytes(range(256)))
    assert np.array_equal(decode_ulaw(encode_ulaw(lattice)), lattice)
    assert decode_ulaw(encode_ulaw(np.array([0], np.int16)))[0] == 0
    assert decode_ulaw(encode_ulaw(np.array([32767], np.int16)))[0] == 32124
    assert decode_ulaw(encode_ulaw(np.array([-32768], np.int16)))[0] == -32124


def test_avi_lossless_p_roundtrip_exact_and_accounting():
    """DIB+LP01 AVI: every frame reconstructs BYTE-EXACT (the property the
    SQL oracle leans on); skip/delta accounting matches the encoder's block
    decisions; container failure modes refuse loudly."""
    import struct

    import numpy as np
    import pytest

    from drive_health_etl_spark.operators.avi_codec import (
        LP_BLOCK,
        decode_avi_lossless_p,
        encode_avi_lossless_p,
    )

    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, (12, 16, 3), dtype=np.uint8)
    f1 = base.copy()
    f1[0:8, 8:16] = rng.randint(0, 256, (8, 8, 3), dtype=np.uint8)  # block 1 only
    f2 = f1.copy()  # identical -> ALL blocks skipped
    frames = [base, f1, f2]
    blob = encode_avi_lossless_p(frames, fps=10)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"AVI "
    out, meta = decode_avi_lossless_p(blob)
    assert meta["n_frames"] == 3 and meta["width"] == 16 and meta["height"] == 12
    for f, o in zip(frames, out):
        assert np.array_equal(f, o)  # lossless: byte-exact, not bounded
    # 16x12 has 4 blocks; frame1 transmits 1 (3 skipped), frame2 none (4 skipped)
    assert meta["n_skipped_blocks"] == 7
    expected_delta = int(
        ((f1[0:8, 8:16].astype(np.int16) - base[0:8, 8:16].astype(np.int16)) % 256).sum()
    )
    assert meta["sum_delta"] == expected_delta

    # edge-cropped geometry (not multiples of LP_BLOCK) still roundtrips
    odd = [rng.randint(0, 256, (11, 13, 3), dtype=np.uint8) for _ in range(3)]
    out2, meta2 = decode_avi_lossless_p(encode_avi_lossless_p(odd))
    assert all(np.array_equal(a, b) for a, b in zip(odd, out2))
    assert meta2["width"] == 13 and meta2["height"] == 11
    assert LP_BLOCK == 8  # grid contract the SQL oracle mirrors

    with pytest.raises(ValueError, match="RIFF"):
        decode_avi_lossless_p(b"junk")

    bad = bytearray(blob)
    i = bytes(bad).find(b"avih")
    bad[i + 8 + 16 : i + 8 + 20] = struct.pack("<I", 9)  # dwTotalFrames lies
    with pytest.raises(ValueError, match="frames"):
        decode_avi_lossless_p(bytes(bad))

    # truncated P-frame delta payload refused (not silently zero-filled)
    tail = bytearray(blob)
    j = bytes(tail).rfind(b"00dc")
    (size,) = struct.unpack("<I", tail[j + 4 : j + 8])
    if size > 0:
        tail[j + 4 : j + 8] = struct.pack("<I", max(10, size - 4))
        with pytest.raises(ValueError):
            decode_avi_lossless_p(bytes(tail))

    # payload cut INSIDE the skip bitmap: descriptive ValueError, not a
    # bare IndexError from bitmap[b // 8]
    from drive_health_etl_spark.operators.avi_codec import (
        _lp_decode_pframe,
        _lp_encode_pframe,
    )

    prev, nxt = odd[0], odd[1]
    pf = _lp_encode_pframe(prev, nxt)
    with pytest.raises(ValueError, match="skip bitmap truncated"):
        _lp_decode_pframe(pf[:10], prev)  # header only, bitmap cut off


def test_lp_frame_payload_matches_oracle_rule():
    """The Python raster rule used to build P-frame fixtures mirrors the
    SQL construction byte for byte: frame 0 is the rpad base; frame f
    repaints exactly block f from the 7f-shifted payload."""
    import numpy as np

    from drive_health_etl_spark.operators.multimodal import (
        MJPEG_H,
        MJPEG_W,
        _lp_frame_payload,
    )

    text = "the quick brown fox jumps over the lazy dog"
    src = text + " "
    pay = lambda off: (
        (src[off:] + src * 40)[: MJPEG_W * MJPEG_H * 3].encode()
    )
    f0 = np.frombuffer(_lp_frame_payload(text, 0), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    assert f0.tobytes() == pay(0)
    f1 = np.frombuffer(_lp_frame_payload(text, 1), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    base = np.frombuffer(pay(0), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    sh1 = np.frombuffer(pay(7), dtype=np.uint8).reshape(MJPEG_H, MJPEG_W, 3)
    assert np.array_equal(f1[0:8, 8:16], sh1[0:8, 8:16])  # block 1 repainted
    mask = np.ones((MJPEG_H, MJPEG_W), dtype=bool)
    mask[0:8, 8:16] = False
    assert np.array_equal(f1[mask], base[mask])  # everything else untouched
