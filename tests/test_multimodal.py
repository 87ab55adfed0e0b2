"""Multimodal tests: the REAL pure-Python image codecs — BMP, PNG
(all color types/depths/interlace) and baseline JPEG — and their
mapInArrow decode kernels; the gated JPEG modes raise
DecodeUnavailable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_bmp_roundtrip_against_python_reference(spark):
    """bmp_column (JVM binary construction) must produce bytes that a
    PURE-PYTHON struct.pack reference reproduces exactly, and
    parse_bmp_header must read the fields back out — hypothesis-style
    sweep over widths/heights/payload sizes incl. edge values."""
    import struct

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    def py_bmp(width, height, payload):
        return (
            b"BM"
            + struct.pack("<I", len(payload) + 54)
            + b"\x00\x00\x00\x00"
            + struct.pack("<I", 54)
            + struct.pack("<I", 40)
            + struct.pack("<ii", width, height)
            + b"\x01\x00\x18\x00"
            + struct.pack("<I", 0)
            + struct.pack("<I", len(payload))
            + struct.pack("<I", 2835) * 2
            + struct.pack("<I", 0) * 2
            + payload
        )

    cases = [
        (1, 1, b""),
        (255, 1, b"x"),
        (256, 128, b"hello world"),
        (65537, 300, bytes(range(256))),
        (12345, 4096, b"\x00" * 100),
        # top-down BMPs carry a NEGATIVE height — two's-complement
        # little-endian serialization must hold (pmod, not %, in _le4)
        (64, -48, b"topdown"),
        (2, -2, b"ab"),
    ]
    df = spark.createDataFrame(
        [(i, w, h, p) for i, (w, h, p) in enumerate(cases)],
        "media_id long, w int, h int, payload binary",
    ).select(
        "media_id",
        mm.bmp_column(F.col("w"), F.col("h"), F.col("payload")).alias("payload"),
    )
    got = {r["media_id"]: bytes(r["payload"]) for r in df.collect()}
    for i, (w, h, p) in enumerate(cases):
        assert got[i] == py_bmp(w, h, p), f"case {i}: JVM bytes != python reference"
        assert mm.parse_bmp_header(got[i]) == (w, h, len(p))

    out = {r["media_id"]: r for r in mm.decode_bmp(df).collect()}
    for i, (w, h, p) in enumerate(cases):
        assert (out[i]["width"], out[i]["height"], out[i]["n_bytes"]) == (w, h, len(p))


def test_parse_bmp_rejects_garbage(spark):
    import pytest as _pytest

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    with _pytest.raises(ValueError):
        mm.parse_bmp_header(b"\x89PNG" + b"\x00" * 60)


# ---------------------------------------------------------------------------
# PNG codec (r9): real zlib + filters + CRC chunks, no PIL
# ---------------------------------------------------------------------------


def _planted_px(h=14, w=20, seed=3):
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 5 + seed) % 256, (y * 9 + seed) % 256, (x * y + seed) % 256], axis=-1
    ).astype(np.uint8)


def test_png_roundtrip_exact():
    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    px = _planted_px()
    buf = mm._encode_png_py(px)
    assert buf[:8] == mm.PNG_MAGIC
    w, h, got = mm._decode_png_pixels(buf)
    assert (w, h) == (20, 14)
    np.testing.assert_array_equal(got, px)


def test_png_decoder_handles_all_filter_types():
    """The decoder must read files REAL encoders wrote: build an IDAT
    whose rows cycle through filters Sub/Up/Average/Paeth/None (the
    forward-filter transform implemented here in the test, per the PNG
    spec), and require exact pixel reconstruction."""
    import struct
    import zlib

    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    px = _planted_px(h=15, w=9, seed=7)
    h, w, bpp = px.shape[0], px.shape[1], 3
    flat = px.reshape(h, w * bpp).astype(np.int32)
    raw = bytearray()
    for y in range(h):
        ft = [1, 2, 3, 4, 0][y % 5]
        prev = flat[y - 1] if y else np.zeros(w * bpp, np.int32)
        line = np.zeros(w * bpp, dtype=np.int32)
        for x in range(w * bpp):
            a = flat[y][x - bpp] if x >= bpp else 0
            bup = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = bup
            elif ft == 3:
                pred = (a + bup) // 2
            else:
                p = a + bup - c
                pa_, pb_, pc_ = abs(p - a), abs(p - bup), abs(p - c)
                pred = a if (pa_ <= pb_ and pa_ <= pc_) else (bup if pb_ <= pc_ else c)
            line[x] = (flat[y][x] - pred) & 0xFF
        raw.append(ft)
        raw.extend(line.astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + mm._png_chunk(b"IEND", b"")
    )
    got_w, got_h, got = mm._decode_png_pixels(buf)
    np.testing.assert_array_equal(got, px)


def test_png_multi_idat_and_error_surface():
    import struct
    import zlib

    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    px = _planted_px(h=6, w=4)
    # split the compressed stream across two IDAT chunks — legal PNG
    h, w = 6, 4
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    z = zlib.compress(raw)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", z[:7])
        + mm._png_chunk(b"IDAT", z[7:])
        + mm._png_chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(mm._decode_png_pixels(buf)[2], px)

    # CRC corruption is a decode error, not garbage pixels
    good = mm._encode_png_py(px)
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # inside IEND's CRC
    with pytest.raises(ValueError, match="CRC mismatch"):
        mm._decode_png_pixels(bytes(bad))
    # r10: gray DECODES now — but a stream whose scanline bytes
    # disagree with the declared color type (RGB-sized rows under a
    # gray header) must fail loudly, not decode garbage
    gray_ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    gbuf = (
        mm.PNG_MAGIC
        + mm._png_chunk(b"IHDR", gray_ihdr)
        + mm._png_chunk(b"IDAT", z)
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="scanline data"):
        mm._decode_png_pixels(gbuf)
    with pytest.raises(ValueError, match="not a PNG"):
        mm._decode_png_pixels(b"nope")


def test_png_spark_decode_and_resize(spark):
    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    y, x = np.mgrid[0:14, 0:20]

    def px(i):
        return np.stack(
            [(x * 7 + i) % 256, (y * 11 + 2 * i) % 256, (x + y + 3 * i) % 256],
            -1,
        ).astype(np.uint8)

    df = spark.createDataFrame(
        [(i, bytearray(mm._encode_png_py(px(i)))) for i in range(12)],
        "media_id long, payload binary",
    ).repartition(4)
    stats = {r["media_id"]: r for r in mm.decode_png(df).collect()}
    assert len(stats) == 12
    assert all((r["width"], r["height"]) == (20, 14) for r in stats.values())
    # means match the driver-side recompute of the generator
    for i, r in stats.items():
        assert r["mean_pixel"] == pytest.approx(float(np.mean(px(i))))


def test_png_all_8bit_color_types_decode():
    """r10: gray (0), palette (3, PLTE lookup), gray+alpha (4) and
    RGBA (6) decode to the same (H, W, 3) RGB contract as truecolor;
    alpha drops, gray replicates, palette resolves. Files are
    hand-assembled with real chunk CRCs, filter-0 rows."""
    import struct
    import zlib

    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    w, h = 5, 4

    def build(color, channels, scan_rows, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in scan_rows)
        return (
            mm.PNG_MAGIC
            + mm._png_chunk(b"IHDR", ihdr)
            + extra
            + mm._png_chunk(b"IDAT", zlib.compress(raw))
            + mm._png_chunk(b"IEND", b"")
        )

    # grayscale
    gray = np.arange(w * h, dtype=np.uint8).reshape(h, w) * 7
    buf = build(0, 1, [gray[y].tobytes() for y in range(h)])
    _, _, got = mm._decode_png_pixels(buf)
    np.testing.assert_array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))

    # palette
    pal = np.array([[250, 1, 2], [3, 250, 4], [5, 6, 250]], dtype=np.uint8)
    idx = (np.arange(w * h, dtype=np.uint8).reshape(h, w)) % 3
    buf = build(
        3, 1, [idx[y].tobytes() for y in range(h)],
        extra=mm._png_chunk(b"PLTE", pal.tobytes()),
    )
    _, _, got = mm._decode_png_pixels(buf)
    np.testing.assert_array_equal(got, pal[idx])

    # gray + alpha (alpha varies; must not affect output)
    ga = np.stack([gray, 255 - gray], axis=2)
    buf = build(4, 2, [ga[y].tobytes() for y in range(h)])
    _, _, got = mm._decode_png_pixels(buf)
    np.testing.assert_array_equal(got, np.repeat(gray[:, :, None], 3, axis=2))

    # RGBA
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    rgba = np.concatenate([rgb, (rgb[:, :, :1] * 3 + 1)], axis=2)
    buf = build(6, 4, [rgba[y].tobytes() for y in range(h)])
    _, _, got = mm._decode_png_pixels(buf)
    np.testing.assert_array_equal(got, rgb)

    # 16-bit RGB (r10): big-endian sample pairs fold to the high byte
    rgb16 = (rgb.astype(np.uint16) * 257).astype(">u2")
    ihdr16 = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    buf16 = (
        mm.PNG_MAGIC + mm._png_chunk(b"IHDR", ihdr16)
        + mm._png_chunk(
            b"IDAT",
            zlib.compress(
                b"".join(b"\x00" + rgb16[y].tobytes() for y in range(h))
            ),
        )
        + mm._png_chunk(b"IEND", b"")
    )
    _, _, got16 = mm._decode_png_pixels(buf16)
    np.testing.assert_array_equal(got16, rgb)

    # directed gates: sub-byte depth; palette without PLTE; index overrun
    import pytest

    ihdr4 = struct.pack(">IIBBBBB", w, h, 4, 0, 0, 0, 0)
    buf4 = (
        mm.PNG_MAGIC + mm._png_chunk(b"IHDR", ihdr4)
        + mm._png_chunk(b"IDAT", zlib.compress(b"\x00" * h))
        + mm._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="sub-byte"):
        mm._decode_png_pixels(buf4)
    no_plte = build(3, 1, [idx[y].tobytes() for y in range(h)])
    with pytest.raises(ValueError, match="PLTE"):
        mm._decode_png_pixels(no_plte)
    bad_idx = build(
        3, 1, [(idx[y] + 7).tobytes() for y in range(h)],
        extra=mm._png_chunk(b"PLTE", pal.tobytes()),
    )
    with pytest.raises(ValueError, match="palette index"):
        mm._decode_png_pixels(bad_idx)


def test_png_adam7_interlace_decodes():
    """r10: an Adam7-interlaced RGB file — seven independently
    filtered sub-images — reassembles to exactly the source pixels.
    Built against an independent implementation of the spec's pass
    grid; one pass uses filter 2 (Up) so deinterlacing composes with
    real filter reconstruction, and degenerate sizes (passes with zero
    pixels) are covered by a 2x3 image."""
    import struct
    import zlib

    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm

    rng = np.random.RandomState(7)

    def interlaced_png(px):
        h, w = px.shape[0], px.shape[1]
        passes = []
        for x0, y0, xs, ys in [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                               (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                               (0, 1, 1, 2)]:
            sub = px[y0::ys, x0::xs, :]
            if sub.size == 0:
                continue
            rows = []
            for y in range(sub.shape[0]):
                if y and sub.shape[0] > 2:  # filter 2 (Up) on later rows
                    delta = (sub[y].astype(np.int16) - sub[y - 1]) % 256
                    rows.append(b"\x02" + delta.astype(np.uint8).tobytes())
                else:
                    rows.append(b"\x00" + sub[y].tobytes())
            passes.append(b"".join(rows))
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
        return (
            mm.PNG_MAGIC
            + mm._png_chunk(b"IHDR", ihdr)
            + mm._png_chunk(b"IDAT", zlib.compress(b"".join(passes)))
            + mm._png_chunk(b"IEND", b"")
        )

    for h, w in ((13, 11), (8, 8), (2, 3), (1, 1)):
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        got_w, got_h, got = mm._decode_png_pixels(interlaced_png(px))
        assert (got_w, got_h) == (w, h)
        np.testing.assert_array_equal(got, px)


# ---------------------------------------------------------------------------
# r11: sub-byte PNG depths (1/2/4 gray + palette, incl. Adam7)
# ---------------------------------------------------------------------------


def _make_subbyte_png(w, h, depth, color, pixels, palette=None, interlace=0):
    import struct
    import zlib

    from dask_awkward_sandbox_spark.functions.multimodal import (
        PNG_MAGIC,
        _png_chunk,
    )

    def pack_rows(px, pw, ph):
        out = b""
        for y in range(ph):
            bits = []
            for x in range(pw):
                v = int(px[y][x])
                for k in reversed(range(depth)):
                    bits.append((v >> k) & 1)
            while len(bits) % 8:
                bits.append(0)
            row = bytes(
                int("".join(map(str, bits[i : i + 8])), 2)
                for i in range(0, len(bits), 8)
            )
            out += bytes([0]) + row
        return out

    if interlace == 0:
        raw = pack_rows(pixels, w, h)
    else:
        grid = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        raw = b""
        for x0, y0, xs, ys in grid:
            sub = [[pixels[y][x] for x in range(x0, w, xs)]
                   for y in range(y0, h, ys)]
            if sub and sub[0]:
                raw += pack_rows(sub, len(sub[0]), len(sub))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
    png = PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        png += _png_chunk(b"PLTE", bytes(palette))
    return png + _png_chunk(b"IDAT", zlib.compress(raw, 6)) + _png_chunk(
        b"IEND", b""
    )


def test_png_subbyte_gray_depths():
    import numpy as np

    from dask_awkward_sandbox_spark.functions.multimodal import (
        _decode_png_pixels,
    )

    for depth, scale in ((1, 255), (2, 85), (4, 17)):
        mx = (1 << depth) - 1
        px = [[(x + 2 * y) % (mx + 1) for x in range(11)] for y in range(6)]
        w, h, rgb = _decode_png_pixels(_make_subbyte_png(11, 6, depth, 0, px))
        assert (w, h) == (11, 6)
        want = np.array(px, dtype=np.uint16) * scale
        assert (rgb[:, :, 0] == want).all()
        assert (rgb[:, :, 0] == rgb[:, :, 1]).all()


def test_png_subbyte_palette_and_interlace():
    import numpy as np

    from dask_awkward_sandbox_spark.functions.multimodal import (
        _decode_png_pixels,
    )

    pal = []
    for i in range(16):
        pal += [i * 16, (i * 7) % 256, 255 - i * 16]
    px = [[(x * 3 + y) % 16 for x in range(7)] for y in range(6)]
    w, h, rgb = _decode_png_pixels(
        _make_subbyte_png(7, 6, 4, 3, px, palette=pal)
    )
    want = np.array(pal, dtype=np.uint8).reshape(16, 3)[np.array(px)]
    assert (rgb == want).all()
    # Adam7-interlaced 1-bit gray: per-pass packing/padding
    px1 = [[(x * y + x) % 2 for x in range(12)] for y in range(9)]
    w, h, rgbi = _decode_png_pixels(
        _make_subbyte_png(12, 9, 1, 0, px1, interlace=1)
    )
    assert (rgbi[:, :, 0] == np.array(px1) * 255).all()


def test_png_subbyte_error_surfaces():
    import pytest

    from dask_awkward_sandbox_spark.functions.multimodal import (
        _decode_png_pixels,
    )

    # sub-byte truecolor is not spec-legal and must raise directed
    px = [[0] * 4] * 4
    with pytest.raises(ValueError, match="unsupported"):
        _decode_png_pixels(_make_subbyte_png(4, 4, 4, 2, px))
    # palette index out of range: 2-bit indices into a 2-entry palette
    bad = _make_subbyte_png(
        4, 4, 2, 3, [[3] * 4] * 4, palette=[0, 0, 0, 255, 255, 255]
    )
    with pytest.raises(ValueError, match="palette index"):
        _decode_png_pixels(bad)


# ---------------------------------------------------------------------------
# JPEG: real baseline T.81 codec (functions/jpegcodec.py) — r11
# ---------------------------------------------------------------------------


def _const_block_gray(h, w, seed=0):
    import numpy as np

    px = np.zeros((h, w), dtype=np.uint8)
    for by in range(h // 8):
        for bx in range(w // 8):
            px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + 2 * (((seed + by * (w // 8) + bx) * 13) % 50 - 25)
            )
    return px


def test_jpeg_constant_blocks_roundtrip_exact():
    """The exactness contract the gate legs ride on: grayscale images
    of constant 8x8 blocks with even level-shifted values round-trip
    EXACTLY at quality 50 (DC-only spectra, luminance DC step 16)."""
    import numpy as np

    from dask_awkward_sandbox_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
    )

    for seed in (0, 7, 31):
        px = _const_block_gray(24, 40, seed)
        w, h, out = jpeg_decode(jpeg_encode(px, quality=50))
        assert (w, h) == (40, 24)
        assert out.shape == (24, 40, 3)
        assert np.array_equal(out[..., 0], px)  # gray replicated to RGB
        assert np.array_equal(out[..., 1], px)


def test_jpeg_rgb_roundtrip_psnr():
    """Lossy general case: 4:4:4 and 4:2:0 color round-trips stay
    within sane PSNR at high quality; restart markers decode to the
    IDENTICAL pixels as the restart-free stream; odd (non-multiple-
    of-8/16) dimensions crop correctly."""
    import numpy as np

    from dask_awkward_sandbox_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
    )

    y, x = np.mgrid[0:40, 0:56]
    rgb = np.stack([(x * 3) % 256, (y * 5) % 256, (x + y) % 256], axis=-1).astype(
        np.uint8
    )

    def psnr(a, b):
        mse = np.mean((a.astype(float) - b.astype(float)) ** 2)
        return 10 * np.log10(255.0**2 / max(mse, 1e-12))

    _w, _h, out444 = jpeg_decode(jpeg_encode(rgb, quality=95))
    assert psnr(out444, rgb) > 45.0
    _w, _h, out420 = jpeg_decode(jpeg_encode(rgb, quality=95, subsample=True))
    assert psnr(out420, rgb) > 38.0

    _w, _h, out_rst = jpeg_decode(
        jpeg_encode(rgb, quality=95, restart_interval=3)
    )
    assert np.array_equal(out_rst, out444)

    odd = rgb[:37, :51]
    w, h, out_odd = jpeg_decode(jpeg_encode(odd, quality=90))
    assert (w, h) == (51, 37)
    assert psnr(out_odd, odd) > 40.0


def test_jpeg_gates_and_error_surfaces():
    """Progressive/lossless/arithmetic/12-bit frames raise directed
    DecodeUnavailable; malformed streams raise directed ValueError —
    never decode garbage."""
    import pytest

    from dask_awkward_sandbox_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
    )
    from dask_awkward_sandbox_spark.functions.multimodal import (
        DecodeUnavailable,
    )

    base = bytearray(jpeg_encode(_const_block_gray(16, 16), quality=50))
    i = base.find(b"\xff\xc0")
    assert i > 0

    progressive = bytearray(base)
    progressive[i + 1] = 0xC2
    with pytest.raises(DecodeUnavailable, match="progressive"):
        jpeg_decode(bytes(progressive))

    lossless = bytearray(base)
    lossless[i + 1] = 0xC3
    with pytest.raises(DecodeUnavailable, match="lossless"):
        jpeg_decode(bytes(lossless))

    arith = bytearray(base)
    arith[i + 1] = 0xC9
    with pytest.raises(DecodeUnavailable, match="arithmetic"):
        jpeg_decode(bytes(arith))

    deep = bytearray(base)
    deep[i + 4] = 12  # precision byte inside SOF0
    with pytest.raises(DecodeUnavailable, match="12-bit"):
        jpeg_decode(bytes(deep))

    with pytest.raises(ValueError, match="SOI"):
        jpeg_decode(b"nope")
    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode(bytes(base[:40]))
    # truncated entropy data: chop mid-scan
    with pytest.raises(ValueError, match="truncated|Huffman"):
        jpeg_decode(bytes(base[:-8]))


def test_jpeg_progressive_error_surfaces():
    """A progressive frame is refused at its SOF2 header, before any
    scan is read: however its scan headers or entropy data are mangled,
    the error is the directed DecodeUnavailable naming "progressive",
    never a scan-level ValueError or decoded garbage."""
    from dask_awkward_sandbox_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode,
    )
    from dask_awkward_sandbox_spark.functions.multimodal import (
        DecodeUnavailable,
    )

    base = bytearray(jpeg_encode(_const_block_gray(16, 16), quality=50))
    i = base.find(b"\xff\xc0")
    j = base.rfind(b"\xff\xda")
    assert 0 < i < j
    progressive = bytearray(base)
    progressive[i + 1] = 0xC2

    # SOS layout: FFDA len(2) Ns(1) [cid tdta] Ss Se AhAl
    bad_band = bytearray(progressive)
    bad_band[j + 7], bad_band[j + 8], bad_band[j + 9] = 63, 0, 0xFF
    truncated = bytes(progressive[: j + 10])
    no_scan = bytes(progressive[:j]) + b"\xff\xd9"
    for buf in (bytes(progressive), bytes(bad_band), truncated, no_scan):
        with pytest.raises(DecodeUnavailable, match="progressive"):
            jpeg_decode(buf)


def test_decode_stub_raises(spark):
    """The gate holds on the DataFrame surface too: decode_jpeg's
    worker-side kernel raises DecodeUnavailable for a progressive
    payload among baseline ones, and the job fails with that message."""
    from pyspark.errors import PythonException

    from dask_awkward_sandbox_spark.functions import multimodal as mm
    from dask_awkward_sandbox_spark.functions.jpegcodec import jpeg_encode

    frames = [bytearray(jpeg_encode(_const_block_gray(16, 16, s), quality=50))
              for s in range(3)]
    sof = frames[1].find(b"\xff\xc0")
    assert sof > 0
    frames[1][sof + 1] = 0xC2
    df = spark.createDataFrame(
        list(enumerate(frames)), "media_id long, payload binary"
    )
    with pytest.raises(PythonException, match=r"DecodeUnavailable[\s\S]*progressive"):
        mm.decode_jpeg(df).collect()


def test_jpeg_spark_decode_and_resize(spark):
    """The DataFrame surface: decode_jpeg means over constant-block
    images (exact at quality 50) match the closed-form generator."""
    import numpy as np

    from dask_awkward_sandbox_spark.functions import multimodal as mm
    from dask_awkward_sandbox_spark.functions.jpegcodec import jpeg_encode

    df = spark.createDataFrame(
        [
            (i, bytearray(jpeg_encode(_const_block_gray(16, 24, i), quality=50)))
            for i in range(12)
        ],
        "media_id long, payload binary",
    ).repartition(4)
    stats = {r["media_id"]: r for r in mm.decode_jpeg(df).collect()}
    assert len(stats) == 12
    for i, r in stats.items():
        assert (r["width"], r["height"]) == (24, 16)
        px = _const_block_gray(16, 24, i)
        assert r["mean_pixel"] == pytest.approx(float(np.mean(px)), abs=1e-9)
