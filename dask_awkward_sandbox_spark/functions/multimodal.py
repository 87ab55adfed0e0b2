"""Multimodal column plumbing: opaque binary payloads decoded to
per-image stats.

Images are carried as ``binary`` columns. Three REAL image codecs,
none needing an external library: BMP (JVM-side header assembly in
:func:`bmp_column`, header parse in :func:`decode_bmp`), PNG (zlib +
filters + CRC chunks, every spec-legal color type and depth) and
baseline JPEG (functions/jpegcodec.py). Each decode is a
``mapInArrow`` kernel, so payload bytes never reach the driver.
Formats without a codec here raise ``DecodeUnavailable``.

Scale notes: binary payloads dominate row size, so ops that don't
need bytes must prune them (nested-schema pruning handles struct
metadata; keep payloads in a separate column, never inside the
metadata struct). ``mapInArrow`` batches bound memory by
``spark.sql.execution.arrow.maxRecordsPerBatch`` — set it low for
multi-MB payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DecodeUnavailable(NotImplementedError):
    """Raised for a payload whose format or coding mode has no decoder
    here (progressive/arithmetic/lossless JPEG, gated ROOT layouts);
    the message names what is missing."""


# -- BMP: pure-python header parse, no external libs --

BMP_HEADER_LEN = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def _le4(col):
    """Serialize an int column as 4 little-endian bytes, JVM-side:
    per-byte hex + unhex — no UDF. ``pmod`` (not ``%``) keeps each
    byte in [0,255] for NEGATIVE values too (Spark ``%`` keeps the
    dividend sign; hex of a negative long is 16 chars and lpad would
    keep the wrong end) — so two's-complement ints like a top-down
    BMP's negative height serialize correctly."""
    parts = [
        F.lpad(F.hex(F.pmod(F.shiftright(col.cast("long"), 8 * i), F.lit(256))), 2, "0")
        for i in range(4)
    ]
    return F.unhex(F.concat(*parts))


def bmp_column(width, height, payload):
    """Assemble a BMP file image as a binary Column: 'BM' magic,
    little-endian size/offset/width/height fields (24bpp, zero
    compression), then ``payload`` as the pixel data. Pure JVM
    expression — binary construction never leaves the executor."""
    psize = F.length(payload)
    return F.concat(
        F.lit(b"BM"),
        _le4(psize + F.lit(BMP_HEADER_LEN)),          # file size
        F.lit(b"\x00\x00\x00\x00"),                    # reserved
        _le4(F.lit(BMP_HEADER_LEN)),                   # pixel data offset
        _le4(F.lit(40)),                               # DIB header size
        _le4(width),
        _le4(height),
        F.lit(b"\x01\x00"),                            # planes = 1
        F.lit(b"\x18\x00"),                            # 24 bpp
        _le4(F.lit(0)),                                # BI_RGB
        _le4(psize),                                   # image size
        _le4(F.lit(2835)), _le4(F.lit(2835)),          # 72 DPI
        _le4(F.lit(0)), _le4(F.lit(0)),                # palette
        payload,
    )


def parse_bmp_header(buf: bytes) -> tuple[int, int, int]:
    """Parse (width, height, n_payload_bytes) from real BMP bytes.
    Raises ValueError on a bad magic — a genuine decoder contract."""
    import struct

    if buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", buf, 10)
    width, height = struct.unpack_from("<ii", buf, 18)
    return width, height, len(buf) - offset


def decode_bmp(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInArrow BMP header decode: Arrow batches of binary payloads
    in, (media_id, width, height, n_bytes) out — the real multimodal
    decode shape, with a real byte-level parser."""
    import pyarrow as pa

    def fn(batches):
        for b in batches:
            ids = b.column("media_id").to_pylist()
            parsed = [parse_bmp_header(p) for p in b.column(payload_col).to_pylist()]
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([p[0] for p in parsed], pa.int64()),
                    pa.array([p[1] for p in parsed], pa.int64()),
                    pa.array([p[2] for p in parsed], pa.int64()),
                ],
                names=["media_id", "width", "height", "n_bytes"],
            )

    return df.mapInArrow(fn, "media_id long, width long, height long, n_bytes long")


# ---------------------------------------------------------------------------
# PNG: a second REAL image codec (r9) — the format training corpora
# actually contain. PNG is zlib (already a dependency of the ROOT byte
# layer) + per-row filters + CRC-framed chunks: fully implementable
# under the same no-PIL constraint as BMP. The DECODER handles all
# five standard filter types (None/Sub/Up/Average/Paeth), so it reads
# 8-bit RGB files real encoders wrote, not just this writer's output;
# the ENCODER emits filter-0 rows (always valid PNG). r10: every
# 8-BIT COLOR TYPE decodes (gray / RGB / palette+PLTE / gray-alpha /
# RGBA — alpha dropped, output is always (H, W, 3) RGB), 16-bit depth
# decodes via the standard high-byte fold, and Adam7 interlacing
# decodes via the pass-grid reassembly; r11 adds sub-byte depths
# (1/2/4 gray + palette, MSB-first packed scanlines, incl. Adam7) —
# every spec-legal PNG decodes. JPEG decodes too (r11):
# functions/jpegcodec.py implements baseline sequential T.81 (Huffman
# + DCT) pure-Python; progressive/arithmetic/lossless/12-bit scans
# stay gated there with directed errors.
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _encode_png_py(pixels) -> bytes:
    """PNG bytes from an (H, W, 3) uint8 RGB array: IHDR + one IDAT
    (zlib over filter-0-prefixed scanlines) + IEND."""
    import struct
    import zlib

    import numpy as np

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w = px.shape[0], px.shape[1]
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    return (
        PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int):
    """Reverse the per-scanline filters (PNG spec §6): each row leads
    with a filter byte; Sub/Up/Average/Paeth reconstruct from the
    left/up/up-left neighbors of the DECODED image.

    Cost note (r10 advice): None/Up are whole-row numpy ops and Sub is
    a per-byte-lane cumsum (mod-256 prefix sum — the left dependency is
    LINEAR for Sub, so it vectorizes); Average/Paeth carry a floor/
    branchy left dependency that is genuinely sequential, so they run
    a per-byte Python loop — O(W*bpp) interpreted steps per such
    scanline. This repo's writer emits filter 0 only; external-encoder
    PNGs that lean on Average/Paeth decode correctly but slowly — at
    scale route those through a native decoder wheel."""
    import numpy as np

    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG scanline data is {len(raw)} bytes, expected {h * (stride + 1)}"
        )
    out = np.zeros((h, stride), dtype=np.uint8)
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    for y in range(h):
        ft, line = int(rows[y, 0]), rows[y, 1:].astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        cur = np.zeros(stride, dtype=np.int32)
        if ft == 0:  # None
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 1:  # Sub: per-lane mod-256 prefix sum, vectorized
            for lane in range(bpp):
                cur[lane::bpp] = np.cumsum(line[lane::bpp], dtype=np.int64) & 0xFF
        elif ft in (3, 4):  # Average / Paeth need a sequential left scan
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0  # left
                bup = prev[x]  # up
                c = prev[x - bpp] if x >= bpp else 0  # up-left
                if ft == 3:
                    pred = (a + bup) // 2
                else:  # Paeth
                    p = a + bup - c
                    pa_, pb_, pc_ = abs(p - a), abs(p - bup), abs(p - c)
                    pred = a if (pa_ <= pb_ and pa_ <= pc_) else (bup if pb_ <= pc_ else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG row {y}: unknown filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out.reshape(h, w, bpp)


# Adam7 pass grid: (x_start, y_start, x_step, y_step) per the spec
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_deinterlace(raw: bytes, w: int, h: int, bpp: int):
    """Reassemble an Adam7-interlaced image (r10): the stream is the
    concatenation of 7 passes, each an independently-filtered
    sub-image over its pass grid; unfilter each with the SAME
    per-scanline machinery and scatter into place."""
    import numpy as np

    out = np.zeros((h, w, bpp), dtype=np.uint8)
    off = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        nbytes = ph * (1 + pw * bpp)
        sub = _png_unfilter(raw[off : off + nbytes], pw, ph, bpp)
        out[y0::ys, x0::xs, :] = sub
        off += nbytes
    if off != len(raw):
        raise ValueError(
            f"PNG interlaced stream is {len(raw)} bytes, passes consumed {off}"
        )
    return out


def _png_subbyte_samples(raw: bytes, w: int, h: int, depth: int, interlace: int):
    """Per-pixel sample plane for sub-byte depths (1/2/4, r11): the
    spec packs samples MSB-first into scanlines padded to a byte
    boundary, and FILTERING operates on the packed BYTES with a
    left-distance of one byte — so unfiltering reuses the byte-level
    machinery with w=row_bytes, bpp=1, then np.unpackbits recovers the
    samples. Adam7 passes are independently packed/padded."""
    import numpy as np

    def unpack(chunk: bytes, pw: int, ph: int):
        rb = (pw * depth + 7) // 8
        rows = _png_unfilter(chunk, rb, ph, 1).reshape(ph, rb)
        bits = np.unpackbits(rows, axis=1)
        if depth == 1:
            return bits[:, :pw]
        if depth == 2:
            b = bits.reshape(ph, -1, 2)
            return ((b[:, :, 0] << 1) | b[:, :, 1])[:, :pw]
        b = bits.reshape(ph, -1, 4)
        return (
            (b[:, :, 0] << 3) | (b[:, :, 1] << 2) | (b[:, :, 2] << 1) | b[:, :, 3]
        )[:, :pw]

    if interlace == 0:
        rb = (w * depth + 7) // 8
        if len(raw) != h * (rb + 1):
            raise ValueError(
                f"PNG sub-byte scanline data is {len(raw)} bytes, "
                f"expected {h * (rb + 1)}"
            )
        return unpack(raw, w, h)
    out = np.zeros((h, w), dtype=np.uint8)
    off = 0
    for x0, y0, xs, ys in _ADAM7:
        pw = (w - x0 + xs - 1) // xs
        ph = (h - y0 + ys - 1) // ys
        if pw <= 0 or ph <= 0:
            continue
        rb = (pw * depth + 7) // 8
        nbytes = ph * (1 + rb)
        out[y0::ys, x0::xs] = unpack(raw[off : off + nbytes], pw, ph)
        off += nbytes
    if off != len(raw):
        raise ValueError(
            f"PNG interlaced sub-byte stream is {len(raw)} bytes, "
            f"passes consumed {off}"
        )
    return out


def _decode_png_pixels(buf: bytes):
    """(width, height, (H, W, 3) uint8) from 8- or 16-bit PNG bytes of
    ANY color type (r10: gray/RGB/palette/gray-alpha/RGBA — palette
    indices resolve through PLTE, gray replicates, alpha drops; 16-bit
    samples fold to their high byte; Adam7 interlace reassembles via
    the pass grid) — chunk walk with CRC verification, multi-IDAT
    concatenation, full filter reconstruction. r11: sub-byte depths
    (1/2/4 gray + palette, incl. Adam7) decode too — every spec-legal
    PNG decodes here."""
    import struct
    import zlib

    if buf[: len(PNG_MAGIC)] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    import numpy as np

    pos, ihdr, idat, plte = len(PNG_MAGIC), None, [], None
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r}: CRC mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunk")
    w, h, depth, color, comp, filt, interlace = ihdr
    # r10: every 8-bit color type decodes (the r9 gate covered only
    # truecolor), plus 16-bit gray/RGB/gray-alpha/RGBA (samples fold to
    # their high byte — the standard 16->8 scale) and Adam7 interlace.
    # Channel counts per the spec; palette indices look up PLTE; alpha
    # channels are DROPPED after unfiltering (the output contract is an
    # (H, W, 3) uint8 RGB array — compositing and 16-bit-precision
    # policy belong to the caller). r11: sub-byte depths decode below.
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    subbyte_ok = depth in (1, 2, 4) and color in (0, 3)
    if channels is None or not (
        subbyte_ok or (depth == 8) or (depth == 16 and color != 3)
    ):
        raise ValueError(
            f"PNG color type {color}/depth {depth} unsupported — every "
            "spec-legal depth/type combination decodes here except 16-bit "
            "palette (not spec-legal anyway)"
        )
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        raise ValueError("PNG nonstandard compression/filter/interlace method")
    raw = zlib.decompress(b"".join(idat))
    if depth in (1, 2, 4):
        # r11: sub-byte gray/palette — the last PNG gate removed
        s = _png_subbyte_samples(raw, w, h, depth, interlace)
        if color == 0:
            scale = {1: 255, 2: 85, 4: 17}[depth]  # spec sample scaling
            g = (s.astype(np.uint16) * scale).astype(np.uint8)
            return w, h, np.repeat(g[:, :, None], 3, axis=2)
        if plte is None or len(plte) % 3:
            raise ValueError("PNG palette image missing a well-formed PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(s.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return w, h, pal[s]
    bpp = channels * (depth // 8)
    px = (
        _png_deinterlace(raw, w, h, bpp)
        if interlace == 1
        else _png_unfilter(raw, w, h, bpp)
    )
    if depth == 16:
        px = px[:, :, 0::2]  # big-endian sample pairs -> high byte
    if color == 2:
        return w, h, px
    if color == 0:  # grayscale -> replicate
        return w, h, np.repeat(px, 3, axis=2)
    if color == 3:  # palette lookup
        if plte is None or len(plte) % 3:
            raise ValueError("PNG palette image missing a well-formed PLTE")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = px[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        return w, h, pal[idx]
    if color == 4:  # gray + alpha -> replicate gray, drop alpha
        return w, h, np.repeat(px[:, :, :1], 3, axis=2)
    return w, h, px[:, :, :3]  # RGBA -> drop alpha


def decode_jpeg(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInArrow baseline-JPEG decode to per-image stats — the same
    shape as :func:`decode_png`: (media_id, width, height,
    mean_pixel). r11: REAL decode via the pure-Python ITU T.81 codec
    (functions/jpegcodec.py — marker walk, canonical Huffman entropy
    decode, batched numpy IDCT, 4:2:0 upsampling);
    progressive/arithmetic/lossless/12-bit scans stay gated inside
    the codec with directed DecodeUnavailable errors."""
    import numpy as np
    import pyarrow as pa

    from dask_awkward_sandbox_spark.functions.jpegcodec import jpeg_decode

    def fn(batches):
        for b in batches:
            ids = b.column("media_id").to_pylist()
            ws, hs, means = [], [], []
            for buf in b.column(payload_col).to_pylist():
                w, h, px = jpeg_decode(bytes(buf))
                ws.append(w)
                hs.append(h)
                means.append(float(np.mean(px)))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(ws, pa.int64()),
                    pa.array(hs, pa.int64()),
                    pa.array(means, pa.float64()),
                ],
                names=["media_id", "width", "height", "mean_pixel"],
            )

    return df.mapInArrow(
        fn, "media_id long, width long, height long, mean_pixel double"
    )


def decode_png(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """mapInArrow PNG decode to per-image stats: (media_id, width,
    height, mean_pixel) — full chunk walk + unfilter per image,
    Arrow-batched, payload bytes never on the driver."""
    import numpy as np
    import pyarrow as pa

    def fn(batches):
        for b in batches:
            ids = b.column("media_id").to_pylist()
            ws, hs, means = [], [], []
            for buf in b.column(payload_col).to_pylist():
                w, h, px = _decode_png_pixels(bytes(buf))
                ws.append(w)
                hs.append(h)
                means.append(float(np.mean(px)))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(ws, pa.int64()),
                    pa.array(hs, pa.int64()),
                    pa.array(means, pa.float64()),
                ],
                names=["media_id", "width", "height", "mean_pixel"],
            )

    return df.mapInArrow(
        fn, "media_id long, width long, height long, mean_pixel double"
    )

