"""Baseline JPEG (ITU T.81 / JFIF) codec, pure Python + numpy.

The last multimodal gate (reference: tests/test-image fixtures ride
PIL/libjpeg): this module implements the PUBLIC baseline-sequential
JPEG spec from the published document, with no external codec.

Encoder (:func:`jpeg_encode`): grayscale or RGB input; JFIF YCbCr
color transform; optional 4:2:0 chroma subsampling; Annex K quant
tables scaled by the libjpeg quality formula; 8x8 DCT-II via one
einsum over all blocks; Annex K "typical" Huffman tables; optional
restart intervals. Always emits SOI/APP0/DQT/SOF0/DHT/SOS/EOI with
0xFF byte stuffing.

Decoder (:func:`jpeg_decode`): full marker walk; multi-table DQT/DHT
segments; baseline SOF0 (and SOF1 extended-sequential Huffman, which
decodes identically at 8-bit precision) with ANY sampling factors
h,v in 1..4; DRI/RSTn restart handling (byte-aligned, DC predictors
reset); canonical Huffman entropy decode; batched numpy IDCT;
nearest-neighbor chroma upsampling; JFIF YCbCr->RGB. Output is
always (H, W, 3) uint8 RGB (grayscale replicated), matching the
PNG/BMP decoders.

What stays gated with directed errors: progressive (SOF2) and
lossless/hierarchical scans, arithmetic entropy coding (SOF9-11,
13-15), and 12-bit sample precision — each raises DecodeUnavailable
naming the feature, never decodes garbage.

Exactness contract the gate legs ride on: a grayscale image whose
8x8 blocks are CONSTANT with (value-128) even round-trips EXACTLY at
quality 50 (DC-only blocks; luminance DC quant step 16 divides
8*(value-128) with round-half cases avoided by the even offset), so
a closed-form generator admits an exact SQL value oracle even though
JPEG is lossy in general.

Entropy coding is bit-serial Python per coefficient — fine for the
gate/test images this container works with and documented like the
LZ4 decoder's loop; production 100 TB image pipelines should ship
libjpeg-turbo wheels and swap this codec behind the same function
surface.
"""

from __future__ import annotations

import struct

import numpy as np

# --- 8x8 DCT-II basis (orthonormal): block spectra = M @ B @ M.T ---
_x = np.arange(8)
_M = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
_M[0, :] /= np.sqrt(2.0)

# zigzag scan order (T.81 Figure 5): index i of the scan -> (row, col)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)
_UNZIG = np.argsort(ZIGZAG)

# Annex K quantization tables (Tables K.1 / K.2), zigzag-NATURAL order
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex K "typical" Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list) — Tables K.3-K.6
HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->table scaling: 5000/Q below 50,
    200-2Q above, clamped to [1, 255] (baseline keeps 8-bit steps)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"quality must be 1..100, got {quality}")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-serial decoder."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int) -> tuple[int, int]:
    """(category, appended bits) for a DC diff / AC value (F.1.2.1):
    category = bit length of |v|, negatives encode as v-1's low bits."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (B.1.1.5)
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        """Pad the final partial byte with 1-bits (B.2.1)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


class _BitReader:
    """Bit-serial reader over entropy-coded data with 0xFF00
    de-stuffing and RSTn awareness: a restart marker ends the current
    segment (align + reset happens in the caller)."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        if self.pos >= len(self.buf):
            raise ValueError("JPEG: truncated entropy-coded data")
        b = self.buf[self.pos]
        if b == 0xFF:
            nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise ValueError("JPEG: hit restart marker mid-symbol")
            else:
                # EOI or another marker: the scan overran its data
                raise ValueError("JPEG: truncated entropy-coded data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("JPEG: invalid Huffman code in scan data")

    def align_to_restart(self) -> int:
        """Drop partial bits, consume an RSTn marker, return its index."""
        self.acc = 0
        self.nbits = 0
        if self.pos + 1 >= len(self.buf) or self.buf[self.pos] != 0xFF:
            raise ValueError("JPEG: expected restart marker")
        m = self.buf[self.pos + 1]
        if not 0xD0 <= m <= 0xD7:
            raise ValueError(f"JPEG: expected RSTn, found marker {m:#x}")
        self.pos += 2
        return m - 0xD0


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) float plane, H/W multiples of 8 -> (n, 8, 8) blocks in
    raster order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _unblocks(blocks: np.ndarray, h: int, w: int) -> np.ndarray:
    return (
        blocks.reshape(h // 8, w // 8, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h, w)
    )


def _pad_to8(plane: np.ndarray) -> np.ndarray:
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _encode_component(
    writer: _BitWriter,
    coeffs_zz: np.ndarray,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
    pred: int,
) -> int:
    """Entropy-encode one block's 64 zigzagged quantized coeffs;
    returns the new DC predictor."""
    dc = int(coeffs_zz[0])
    size, bits = _magnitude(dc - pred)
    code, length = dc_codes[size]
    writer.write(code, length)
    if size:
        writer.write(bits, size)
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if coeffs_zz[i] != 0:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(coeffs_zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        size, bits = _magnitude(v)
        code, length = ac_codes[(run << 4) | size]
        writer.write(code, length)
        writer.write(bits, size)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _prepare_components(pixels, quality: int, subsample: bool):
    """Encoder front half: color transform, padding, FDCT,
    quantization, zigzag. Returns (gray, samps, qtabs, comp_zz,
    comp_dims, h, w)."""
    px = np.asarray(pixels)
    if px.dtype != np.uint8:
        raise ValueError("jpeg_encode expects uint8 pixels")
    gray = px.ndim == 2
    if not gray and (px.ndim != 3 or px.shape[2] != 3):
        raise ValueError("jpeg_encode expects (H,W) gray or (H,W,3) RGB")
    h, w = px.shape[0], px.shape[1]
    if h == 0 or w == 0:
        raise ValueError("jpeg_encode: empty image")

    qy = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)

    if gray:
        planes = [px.astype(np.float64)]
        samps = [(1, 1)]
        qtabs = [qy]
    else:
        r = px[..., 0].astype(np.float64)
        g = px[..., 1].astype(np.float64)
        b = px[..., 2].astype(np.float64)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            # 2x2 box average on the padded-to-even plane
            def down(p):
                pe = np.pad(
                    p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge"
                )
                return (
                    pe.reshape(pe.shape[0] // 2, 2, pe.shape[1] // 2, 2)
                    .mean(axis=(1, 3))
                )

            planes = [y, down(cb), down(cr)]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
        qtabs = [qy, qc, qc]

    max_h = max(s[0] for s in samps)
    max_v = max(s[1] for s in samps)

    # quantized zigzag coefficients per component, blocks in raster order
    comp_zz = []
    comp_dims = []
    for plane, (sh, sv), q in zip(planes, samps, qtabs):
        # each component pads so the MCU grid tiles it exactly
        ch = -(-h * sv // max_v)
        cw = -(-w * sh // max_h)
        p = _pad_to8(
            np.pad(
                plane,
                ((0, ch - plane.shape[0]), (0, cw - plane.shape[1])),
                mode="edge",
            )
            if plane.shape != (ch, cw)
            else plane
        )
        blocks = _blocks(p - 128.0)
        spectra = np.einsum("ux,nxy,vy->nuv", _M, blocks, _M)
        qz = np.round(spectra.reshape(-1, 64) / q.astype(np.float64)).astype(
            np.int64
        )[:, ZIGZAG]
        comp_zz.append(qz)
        comp_dims.append((p.shape[0] // 8, p.shape[1] // 8))
    return gray, samps, qtabs, comp_zz, comp_dims, h, w


def _marker_head(gray, samps, qtabs, h, w, restart_interval):
    """SOI/APP0/DQT/SOF0/DHT[/DRI] prefix."""
    qy = qtabs[0]
    qc = qtabs[1] if len(qtabs) > 1 else None
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, q in ((0, qy),) if gray else ((0, qy), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid])
        out += bytes(int(v) for v in q[ZIGZAG])
    ncomp = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    for ci in range(ncomp):
        sh, sv = samps[ci]
        out += bytes([ci + 1, (sh << 4) | sv, 0 if ci == 0 else 1])
    tables = [(0x00, HUFF_DC_LUMA), (0x10, HUFF_AC_LUMA)]
    if not gray:
        tables += [(0x01, HUFF_DC_CHROMA), (0x11, HUFF_AC_CHROMA)]
    for tc_th, (bits, values) in tables:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(values))
        out += bytes([tc_th]) + bytes(bits) + bytes(values)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    return out


def jpeg_encode(
    pixels,
    quality: int = 75,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF bytes from an (H, W) grayscale or (H, W, 3) RGB
    uint8 array. ``subsample=True`` writes 4:2:0 chroma; restart
    markers every ``restart_interval`` MCUs when nonzero."""
    gray, samps, qtabs, comp_zz, comp_dims, h, w = _prepare_components(
        pixels, quality, subsample
    )
    max_h = max(s[0] for s in samps)
    max_v = max(s[1] for s in samps)

    dc_codes_y = _canonical_codes(*HUFF_DC_LUMA)
    ac_codes_y = _canonical_codes(*HUFF_AC_LUMA)
    dc_codes_c = _canonical_codes(*HUFF_DC_CHROMA)
    ac_codes_c = _canonical_codes(*HUFF_AC_CHROMA)

    writer = _BitWriter()
    preds = [0] * len(samps)
    mcus_x = -(-w // (8 * max_h))
    mcus_y = -(-h // (8 * max_v))
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                preds = [0] * len(samps)
            for ci, (sh, sv) in enumerate(samps):
                bh, bw = comp_dims[ci]
                for by in range(sv):
                    for bx in range(sh):
                        row = min(my * sv + by, bh - 1)
                        col = min(mx * sh + bx, bw - 1)
                        zz = comp_zz[ci][row * bw + col]
                        preds[ci] = _encode_component(
                            writer,
                            zz,
                            dc_codes_y if ci == 0 else dc_codes_c,
                            ac_codes_y if ci == 0 else ac_codes_c,
                            preds[ci],
                        )
            mcu_count += 1
    writer.flush()

    out = _marker_head(gray, samps, qtabs, h, w, restart_interval)
    ncomp = 1 if gray else 3
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += bytes([0, 63, 0])  # Ss/Se/AhAl (full spectrum, baseline)
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


_GATED_SOF = {
    0xC2: "progressive (SOF2)",
    0xC3: "lossless sequential (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic-coded sequential (SOF9)",
    0xCA: "arithmetic-coded progressive (SOF10)",
    0xCB: "arithmetic-coded lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def jpeg_decode(buf: bytes):
    """Decode baseline (SOF0/SOF1) JPEG bytes -> (width, height,
    (H, W, 3) uint8 RGB). Raises DecodeUnavailable for the gated frame
    types (progressive SOF2 among them) and ValueError for malformed
    streams."""
    from dask_awkward_sandbox_spark.functions.multimodal import DecodeUnavailable

    if len(buf) < 4 or buf[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream (missing SOI)")

    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None
    st = None  # _FrameState once SOF arrives
    scanned = False
    pos = 2
    while True:
        if pos + 2 > len(buf):
            raise ValueError("JPEG: truncated marker stream")
        if buf[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker, got byte {buf[pos]:#x}")
        marker = buf[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if not scanned:
                raise ValueError("JPEG: no scan data before EOI")
            break
        if marker in _GATED_SOF:
            raise DecodeUnavailable(
                f"JPEG {_GATED_SOF[marker]} scans are gated — this decoder "
                "implements baseline sequential Huffman (SOF0/SOF1); "
                "re-encode or ship libjpeg"
            )
        if pos + 2 > len(buf):
            raise ValueError("JPEG: truncated marker stream")
        seg_len = struct.unpack(">H", buf[pos : pos + 2])[0]
        seg = buf[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("JPEG: truncated segment")
        if marker == 0xDB:  # DQT (possibly several tables)
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0xF
                o += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[o : o + 64], dtype=np.uint8).astype(np.int64)
                    o += 64
                else:
                    tbl = np.frombuffer(seg[o : o + 128], dtype=">u2").astype(np.int64)
                    o += 128
                qtables[tq] = tbl[_UNZIG]  # store natural order
        elif marker == 0xC4:  # DHT (possibly several tables)
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0xF
                bits = list(seg[o + 1 : o + 17])
                n = sum(bits)
                values = list(seg[o + 17 : o + 17 + n])
                htables[(tc, th)] = _decode_table(bits, values)
                o += 17 + n
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            if frame is not None:
                raise ValueError("JPEG: multiple frames")
            precision = seg[0]
            if precision != 8:
                raise DecodeUnavailable(
                    f"JPEG {precision}-bit sample precision is gated — "
                    "baseline 8-bit only"
                )
            fh, fw = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fw, fh, comps)
            st = _FrameState(fw, fh, comps)
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS
            if st is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for ci in range(ns):
                cs, tdta = seg[1 + 2 * ci : 3 + 2 * ci]
                scan_sel.append((cs, tdta >> 4, tdta & 0xF))
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            pos = _decode_scan_data(
                buf, pos + seg_len, st, scan_sel, htables,
                restart_interval, ss, se, ah, al,
            )
            scanned = True
            continue
        # APPn / COM / anything else: skip
        pos += seg_len
    return _finish_frame(st, qtables)


class _FrameState:
    """The frame's geometry and its quantized coefficient blocks."""

    def __init__(self, fw, fh, comps):
        if fw == 0 or fh == 0:
            raise ValueError("JPEG: zero image dimension")
        self.fw, self.fh, self.comps = fw, fh, comps
        self.max_h = max(c[1] for c in comps)
        self.max_v = max(c[2] for c in comps)
        if not (1 <= self.max_h <= 4 and 1 <= self.max_v <= 4):
            raise ValueError("JPEG: invalid sampling factors")
        self.mcus_x = -(-fw // (8 * self.max_h))
        self.mcus_y = -(-fh // (8 * self.max_v))
        self.blocks = []
        for cid, sh, sv, tq in comps:
            self.blocks.append(
                np.zeros((self.mcus_y * sv * self.mcus_x * sh, 64), dtype=np.int64)
            )

    def comp_index(self, cid):
        for i, c in enumerate(self.comps):
            if c[0] == cid:
                return i
        raise ValueError(f"JPEG: scan names unknown component {cid}")


def _scan_end(buf, pos):
    """Position of the next true marker after entropy-coded data
    starting at ``pos`` (skipping 0xFF00 stuffing and stray RSTn)."""
    n = len(buf)
    while pos < n - 1:
        if buf[pos] == 0xFF:
            nxt = buf[pos + 1]
            if nxt == 0x00:
                pos += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                pos += 2
                continue
            return pos
        pos += 1
    raise ValueError("JPEG: entropy data ran past end of stream")


def _decode_scan_data(buf, pos, st, scan_sel, htables, ri, ss, se, ah, al):
    """Decode one scan's entropy data into st.blocks; returns the
    stream position of the marker that follows the scan."""
    reader = _BitReader(buf, pos)
    if (ss, se, ah, al) != (0, 63, 0, 0):
        raise ValueError("JPEG: baseline scan must cover 0..63 at Ah=Al=0")
    if [s[0] for s in scan_sel] != [c[0] for c in st.comps]:
        raise ValueError("JPEG: scan component order differs from frame")
    _decode_seq_scan(reader, st, scan_sel, ri, htables)
    return _scan_end(buf, reader.pos)


def _mcu_members(st, scan_sel, htables):
    out = []
    for cs, td, ta in scan_sel:
        ci = st.comp_index(cs)
        dc_tab = htables.get((0, td))
        ac_tab = htables.get((1, ta))
        if dc_tab is None or ac_tab is None:
            raise ValueError("JPEG: scan references undefined Huffman table")
        out.append((ci, dc_tab, ac_tab))
    return out


def _restart(reader, expect_rst):
    got = reader.align_to_restart()
    if got != expect_rst:
        raise ValueError(
            f"JPEG: restart marker out of order (RST{got}, "
            f"expected RST{expect_rst})"
        )
    return (expect_rst + 1) % 8


def _decode_seq_scan(reader, st, scan_sel, ri, htables):
    members = _mcu_members(st, scan_sel, htables)
    preds = [0] * len(st.comps)
    mcu_count = 0
    expect_rst = 0
    for my in range(st.mcus_y):
        for mx in range(st.mcus_x):
            if ri and mcu_count and mcu_count % ri == 0:
                expect_rst = _restart(reader, expect_rst)
                preds = [0] * len(st.comps)
            for ci, dc_tab, ac_tab in members:
                cid, sh, sv, tq = st.comps[ci]
                bw = st.mcus_x * sh
                for by in range(sv):
                    for bx in range(sh):
                        zz = st.blocks[ci][(my * sv + by) * bw + (mx * sh + bx)]
                        size = reader.read_symbol(dc_tab)
                        diff = _extend(reader.read_bits(size), size)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k <= 63:
                            rs = reader.read_symbol(ac_tab)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
            mcu_count += 1


def _finish_frame(st, qtables):
    fw, fh, comps = st.fw, st.fh, st.comps
    max_h, max_v = st.max_h, st.max_v
    mcus_x, mcus_y = st.mcus_x, st.mcus_y
    planes = []
    for ci, (cid, sh, sv, tq) in enumerate(comps):
        q = qtables.get(tq)
        if q is None:
            raise ValueError("JPEG: frame references undefined quant table")
        bw = mcus_x * sh
        bh = mcus_y * sv
        zz = st.blocks[ci]
        nat = np.zeros_like(zz)
        nat[:, ZIGZAG] = zz  # zigzag -> natural
        spectra = (nat * q).reshape(-1, 8, 8).astype(np.float64)
        blocks = np.einsum("xu,nuv,yv->nxy", _M.T, spectra, _M.T)
        plane = _unblocks(blocks, bh * 8, bw * 8) + 128.0
        # upsample to full MCU-grid resolution by pixel replication
        if sh != max_h or sv != max_v:
            plane = np.repeat(
                np.repeat(plane, max_v // sv, axis=0), max_h // sh, axis=1
            )
        planes.append(plane[:fh, :fw])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        px = np.stack([y, y, y], axis=-1)
    elif len(planes) == 3:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        px = np.clip(
            np.round(np.stack([r, g, b], axis=-1)), 0, 255
        ).astype(np.uint8)
    else:
        raise ValueError(f"JPEG: unsupported component count {len(planes)}")
    return fw, fh, px
