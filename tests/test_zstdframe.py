"""ROOT ``ZS`` blocks: the zstd frame framing in io/rootfile.py over
pyarrow's bundled libzstd.

A level sweep and randomized payloads drive the writer's framing and
the reader's block decode end to end; hand-built RFC 8878 frames
(content checksum, RLE block, 2-byte content-size field, reserved
block type) stand in for other conformant encoders. Every failure
surfaces as a directed ``ValueError``, never a library error or
garbage.
"""

from __future__ import annotations

import random

import pytest

from dask_awkward_sandbox_spark.io.rootfile import (
    _compress_block,
    _decode_block,
    _decompress,
    xxh64,
)

pa = pytest.importorskip("pyarrow")

_MAGIC = (0xFD2FB528).to_bytes(4, "little")


def _basket(payload: bytes, level: int) -> bytes:
    """A ZS basket at a chosen level (the writer uses the default)."""
    frame = pa.Codec("zstd", compression_level=level).compress(payload, asbytes=True)
    return (
        b"ZS\x01"
        + len(frame).to_bytes(3, "little")
        + len(payload).to_bytes(3, "little")
        + frame
    )


def _payloads():
    rng = random.Random(20260815)
    text = (
        "From the land of the midnight parquet, a scan pruned is a "
        "shuffle saved; the quick brown fox jumps over the lazy dog. "
    ).encode()
    import numpy as np

    return [
        b"",
        b"x",
        b"abc",
        b"hello world " * 200,                          # one long match
        bytes(rng.randrange(256) for _ in range(4096)),  # incompressible
        bytes([9]) * 65536,                              # RLE block
        text * 300,                                      # huffman + seqs
        bytes(rng.choice(b"abcd") for _ in range(20000)),  # tiny alphabet
        np.arange(30000, dtype=">f8").tobytes(),         # structured
        b"".join(
            b'{"id": %d, "label": "u%d"}\n' % (i, i % 89) for i in range(4000)
        ),
        bytes(rng.randrange(16) for _ in range(150000)),  # multi-block
    ]


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_reference_encoder_roundtrip(level):
    for payload in _payloads():
        assert _decompress(_basket(payload, level), len(payload)) == payload
    # the writer's own framing (default level) decodes the same way
    for payload in _payloads():
        basket = _compress_block(payload, "zstd")
        if len(basket) < len(payload):
            assert basket[:2] == b"ZS"
            assert _decompress(basket, len(payload)) == payload


def test_random_structured_sweep():
    """Randomized mix of runs, copies and noise — shapes that drive
    the sequence machinery through repeat offsets and overlapping
    matches."""
    rng = random.Random(7)
    for _ in range(25):
        parts = []
        for _ in range(rng.randrange(1, 12)):
            kind = rng.randrange(4)
            if kind == 0:
                parts.append(bytes([rng.randrange(256)]) * rng.randrange(1, 500))
            elif kind == 1:
                parts.append(bytes(rng.randrange(256) for _ in range(rng.randrange(1, 300))))
            elif kind == 2 and parts:
                prev = b"".join(parts)
                take = rng.randrange(1, min(len(prev), 400) + 1)
                start = rng.randrange(0, len(prev) - take + 1)
                parts.append(prev[start : start + take])
            else:
                parts.append(b"spark" * rng.randrange(1, 60))
        payload = b"".join(parts)
        assert _decompress(_basket(payload, 6), len(payload)) == payload


def test_checksum_verified():
    """Hand-built frame with a Content_Checksum (XXH64 low 32 bits):
    correct passes, corrupted raises a directed error."""
    payload = b"checksummed payload bytes"
    # single-segment frame, checksum flag set, 1-byte FCS, raw block
    desc = 0x20 | 0x04
    header = _MAGIC + bytes([desc, len(payload)])
    block_header = (1 | (0 << 1) | (len(payload) << 3)).to_bytes(3, "little")
    check = (xxh64(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    frame = header + block_header + payload + check
    assert _decode_block(b"ZS", frame, len(payload)) == payload
    bad = bytearray(frame)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="ZS block: corrupt zstd data.*checksum"):
        _decode_block(b"ZS", bytes(bad), len(payload))


def test_rle_block_and_frame_header_variants():
    """Hand-built RLE block; 2-byte FCS field carries size-256."""
    payload = bytes([0x41]) * 300
    desc = 0x20 | 0x40  # single segment + 2-byte FCS
    header = _MAGIC + bytes([desc]) + (300 - 256).to_bytes(2, "little")
    block_header = (1 | (1 << 1) | (300 << 3)).to_bytes(3, "little")
    frame = header + block_header + b"\x41"
    assert _decode_block(b"ZS", frame, 300) == payload


def test_directed_errors():
    with pytest.raises(ValueError, match="magic"):
        _decode_block(b"ZS", b"\x00\x01\x02\x03\x04\x05", 6)
    frame = _basket(b"hello hello hello hello", 3)[9:]
    with pytest.raises(ValueError, match="ZS block"):
        _decode_block(b"ZS", frame[: len(frame) - 3], 23)  # truncated
    with pytest.raises(ValueError, match="ZS block"):
        _decode_block(b"ZS", frame, 999)
    # reserved block type
    desc = 0x20
    hdr = _MAGIC + bytes([desc, 1])
    bad_block = (1 | (3 << 1) | (1 << 3)).to_bytes(3, "little") + b"x"
    with pytest.raises(ValueError, match="ZS block: corrupt zstd data"):
        _decode_block(b"ZS", hdr + bad_block, 1)


def test_window_descriptor_frame():
    """Non-single-segment frames carry a window descriptor byte; the
    reference encoder emits them for large inputs — decode one."""
    payload = bytes(random.Random(3).randrange(256) for _ in range(300000))
    assert _decompress(_basket(payload, 1), len(payload)) == payload
