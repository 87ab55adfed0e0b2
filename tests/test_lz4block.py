"""ROOT ``L4`` blocks: the XXH64 + LZ4 block framing in io/rootfile.py
over pyarrow's bundled liblz4 (``lz4_raw``).

The round-trip sweeps adversarial shapes (incompressible randomness,
RLE with overlap-copy matches, periodic patterns, short blocks around
the 12-byte min-match limit) across many seeds through the writer's
framing and the reader's block decode. Hand-built blocks stand in for
other conformant encoders, and corrupt blocks under a valid checksum
must surface as directed ``ValueError``s, not library errors."""

from __future__ import annotations

import random

import pytest

from dask_awkward_sandbox_spark.io.rootfile import (
    _compress_block,
    _decode_block,
    _decompress,
    xxh64,
)


def _framed(block: bytes) -> bytes:
    """The bytes after an L4 block header: canonical XXH64, then the block."""
    return xxh64(block).to_bytes(8, "big") + block


def test_roundtrip_shapes_and_seeds():
    framed_any = False
    for seed in range(40):
        rnd = random.Random(seed)
        cases = [
            rnd.randbytes(rnd.randrange(0, 2000)),            # incompressible
            bytes([rnd.randrange(4)] * rnd.randrange(0, 3000)),  # RLE / overlap
            (b"hello world " * 300)[: rnd.randrange(0, 3000)],   # periodic
            rnd.randbytes(8) * rnd.randrange(1, 200),          # long-offset repeats
            rnd.randbytes(rnd.randrange(0, 20)),               # sub-minmatch blocks
        ]
        for data in cases:
            basket = _compress_block(data, "lz4")
            if len(basket) == len(data):
                continue  # stored raw: compression did not shrink it
            framed_any = True
            assert basket[:2] == b"L4"
            assert _decompress(basket, len(data)) == data
    assert framed_any


def test_compresses_repetitive_data():
    data = b"0123456789abcdef" * 4096
    basket = _compress_block(data, "lz4")
    assert basket[:2] == b"L4"
    assert len(basket) < len(data) // 20


def test_empty_block():
    # one token: zero literals, no match
    assert _decode_block(b"L4", _framed(b"\x00"), 0) == b""


def test_decodes_foreign_encoder_shapes():
    # hand-built block another conformant encoder could emit: 1
    # literal 'a', an offset-1 overlap match of length 20 (15 + 1
    # extension byte + the 4-byte minimum), then the 5 trailing
    # literals the end-of-block rules require
    src = bytes([0x1F]) + b"a" + b"\x01\x00" + bytes([1, 0x50]) + b"bcdef"
    assert _decode_block(b"L4", _framed(src), 26) == b"a" * 21 + b"bcdef"
    # 255-saturated literal extension: 15 + 255 + 0 = 270 literals
    lits = bytes(270)
    src = bytes([0xF0, 255, 0]) + lits
    assert _decode_block(b"L4", _framed(src), 270) == lits


def test_decode_error_surface():
    for bad, size in [
        (bytes([0x04]) + b"\x00\x00", 8),         # zero match offset
        (bytes([0x50]) + b"ab", 5),               # literal run overruns
        (bytes([0x14]) + b"a" + b"\x09\x00", 9),  # offset before block start
    ]:
        with pytest.raises(ValueError, match="L4 block: corrupt lz4_raw data"):
            _decode_block(b"L4", _framed(bad), size)
    good = _compress_block(b"xyz" * 50, "lz4")[9:]
    assert _decode_block(b"L4", good, 150) == b"xyz" * 50
    with pytest.raises(ValueError, match="fewer than its header's 151"):
        _decode_block(b"L4", good, 151)
    flipped = bytearray(good)
    flipped[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        _decode_block(b"L4", bytes(flipped), 150)
    with pytest.raises(ValueError, match="smaller than its checksum"):
        _decode_block(b"L4", good[:7], 150)
