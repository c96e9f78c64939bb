"""Snappy / LZ4 / zstd / DEFLATE round trips (sources/codecs.py): the
library codecs the entries name, their wire formats, fail-closed
decoding of truncated input, and the worker-side census itself."""

from __future__ import annotations

import hashlib
import zlib

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hive_clone_spark.sources.codecs import census_batches

CODECS = ("snappy", "lz4_raw", "zstd", "zlib")

payloads = st.one_of(
    st.binary(max_size=2000),
    # tiled small alphabets: long matches and overlapping copies
    st.builds(
        lambda seed, reps: seed * reps,
        st.binary(min_size=1, max_size=24),
        st.integers(min_value=1, max_value=200),
    ),
)


def _compress(codec: str, data: bytes) -> bytes:
    if codec == "zlib":
        return zlib.compress(data)
    return pa.Codec(codec).compress(data, asbytes=True)


def _decompress(codec: str, comp: bytes, size: int) -> bytes:
    if codec == "zlib":
        return zlib.decompress(comp)
    return pa.Codec(codec).decompress(comp, decompressed_size=size, asbytes=True)


@pytest.mark.parametrize("codec", CODECS)
@settings(max_examples=150, deadline=None)
@given(data=payloads)
@example(data=b"")
def test_roundtrip(codec, data):
    comp = _compress(codec, data)
    assert _decompress(codec, comp, len(data)) == data


@pytest.mark.parametrize("codec", CODECS)
def test_empty_and_tiny(codec):
    """Inputs below every format's minimum match length, plus a binary
    blob covering all byte values, round-trip exactly."""
    for data in (b"", b"x", b"abcd", bytes(range(256)) * 20):
        assert _decompress(codec, _compress(codec, data), len(data)) == data


@pytest.mark.parametrize("codec", CODECS)
@settings(max_examples=150, deadline=None)
@given(data=payloads)
@example(data=b"")
def test_truncated_input_raises(codec, data):
    """Dropping the last byte of any stream must raise, never return
    bytes: each format ends in a check the short stream cannot meet
    (Snappy's length preamble, LZ4's closing literal run, zstd's block
    sizes, zlib's Adler-32)."""
    comp = _compress(codec, data)
    with pytest.raises((OSError, zlib.error)):
        _decompress(codec, comp[:-1], len(data))


@pytest.mark.parametrize("level", (0, 1, 9))
def test_zlib_levels(level):
    data = b"the quick brown fox " * 500 + bytes(range(256))
    comp = zlib.compress(data, level)
    assert zlib.decompress(comp) == data
    if level == 0:  # stored blocks: framing only
        assert len(comp) > len(data)
    else:
        assert len(comp) < len(data) // 4


MAGIC = (0xFD2FB528).to_bytes(4, "little")


def _zstd_frame(content_size: int, btype: int, size: int, body: bytes) -> bytes:
    """Single-segment zstd frame, 1-byte content size, one last block."""
    header = (1 | (btype << 1) | (size << 3)).to_bytes(3, "little")
    return MAGIC + bytes([0x20, content_size]) + header + body


def _zstd_compressed(content_size: int, content: bytes) -> bytes:
    return _zstd_frame(content_size, 2, len(content), content)


# Huffman literals 'abba', 0 sequences: direct 4-bit weights list
# symbols 0..97 (only 'a' = 97 weighted); the implicit last symbol 'b'
# completes the tree, so a = 0 and b = 1 (1-bit codes, read backwards)
_HUF_TREE = bytes([127 + 98]) + bytes(48) + b"\x01"
_HUF_LITERALS = (2 | (4 << 4) | ((len(_HUF_TREE) + 1) << 14)).to_bytes(3, "little")
# raw literals 'ab', 2 sequences in RLE mode (LL=1, offset = repeat 1,
# ML=3): 'a' + 3-byte overlapping copy, 'b' + the same
_RLE_SEQUENCES = b"\x10ab" + bytes([2, 0x54, 1, 0, 0, 0x01])
# the zstd frame of b"hello" with a content checksum (low 32 bits of
# XXH64), as a checksumming encoder writes it
_ZSTD_CHECKSUMMED = bytes.fromhex("28b52ffd240529000068656c6c6fa36d9f88")

VECTORS = {
    # literal 'abcd', 1-byte-offset copy (tag 01), 4-byte-offset copy
    # (tag 11), after the uvarint length preamble
    "snappy-copy-forms": (
        "snappy", b"\x0c\x0cabcd\x01\x04\x0f\x08\x00\x00\x00", b"abcd" * 3),
    # LZ4 block: literals-only last sequence
    "lz4-literals": ("lz4_raw", b"\x50hello", b"hello"),
    # 'a', self-overlapping match (offset 1, length 8), last literals
    "lz4-overlap": ("lz4_raw", b"\x14a\x01\x00\x50bcdef", b"a" * 9 + b"bcdef"),
    "zstd-raw": ("zstd", _zstd_frame(5, 0, 5, b"hello"), b"hello"),
    "zstd-rle": ("zstd", _zstd_frame(7, 1, 7, b"q"), b"q" * 7),
    "zstd-huffman": (
        "zstd",
        _zstd_compressed(4, _HUF_LITERALS + _HUF_TREE + b"\x16\x00"),
        b"abba",
    ),
    "zstd-repeat-offset": ("zstd", _zstd_compressed(8, _RLE_SEQUENCES), b"aaaabbbb"),
    "zstd-checksum": ("zstd", _ZSTD_CHECKSUMMED, b"hello"),
    # skippable frame, then two concatenated frames
    "zstd-skippable-concat": (
        "zstd",
        (0x184D2A53).to_bytes(4, "little") + (3).to_bytes(4, "little") + b"xyz"
        + _zstd_frame(2, 0, 2, b"ok") * 2,
        b"okok",
    ),
    # zlib header, one final stored block, Adler-32
    "zlib-stored": ("zlib", b"\x78\x01\x01\x03\x00\xfc\xffabc\x02\x4d\x01\x27", b"abc"),
}


@pytest.mark.parametrize("codec, stream, expected", VECTORS.values(), ids=VECTORS)
def test_spec_vectors(codec, stream, expected):
    """Hand-built streams from each public format spec: pins that the
    codec names select the formats the entries document (e.g.
    ``lz4_raw``, the block format, not the LZ4 frame format)."""
    assert _decompress(codec, stream, len(expected)) == expected


CORRUPT = {
    # copy reaching before the start of the output
    "snappy-bad-offset": ("snappy", b"\x04\x0e\x09\x00", 4),
    "lz4-offset-past-start": ("lz4_raw", b"\x04\x05\x00\x00", 8),
    "lz4-truncated-literals": ("lz4_raw", b"\x10", 1),
    "lz4-truncated-length": ("lz4_raw", b"\xf0", 15),
    "zstd-bad-magic": ("zstd", b"\x00\x00\x00\x00rest", 4),
    "zstd-unknown-dictionary": (
        "zstd", MAGIC + b"\x21\x07\x00" + (1).to_bytes(3, "little"), 0),
    "zstd-reserved-block": ("zstd", _zstd_frame(4, 3, 4, b"xxxx"), 4),
    "zstd-content-size-lies": ("zstd", _zstd_frame(9, 0, 5, b"hello"), 9),
    "zstd-checksum-mismatch": ("zstd", _ZSTD_CHECKSUMMED[:-1] + b"\x77", 5),
    # one sequence, LL=0 and offset value 2 -> repeat offset 3 (= 8),
    # past the empty output
    "zstd-match-before-start": (
        "zstd", _zstd_compressed(3, b"\x00" + bytes([1, 0x54, 0, 1, 0, 0x02])), 3),
    "zlib-bad-method": ("zlib", b"\x00" * 8, 0),
    "zlib-adler-mismatch": (
        "zlib", b"\x78\x01\x01\x03\x00\xfc\xffabc\x02\x4d\x01\x28", 3),
}


@pytest.mark.parametrize("codec, stream, size", CORRUPT.values(), ids=CORRUPT)
def test_corrupt_streams_raise(codec, stream, size):
    with pytest.raises((OSError, zlib.error)):
        _decompress(codec, stream, size)


@pytest.mark.parametrize("codec", CODECS)
def test_census_matches_source(codec):
    texts = ["", "a", "héllo wörld ✓", "spark " * 400, "x" * 70000, "tail"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    out = pd.concat(census_batches(codec)(iter([pdf[:3], pdf[3:]])))
    raw = [t.encode("utf-8") for t in texts]
    assert out["doc_id"].tolist() == list(range(len(texts)))
    assert out["orig_len"].tolist() == [len(r) for r in raw]
    assert out["decoded_len"].tolist() == [len(r) for r in raw]
    assert out["decoded_md5"].tolist() == [hashlib.md5(r).hexdigest() for r in raw]
    assert out["roundtrip_ok"].all()
    if codec == "zlib":
        assert out["zlevel"].tolist() == ["stored", "fast", "best"] * 2
    else:
        assert "zlevel" not in out
