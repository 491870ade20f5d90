"""Codec round-trip vs a pure-Python LEB128 oracle (property-style)."""

from __future__ import annotations

import numpy as np
import pytest

from golr_loader_spark.functions.codec import (
    binary_from_segments,
    binary_stream,
    decode_block,
    decode_doc_ids,
    encode_block,
    varint_decode,
    varint_encode,
)


def _py_varint(vals) -> bytes:
    out = bytearray()
    for v in vals:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_varint_matches_python_oracle(seed):
    rng = np.random.default_rng(seed)
    vals = rng.integers(0, 2**63, size=1000, dtype=np.uint64)
    vals[:10] = [0, 1, 127, 128, 16383, 16384, 2**32 - 1, 2**32, 2**63 - 1, 2**63]
    enc = varint_encode(vals)
    assert enc == _py_varint(vals)
    dec = varint_decode(enc)
    assert np.array_equal(dec, vals)


def test_varint_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert len(varint_decode(b"")) == 0


def test_block_roundtrip_signed_ids():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.integers(-(2**62), 2**62, size=500, dtype=np.int64))
    ids = np.unique(ids)
    tfs = rng.integers(1, 5000, size=len(ids), dtype=np.int64)
    first, idbuf, tfbuf, max_tf = encode_block(ids, tfs)
    assert first == int(ids[0])
    assert max_tf == int(tfs.max())
    rids, rtfs = decode_block(first, idbuf, tfbuf)
    assert np.array_equal(rids, ids)
    assert np.array_equal(rtfs, tfs)


def test_block_single_posting():
    first, idbuf, tfbuf, max_tf = encode_block(np.array([-42]), np.array([3]))
    rids, rtfs = decode_block(first, idbuf, tfbuf)
    assert rids.tolist() == [-42] and rtfs.tolist() == [3]


def test_decode_doc_ids_over_many_blocks():
    """The engine's many-block decoder, on bytes and on the uint8 view
    of an Arrow binary column, equals the per-block round trip."""
    rng = np.random.default_rng(3)
    ids = np.unique(rng.integers(-(2**62), 2**62, size=700, dtype=np.int64))
    n = np.array([1, 128, 5, 300, len(ids) - 434], dtype=np.int64)
    blocks = np.split(ids, np.cumsum(n)[:-1])
    enc = [encode_block(b, np.ones(len(b), dtype=np.int64)) for b in blocks]
    firsts = np.array([e[0] for e in enc], dtype=np.int64)
    stream = b"".join(e[1] for e in enc)
    assert np.array_equal(decode_doc_ids(n, firsts, stream), ids)
    col = binary_from_segments(
        np.frombuffer(stream, dtype=np.uint8), np.array([len(e[1]) for e in enc])
    )
    assert np.array_equal(decode_doc_ids(n, firsts, binary_stream(col)[0]), ids)
    empty = np.empty(0, dtype=np.int64)
    assert len(decode_doc_ids(empty, empty, b"")) == 0
