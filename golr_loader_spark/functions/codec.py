"""Vectorized delta + varint posting-block codec.

This is the compression half the reference delegated to Solr
(GolrLoader.java:498-515 just POSTs documents); here it is a
first-class numpy kernel used inside Arrow batches. No per-row
Python: the only loops are over *byte positions* (≤10) — batch-level,
as permitted by the input hint.

Layout per block (one DataFrame row):
  doc_id_first : int64   — first (smallest) doc_id in the block
  doc_ids      : binary  — varint deltas (first delta = 0)
  tfs          : binary  — varint term frequencies
  n            : int32   — postings in block
  max_tf       : int32   — block-max tf
  max_tf/min_dl: int     — block bounds; the BM25 block-max upper
                           bound is closed at query time from them
                           (used for admissible block-max pruning)
"""

from __future__ import annotations

import numpy as np

_MAXB = 10  # max varint bytes for a uint64


def varint_encode_with_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a uint64 array, vectorized over rows.
    Returns (byte stream as uint8 array, per-value byte counts) so
    callers can segment the stream without re-encoding."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: 1 + floor(bit_length-1 / 7). Bound the
    # pass count by the array MAX up front: posting deltas/tfs are
    # overwhelmingly 1-2 bytes, so this turns 9 full passes into 1-2.
    vmax = int(v.max())
    nb = np.ones(n, dtype=np.int64)
    for k in range(1, _MAXB):
        if vmax < 1 << (7 * k):
            break
        nb += (v >= np.uint64(1) << np.uint64(7 * k)).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(nb)])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    rem = v.copy()
    starts = offsets[:-1]
    for b in range(_MAXB):
        mask = nb > b
        if not mask.any():
            break
        byte = (rem[mask] & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] > b + 1).astype(np.uint8) << 7
        out[starts[mask] + b] = byte | cont
        rem[mask] >>= np.uint64(7)
    return out, nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, vectorized over rows."""
    out, _nb = varint_encode_with_sizes(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 byte string back to uint64, vectorized."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    if len(raw) == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = raw < 0x80
    ends = np.flatnonzero(is_end)
    starts = np.concatenate([[0], ends[:-1] + 1])
    n = len(ends)
    out = np.zeros(n, dtype=np.uint64)
    nb = ends - starts + 1
    for b in range(_MAXB):
        mask = nb > b
        if not mask.any():
            break
        out[mask] |= (raw[starts[mask] + b] & np.uint64(0x7F)).astype(
            np.uint64
        ) << np.uint64(7 * b)
    return out


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[int, bytes, bytes, int]:
    """Encode one sorted posting block → (doc_id_first, deltas, tfs, max_tf).

    doc_ids must be sorted ascending (int64, signed — xxhash64 space);
    deltas are non-negative and stored as uint64 varints.
    """
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    deltas = np.empty(len(ids), dtype=np.uint64)
    deltas[0] = 0
    if len(ids) > 1:
        deltas[1:] = np.diff(ids).astype(np.uint64)
    tf = np.ascontiguousarray(tfs, dtype=np.uint64)
    return int(ids[0]), varint_encode(deltas), varint_encode(tf), int(tf.max())


def decode_doc_ids(n: np.ndarray, doc_id_first: np.ndarray, doc_ids) -> np.ndarray:
    """Doc ids of many blocks at once: ``n`` postings per block,
    ``doc_id_first`` the blocks' bases and ``doc_ids`` their varint
    delta streams back to back (bytes, or the uint8 view
    ``binary_stream`` returns). One varint pass and a cumsum segmented
    at the block starts → int64 ids in block order."""
    g = np.cumsum(varint_decode(doc_ids).astype(np.int64))
    return g + np.repeat(doc_id_first - g[np.cumsum(n) - n], n)


def decode_block(doc_id_first: int, doc_ids_buf: bytes, tfs_buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_block → (doc_ids int64 sorted, tfs int64)."""
    tfs = varint_decode(tfs_buf).astype(np.int64)
    ids = decode_doc_ids(
        np.array([len(tfs)], dtype=np.int64),
        np.array([doc_id_first], dtype=np.int64),
        doc_ids_buf,
    )
    return ids, tfs


def binary_from_segments(data: np.ndarray, seg_bytes: np.ndarray):
    """Zero-copy pa.binary array: one value per segment of ``data``.
    Shared by the posting-block encoder and the Arrow tokenizer — the
    whole column is built from two buffers, never one Python bytes
    object per row."""
    import pyarrow as pa

    offsets = np.zeros(len(seg_bytes) + 1, dtype=np.int32)
    np.cumsum(seg_bytes, out=offsets[1:])
    return pa.Array.from_buffers(
        pa.binary(),
        len(seg_bytes),
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data.tobytes())],
    )


def binary_stream(arr) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``binary_from_segments``: a pa.binary array (or a
    one-chunk ChunkedArray) → (its values back to back as a uint8 view,
    int64 offsets of each value into that stream, length n+1, from 0).
    Zero-copy; honours the array's slice offset."""
    if hasattr(arr, "chunks"):
        arr = arr.chunk(0)
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    if bufs[2] is None:
        return np.empty(0, dtype=np.uint8), offs - offs[0]
    data = np.frombuffer(bufs[2], dtype=np.uint8)[offs[0] : offs[-1]]
    return data, offs - offs[0]


def positions_encode(
    flat_pos: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Segmented position encode: ``flat_pos`` holds per-posting
    ascending position lists back to back (segment i has
    ``counts[i]`` values). Each segment is stored as first-absolute +
    ascending deltas, LEB128. Returns (uint8 stream, per-segment byte
    sizes) — one vectorized pass, shared by the tokenizer and the
    compaction re-encoder. Empty segments (tf 0: norms postings) get
    size 0."""
    sizes = np.zeros(len(counts), dtype=np.int64)
    if len(flat_pos) == 0:
        return np.empty(0, dtype=np.uint8), sizes
    nz = counts > 0
    starts = (np.cumsum(counts) - counts).astype(np.int64)[nz]
    d = np.empty(len(flat_pos), dtype=np.uint64)
    d[1:] = (flat_pos[1:] - flat_pos[:-1]).astype(np.uint64)
    d[starts] = flat_pos[starts].astype(np.uint64)
    stream, nb = varint_encode_with_sizes(d)
    sizes[nz] = np.add.reduceat(nb, starts)
    return stream, sizes
