"""Packed-encoder external-bucket spill (round-6 batch 3): when a
reduce partition's buffered token bytes exceed
``spark.golr_loader.build.packed_spill_mb``, the unpack stage routes
rows into term-hash sub-bucket spill files (disjoint (term, fcode)
group sets) and sorts+encodes them one sub-bucket at a time — bounded
memory, and the block table must stay EXACTLY the one the flat
token-row build produced (its fingerprints, ``flat_goldens``).
"""

from __future__ import annotations

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.build_index import (
    _token_arrow_schema,
    build_postings_packed,
)
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

N = 1200
SPILL_CONF = "spark.golr_loader.build.packed_spill_mb"


@pytest.fixture(scope="module")
def docs(spark):
    return flatten_documents(synth_corpus(spark, N, seed=42, partitions=6)).cache()


@pytest.fixture(scope="module")
def dense(docs):
    return assign_dense_ids(docs).cache()


def _built_with_spill(spill_mb: str, docs, cfg, block_fingerprint):
    spark = docs.sparkSession
    try:
        spark.conf.set(SPILL_CONF, spill_mb)
        return block_fingerprint(build_postings_packed(docs, cfg))
    finally:
        spark.conf.unset(SPILL_CONF)


@pytest.mark.parametrize("positional", [False, True])
def test_spilled_equals_flat(spark, dense, positional, block_fingerprint, flat_goldens):
    cfg = IndexConfig(
        bucket_bits=4,
        id_space_bits=max(2, (N - 1).bit_length()),
        positions=positional,
    )
    golden = flat_goldens["dense_positional" if positional else "dense"]
    # ~50 KB threshold: every reduce partition trips the spill
    assert _built_with_spill("0.05", dense, cfg, block_fingerprint) == golden


def test_spilled_equals_flat_hash_ids(spark, docs, block_fingerprint, flat_goldens):
    # 64-bit hash ids (negative doc_ids, sparse buckets) through the
    # spill path
    cfg = IndexConfig(bucket_bits=5, id_space_bits=64)
    got = _built_with_spill("0.05", docs, cfg, block_fingerprint)
    assert got == flat_goldens["hash_ids"]


def test_zero_disables_spill(spark, dense, block_fingerprint, flat_goldens):
    # packed_spill_mb=0 → pure in-memory path (the pre-spill behavior)
    cfg = IndexConfig(bucket_bits=4, id_space_bits=max(2, (N - 1).bit_length()))
    got = _built_with_spill("0", dense, cfg, block_fingerprint)
    assert got == flat_goldens["dense"]


# ------------------------------------------------- spill hygiene (unit)


def _token_input(cfg, n_docs=64, seed=0):
    """(pid, blob) rows as the pack stage ships them: serialized token
    batches of the unpack stage's schema, a skewed vocabulary (term
    ``hot`` in every doc, a Zipf tail)."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.RandomState(seed)
    rows = []
    for d in range(n_docs):
        terms = {"hot"} | {f"t{int(z)}" for z in rng.zipf(1.5, size=6) if z < 200}
        for t in sorted(terms):
            rows.append((t, 0, d, 1, len(terms)))
    schema = _token_arrow_schema(cfg)
    cols = list(zip(*rows))
    tokens = pa.RecordBatch.from_arrays(
        [pa.array(cols[0]), pa.array(cols[1], pa.int32()), pa.array(cols[2], pa.int64()),
         pa.array(cols[3], pa.int32()), pa.array(cols[4], pa.int32())],
        schema=schema,
    )
    step = 50
    blobs = [
        tokens.slice(i, step).serialize().to_pybytes()
        for i in range(0, tokens.num_rows, step)
    ]
    return tokens, [
        pa.RecordBatch.from_arrays(
            [pa.array([0] * len(blobs[i : i + 2]), pa.int32()),
             pa.array(blobs[i : i + 2], pa.binary())],
            names=["pid", "blob"],
        )
        for i in range(0, len(blobs), 2)
    ]


def _open_fds_under(path) -> list[str]:
    import os

    out = []
    for fd in os.listdir("/proc/self/fd"):
        try:
            target = os.readlink(f"/proc/self/fd/{fd}")
        except OSError:
            continue
        if target.startswith(str(path)):
            out.append(target)
    return out


@pytest.fixture()
def spill_dir(tmp_path, monkeypatch):
    import os

    if not os.path.isdir("/proc/self/fd"):
        pytest.skip("needs /proc/self/fd")
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path))
    return tmp_path


def test_spill_handles_closed_when_encode_fails(spill_dir, monkeypatch):
    from golr_loader_spark.plans import build_index as bi

    def failing_encoder(rb, cfg):
        raise RuntimeError("encode failed")

    monkeypatch.setattr(bi, "_encode_sorted", failing_encoder)
    cfg = IndexConfig(bucket_bits=2, id_space_bits=6)
    _tokens, batches = _token_input(cfg)
    # the exception (and its traceback, which pins the failed frame)
    # stays alive as a Python worker's error report would keep it
    with pytest.raises(RuntimeError, match="encode failed") as err:
        list(bi._unpack_encode(cfg, spill_bytes=1)(iter(batches)))
    assert _open_fds_under(spill_dir) == [], err
    assert list(spill_dir.iterdir()) == []


def test_spill_handles_closed_when_a_blob_is_corrupt(spill_dir):
    import pyarrow as pa

    from golr_loader_spark.plans import build_index as bi

    cfg = IndexConfig(bucket_bits=2, id_space_bits=6)
    _tokens, batches = _token_input(cfg)
    bad = pa.RecordBatch.from_arrays(
        [pa.array([0], pa.int32()), pa.array([b"not an arrow message"], pa.binary())],
        names=["pid", "blob"],
    )
    # the spill is open (first blob trips the 1-byte threshold) when
    # the corrupt blob arrives
    with pytest.raises(pa.ArrowInvalid) as err:
        list(bi._unpack_encode(cfg, spill_bytes=1)(iter(batches + [bad])))
    assert _open_fds_under(spill_dir) == [], err
    assert list(spill_dir.iterdir()) == []


def test_spill_targets_spread_a_hot_term_over_its_buckets():
    import numpy as np

    from golr_loader_spark.plans.build_index import _spill_targets

    cfg = IndexConfig(bucket_bits=3, id_space_bits=6)
    tokens, _batches = _token_input(cfg)
    shift = np.int64(cfg.id_space_bits - cfg.bucket_bits)
    tgt = _spill_targets(tokens, shift)
    terms = np.array(tokens.column(0).to_pylist())
    buckets = tokens.column(2).to_numpy() >> shift
    # one sub-bucket per (term, fcode, bucket) group ...
    groups: dict = {}
    for t, b, s in zip(terms, buckets, tgt):
        groups.setdefault((t, b), set()).add(int(s))
    assert all(len(v) == 1 for v in groups.values())
    # ... but the term in every doc is not confined to one
    assert len(set(tgt[terms == "hot"])) > 1


def test_skewed_spill_encodes_identically_in_process():
    from golr_loader_spark.plans.build_index import _unpack_encode

    cfg = IndexConfig(bucket_bits=3, id_space_bits=6, block_size=8)
    _tokens, batches = _token_input(cfg, n_docs=64)

    def blocks(spill_bytes):
        rows = []
        for rb in _unpack_encode(cfg, spill_bytes)(iter(batches)):
            rows.extend(zip(*[c.to_pylist() for c in rb.columns]))
        return sorted(rows)

    assert blocks(1) == blocks(0)


def test_skewed_vocabulary_spilled_equals_flat(
    spark, block_fingerprint, flat_goldens, logical_digests, logical_goldens
):
    # a term in every doc, dominating its doc-id buckets
    rows = [
        (d, " ".join(["hot"] * (1 + d % 5) + [f"w{d % 7}", f"u{d}"]))
        for d in range(512)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cfg = IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=3, id_space_bits=9,
        block_size=16, positions=True,
    )
    for spill_mb in ("0.001", "0"):
        got = _built_with_spill(spill_mb, docs, cfg, block_fingerprint)
        assert got == flat_goldens["skewed_positional"], spill_mb
    got = _built_with_spill("0.001", docs, cfg, logical_digests)
    assert got == logical_goldens["skewed_positional"]
