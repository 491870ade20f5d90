"""The index build (plans.build_index.build_postings_packed) must
produce the EXACT block table of the flat tokenize→shuffle→sort→encode
build it replaced — base, positional, and hash-id (sparse bucket)
corpora — pinned by fingerprints of the norms layout (``flat_goldens``)
and by what the tables decode to (``logical_goldens``, recorded from the
flat build's per-posting-dl tables), and build_index must go through it.
"""

from __future__ import annotations

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.functions.tokenize import tokenize
from golr_loader_spark.plans.build_index import (
    build_index,
    build_postings_packed,
    term_stats,
)
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

N = 1200


@pytest.fixture(scope="module")
def docs(spark):
    return flatten_documents(synth_corpus(spark, N, seed=42, partitions=6)).cache()


@pytest.fixture(scope="module")
def dense(docs):
    return assign_dense_ids(docs).cache()


@pytest.mark.parametrize("positional", [False, True])
def test_packed_equals_flat_dense(
    spark, dense, positional, block_fingerprint, flat_goldens, logical_digests,
    logical_goldens,
):
    cfg = IndexConfig(
        bucket_bits=4,
        id_space_bits=max(2, (N - 1).bit_length()),
        positions=positional,
    )
    packed = build_postings_packed(dense, cfg).cache()
    name = "dense_positional" if positional else "dense"
    assert block_fingerprint(packed) == flat_goldens[name]
    assert logical_digests(packed) == logical_goldens[name]
    packed.unpersist()


def test_packed_equals_flat_hash_ids(
    spark, docs, block_fingerprint, flat_goldens, logical_digests, logical_goldens
):
    # 64-bit hash ids: negative doc_ids, arithmetic-shift buckets,
    # sparse id space — exercises the bucket/pid math away from the
    # dense fast case
    cfg = IndexConfig(bucket_bits=5, id_space_bits=64)
    packed = build_postings_packed(docs, cfg).cache()
    assert block_fingerprint(packed) == flat_goldens["hash_ids"]
    assert logical_digests(packed) == logical_goldens["hash_ids"]
    packed.unpersist()


def test_build_index_matches_flat_golden(spark, dense, block_fingerprint, flat_goldens):
    cfg = IndexConfig(bucket_bits=4, id_space_bits=max(2, (N - 1).bit_length()))
    ix = build_index(dense, cfg, n_docs=N)
    assert block_fingerprint(ix.postings) == flat_goldens["dense"]
    # term stats derived from the block table equal those counted over
    # the flat token rows
    got = sorted(tuple(r) for r in ix.term_stats.collect())
    want = sorted(tuple(r) for r in term_stats(tokenize(dense, cfg)).collect())
    assert got == want
    ix.postings.unpersist()
