"""Dense doc_id mode: determinism, rank-identity, compression win."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.functions.tokenize import analyze_query, tokenize
from golr_loader_spark.plans.bm25 import score_exact, search
from golr_loader_spark.plans.build_index import build_index, doc_lengths
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents

N = 400


@pytest.fixture(scope="module")
def dense_docs(spark):
    docs = flatten_documents(synth_corpus(spark, N, seed=42))
    return assign_dense_ids(docs, range_buckets=16).cache()


def test_dense_ids_are_dense_and_deterministic(spark, dense_docs):
    ids = sorted(r["doc_id"] for r in dense_docs.select("doc_id").collect())
    assert ids == list(range(N))
    # stable mapping across recomputation and repartitioning
    again = assign_dense_ids(
        flatten_documents(synth_corpus(spark, N, seed=42)).repartition(7),
        range_buckets=16,
    )
    m1 = {r["doc_hash"]: r["doc_id"] for r in dense_docs.select("doc_hash", "doc_id").collect()}
    m2 = {r["doc_hash"]: r["doc_id"] for r in again.select("doc_hash", "doc_id").collect()}
    assert m1 == m2


def test_dense_index_rank_identity(spark, dense_docs):
    bits = math.ceil(math.log2(N))
    cfg = IndexConfig(bucket_bits=3, id_space_bits=bits)
    ix = build_index(dense_docs, cfg)
    ix.postings = ix.postings.cache()
    tokens = tokenize(dense_docs, cfg).cache()
    dls = doc_lengths(tokens)
    avgdl = ix.avgdl_by_field
    for q in ["def return", "zq0007", "userData index"]:
        exact = score_exact(
            tokens, dls, ix.n_docs, avgdl, analyze_query(q), cfg, k=10
        ).collect()
        wand = search(ix, q, k=10, cfg=cfg).collect()
        assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact], q
        for a, b in zip(wand, exact):
            assert a["score"] == pytest.approx(b["score"], rel=1e-9)
    # buckets actually split the dense space (not all bucket 0)
    n_buckets = ix.postings.select("bucket").distinct().count()
    assert n_buckets > 1


def test_dense_ids_compress_better(spark, dense_docs):
    bits = math.ceil(math.log2(N))
    dense_cfg = IndexConfig(bucket_bits=3, id_space_bits=bits)
    hash_docs = flatten_documents(synth_corpus(spark, N, seed=42))
    hash_cfg = IndexConfig(bucket_bits=3)

    def id_bytes(ix):
        return ix.postings.agg(
            F.sum(F.length("doc_ids")).alias("b"), F.sum("n").alias("p")
        ).collect()[0]

    d = id_bytes(build_index(dense_docs, dense_cfg))
    h = id_bytes(build_index(hash_docs, hash_cfg))
    assert d["p"] == h["p"]  # same posting count
    # dense deltas: ≥3× smaller id stream than 64-bit-hash deltas
    assert d["b"] * 3 <= h["b"], (d["b"], h["b"])


def test_broadcast_and_fallback_paths_agree(spark):
    """The round-6 broadcast-attach plan (narrow window + broadcast
    join, no payload shuffle) must assign exactly the ids the
    window-over-full-rows fallback assigns."""
    docs = flatten_documents(synth_corpus(spark, 150, seed=7))
    fast = assign_dense_ids(docs, range_buckets=8)
    slow = assign_dense_ids(docs, range_buckets=8, broadcast_threshold=0)
    m_fast = {
        r["doc_hash"]: r["doc_id"]
        for r in fast.select("doc_hash", "doc_id").collect()
    }
    m_slow = {
        r["doc_hash"]: r["doc_id"]
        for r in slow.select("doc_hash", "doc_id").collect()
    }
    assert m_fast == m_slow
    assert sorted(fast.columns) == sorted(slow.columns)


@pytest.mark.parametrize("broadcast_threshold", [2_000_000, 0])
def test_duplicate_keys_raise(spark, broadcast_threshold):
    """Two rows sharing (doc_id, repo, path, commit) would each match
    both mapping rows of the broadcast attach and come out twice; the
    id assignment refuses such a corpus instead of duplicating rows."""
    docs = flatten_documents(synth_corpus(spark, 60, seed=3))
    dup = docs.unionByName(docs.limit(1))
    with pytest.raises(ValueError, match="duplicate"):
        assign_dense_ids(dup, range_buckets=8, broadcast_threshold=broadcast_threshold)


def test_hash_collision_keeps_distinct_rows(spark):
    """Two docs that share a hash id but not the full key still get one
    dense id each (the 4-key attach), and no row is duplicated."""
    docs = flatten_documents(synth_corpus(spark, 60, seed=3))
    first = docs.limit(1).collect()[0]
    twin = docs.limit(1).withColumn("path", F.concat(F.col("path"), F.lit(".twin")))
    out = assign_dense_ids(docs.unionByName(twin), range_buckets=8)
    rows = out.select("doc_id", "doc_hash").collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(61))
    assert sum(r["doc_hash"] == first["doc_id"] for r in rows) == 2


@pytest.mark.parametrize("broadcast_threshold", [2_000_000, 0])
def test_null_key_columns_keep_their_rows(spark, broadcast_threshold):
    """Rows whose repo, path or commit is NULL still get one dense id
    each: the attach compares the four keys NULL-safely, as the
    duplicate-key count's groupBy already does."""
    docs = flatten_documents(synth_corpus(spark, 60, seed=3))
    h = F.abs(F.col("doc_id"))
    for col, r in (("repo", 0), ("path", 1), ("commit", 2)):
        docs = docs.withColumn(col, F.when(h % 5 == r, F.lit(None)).otherwise(F.col(col)))
    assert docs.filter(F.col("repo").isNull() | F.col("path").isNull()).count() > 0
    out = assign_dense_ids(docs, range_buckets=8, broadcast_threshold=broadcast_threshold)
    rows = out.select("doc_id", "doc_hash").collect()
    assert sorted(r["doc_id"] for r in rows) == list(range(60))
    assert {r["doc_hash"] for r in rows} == {r["doc_id"] for r in docs.collect()}
