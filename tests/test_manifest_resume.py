"""Kill-and-resume + lineage tests (SURVEY.md §7 stage 7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.bm25 import search
from golr_loader_spark.plans.build_index import build_index
from golr_loader_spark.plans.documents import flatten_documents
from golr_loader_spark.plans.manifest import (
    StopBuild,
    build_index_checkpointed,
    build_metrics,
    load_checkpointed_index,
    verify_lineage,
)


@pytest.fixture(scope="module")
def docs(spark):
    return flatten_documents(synth_corpus(spark, 300, seed=42)).cache()


def _topk(ix, q="def return zq0042", k=10):
    return [(r["doc_id"], r["score"]) for r in search(ix, q, k=k).collect()]


def test_kill_and_resume_equals_one_shot(spark, docs, tmp_path):
    cfg = IndexConfig()
    root = str(tmp_path / "ckpt")

    # killed mid-build after 3 group commits
    with pytest.raises(StopBuild):
        build_index_checkpointed(
            docs, root, cfg, n_bucket_groups=3, stop_after_commits=3
        )
    m1 = build_metrics(spark, root)
    assert m1.count() == 3  # exactly the committed groups

    # resume to completion
    ix = build_index_checkpointed(docs, root, cfg, n_bucket_groups=3)
    m2 = build_metrics(spark, root).collect()
    phases = {(r["phase"], r["split_id"]) for r in m2}
    assert ("stats", 0) in phases and ("finalize", 0) in phases
    assert all(r["status"] == "done" for r in m2)
    assert all(r["wall_ms"] >= 0 for r in m2)

    # resumed index ranks identically to a one-shot in-memory build
    one_shot = build_index(docs, cfg)
    assert _topk(ix) == _topk(one_shot)

    # resume on a complete build is a no-op (manifest row count stable)
    n_before = len(m2)
    build_index_checkpointed(docs, root, cfg, n_bucket_groups=3)
    assert build_metrics(spark, root).count() == n_before


def test_kill_and_resume_on_dense_ids(spark, docs, tmp_path):
    """The production default (dense doc_ids) must survive kill/resume
    and rank identically to a one-shot build on the same dense ids."""
    from golr_loader_spark.plans.documents import assign_dense_ids

    ddocs = assign_dense_ids(docs).cache()
    n = ddocs.count()
    cfg = IndexConfig(id_space_bits=max(2, (n - 1).bit_length()))
    root = str(tmp_path / "dense")

    with pytest.raises(StopBuild):
        build_index_checkpointed(
            ddocs, root, cfg, n_bucket_groups=2, stop_after_commits=2
        )
    ix = build_index_checkpointed(ddocs, root, cfg, n_bucket_groups=2)
    one_shot = build_index(ddocs, cfg)
    assert _topk(ix) == _topk(one_shot)
    assert verify_lineage(ddocs, spark, root)
    # dense ids really are dense: contiguous 0..N-1
    ids = [r["doc_id"] for r in ddocs.select("doc_id").collect()]
    assert sorted(ids) == list(range(n))


def test_lineage_checksum_roundtrip(spark, docs, tmp_path):
    root = str(tmp_path / "lin")
    build_index_checkpointed(docs, root, n_bucket_groups=2)
    assert verify_lineage(docs, spark, root)
    # a corpus that differs in one row fails the invariant
    tampered = docs.withColumn(
        "content_sha256",
        F.when(F.col("doc_id") == docs.limit(1).collect()[0]["doc_id"], F.lit("0" * 64))
        .otherwise(F.col("content_sha256")),
    )
    assert not verify_lineage(tampered, spark, root)


def test_loaded_index_matches_after_reload(spark, docs, tmp_path):
    root = str(tmp_path / "reload")
    cfg = IndexConfig()
    ix = build_index_checkpointed(docs, root, cfg, n_bucket_groups=2)
    ix2 = load_checkpointed_index(spark, root, cfg)
    assert _topk(ix2) == _topk(ix)


@pytest.mark.parametrize("dense_ids", [True, False], ids=["dense", "hash"])
def test_resumed_block_table_equals_one_shot(
    spark, docs, tmp_path, monkeypatch, block_fingerprint, plan_nodes, dense_ids
):
    """Killed after 2 of 3 bucket-group commits and resumed, the
    written block table is the one-shot build's, and each group is
    built by the one packed pipeline: tokenize+pack → Exchange →
    unpack+sort+encode, with no Tungsten Sort."""
    from golr_loader_spark.plans import manifest
    from golr_loader_spark.plans.documents import assign_dense_ids

    if dense_ids:
        src = assign_dense_ids(docs).cache()
        cfg = IndexConfig(id_space_bits=max(2, (src.count() - 1).bit_length()))
    else:
        src, cfg = docs, IndexConfig()
    root = str(tmp_path / "groups")

    built = []
    packed = manifest.build_postings_packed

    def recording_packed(*a, **k):
        built.append(packed(*a, **k))
        return built[-1]

    monkeypatch.setattr(manifest, "build_postings_packed", recording_packed)
    with pytest.raises(StopBuild):
        build_index_checkpointed(src, root, cfg, n_bucket_groups=3, stop_after_commits=2)
    assert [(r["phase"], r["split_id"]) for r in build_metrics(spark, root).collect()] == [
        ("postings", 0), ("postings", 1)
    ]
    ix = build_index_checkpointed(src, root, cfg, n_bucket_groups=3)
    assert len(built) == 3  # each group built once, across the kill

    one_shot = build_index(src, cfg)
    assert block_fingerprint(ix.postings) == block_fingerprint(one_shot.postings)
    ts = sorted(tuple(r) for r in ix.term_stats.collect())
    assert ts == sorted(tuple(r) for r in one_shot.term_stats.collect())
    assert verify_lineage(src, spark, root)

    # the group's own operators, above the cached documents (whose
    # plan the tree string repeats below them)
    nodes = plan_nodes(built[0])
    nodes = nodes[: nodes.index("InMemoryTableScan")]
    ex = nodes.index("Exchange")
    assert nodes[ex - 1 : ex + 2] == ["MapInArrow", "Exchange", "MapInArrow"]
    assert nodes.count("Exchange") == 1 and "Sort" not in nodes
    one_shot.postings.unpersist()
