"""The compaction kernel and the maintenance plan shapes.

* Golden parity: the block table ``compact_postings`` writes for a
  positional, multi-segment, tombstoned root is pinned by its
  fingerprint (xor of ``xxhash64`` over all columns — the same figure
  the benchmark records for the build) and by what it decodes to. The
  decoded digests are the output of the per-list ``applyInPandas``
  kernel this one replaced, from before doc lengths moved into norms
  lists; the partition-wide kernel must reproduce them, including a
  list that loses every posting and lists longer than one Arrow batch
  (so the carry-over between batches runs, norms included).
* Plan shape: compaction is one exchange on (field, bucket) under a
  ``MapInArrow``, with no grouped pandas UDF; the upsert builds its
  segment on the packed path, with no Tungsten sort of flat token rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.build_index import build_index, read_index, write_index
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents
from golr_loader_spark.plans.maintenance import (
    compact_postings,
    delete_docs,
    load_tombstones,
    upsert_docs_fast,
)

N_BASE = 240
N_BATCH = 60  # half updates of existing ids, half new ids
VANISH = 17  # its content is replaced by a term no other doc has, then deleted
DELETED = [VANISH, 3, 101, 202]

# fingerprint of the compacted block table (blocks, postings, xor of
# xxhash64 over the sorted columns) in the norms layout
GOLDEN = (3834, 43920, "1855841ce8ddfa54")
# what it decodes to (conftest._logical_digests), as the per-list
# applyInPandas kernel computed it when every posting stored its dl
LOGICAL_GOLDEN = ("8b7b86cb57497364", "8258207e83721836")


@pytest.fixture(scope="module")
def cfg():
    # small blocks: hot lists span several blocks, so with a tiny Arrow
    # batch they span several batches too
    return IndexConfig(bucket_bits=1, id_space_bits=9, block_size=16, positions=True)


@pytest.fixture(scope="module")
def everything(spark):
    docs = assign_dense_ids(
        flatten_documents(synth_corpus(spark, N_BASE + N_BATCH, seed=7, partitions=4))
    )
    return docs.withColumn(
        "content",
        F.when(F.col("doc_id") == VANISH, F.lit("zzvanish zzvanish")).otherwise(
            F.col("content")
        ),
    ).cache()


@pytest.fixture(scope="module")
def root(spark, cfg, everything, tmp_path_factory):
    """Base segment of N_BASE docs, one fast-upsert segment (updates of
    every 8th base doc plus new ids), hard deletes on top."""
    root = str(tmp_path_factory.mktemp("compact_kernel") / "root")
    base = everything.filter(F.col("doc_id") < N_BASE)
    write_index(build_index(base, cfg, n_docs=N_BASE), root, term_partitions=2, documents=base)
    remap = {N_BASE + j: (8 * j if j < N_BATCH // 2 else N_BASE + j) for j in range(N_BATCH)}
    batch = everything.filter(F.col("doc_id") >= N_BASE).withColumn(
        "doc_id",
        F.element_at(F.create_map(*[F.lit(x) for kv in remap.items() for x in kv]), F.col("doc_id")),
    )
    assert upsert_docs_fast(spark, root, batch, cfg)["segment"] == 1
    delete_docs(spark, root, DELETED)
    return root


def test_compaction_block_table_matches_golden(
    spark, cfg, root, block_fingerprint, logical_digests
):
    postings = read_index(spark, root, cfg).postings
    assert postings.filter(F.col("term") == "zzvanish").count() > 0
    # every list with more than 4 blocks crosses an Arrow batch
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        per_list = postings.groupBy("term", "field", "bucket").count()
        assert per_list.filter(F.col("count") > 4).count() > 0
        out = compact_postings(postings, load_tombstones(spark, root), cfg).persist()
        assert out.filter(F.col("term") == "zzvanish").count() == 0
        assert out.select("segment").distinct().collect() == [(0,)]
        assert block_fingerprint(out) == GOLDEN
        assert logical_digests(out) == LOGICAL_GOLDEN
        out.unpersist()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_compaction_plan_is_one_exchange_under_map_in_arrow(spark, cfg, root, plan_nodes):
    postings = read_index(spark, root, cfg).postings
    nodes = plan_nodes(compact_postings(postings, load_tombstones(spark, root), cfg))
    assert "FlatMapGroupsInPandas" not in nodes
    assert nodes.count("Exchange") == 1
    assert nodes.index("MapInArrow") < nodes.index("Exchange")


def test_upsert_builds_its_segment_on_the_packed_path(
    spark, cfg, everything, tmp_path, monkeypatch, plan_nodes
):
    from golr_loader_spark.plans import build_index as bi

    root = str(tmp_path / "root")
    base = everything.filter(F.col("doc_id") < 40)
    write_index(build_index(base, cfg, n_docs=40), root, term_partitions=2, documents=base)

    built = []
    packed = bi.build_postings_packed

    def recording_packed(*a, **k):
        built.append(packed(*a, **k))
        return built[-1]

    monkeypatch.setattr(bi, "build_postings_packed", recording_packed)
    batch = everything.filter(F.col("doc_id").between(30, 49))
    assert upsert_docs_fast(spark, root, batch, cfg) == {"updated": 10, "added": 10, "segment": 1}
    nodes = plan_nodes(built[0])
    # token rows cross one exchange as packed blobs and are sorted in
    # the encoder: tokenize+pack → Exchange → unpack+sort+encode, no
    # Tungsten Sort above the exchange (the cached input below it
    # carries plans of its own)
    ex = nodes.index("Exchange")
    assert nodes[ex - 1 : ex + 2] == ["MapInArrow", "Exchange", "MapInArrow"]
    assert "Sort" not in nodes[:ex]
