"""Maintenance goldens and the driver-side metadata guards.

* Goldens: sha256 digests of the sorted rows of every table a persisted
  root holds after ``upsert_docs_fast`` → ``delete_docs`` (postings,
  term_stats, stats, docs, tombstones) and again after ``compact_root``,
  on a plain and a positional root, recorded before the metadata paths
  were reworked; the dense-id mapping of ``assign_dense_ids`` on both of
  its plans likewise.
* Guards: the metadata-sized steps of those calls reach Spark without a
  Python-list ``createDataFrame`` (a Python-RDD scan), without one
  ``create_map`` literal per dense-id range, and without a Spark scan of
  the postings in the O(batch) upsert.
* ``compact_root`` with only superseded-copy tombstones leaves the docs
  manifest's files in place.
"""

from __future__ import annotations

import glob
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrameReader, SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents
from golr_loader_spark.plans.maintenance import compact_root, delete_docs, upsert_docs_fast

N0 = 24
TABLES = ("postings", "term_stats", "stats", "docs", "tombstones")
UPSERT = [(3, "replacement body novelword common"), (30, "brand new doc common filler")]
DELETED = [5, 11]

# sha256[:16] of the sorted rows of each table, per root flavour and stage
GOLDENS = {
    "plain": {
        "deleted": {
            "postings": "d4b2f79d9abf27b4",
            "term_stats": "34ea95515cc6ca63",
            "stats": "a44f5efeb0a1be1e",
            "docs": "5454da35efbb4d9b",
            "tombstones": "0c8eab9331638dc9",
        },
        "compacted": {
            "postings": "84a29c4b9af98511",
            "term_stats": "55af883f5ab96850",
            "stats": "e4e5179f1f981acd",
            "docs": "cd6c55007cc33a35",
            "tombstones": "e3b0c44298fc1c14",  # no table: the empty digest
        },
    },
    "positional": {
        "deleted": {
            "postings": "f49f73ddf45dd8c9",
            "term_stats": "34ea95515cc6ca63",
            "stats": "a44f5efeb0a1be1e",
            "docs": "5454da35efbb4d9b",
            "tombstones": "0c8eab9331638dc9",
        },
        "compacted": {
            "postings": "a07e522aa559e540",
            "term_stats": "55af883f5ab96850",
            "stats": "e4e5179f1f981acd",
            "docs": "cd6c55007cc33a35",
            "tombstones": "e3b0c44298fc1c14",
        },
    },
}

# sha256[:16] of the sorted (doc_hash, doc_id) pairs of assign_dense_ids
# over synth_corpus(150, seed=7), the same for either plan and either
# range count
DENSE_GOLDEN = "8a662ad10b5e923b"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _table_digest(path: str) -> str:
    """Digest of a table's row SET: columns in name order, rows sorted by
    their repr — file names and row order do not count."""
    files = sorted(glob.glob(f"{path}/*.parquet"))
    rows: list[str] = []
    if files:
        tbl = pa.concat_tables(
            [pq.read_table(f) for f in files], promote_options="default"
        )
        tbl = tbl.select(sorted(tbl.column_names))
        rows = sorted(repr(tuple(r.values())) for r in tbl.to_pylist())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


def _digests(root: str) -> dict[str, str]:
    return {t: _table_digest(f"{root}/{t}") for t in TABLES}


def _watch(mp: pytest.MonkeyPatch) -> dict[str, list]:
    """Record the data types ``createDataFrame`` receives and the paths
    ``spark.read.parquet`` opens until ``mp`` is undone."""
    seen: dict[str, list] = {"created": [], "read": []}
    create_df = SparkSession.createDataFrame
    read_parquet = DataFrameReader.parquet

    def created(self, data, *a, **kw):
        seen["created"].append(type(data))
        return create_df(self, data, *a, **kw)

    def read(self, *paths, **kw):
        seen["read"].extend(os.path.normpath(p) for p in paths)
        return read_parquet(self, *paths, **kw)

    mp.setattr(SparkSession, "createDataFrame", created)
    mp.setattr(DataFrameReader, "parquet", read)
    return seen


@pytest.fixture(scope="module", params=["plain", "positional"])
def lifecycle(request, spark, tmp_path_factory):
    """Base root of N0 docs → fast upsert (one update, one add) → hard
    deletes → compaction: the table digests after the deletes and after
    the compaction, the calls' results, and what the upsert and the
    compaction handed to Spark."""
    flavour = request.param
    cfg = IndexConfig(
        fields={"text": ("simple", 1.0)},
        bucket_bits=2,
        id_space_bits=6,
        positions=flavour == "positional",
    )
    base = _docs(spark, [(i, f"common filler uid{i} words here") for i in range(N0)])
    root = str(tmp_path_factory.mktemp(f"mg_{flavour}") / "root")
    write_index(build_index(base, cfg), root, term_partitions=2, documents=base)
    batch = _docs(spark, UPSERT)
    out = {"flavour": flavour, "root": root, "seen": {}}
    with pytest.MonkeyPatch.context() as mp:
        out["seen"]["upsert"] = _watch(mp)
        out["upserted"] = upsert_docs_fast(spark, root, batch, cfg)
    delete_docs(spark, root, DELETED)
    out["deleted"] = _digests(root)
    with pytest.MonkeyPatch.context() as mp:
        out["seen"]["compact"] = _watch(mp)
        out["removed"] = compact_root(spark, root, cfg)
    out["compacted"] = _digests(root)
    return out


def test_upsert_delete_compact_tables_match_goldens(lifecycle):
    assert lifecycle["upserted"] == {"updated": 1, "added": 1, "segment": 1}
    assert lifecycle["removed"] == len(DELETED)
    want = GOLDENS[lifecycle["flavour"]]
    assert lifecycle["deleted"] == want["deleted"]
    assert lifecycle["compacted"] == want["compacted"]


def test_maintenance_hands_spark_no_python_list(lifecycle):
    """A Python-list ``createDataFrame`` is a Python-RDD scan (one
    Python-worker stage per use); metadata reaches Spark as one Arrow
    batch instead."""
    for stage, seen in lifecycle["seen"].items():
        assert list not in seen["created"], stage


def test_fast_upsert_reads_no_postings_with_spark(lifecycle):
    """The new segment number comes from the postings' parquet footers:
    the O(batch) upsert never scans the O(index) block table."""
    postings = os.path.normpath(f"{lifecycle['root']}/postings")
    assert postings not in lifecycle["seen"]["upsert"]["read"]


@pytest.fixture(scope="module")
def corpus150(spark):
    return flatten_documents(synth_corpus(spark, 150, seed=7)).cache()


@pytest.mark.parametrize("range_buckets", [8, 1024])
@pytest.mark.parametrize("broadcast_threshold", [2_000_000, 0])
def test_dense_ids_match_golden_without_create_map(
    spark, corpus150, monkeypatch, range_buckets, broadcast_threshold
):
    """Per-range offsets reach the plan as one small broadcast relation,
    not as a ``create_map`` of one literal per range bound."""

    def no_map(*a, **kw):
        raise AssertionError("assign_dense_ids called F.create_map")

    monkeypatch.setattr(F, "create_map", no_map)
    out = assign_dense_ids(
        corpus150, range_buckets=range_buckets, broadcast_threshold=broadcast_threshold
    )
    pairs = sorted(
        (int(r["doc_hash"]), int(r["doc_id"]))
        for r in out.select("doc_hash", "doc_id").collect()
    )
    assert [d for _h, d in sorted(pairs, key=lambda p: p[1])] == list(range(150))
    assert hashlib.sha256(repr(pairs).encode()).hexdigest()[:16] == DENSE_GOLDEN


def test_compact_without_hard_deletes_keeps_docs_manifest(spark, tmp_path):
    """Superseded-copy tombstones alone cannot change the docs manifest,
    so compaction leaves ``{root}/docs`` as it is: same files, same
    inodes."""
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6)
    base = _docs(spark, [(i, f"common filler uid{i} words here") for i in range(N0)])
    root = str(tmp_path / "root")
    write_index(build_index(base, cfg), root, term_partitions=2, documents=base)
    upsert_docs_fast(spark, root, _docs(spark, UPSERT[:1]), cfg)

    def inodes():
        return {
            f: os.stat(f).st_ino for f in sorted(glob.glob(f"{root}/docs/*"))
        }

    before = inodes()
    assert before
    assert compact_root(spark, root, cfg) == 0
    assert inodes() == before
    assert not os.path.exists(f"{root}/tombstones")
