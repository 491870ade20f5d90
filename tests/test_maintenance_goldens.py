"""Maintenance goldens and the driver-side metadata guards.

* Goldens: sha256 digests of the sorted rows of every table a persisted
  root holds after ``upsert_docs_fast`` → ``delete_docs`` (postings,
  term_stats, stats, docs, tombstones) and again after ``compact_root``,
  on a plain and a positional root, recorded before the metadata paths
  were reworked (postings: re-recorded in the norms layout, whose
  decoded rows and block metadata, ``LOGICAL_GOLDENS``, were recorded
  with per-posting dl); the dense-id mapping of ``assign_dense_ids`` on
  both of its plans likewise.
* Norms: after the upsert and the deletes, and after the compaction,
  every live doc has exactly one live norms entry per field, holding
  the tokenizer's dl.
* ``compact_root`` is safe to retry after a crash between its table
  swap and the tombstone removal, removes a copy that an update to an
  empty doc superseded, and every Spark job the upsert and the
  compaction start carries the caller's job group.
* A root without the norms format marker is refused.
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
from golr_loader_spark.plans.maintenance import (
    compact_root,
    delete_docs,
    snapshot_index,
    upsert_docs_fast,
)
from golr_loader_spark.plans.tombstones import read_tombstones

N0 = 24
TABLES = ("postings", "term_stats", "stats", "docs", "tombstones")
UPSERT = [(3, "replacement body novelword common"), (30, "brand new doc common filler")]
DELETED = [5, 11]

# sha256[:16] of the sorted rows of each table, per root flavour and stage
GOLDENS = {
    "plain": {
        "deleted": {
            "postings": "abc2711184e6ceb7",
            "term_stats": "34ea95515cc6ca63",
            "stats": "a44f5efeb0a1be1e",
            "docs": "5454da35efbb4d9b",
            "tombstones": "0c8eab9331638dc9",
        },
        "compacted": {
            "postings": "0f34a6e3281c17a9",
            "term_stats": "55af883f5ab96850",
            "stats": "e4e5179f1f981acd",
            "docs": "cd6c55007cc33a35",
            "tombstones": "e3b0c44298fc1c14",  # no table: the empty digest
        },
    },
    "positional": {
        "deleted": {
            "postings": "7e69332105e1590f",
            "term_stats": "34ea95515cc6ca63",
            "stats": "a44f5efeb0a1be1e",
            "docs": "5454da35efbb4d9b",
            "tombstones": "0c8eab9331638dc9",
        },
        "compacted": {
            "postings": "c54b0c7ed9b34b40",
            "term_stats": "55af883f5ab96850",
            "stats": "e4e5179f1f981acd",
            "docs": "cd6c55007cc33a35",
            "tombstones": "e3b0c44298fc1c14",
        },
    },
}

# conftest._logical_digests of the postings, per root flavour and stage,
# recorded when every posting stored its own dl
LOGICAL_GOLDENS = {
    "plain": {
        "deleted": ("77d2414d435a0739", "e0a6eb4d393adf2e"),
        "compacted": ("0119822ab707987d", "6e1bdde57aa0aec8"),
    },
    "positional": {
        "deleted": ("f5f701988bcb4dc5", "e0a6eb4d393adf2e"),
        "compacted": ("779a8fe0dce4ac60", "6e1bdde57aa0aec8"),
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


def _postings(root: str) -> pa.Table:
    files = sorted(glob.glob(f"{root}/postings/*.parquet"))
    return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")


def _in_group(spark, name: str, call):
    """Run ``call()`` under Spark job group ``name`` → (its result, the
    group's job ids, ids of jobs it started outside any group)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(10_000)
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(name, name)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty(10_000)
    grouped = set(tracker.getJobIdsForGroup(name))
    return out, grouped, set(tracker.getJobIdsForGroup(None)) - before


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
    out = {"flavour": flavour, "root": root, "cfg": cfg, "seen": {}, "jobs": {}}
    with pytest.MonkeyPatch.context() as mp:
        out["seen"]["upsert"] = _watch(mp)
        out["upserted"], *out["jobs"]["upsert"] = _in_group(
            spark, f"mg-upsert-{flavour}",
            lambda: upsert_docs_fast(spark, root, batch, cfg),
        )
    delete_docs(spark, root, DELETED)
    out["deleted"] = _digests(root)
    out["postings"] = {"deleted": _postings(root)}
    # a copy of the root with the deletes pending (hard links)
    out["pending"] = str(tmp_path_factory.mktemp(f"mg_{flavour}_pending") / "root")
    snapshot_index(root, out["pending"])
    with pytest.MonkeyPatch.context() as mp:
        out["seen"]["compact"] = _watch(mp)
        out["removed"], *out["jobs"]["compact"] = _in_group(
            spark, f"mg-compact-{flavour}", lambda: compact_root(spark, root, cfg)
        )
    out["compacted"] = _digests(root)
    out["postings"]["compacted"] = _postings(root)
    return out


def test_upsert_delete_compact_tables_match_goldens(lifecycle, logical_digests):
    assert lifecycle["upserted"] == {"updated": 1, "added": 1, "segment": 1}
    assert lifecycle["removed"] == len(DELETED)
    want = GOLDENS[lifecycle["flavour"]]
    assert lifecycle["deleted"] == want["deleted"]
    assert lifecycle["compacted"] == want["compacted"]
    for stage, blocks in lifecycle["postings"].items():
        assert logical_digests(blocks) == LOGICAL_GOLDENS[lifecycle["flavour"]][stage]


def _live_norms(blocks: pa.Table, tombstones) -> dict:
    """(field, doc_id) → [dl of each live norms posting]."""
    import numpy as np

    from golr_loader_spark.plans.bm25 import _live_of, _norm_excl
    from golr_loader_spark.plans.build_index import decode_norms

    cols = {c: blocks[c].to_numpy(zero_copy_only=False) for c in blocks.column_names}
    excl = _norm_excl(tombstones)
    out: dict = {}
    for (field, seg), (ids, dls) in decode_norms(cols).items():
        live = (
            np.ones(len(ids), dtype=bool) if excl is None
            else _live_of(ids, np.full(len(ids), seg), excl)
        )
        for d, dl in zip(ids[live], dls[live]):
            out.setdefault((field, int(d)), []).append(int(dl))
    return out


def test_one_live_norms_entry_per_doc_and_field(lifecycle):
    """After the upsert and the deletes (superseded copies masked by
    their segment tombstones) and after the compaction, each live doc
    has one norms entry per field, holding its analyzed token count."""
    from golr_loader_spark.functions.tokenize import analyze_with_tf

    texts = {i: f"common filler uid{i} words here" for i in range(N0)}
    texts.update(dict(UPSERT))
    for d in DELETED:
        del texts[d]
    want = {
        ("text", d): [sum(analyze_with_tf(t, "simple").values())]
        for d, t in texts.items()
    }
    pending = read_tombstones(lifecycle["pending"])
    assert _live_norms(lifecycle["postings"]["deleted"], pending) == want
    assert _live_norms(lifecycle["postings"]["compacted"], None) == want


def test_compact_root_retry_after_crash_counts_deletes_once(spark, lifecycle, monkeypatch):
    """A crash after the new tables swapped in but before the tombstone
    table is removed leaves the deletes pending; the retry must neither
    subtract the hard deletes from n_docs again nor apply the
    superseded-copy tombstones to the merged segment."""
    from golr_loader_spark.plans import maintenance

    root, cfg = lifecycle["pending"], lifecycle["cfg"]
    swap = maintenance._swap_tables

    def swap_then_crash(root_, tmp, tables, **_drop):
        swap(root_, tmp, tables)
        raise OSError("crash before the tombstones are removed")

    monkeypatch.setattr(maintenance, "_swap_tables", swap_then_crash)
    with pytest.raises(OSError):
        compact_root(spark, root, cfg)
    monkeypatch.undo()
    assert os.path.isdir(f"{root}/tombstones")
    assert compact_root(spark, root, cfg) == 0
    assert not os.path.exists(f"{root}/.compacted")
    n_docs = pq.read_table(f"{root}/stats")["n_docs"].to_pylist()
    assert n_docs == [pq.read_table(f"{root}/docs").num_rows] * len(n_docs)
    assert _table_digest(f"{root}/stats") == lifecycle["compacted"]["stats"]
    assert _table_digest(f"{root}/postings") == lifecycle["compacted"]["postings"]


def test_compact_root_drops_copies_an_empty_update_superseded(spark, lifecycle, tmp_path):
    """A fast upsert that empties a doc (null text: no tokens) writes
    no postings, not even norms, only the tombstone; the compaction
    must still remove the doc's old copy. A later upsert's segment
    (NOT NULL segment column) next to the compacted files must not
    break the searcher's reads."""
    from golr_loader_spark.plans.serve import LocalSearcher

    root, cfg = str(tmp_path / "root"), lifecycle["cfg"]
    snapshot_index(lifecycle["root"], root)
    assert upsert_docs_fast(spark, root, _docs(spark, [(3, None)]), cfg)["updated"] == 1
    for stage in ("upserted", "compacted"):
        hits = LocalSearcher(root, cfg).search("novelword common", k=100)
        assert hits and 3 not in {d for d, _ in hits}, stage
        compact_root(spark, root, cfg)
    upsert_docs_fast(spark, root, _docs(spark, [(40, "novelword again")]), cfg)
    hits = LocalSearcher(root, cfg).search("novelword", k=100)
    assert [d for d, _ in hits] == [40]


def test_maintenance_jobs_carry_the_callers_job_group(lifecycle):
    """Jobs the upsert and the compaction submit from their write pool
    inherit the calling thread's job group."""
    for stage, (grouped, ungrouped) in lifecycle["jobs"].items():
        assert grouped, stage
        assert not ungrouped, stage


def test_root_without_norms_format_is_refused(spark, lifecycle, tmp_path):
    import json

    from golr_loader_spark.plans.build_index import read_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path / "old")
    snapshot_index(lifecycle["root"], root)
    conf_path = f"{root}/config.json"
    with open(conf_path) as fh:
        conf = json.load(fh)
    del conf["block_format"]
    os.remove(conf_path)  # a hard link: do not write through it
    with open(conf_path, "w") as fh:
        json.dump(conf, fh)
    for call in (
        lambda: read_index(spark, root),
        lambda: LocalSearcher(root),
        lambda: compact_root(spark, root),
        lambda: upsert_docs_fast(spark, root, _docs(spark, UPSERT[:1])),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            call()


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
