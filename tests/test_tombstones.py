"""The tombstone table reader shared by the maintenance and serving
paths (``plans.tombstones``): legacy files without ``dead_below``, null
``dead_below`` values and duplicate ids all resolve the same way for
``load_tombstones`` and ``LocalSearcher``."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from golr_loader_spark.plans.tombstones import (
    DEAD_EVERYWHERE,
    append_tombstones,
    read_tombstones,
    rewrite_tombstones,
)


def _write(root, name, table):
    os.makedirs(f"{root}/tombstones", exist_ok=True)
    pq.write_table(table, f"{root}/tombstones/{name}")


def test_missing_table_reads_empty(tmp_path):
    ids, db = read_tombstones(str(tmp_path))
    assert ids.dtype == db.dtype == np.int64
    assert len(ids) == len(db) == 0


def test_files_without_dead_below_are_hard_deletes(tmp_path):
    _write(tmp_path, "part-0.parquet", pa.table({"doc_id": pa.array([9, 4], pa.int64())}))
    ids, db = read_tombstones(str(tmp_path))
    assert ids.tolist() == [4, 9]
    assert db.tolist() == [DEAD_EVERYWHERE] * 2


def test_null_dead_below_is_a_hard_delete(tmp_path):
    _write(
        tmp_path,
        "part-0.parquet",
        pa.table({
            "doc_id": pa.array([1, 2], pa.int64()),
            "dead_below": pa.array([None, 3], pa.int64()),
        }),
    )
    ids, db = read_tombstones(str(tmp_path))
    assert ids.tolist() == [1, 2]
    assert db.tolist() == [DEAD_EVERYWHERE, 3]


def test_duplicate_ids_resolve_to_max_dead_below(tmp_path):
    root = str(tmp_path)
    append_tombstones(root, [5, 7], 2)  # upsert at segment 2
    append_tombstones(root, [5], 4)  # upsert again at segment 4
    append_tombstones(root, [7], DEAD_EVERYWHERE)  # then a delete
    _write(root, "part-legacy.parquet", pa.table({"doc_id": pa.array([8, 8], pa.int64())}))
    ids, db = read_tombstones(root)
    assert ids.tolist() == [5, 7, 8]
    assert db.tolist() == [4, DEAD_EVERYWHERE, DEAD_EVERYWHERE]


def test_readers_skip_hidden_and_non_parquet_files(tmp_path):
    root = str(tmp_path)
    append_tombstones(root, [1], 2)
    _write(root, ".part-inflight.parquet", pa.table({"doc_id": pa.array([2], pa.int64())}))
    open(f"{root}/tombstones/_SUCCESS", "w").close()
    assert read_tombstones(root)[0].tolist() == [1]


def test_rewrite_replaces_rows_and_empty_removes_table(tmp_path):
    root = str(tmp_path)
    append_tombstones(root, [1, 2], DEAD_EVERYWHERE)
    append_tombstones(root, [3], 1)
    rewrite_tombstones(root, [3], [5])
    assert len(os.listdir(f"{root}/tombstones")) == 1
    ids, db = read_tombstones(root)
    assert (ids.tolist(), db.tolist()) == ([3], [5])
    rewrite_tombstones(root, [], DEAD_EVERYWHERE)
    assert not os.path.exists(f"{root}/tombstones")


def test_maintenance_and_serving_read_alike(spark, tmp_path):
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.build_index import build_index, write_index
    from golr_loader_spark.plans.maintenance import load_tombstones
    from golr_loader_spark.plans.serve import LocalSearcher

    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=1, id_space_bits=4)
    docs = spark.createDataFrame(
        [(i, f"common uid{i}") for i in range(8)], "doc_id long, text string"
    )
    root = str(tmp_path / "root")
    write_index(build_index(docs, cfg), root, term_partitions=2, documents=docs)
    # a legacy file, a null dead_below and a duplicate id
    _write(root, "part-legacy.parquet", pa.table({"doc_id": pa.array([1], pa.int64())}))
    _write(
        root,
        "part-null.parquet",
        pa.table({
            "doc_id": pa.array([2, 3, 3], pa.int64()),
            "dead_below": pa.array([None, 1, DEAD_EVERYWHERE], pa.int64()),
        }),
    )
    ls = LocalSearcher(root, cfg)
    want = ([1, 2, 3], [DEAD_EVERYWHERE] * 3)
    for ids, db in (load_tombstones(spark, root), ls.tombstones):
        assert (ids.tolist(), db.tolist()) == want
    assert sorted(d for d, _s in ls.search("common", k=10)) == [0, 4, 5, 6, 7]
    assert ls.get(2) is None
