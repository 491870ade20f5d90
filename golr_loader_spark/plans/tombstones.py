"""The tombstone table of a persisted index root — Lucene liveDocs.

``{root}/tombstones`` holds parquet files of ``(doc_id long,
dead_below long)`` rows. A posting of doc X stored in segment s is dead
iff ``s < dead_below[X]``: a hard delete (``delete_docs``) uses
``DEAD_EVERYWHERE``, a fast upsert at segment e tombstones the older
copies with ``dead_below = e``. Files written before segments existed
carry no ``dead_below`` column; they, and null values, are hard deletes.
When an id appears more than once, the MAX ``dead_below`` wins (the
latest operation: delete after upsert ⇒ dead everywhere).

The table is metadata-sized (one row per deleted or superseded doc), so
it is read and written with pyarrow on the driver rather than through a
Spark job. This module imports no pyspark: the serving path
(``plans.serve``) and the maintenance writers share it.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from golr_loader_spark.config import PARQUET_CODEC

DEAD_EVERYWHERE = np.iinfo(np.int64).max

_SCHEMA = pa.schema([("doc_id", pa.int64()), ("dead_below", pa.int64())])


def read_tombstones(root: str) -> tuple[np.ndarray, np.ndarray]:
    """The root's tombstones as ``(ids ascending and unique,
    dead_below)``, both int64 — empty arrays when there are none."""
    path = f"{root}/tombstones"
    files = (
        sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        if os.path.isdir(path)
        else []
    )
    ids_parts, db_parts = [], []
    for f in files:
        t = pq.read_table(f)
        ids_parts.append(t["doc_id"].to_numpy().astype(np.int64))
        if "dead_below" in t.schema.names:
            db = t["dead_below"].fill_null(DEAD_EVERYWHERE)
            db_parts.append(db.to_numpy().astype(np.int64))
        else:
            db_parts.append(np.full(t.num_rows, DEAD_EVERYWHERE, dtype=np.int64))
    if not ids_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    ids = np.concatenate(ids_parts)
    db = np.concatenate(db_parts)
    order = np.lexsort((db, ids))
    ids, db = ids[order], db[order]
    # ascending dead_below within an id: its last row holds the max
    last = np.ones(len(ids), dtype=bool)
    last[:-1] = ids[1:] != ids[:-1]
    return ids[last], db[last]


def append_tombstones(root: str, ids, dead_below) -> None:
    """Add one parquet file of ``(doc_id, dead_below)`` rows to
    ``{root}/tombstones``. ``dead_below`` is one value for every id or
    an array beside ``ids``. The file is written under a dot-name that
    readers skip and renamed into place, so a reader never sees half a
    file."""
    ids = np.asarray(ids, dtype=np.int64)
    if not len(ids):
        return
    db = np.broadcast_to(np.asarray(dead_below, dtype=np.int64), ids.shape)
    path = f"{root}/tombstones"
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}")
    pq.write_table(
        pa.Table.from_arrays([pa.array(ids), pa.array(np.ascontiguousarray(db))], schema=_SCHEMA),
        tmp,
        compression=PARQUET_CODEC,
    )
    os.replace(tmp, os.path.join(path, name))


def rewrite_tombstones(root: str, ids, dead_below) -> None:
    """Replace the table's rows with ``ids`` / ``dead_below`` (no ids:
    remove the table). The new file lands before the old ones go, so a
    crash in between leaves the union of old and new rows: extra masks,
    which a retry of the operation removes — never a superseded or
    deleted copy unmasked."""
    import shutil

    path = f"{root}/tombstones"
    old = os.listdir(path) if os.path.isdir(path) else []
    if not len(ids):
        shutil.rmtree(path, ignore_errors=True)
        return
    append_tombstones(root, ids, dead_below)
    for f in old:
        os.remove(os.path.join(path, f))
