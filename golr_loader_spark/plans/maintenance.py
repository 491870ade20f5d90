"""Index maintenance: document deletes (tombstones) + compaction.

The reference's Solr sink gets update/delete for free from the Solr
server (GolrLoader.java:498-515 POSTs documents; Solr overwrites or
deletes by id). An engine-owned index needs the same lifecycle, and
this module provides it with Lucene's two-phase semantics:

* ``delete_docs`` appends ids to a tombstone table next to the index
  (cheap, O(batch)); queries mask tombstoned docs at posting-decode
  time (``exclude_ids`` in plans.bm25 — Lucene liveDocs), so deleted
  docs vanish from results IMMEDIATELY while corpus statistics stay
  stale — exactly Lucene's behavior between delete and segment merge.
* ``compact_index`` physically rewrites the posting blocks without
  the tombstoned postings and recomputes term/corpus stats, after
  which results are rank-identical to an index rebuilt from the
  surviving corpus (asserted in tests/test_maintenance.py) and the
  tombstone table resets.

Compaction plan shape: the block table shuffles ONCE on (field,
bucket) — a doc's postings in a field and its norms list (the field's
doc lengths, see ``plans.build_index``) share that key, and a bucket
holds ≤ n_docs/2**bucket_bits postings per term — and each partition's
block rows, sorted by (field, bucket, then term with the norms list
first, segment, block_id), stream through ONE
``mapInArrow`` kernel. Per Arrow batch it decodes every block's doc
ids, tfs and positions in one numpy pass, reads each posting's dl from
the norms, applies the liveDocs mask (to the norms lists too),
lexsorts by (list, doc_id) and re-encodes all lists with one call of
the build's vectorized encoder, also re-packing underfull blocks; a
list cut by the batch boundary is carried into the next batch, with
its bucket's norms, so a task holds one batch plus one list and one
bucket's norms. Python is entered once
per partition, never once per list: in a per-list plan the Python-UDF
boundary, not the codec, dominates the task time. The
tombstone set rides a Spark broadcast (a delete batch of 10M ids is
~80 MB — fine; a tombstone set rivaling the corpus itself should be
expressed as a rebuild instead).

Upsert segments are built by the index build itself
(``build_index.build_postings_packed``), and the metadata-sized tables —
tombstones (``plans.tombstones``) and the fast upsert's stats — are read
and written with pyarrow on the driver, not by Spark jobs.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import PARQUET_CODEC, IndexConfig
from golr_loader_spark.functions.codec import binary_stream, varint_decode
from golr_loader_spark.plans.build_index import (
    NORMS_TERM,
    InvertedIndex,
    _block_ddl,
    _docs_manifest,
    _encode_groups,
    _read_table,
    check_block_format,
    _run_writes,
    _write_postings,
    _writer,
    decode_norms,
    derived_stats,
    derived_term_stats,
    norms_dl,
)
from golr_loader_spark.plans.tombstones import (
    DEAD_EVERYWHERE,
    append_tombstones,
    read_tombstones,
    rewrite_tombstones,
)

_LIST_KEY = ("term", "field", "bucket")

# in a root from the moment a compaction's tables have swapped in until
# its tombstone table is gone (``compact_root``)
_COMPACTED = ".compacted"

_STATS_SCHEMA = pa.schema(
    [("field", pa.string()), ("avgdl", pa.float64()), ("n_docs", pa.int64())]
)

def delete_docs(
    spark: SparkSession, root: str, ids: Iterable[int], dead_below: int | None = None
) -> None:
    """Append a delete batch to ``{root}/tombstones`` (idempotent at
    query time: the mask is a set union). ``dead_below`` defaults to
    "dead in every segment" (a hard delete); fast upserts pass their
    new segment number so only OLDER copies of the doc die."""
    _finish_compaction(root)
    append_tombstones(
        root,
        [int(i) for i in ids],
        DEAD_EVERYWHERE if dead_below is None else int(dead_below),
    )


def load_tombstones(spark: SparkSession, root: str) -> tuple[np.ndarray, np.ndarray]:
    """Current tombstone set as the ``(ids, dead_below)`` pair the
    scorers accept (bm25._norm_excl semantics; duplicate ids resolve
    to the MAX dead_below — latest operation wins). Tables written
    before the segment upgrade carry no dead_below column → hard
    deletes. Read on the driver (``plans.tombstones``), no Spark job."""
    return read_tombstones(root)


def load_tombstone_ids(spark: SparkSession, root: str) -> np.ndarray:
    """Back-compat: just the tombstoned ids (hard and segment alike)."""
    return load_tombstones(spark, root)[0]


def broadcast_tombstones(spark: SparkSession, root: str):
    """Current tombstone set as a ``bm25.broadcast_excl`` Broadcast
    (None when empty) — the exclude_ids shape the distributed query
    paths should be handed for long-lived sessions: the liveDocs
    arrays ship once per executor over the broadcast channel instead
    of inside every pickled task closure."""
    from golr_loader_spark.plans.bm25 import broadcast_excl

    return broadcast_excl(spark, load_tombstones(spark, root))


def _swap_tables(root: str, tmp: str, tables: tuple, drop: tuple = ()) -> None:
    """Move freshly-written tables from ``tmp`` into ``root`` with the
    narrowest practical crash window: each old table is atomically
    renamed ASIDE (never deleted before its replacement exists), the
    new one renamed in, and the aside copies removed only after every
    table swapped. The ``drop`` tables are renamed aside last, with no
    replacement (compaction's tombstones). A crash mid-swap leaves the
    old table recoverable in ``{root}/.gc`` (never a root with a
    missing table + no backup);
    callers order the tombstone rewrite AFTER the swap so the worst
    crash outcome is conservative (a re-upserted doc stays masked
    until the idempotent operation is retried), never resurrection or
    a lost table."""
    import shutil

    gc = f"{root}/.gc"
    shutil.rmtree(gc, ignore_errors=True)
    os.makedirs(gc)
    for t in tables:
        if os.path.isdir(f"{root}/{t}"):
            os.rename(f"{root}/{t}", f"{gc}/{t}")
        os.rename(f"{tmp}/{t}", f"{root}/{t}")
    for t in drop:
        if os.path.isdir(f"{root}/{t}"):
            os.rename(f"{root}/{t}", f"{gc}/{t}")
    shutil.rmtree(gc, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def _list_starts(tbl: pa.Table) -> np.ndarray:
    """Row indices where a (term, field, bucket) list begins, over
    block rows grouped by list."""
    n = tbl.num_rows
    first = np.zeros(n, dtype=bool)
    first[0] = True
    for c in _LIST_KEY:
        col = tbl.column(c)
        first[1:] |= pc.not_equal(col.slice(1), col.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
    return np.flatnonzero(first)


def _compact_blocks(
    tbl: pa.Table, starts: np.ndarray, excl, cfg: IndexConfig, norms: dict
) -> tuple[pa.RecordBatch | None, dict]:
    """Decode, mask and re-encode whole lists in one numpy pass.

    ``tbl`` holds complete lists, each in (segment, block_id) order and
    beginning at ``starts``; a (field, bucket)'s norms list comes before
    its other lists. Every block's doc ids, tfs and positions are
    decoded at once (varint streams concatenate); each posting's dl is
    read from the norms lists of ``tbl`` and ``norms`` (the norms of
    the (field, bucket) the previous call ended in, as
    ``decode_norms`` returns them). Postings dead under ``excl`` are
    dropped — norms postings by the same liveDocs rule — each list is
    re-sorted by doc_id (a stable sort: ties keep segment order) and all
    lists are encoded by ONE ``_encode_groups`` call, which re-packs
    underfull blocks and drops lists with no survivors. Returns the
    blocks (None when nothing survives) and the norms of ``tbl``'s last
    (field, bucket), for the next call."""
    from golr_loader_spark.functions.codec import positions_encode
    from golr_loader_spark.plans.bm25 import _live_of
    from golr_loader_spark.plans.phrase import _decode_positions

    n = tbl.column("n").to_numpy().astype(np.int64)
    firsts = tbl.column("doc_id_first").to_numpy().astype(np.int64)
    deltas = varint_decode(binary_stream(tbl.column("doc_ids"))[0]).astype(np.int64)
    g = np.cumsum(deltas)
    ids = g + np.repeat(firsts - g[np.cumsum(n) - n], n)
    tfs = varint_decode(binary_stream(tbl.column("tfs"))[0]).astype(np.int64)
    blk_segs = tbl.column("segment").to_numpy().astype(np.int64)
    fields = tbl.column("field").to_numpy(zero_copy_only=False)
    norm_blk = pc.equal(tbl.column("term"), NORMS_TERM).to_numpy(zero_copy_only=False)
    if norm_blk.any():
        nt = tbl.filter(pa.array(norm_blk))
        here = decode_norms(
            {c: nt.column(c).to_numpy(zero_copy_only=False)
             for c in ("term", "field", "bucket", "segment", "block_id", "n",
                       "doc_id_first", "doc_ids", "dls")}
        )
        # the carried norms are the previous (field, bucket): lower ids
        norms = {
            k: tuple(np.concatenate([norms[k][i], v[i]]) for i in (0, 1))
            if k in norms else v
            for k, v in {**norms, **here}.items()
        }
    # every posting's dl, the norms postings' own included
    dls = norms_dl(norms, fields, blk_segs, n, ids)
    # the norms the next call may need: those of the last (field, bucket)
    shift = np.int64(max(0, cfg.id_space_bits - cfg.bucket_bits))
    last_f, last_b = fields[-1], int(tbl.column("bucket")[-1].as_py())
    carry = {}
    for (f, sg), (nids, ndls) in norms.items():
        if f == last_f:
            m = np.right_shift(nids, shift) == last_b
            carry[(f, sg)] = (nids[m], ndls[m])
    has_pos = "poss" in tbl.column_names
    if has_pos:
        # absolute positions survive compaction unchanged; only the
        # per-posting segmentation is re-derived after the mask
        pos_flat = _decode_positions(binary_stream(tbl.column("poss"))[0], tfs)
    is_start = np.zeros(tbl.num_rows, dtype=np.int64)
    is_start[starts] = 1
    lid = np.repeat(np.cumsum(is_start) - 1, n)
    if excl is not None:
        keep = _live_of(ids, np.repeat(blk_segs, n), excl)
        if has_pos:
            pos_flat = pos_flat[np.repeat(keep, tfs)]
        ids, tfs, dls, lid = ids[keep], tfs[keep], dls[keep], lid[keep]
    if not len(ids):
        return None, carry
    # multi-segment lists (upsert appends) interleave doc ranges across
    # blocks — re-sort so each compacted list is globally doc_id-ordered
    # (smallest deltas, format contract)
    order = np.lexsort((ids, lid))
    pos_kw = {}
    if has_pos:
        # gather each surviving posting's position run in the new doc
        # order, then re-delta-encode (vectorized)
        bounds = np.cumsum(tfs) - tfs
        cnt_o = tfs[order]
        gidx = np.repeat(bounds[order], cnt_o) + (
            np.arange(int(cnt_o.sum())) - np.repeat(np.cumsum(cnt_o) - cnt_o, cnt_o)
        )
        pdat, psiz = positions_encode(pos_flat[gidx], cnt_o)
        pos_kw = {"pos_data": pdat, "pos_sizes": psiz}
    counts = np.bincount(lid, minlength=len(starts))
    live = np.flatnonzero(counts)
    heads = pa.array(starts[live])
    rb = _encode_groups(
        tbl.column("term").take(heads).combine_chunks(),
        tbl.column("field").take(heads).combine_chunks(),
        tbl.column("bucket").to_numpy()[starts[live]],
        np.concatenate([[0], np.cumsum(counts[live])]),
        ids[order],
        tfs[order],
        dls[order],
        cfg,
        **pos_kw,
    )
    # all survivors land in segment 0
    return rb.append_column(
        "segment", pa.array(np.zeros(rb.num_rows, dtype=np.int32))
    ), carry


def _compact_batches(excl, cfg: IndexConfig) -> "callable":
    """mapInArrow body over block rows sorted by (field, bucket, term
    with the norms list first, segment, block_id): each Arrow batch's
    complete lists go through ``_compact_blocks`` together; the batch's
    last list may continue in the next batch, so its rows are carried
    over and prepended to it, and so are the norms of the (field,
    bucket) it belongs to. A task holds one batch plus one list and one
    bucket's norms."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry: pa.Table | None = None
        norms: dict = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            starts = _list_starts(tbl)
            last = int(starts[-1])
            carry = tbl.slice(last)
            if last:
                out, norms = _compact_blocks(
                    tbl.slice(0, last), starts[:-1], excl, cfg, norms
                )
                if out is not None:
                    yield out
        if carry is not None:
            out, _ = _compact_blocks(
                carry, np.zeros(1, dtype=np.int64), excl, cfg, norms
            )
            if out is not None:
                yield out

    return run


def compact_postings(
    postings: DataFrame, tombstone_ids: np.ndarray, cfg: IndexConfig
) -> DataFrame:
    """Rewrite the block table without tombstoned postings.

    Each (term, field, bucket) list is decoded whole, masked, and
    re-encoded — which both drops deleted postings and re-packs
    underfull blocks to ``cfg.block_size``; lists losing all postings
    disappear. Delta/varint streams, block-max bounds, and tf_sum are
    all recomputed by the build's own encoder, so a compacted index is
    byte-compatible with a fresh build. All surviving postings land in
    segment 0 (the Lucene merge: segment tombstones from fast upserts
    are resolved physically).

    Plan: one exchange of the block rows on (field, bucket), a sort of
    the block rows within partitions by (field, bucket, norms first,
    term, segment, block_id) — each (field, bucket)'s norms list, the
    dl source of its other lists, comes first — then ONE ``mapInArrow``
    task per partition (``_compact_batches``) — no Python call per list.
    At most len(fields) * 2**bucket_bits partitions hold rows, so that
    product caps the compaction's parallelism.

    ``tombstone_ids``: plain id array (dead everywhere) or the
    ``(ids, dead_below)`` pair from ``load_tombstones``."""
    from golr_loader_spark.plans.bm25 import broadcast_excl

    excl = broadcast_excl(postings.sparkSession, tombstone_ids)
    has_pos = "poss" in postings.columns
    if "segment" not in postings.columns:
        postings = postings.withColumn("segment", F.lit(0))
    cols = [*_LIST_KEY, "segment", "block_id", "n", "doc_id_first",
            "doc_ids", "tfs", "dls"] + (["poss"] if has_pos else [])
    return (
        postings.select(*cols)
        .repartition("field", "bucket")
        .sortWithinPartitions(
            "field", "bucket", F.col("term") != NORMS_TERM, "term", "segment",
            "block_id",
        )
        .mapInArrow(_compact_batches(excl, cfg), _block_ddl(has_pos) + ", segment int")
    )


def compact_index(
    index: InvertedIndex,
    tombstone_ids,
    n_docs_removed: int | None = None,
) -> InvertedIndex:
    """→ new InvertedIndex without the tombstoned docs.

    ``n_docs_removed`` defaults to the number of HARD-deleted ids
    (dead in every segment) — exact when callers tombstone live
    corpus ids (the delete-API contract, mirroring Solr's
    delete-by-id). Segment tombstones (superseded upsert copies)
    resolve physically but do not change the doc count — the doc's
    newest copy survives."""
    from pyspark import StorageLevel

    from golr_loader_spark.plans.bm25 import _norm_excl

    excl = _norm_excl(tombstone_ids)
    if n_docs_removed is not None:
        removed = int(n_docs_removed)
    else:
        removed = (
            0 if excl is None else int((excl[1] == DEAD_EVERYWHERE).sum())
        )
    new_postings = compact_postings(index.postings, tombstone_ids, index.cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_docs = index.n_docs - removed
    return InvertedIndex(
        postings=new_postings,
        term_stats=derived_term_stats(new_postings),
        stats=derived_stats(new_postings, n_docs),
        cfg=index.cfg,
    )


def upsert_docs(
    spark: SparkSession,
    root: str,
    documents: DataFrame,
    cfg: IndexConfig | None = None,
) -> dict:
    """Solr-style add/overwrite into a persisted index root: incoming
    docs REPLACE existing docs with the same ``doc_id`` and extend the
    corpus otherwise. Returns {"updated": n, "added": n}.

    Requires the ``{root}/docs`` manifest (write_index(...,
    documents=...)) — membership is a semi-join against it, so the
    updated/added split and the n_docs accounting are exact.

    Mechanics (Lucene's update = delete + add, applied eagerly):
      1. postings of existing versions are physically removed by a
         targeted compaction (only lists containing the updated ids
         change; the tombstone broadcast masks them);
      2. the new docs' postings are built with the build's own
         pipeline and appended as a fresh segment — per-bucket WAND
         scoring is segment-order-insensitive (accumulation per doc),
         the same property the incremental stream relies on;
      3. term/corpus stats are recomputed over the merged block table;
      4. incoming ids are withdrawn from ``{root}/tombstones`` (a
         deleted doc that is re-upserted becomes live again) and the
         docs manifest is rewritten.
    A later ``compact_root`` re-packs the segments into globally
    doc_id-sorted lists."""
    from golr_loader_spark.plans.build_index import (
        build_postings_packed,
        read_index,
        write_index,
    )

    cfg = cfg or IndexConfig()
    _finish_compaction(root)
    docs_path = f"{root}/docs"
    if not os.path.isdir(docs_path):
        raise ValueError(
            "upsert requires the {root}/docs manifest — persist with "
            "write_index(..., documents=flattened_docs)"
        )
    meta = _read_table(spark, root, "docs")
    incoming = documents.select("doc_id").distinct()
    # ONE driver job resolves membership AND the id list: left-join
    # incoming against the manifest and collect the (id, known) pairs
    marked = incoming.join(
        meta.select("doc_id", F.lit(True).alias("_known")), "doc_id", "left"
    ).collect()
    incoming_ids = [int(r["doc_id"]) for r in marked]
    existing_ids = np.array(
        sorted(r["doc_id"] for r in marked if r["_known"]), dtype=np.int64
    )
    n_incoming = len(incoming_ids)

    ix = read_index(spark, root, cfg)
    # fold the existing versions (dead everywhere — they are being
    # replaced) AND any pending segment tombstones from earlier fast
    # upserts into ONE compaction mask; hard deletes stay pending so
    # their stats-staleness contract is unchanged
    t_ids, t_db = load_tombstones(spark, root)
    seg_mask = t_db != DEAD_EVERYWHERE
    comb_ids = np.concatenate([existing_ids, t_ids[seg_mask]])
    comb_db = np.concatenate(
        [
            np.full(len(existing_ids), DEAD_EVERYWHERE, dtype=np.int64),
            t_db[seg_mask],
        ]
    )
    base = (
        compact_postings(ix.postings, (comb_ids, comb_db), cfg)
        if len(comb_ids)
        else ix.postings
    )
    from pyspark import StorageLevel

    fresh = build_postings_packed(documents, cfg)
    merged = base.unionByName(fresh).persist(StorageLevel.MEMORY_AND_DISK)
    merged.count()  # materialize once: 3 table writes + stats reuse it
    n_docs = ix.n_docs - len(existing_ids) + n_incoming
    new_ix = InvertedIndex(
        postings=merged,
        term_stats=derived_term_stats(merged),
        stats=derived_stats(merged, n_docs),
        cfg=cfg,
    )
    tmp = f"{root}/.upsert_tmp"
    new_meta = meta.join(incoming, "doc_id", "left_anti").unionByName(
        _docs_manifest(documents)
    )
    write_index(new_ix, tmp, documents=new_meta)
    doc_tables = _rewrite_doc_tables(
        spark, root, tmp, documents, incoming_ids, cfg
    )
    # surviving tombstones = HARD deletes not re-upserted (segment
    # tombstones were resolved physically in the compaction above).
    # Read BEFORE the swap, rewrite AFTER it: a crash between swap and
    # rewrite leaves re-upserted ids still masked (conservative;
    # retrying the upsert fixes it) — never resurrection against old
    # postings
    live_again = set(incoming_ids)
    remaining = [
        int(i) for i, db in zip(t_ids, t_db)
        if db == DEAD_EVERYWHERE and int(i) not in live_again
    ]
    _swap_tables(
        root, tmp,
        tuple(["postings", "term_stats", "stats", "docs"] + doc_tables),
    )
    rewrite_tombstones(root, remaining, DEAD_EVERYWHERE)
    return {"updated": int(len(existing_ids)), "added": int(n_incoming - len(existing_ids))}



def _doc_table_files(root: str, tbl: str) -> list[str]:
    import glob as _glob

    return sorted(_glob.glob(f"{root}/{tbl}/*.parquet"))


def _facet_field_names(spark: SparkSession, root: str) -> list[str]:
    """The facet fields a root was built with — read as the distinct
    of the (dictionary-encoded) ``facet`` column. A production deploy
    would pin this list in config.json; the column read is metadata-
    cheap either way."""
    import pyarrow.dataset as pads

    ds = pads.dataset(_doc_table_files(root, "facets"), format="parquet")
    col = ds.to_table(columns=["facet"])["facet"]
    return sorted(set(col.to_pylist()))


def _doc_table_appends(
    spark: SparkSession,
    root: str,
    documents: DataFrame,
    cfg: IndexConfig,
    segment: int,
) -> list:
    """Lucene's full update contract for the doc-side tables: stored
    fields and facet rows (docValues) are SEGMENT-scoped — an update
    appends the new doc's rows tagged ``_seg = segment`` and readers
    resolve each doc to its LATEST segment (serve.fetch /
    serve._load_facets), exactly how per-segment stored fields +
    liveDocs behave in Lucene. Base rows written by write_index carry
    no ``_seg`` column and read as segment 0.

    Returns the appends as writes for ``_run_writes``; nothing is
    written here. Incoming docs must carry every stored / faceted field
    — Solr's all-fields-stored atomic-update precondition, surfaced as
    a clear error before any write instead of silent nulls."""
    writes: list = []
    if os.path.isdir(f"{root}/stored"):
        import pyarrow.parquet as _pq

        names: set[str] = set()
        for f in _doc_table_files(root, "stored"):
            names |= set(_pq.read_schema(f).names)
        cols = sorted(names - {"doc_id", "_seg"})
        missing = [c for c in cols if c not in documents.columns]
        if missing:
            raise ValueError(
                f"upsert into a root with stored fields requires the "
                f"incoming docs to carry them (missing: {missing}) — "
                "the all-fields-stored update precondition"
            )
        stored = documents.select("doc_id", *cols).withColumn("_seg", F.lit(int(segment)))
        writes.append(lambda: _writer(stored, "append").parquet(f"{root}/stored"))
    if os.path.isdir(f"{root}/facets"):
        from golr_loader_spark.plans.facets import build_facets

        fnames = _facet_field_names(spark, root)
        missing = [c for c in fnames if c not in documents.columns]
        if missing:
            raise ValueError(
                f"upsert into a root with facets requires the incoming "
                f"docs to carry the facet fields (missing: {missing})"
            )
        facets = build_facets(documents, fnames, cfg).withColumn(
            "_seg", F.lit(int(segment))
        )
        writes.append(lambda: _writer(facets, "append").parquet(f"{root}/facets"))
    return writes


def _resolve_doc_table(df: DataFrame, per_doc: bool = True) -> DataFrame:
    """Latest-segment resolution for a doc-side table read with
    mergeSchema: keep each doc's rows from its max ``_seg`` (missing /
    null = 0 — base write_index rows), drop the column. Used by the
    exact upsert and compaction rewrites; the serving readers do the
    same resolution in-memory."""
    from pyspark.sql import Window

    if "_seg" not in df.columns:
        return df
    seg = F.coalesce(F.col("_seg"), F.lit(0))
    w = Window.partitionBy("doc_id")
    return (
        df.withColumn("_s", seg)
        .withColumn("_m", F.max("_s").over(w))
        .filter(F.col("_s") == F.col("_m"))
        .drop("_seg", "_s", "_m")
    )


def _rewrite_doc_tables(
    spark: SparkSession,
    root: str,
    tmp: str,
    documents: DataFrame | None,
    replaced_ids: list[int],
    cfg: IndexConfig,
    drop_ids: list[int] | None = None,
) -> list[str]:
    """Full clean rewrite of stored/facets into ``tmp`` (the exact-
    upsert / compaction path): resolve to latest segments, drop
    ``replaced_ids`` (their fresh rows come from ``documents``) and
    ``drop_ids`` (hard deletes), union the fresh rows, no ``_seg``
    column in the result. Returns the table names written."""
    import os as _os

    written: list[str] = []
    repl = [int(i) for i in replaced_ids]
    dead = [int(i) for i in (drop_ids or [])]
    if _os.path.isdir(f"{root}/stored"):
        cur = _resolve_doc_table(
            spark.read.option("mergeSchema", "true").parquet(f"{root}/stored")
        )
        cols = [c for c in cur.columns if c != "doc_id"]
        keep = cur.filter(~F.col("doc_id").isin(repl + dead))
        if documents is not None:
            missing = [c for c in cols if c not in documents.columns]
            if missing:
                raise ValueError(
                    f"upsert requires incoming stored fields {missing}"
                )
            keep = keep.unionByName(documents.select("doc_id", *cols))
        _writer(
            keep.repartitionByRange(2, "doc_id").sortWithinPartitions("doc_id")
        ).parquet(f"{tmp}/stored")
        written.append("stored")
    if _os.path.isdir(f"{root}/facets"):
        from golr_loader_spark.plans.facets import build_facets

        fnames = _facet_field_names(spark, root)
        cur = _resolve_doc_table(
            spark.read.option("mergeSchema", "true").parquet(f"{root}/facets")
        )
        keep = cur.filter(~F.col("doc_id").isin(repl + dead))
        if documents is not None:
            missing = [c for c in fnames if c not in documents.columns]
            if missing:
                raise ValueError(
                    f"upsert requires incoming facet fields {missing}"
                )
            keep = keep.unionByName(
                build_facets(documents, fnames, cfg).select(*cur.columns)
            )
        _writer(
            keep.repartitionByRange(2, "doc_id").sortWithinPartitions("doc_id")
        ).parquet(f"{tmp}/facets")
        written.append("facets")
    return written


def compact_root(spark: SparkSession, root: str, cfg: IndexConfig | None = None) -> int:
    """Compact a PERSISTED index in place: fold ``{root}/tombstones``
    into the postings (hard deletes removed, superseded upsert copies
    resolved, appended segments merged back to segment 0), rewrite
    postings/term_stats/stats, clear the tombstone table. Returns the
    number of docs removed (hard deletes only — resolving a
    superseded copy does not remove a doc).

    The docs manifest loses the hard-deleted ids by a broadcast
    left-anti join against them (one Arrow batch → ``LocalTableScan``)
    and is written beside postings, term_stats and stats by one
    ``write_index`` call. Superseded-copy tombstones alone cannot change
    the manifest, so without hard deletes ``{root}/docs`` is neither
    rewritten nor swapped. The new tables land in ``.compact_tmp`` and
    swap in together (``_swap_tables``), the tombstone table's removal
    last in the same swap.

    Safe to retry after a crash behind the table swap: the swap moves a
    ``_COMPACTED`` marker in after the tables and removes it after the
    tombstones, so a root that still holds the marker holds tombstones
    its postings already folded; this call (and every other maintenance
    write, ``_finish_compaction``) drops them before doing anything
    else."""
    from golr_loader_spark.plans.build_index import read_index, write_index

    cfg = cfg or IndexConfig()
    check_block_format(root)
    _finish_compaction(root)
    t_ids, t_db = load_tombstones(spark, root)
    if not len(t_ids):
        return 0
    tomb = t_ids[t_db == DEAD_EVERYWHERE]  # hard deletes: leave the corpus
    ix = read_index(spark, root, cfg)
    new_ix = compact_index(ix, (t_ids, t_db))
    new_ix.postings.count()  # materialize once: every table write reuses it
    tables = ["postings", "term_stats", "stats"]
    meta = None
    if len(tomb) and os.path.isdir(f"{root}/docs"):
        # prune compacted-away ids from the docs manifest — a stale
        # entry would make a later upsert of that id count as
        # "updated" and undercount n_docs (corrupting idf/avgdl)
        dead = spark.createDataFrame(pa.table({"doc_id": tomb}))
        meta = _read_table(spark, root, "docs").join(
            F.broadcast(dead), "doc_id", "left_anti"
        )
        tables.append("docs")
    tmp = f"{root}/.compact_tmp"
    write_index(new_ix, tmp, documents=meta)
    tables += _rewrite_doc_tables(
        spark, root, tmp, None, [], cfg, drop_ids=[int(i) for i in tomb]
    )
    os.makedirs(f"{tmp}/{_COMPACTED}")
    _swap_tables(
        root, tmp, (*tables, _COMPACTED), drop=("tombstones", _COMPACTED)
    )
    return len(tomb)


def _finish_compaction(root: str) -> None:
    """Finish a compaction that crashed after its tables swapped in:
    drop the tombstones they already folded, then the marker."""
    if os.path.isdir(f"{root}/{_COMPACTED}"):
        _swap_tables(
            root, f"{root}/.compact_tmp", (), drop=("tombstones", _COMPACTED)
        )


def _max_segment(root: str) -> int:
    """Highest segment number in ``{root}/postings``, from the parquet
    footers' column statistics: O(files), no Spark job. Files without a
    ``segment`` column hold segment 0; a row group without statistics
    has its column read."""
    import pyarrow.parquet as pq

    top = 0
    for f in _doc_table_files(root, "postings"):
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        if "segment" not in names:
            continue
        i = names.index("segment")
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(i).statistics
            if st is None or not st.has_min_max:
                top = max(top, pc.max(pq.read_table(f, columns=["segment"])[0]).as_py() or 0)
                break
            top = max(top, st.max)
    return int(top)


def upsert_docs_fast(
    spark: SparkSession,
    root: str,
    documents: DataFrame,
    cfg: IndexConfig | None = None,
    term_partitions: int = 2,
) -> dict:
    """Lucene-style add/overwrite: O(batch) work, never O(index).

    Where ``upsert_docs`` (the exact path) rewrites the whole block
    table to keep statistics exact, this path does what Lucene does on
    every update: APPEND the new docs' postings as a fresh segment
    (new parquet files — no existing file is read or rewritten) and
    tombstone the superseded copies with a SEGMENT-scoped liveDocs
    entry (dead_below = the new segment number), so queries mask the
    old copies immediately while the new ones — same doc_id, higher
    segment — stay live. The segment number comes from the postings'
    parquet footers (``_max_segment``), not from a scan.

    What stays exact: result membership and n_docs accounting.
    What goes stale until ``compact_root`` (exactly Lucene's contract
    between update and merge): df still counts superseded copies once
    more than live reality, and avgdl's numerator keeps their dl mass.
    ``compact_root`` merges segments, drops dead copies, recomputes
    stats, and restores bit-exactness with a fresh rebuild.

    At 100 TB this is the difference between an update batch costing
    O(batch) and costing a full-index rewrite; tombstone resolution is
    deferred to scheduled compactions, amortized across many batches.

    Crash contract: the appends (postings, term stats, stored fields,
    facet rows) and the new stats/docs written into ``.stats_tmp`` run
    as concurrent writes (``_run_writes``), and ALL of them finish
    before the tombstones are rewritten; stats and docs swap in last.
    A crash before the tombstone rewrite leaves BOTH copies of an
    updated doc live (transient double-count), and since the appends
    run concurrently some of them may have landed and others not;
    retrying the upsert appends everything again and its tombstones
    kill every copy but the newest — self-healing, never data loss
    (term stats an aborted attempt appended stay counted until
    ``compact_root`` recomputes them, like any superseded copy's)."""
    import shutil

    import pyarrow.parquet as pq

    from golr_loader_spark.plans.build_index import build_postings_packed

    cfg = cfg or IndexConfig()
    _finish_compaction(root)
    docs_path = f"{root}/docs"
    if not os.path.isdir(docs_path):
        raise ValueError(
            "upsert requires the {root}/docs manifest — persist with "
            "write_index(..., documents=flattened_docs)"
        )
    meta = _read_table(spark, root, "docs")
    incoming = documents.select("doc_id").distinct()
    marked = incoming.join(
        meta.select("doc_id", F.lit(True).alias("_known")), "doc_id", "left"
    ).collect()
    incoming_ids = [int(r["doc_id"]) for r in marked]
    existing_ids = sorted(int(r["doc_id"]) for r in marked if r["_known"])
    n_added = len(incoming_ids) - len(existing_ids)
    new_seg = _max_segment(root) + 1
    # stored fields + facet rows ride the SAME segment (Lucene's update
    # replaces them; readers resolve each doc to its latest segment);
    # their precondition is checked here, before anything is written
    doc_appends = _doc_table_appends(spark, root, documents, cfg, new_seg)

    from pyspark import StorageLevel

    fresh = (
        build_postings_packed(documents, cfg)
        .withColumn("segment", F.lit(new_seg))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # per-field dl mass of the fresh segment, for the stats update —
    # reads the persisted fresh blocks, not the corpus again
    fresh_sums = {
        r["field"]: int(r["s"])
        for r in fresh.groupBy("field").agg(F.sum("tf_sum").alias("s")).collect()
    }
    # stats: n_docs exact; avgdl numerator keeps the dead copies' mass
    # until compaction (documented staleness). Metadata-sized: read and
    # written on the driver, no Spark job
    old_stats = {
        r["field"]: (float(r["avgdl"]), int(r["n_docs"]))
        for r in pq.read_table(f"{root}/stats").to_pylist()
    }
    n_old = max((n for _a, n in old_stats.values()), default=0)
    n_new = n_old + n_added
    stats_rows = []
    for fld in sorted(set(old_stats) | set(fresh_sums)):
        avg_old, _n = old_stats.get(fld, (0.0, n_old))
        total = avg_old * n_old + fresh_sums.get(fld, 0)
        stats_rows.append(
            {"field": fld, "avgdl": total / n_new if n_new else 0.0, "n_docs": n_new}
        )
    tmp = f"{root}/.stats_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/stats")
    pq.write_table(
        pa.Table.from_pylist(stats_rows, schema=_STATS_SCHEMA),
        f"{tmp}/stats/part-00000.parquet",
        compression=PARQUET_CODEC,
    )
    new_meta = meta.join(incoming, "doc_id", "left_anti").unionByName(
        _docs_manifest(documents)
    )
    _run_writes(
        [
            # the segment (sorted small files: footer stats still prune
            # term lookups in both read paths)
            lambda: _write_postings(
                fresh, f"{root}/postings", max(1, term_partitions), mode="append"
            ),
            # its term stats (readers SUM df/cf per (term, field) across
            # segments)
            lambda: _writer(derived_term_stats(fresh), "append").parquet(
                f"{root}/term_stats"
            ),
            *doc_appends,
            # the docs manifest (metadata-sized), swapped in with stats
            lambda: _writer(new_meta).parquet(f"{tmp}/docs"),
        ]
    )
    # tombstone the superseded copies (old segments only) and withdraw
    # any pending tombstones on re-upserted ids (revive) — only once
    # every append has landed
    t_ids, t_db = load_tombstones(spark, root)
    still_dead = ~np.isin(t_ids, np.asarray(incoming_ids, dtype=np.int64))
    rewrite_tombstones(
        root,
        np.concatenate([t_ids[still_dead], np.asarray(existing_ids, dtype=np.int64)]),
        np.concatenate([t_db[still_dead], np.full(len(existing_ids), new_seg, dtype=np.int64)]),
    )
    _swap_tables(root, tmp, ("stats", "docs"))
    fresh.unpersist()
    return {
        "updated": len(existing_ids),
        "added": n_added,
        "segment": new_seg,
    }


def atomic_update(
    spark: SparkSession,
    root: str,
    ops: dict[int, dict[str, tuple]],
    cfg: IndexConfig | None = None,
    term_partitions: int = 2,
) -> dict:
    """Solr atomic updates: ``{doc_id: {field: (op, value)}}`` with op
    in ``set`` / ``inc`` / ``add`` / ``remove`` (add/remove on
    multi-valued fields). Current values are read back from the
    ``{root}/stored`` table (latest segment — which is why Solr
    requires all fields stored for atomic updates; same precondition
    here, same clear error when violated), the ops applied, and the
    merged docs re-upserted through ``upsert_docs_fast`` — Lucene's
    update = delete + add, O(batch) not O(index).

    Point-update shaped by design (Solr's atomic updates are per-doc
    REST calls): the driver loop is over the update batch, never the
    corpus. Bulk transformations should build a docs DataFrame and
    call ``upsert_docs_fast`` directly."""
    cfg = cfg or IndexConfig()
    if not os.path.isdir(f"{root}/stored"):
        raise ValueError(
            "atomic updates need stored fields — persist with "
            "write_index(..., store_fields=[...all indexed fields...])"
        )
    ids = [int(d) for d in ops]
    cur = _resolve_doc_table(
        spark.read.option("mergeSchema", "true").parquet(f"{root}/stored")
    ).filter(F.col("doc_id").isin(ids))
    rows = {int(r["doc_id"]): r.asDict(recursive=True) for r in cur.collect()}
    missing_docs = sorted(set(ids) - set(rows))
    if missing_docs:
        raise ValueError(
            f"atomic update of unknown doc(s): {missing_docs} — Solr "
            "rejects atomic updates of missing documents"
        )
    schema = cur.schema
    fields = {f.name for f in schema.fields} - {"doc_id"}
    unstored_indexed = sorted(set(cfg.fields) - fields)
    if unstored_indexed:
        raise ValueError(
            f"atomic updates need every INDEXED field stored too "
            f"(missing from stored: {unstored_indexed}) — the re-add "
            "would otherwise drop the doc's indexed content"
        )
    for d, field_ops in ops.items():
        doc = rows[int(d)]
        for field, (op, val) in field_ops.items():
            if field not in fields:
                raise ValueError(
                    f"atomic update of unstored field {field!r} "
                    f"(stored: {sorted(fields)})"
                )
            if op == "set":
                doc[field] = val
            elif op == "inc":
                doc[field] = (doc[field] or 0) + val
            elif op == "add":
                doc[field] = list(doc[field] or []) + [val]
            elif op == "remove":
                doc[field] = [x for x in (doc[field] or []) if x != val]
            else:
                raise ValueError(
                    f"unknown atomic op {op!r} (set/inc/add/remove)"
                )
    updated = spark.createDataFrame(list(rows.values()), schema)
    return upsert_docs_fast(
        spark, root, updated, cfg, term_partitions=term_partitions
    )


def snapshot_index(root: str, dest: str) -> dict:
    """Point-in-time index snapshot — the Solr ReplicationHandler /
    Lucene SnapshotDeletionPolicy analog: replicas and backups copy a
    CONSISTENT commit point, not a directory mid-mutation.

    Parquet index files are immutable once written (mutations either
    append new segment files or atomic-rename whole tables via
    ``_swap_tables``), so a snapshot is a hardlink tree: O(#files)
    metadata operations, zero data copied, and the snapshot keeps
    serving even after the source compacts (the links pin the old
    inodes — exactly Lucene's commit-point pinning). Falls back to a
    real copy across filesystems. The snapshot is itself a complete
    ``LocalSearcher``-able root.

    Returns {"files": n, "bytes": total} for the manifest/log line.
    """
    import shutil as _shutil

    if os.path.exists(dest) and os.listdir(dest):
        raise ValueError(f"snapshot dest {dest!r} exists and is not empty")
    n_files = 0
    n_bytes = 0
    for dirpath, _dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        # dot-directories (.upsert_tmp/.compact_tmp/.stats_tmp/.gc)
        # are in-flight _swap_tables staging — not part of any commit
        # point
        if any(part.startswith(".") for part in rel.split(os.sep) if part != "."):
            continue
        out_dir = os.path.join(dest, rel) if rel != "." else dest
        os.makedirs(out_dir, exist_ok=True)
        for fn in filenames:
            src = os.path.join(dirpath, fn)
            dst = os.path.join(out_dir, fn)
            try:
                os.link(src, dst)
            except OSError:  # cross-device: copy
                _shutil.copy2(src, dst)
            n_files += 1
            n_bytes += os.path.getsize(src)
    return {"files": n_files, "bytes": n_bytes}
