"""Inverted-index construction — the half the reference delegated to
Solr (GolrLoader.java:498-515 batches docs to an external indexer;
here posting lists are built inside the engine).

Physical design (SURVEY.md §4.2):

* **Doc-space range buckets as the salt.** ``bucket =
  shiftright(doc_id, 64 - bucket_bits)`` is a *monotone* function of
  doc_id, so per-``(term, field, bucket)`` posting blocks are globally
  doc_id-ordered across buckets while hot terms (``def``, ``return``)
  fan out over ``2**bucket_bits`` independent reduce tasks instead of
  one giant one. This is the skew treatment the north rule mandates —
  range-salting rather than random-salting, because it buys global
  order for free (no second merge pass).
* **Norms lists.** A document's length in a field (dl) is stored once,
  in that field's norms list: a reserved (term, field, bucket,
  segment) list under ``NORMS_TERM`` with one posting per doc of
  dl > 0 — ``doc_ids`` as usual, ``tfs`` all 0 (no positions), and
  its ``dls`` stream holding dl. Regular blocks carry an empty
  ``dls``; every decoder reads a posting's dl from the norms posting
  of the same (field, segment, doc_id), which sits in the same bucket,
  so a per-bucket scorer finds it in its own group (Lucene's norms,
  kept exact). One varint per (doc, field) instead of one per
  posting: ~28% of the block table's bytes on the benchmark corpus.
  The norms list rides every list-level mechanism unchanged (pack →
  exchange → encode, segments, tombstone masking, bucket slicing).
* **Block-max metadata.** Per block: ``max_tf``, ``min_dl`` and
  ``tf_sum``. The query-time bound ``wt·max_tf/(max_tf +
  k1(1−b+b·min_dl/avgdl))`` upper-bounds every posting's contribution
  (the tf-normalization is monotone ↑tf, ↓dl), so block skipping stays
  admissible — and because the bound needs NO corpus statistic at
  encode time, the whole build is ONE linear job: tokenize → one wide
  shuffle → encode. No stats barrier, no tokens materialization.
* **Derived statistics.** ``avgdl`` (Σ tf_sum per field / n_docs) and
  ``term_stats`` (df = Σ n, cf = Σ tf_sum per term) are aggregations
  over the ~1000×-smaller block table (norms lists left out), not
  second passes over tokens.
* Postings are written range-partitioned + sorted by term so parquet
  row-group min/max stats prune query-term lookups at the scan.

Python appears in two mapInArrow stages around the one exchange
(tokenize+pack, unpack+sort+encode — see ``build_postings_packed``);
both are numpy passes over whole batches, never loops over posting
rows. Every build — one-shot, checkpointed, streaming, upsert — runs
that one pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 — binds pa.compute in Python workers
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import PARQUET_CODEC, IndexConfig
from golr_loader_spark.functions.codec import (
    binary_from_segments as _binary_from_segments,
    binary_stream as _binary_stream,
    varint_decode,
    varint_encode_with_sizes,
)

# The norms list's term. No analyzer emits a token with a space in it
# (the simple analyzer splits on spaces, the others match word
# characters, synonyms are single tokens), so it never collides with an
# indexed term.
NORMS_TERM = " norms"
# ``config.json``'s ``block_format``: the block layout a root was
# written in. Roots without it store dl per posting and must be rebuilt.
BLOCK_FORMAT = "norms"

# One row per block of a (term, field, bucket) list. ``dls`` is empty
# except in norms blocks (``NORMS_TERM``), where it holds each doc's
# length in the field; ``max_tf``/``min_dl``/``tf_sum`` are the block's
# bounds over its postings' tf and dl.
POSTINGS_SCHEMA = pa.schema(
    [
        ("term", pa.string()),
        ("field", pa.string()),
        ("bucket", pa.int32()),
        ("block_id", pa.int32()),
        ("n", pa.int32()),
        ("doc_id_first", pa.int64()),
        ("doc_ids", pa.binary()),
        ("tfs", pa.binary()),
        ("dls", pa.binary()),
        ("max_tf", pa.int32()),
        ("min_dl", pa.int32()),
        ("tf_sum", pa.int64()),
    ]
)

# positional variant (IndexConfig.positions): per block one extra
# binary column — the concatenation of each posting's varint-delta
# position list. No extra length metadata is needed: posting i's list
# has exactly tf_i values, so a sequential varint decode of the block
# blob splits at cumsum(tfs). This is the Lucene .prx layout idea
# expressed as one more parquet column.
POSTINGS_SCHEMA_POS = POSTINGS_SCHEMA.append(pa.field("poss", pa.binary()))


def _block_ddl(positions: bool) -> str:
    """Spark DDL of the block table ``build_postings_packed`` declares
    (before its ``segment`` column)."""
    return (
        "term string, field string, bucket int, block_id int, n int, "
        "doc_id_first long, doc_ids binary, tfs binary, dls binary, "
        "max_tf int, min_dl int, tf_sum long"
        + (", poss binary" if positions else "")
    )


def bucket_of(doc_id_col, bucket_bits: int, id_space_bits: int = 64):
    """Monotone doc_id → bucket (arithmetic shift keeps sign order).
    ``id_space_bits``: 64 for hash ids, ceil(log2 N) for dense ids."""
    shift = max(0, id_space_bits - bucket_bits)
    return F.shiftright(doc_id_col, shift).cast("int")


def block_scan(terms, fields):
    """Block-table predicate of a scan whose lists are decoded for
    scoring: ``terms``' lists in ``fields`` plus those fields' norms
    lists, which the decoders read each posting's dl from."""
    return F.col("term").isin([*terms, NORMS_TERM]) & F.col("field").isin(
        list(fields)
    )


def decode_norms(cols: dict) -> dict[tuple[str, int], tuple[np.ndarray, np.ndarray]]:
    """{(field, segment): (doc_ids ascending, dls)} from the norms
    blocks among ``cols`` (block columns as numpy arrays; rows of other
    terms are ignored). A (field, segment) may span several buckets and
    several lists (an exact upsert unions its new segment-0 lists with
    the compacted base), so the postings are sorted by doc_id."""
    sel = cols["term"] == NORMS_TERM
    if not sel.any():
        return {}
    n_pb = cols["n"][sel].astype(np.int64)
    firsts = cols["doc_id_first"][sel].astype(np.int64)
    g = np.cumsum(varint_decode(b"".join(cols["doc_ids"][sel])).astype(np.int64))
    ids = g + np.repeat(firsts - g[np.cumsum(n_pb) - n_pb], n_pb)
    dls = varint_decode(b"".join(cols["dls"][sel])).astype(np.int64)
    f_uniq, f_codes = np.unique(cols["field"][sel], return_inverse=True)
    seg = (cols["segment"][sel].astype(np.int64) if "segment" in cols
           else np.zeros(len(n_pb), dtype=np.int64))
    nseg = int(seg.max()) + 1
    key = np.repeat(f_codes * nseg + seg, n_pb)
    order = np.lexsort((ids, key))
    ids, dls, key = ids[order], dls[order], key[order]
    cut = np.r_[np.flatnonzero(np.r_[True, key[1:] != key[:-1]]), len(ids)]
    return {
        (f_uniq[key[a] // nseg], int(key[a] % nseg)): (ids[a:b], dls[a:b])
        for a, b in zip(cut[:-1], cut[1:])
    }


_NO_NORMS = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64))


def norms_dl(norms: dict, fields: np.ndarray, segs: np.ndarray,
             n_pb: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """dl of every posting, from ``decode_norms`` output: blocks'
    ``fields`` and ``segs``, their posting counts ``n_pb`` and the
    postings' doc ``ids`` (block order). Raises when a posting has no
    norms entry — a block table not written in the norms format."""
    out = np.empty(len(ids), dtype=np.int64)
    if not len(ids):
        return out
    f_uniq, f_codes = np.unique(fields, return_inverse=True)
    segs = np.asarray(segs, dtype=np.int64)
    kb = f_codes.astype(np.int64) * (int(segs.max()) + 1) + segs
    keys = np.unique(kb)
    kp = np.repeat(kb, n_pb) if len(keys) > 1 else None
    for k in keys:
        i = int(np.flatnonzero(kb == k)[0])
        nids, ndls = norms.get((f_uniq[f_codes[i]], int(segs[i])), _NO_NORMS)
        m = slice(None) if kp is None else kp == k
        q = ids[m]
        at = np.minimum(np.searchsorted(nids, q), max(len(nids) - 1, 0))
        if not len(nids) or (nids[at] != q).any():
            raise ValueError(
                f"postings of field {f_uniq[f_codes[i]]!r} without a norms "
                "entry: the block table predates the norms format — rebuild "
                "the index"
            )
        out[m] = ndls[at]
    return out


def doc_lengths(tokens: DataFrame) -> DataFrame:
    """(doc_id, field, dl) — tokens per document per field. The
    tokenizer already rides dl on every token row; when present this
    is a cheap first() instead of a sum."""
    if "dl" in tokens.columns:
        return tokens.groupBy("doc_id", "field").agg(F.first("dl").alias("dl"))
    return tokens.groupBy("doc_id", "field").agg(F.sum("tf").alias("dl"))


def corpus_stats(documents: DataFrame, dls: DataFrame) -> DataFrame:
    """One row per field: (field, n_docs, avgdl).

    n_docs is the corpus-global document count (docs lacking a field
    count with dl=0 toward that field's avgdl — the BM25F convention).
    doc_ids are unique by construction (hash or dense assignment;
    check_doc_id_collisions is the separate validation op), so this is
    a plain count — no distinct shuffle.
    """
    n_docs = documents.count()
    return dls.groupBy("field").agg(
        (F.sum("dl") / F.lit(n_docs)).alias("avgdl"),
        F.lit(n_docs).alias("n_docs"),
    )


def term_stats(tokens: DataFrame) -> DataFrame:
    """(term, field, df, cf) — document + collection frequency.
    Plain partial-aggregated groupBy: hot terms are safe because the
    map-side combine reduces each partition to one row per term."""
    return tokens.groupBy("term", "field").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    )




def _encode_groups(
    terms: pa.Array,
    fields: pa.Array,
    buckets: np.ndarray,
    offs: np.ndarray,
    flat_ids: np.ndarray,
    flat_tfs: np.ndarray,
    flat_dls: np.ndarray,
    cfg: IndexConfig,
    pos_data: np.ndarray | None = None,
    pos_sizes: np.ndarray | None = None,
) -> pa.RecordBatch:
    """Vectorized core: encode posting groups (given by ``offs``
    boundaries over the flat arrays) into block rows. Every step —
    delta, varint, block segmentation, block-max — is one numpy pass
    over ALL groups; no per-group or per-block Python loop. Needs no
    corpus statistic: block bounds are (max_tf, min_dl), closed into
    the BM25 upper bound at query time once avgdl is known.
    ``flat_dls`` (every posting's dl) sets ``min_dl``; the ``dls``
    stream is written for the norms groups (``NORMS_TERM``) only."""
    block = cfg.block_size
    G = len(offs) - 1
    lens = offs[1:] - offs[:-1]
    total = int(offs[-1])

    pos_in_group = np.arange(total) - np.repeat(offs[:-1], lens)

    blocks_per_group = (lens + block - 1) // block
    block_offsets = np.concatenate([[0], np.cumsum(blocks_per_group)])
    starts = np.flatnonzero(pos_in_group % block == 0)
    n_blocks = int(blocks_per_group.sum())
    block_lens = np.diff(np.append(starts, total))
    block_group = np.repeat(np.arange(G), blocks_per_group)
    block_id = np.arange(n_blocks) - block_offsets[block_group]

    # deltas (uint64 wraparound at group/block starts is overwritten
    # with 0, so signed overflow across boundaries is harmless)
    u = flat_ids.astype(np.uint64)
    deltas = np.empty(total, dtype=np.uint64)
    deltas[1:] = u[1:] - u[:-1]
    deltas[starts] = 0

    tfs_i = flat_tfs.astype(np.int64)
    dls_i = flat_dls.astype(np.int64)

    id_bytes, id_nb = varint_encode_with_sizes(deltas)
    tf_bytes, tf_nb = varint_encode_with_sizes(flat_tfs.astype(np.uint64))
    # dl is stored in norms lists only; other blocks get an empty stream
    in_norms = np.repeat(
        pa.compute.equal(terms, NORMS_TERM).to_numpy(zero_copy_only=False), lens
    )
    dl_bytes, norm_nb = varint_encode_with_sizes(flat_dls[in_norms].astype(np.uint64))
    dl_nb = np.zeros(total, dtype=np.int64)
    dl_nb[in_norms] = norm_nb

    take = pa.array(block_group)
    arrays = [
        terms.take(take),
        fields.take(take),
        pa.array(buckets.astype(np.int32)).take(take),
        pa.array(block_id.astype(np.int32)),
        pa.array(block_lens.astype(np.int32)),
        pa.array(flat_ids[starts]),
        _binary_from_segments(id_bytes, np.add.reduceat(id_nb, starts)),
        _binary_from_segments(tf_bytes, np.add.reduceat(tf_nb, starts)),
        _binary_from_segments(dl_bytes, np.add.reduceat(dl_nb, starts)),
        pa.array(np.maximum.reduceat(tfs_i, starts).astype(np.int32)),
        pa.array(np.minimum.reduceat(dls_i, starts).astype(np.int32)),
        pa.array(np.add.reduceat(tfs_i, starts)),
    ]
    if pos_sizes is not None:
        # per-posting blobs are already contiguous in row order —
        # block blob = slice of the flat stream (zero re-encode)
        arrays.append(
            _binary_from_segments(pos_data, np.add.reduceat(pos_sizes, starts))
        )
        return pa.RecordBatch.from_arrays(arrays, schema=POSTINGS_SCHEMA_POS)
    return pa.RecordBatch.from_arrays(arrays, schema=POSTINGS_SCHEMA)


def _encode_sorted(rb: pa.RecordBatch, cfg: IndexConfig) -> pa.RecordBatch:
    """Block encoder over one batch of token rows (term, fcode, doc_id,
    tf, dl[, positions]) sorted by (term, fcode, doc_id) and holding
    every row of each (term, fcode, bucket) group it touches — the
    unpack stage's whole sorted partition, or one spill sub-bucket.
    ``fcode`` is the field's integer position in ``cfg.fields``; the
    bucket is not shipped: it is a monotone function of doc_id, so the
    sort already yields contiguous (term, field, bucket) runs, and it is
    re-derived here with one vectorized shift. Group boundaries are
    found vectorized, then one `_encode_groups` call encodes them all."""
    field_names = list(cfg.fields)
    shift = np.int64(max(0, cfg.id_space_bits - cfg.bucket_bits))
    terms = rb.column(0)
    fcodes = rb.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
    ids = rb.column(2).to_numpy(zero_copy_only=False)
    tfs = rb.column(3).to_numpy(zero_copy_only=False)
    dls = rb.column(4).to_numpy(zero_copy_only=False)
    # same arithmetic shift as bucket_of (monotone, sign-preserving)
    buckets = np.right_shift(ids.astype(np.int64), shift).astype(np.int32)
    pdata = psizes = None
    if rb.num_columns > 5:
        # positional: flat byte stream + per-row sizes straight from
        # the Arrow binary buffers (no per-row objects)
        pdata, poffs = _binary_stream(rb.column(5))
        psizes = np.diff(poffs)

    # group keys without string compares: dictionary-encode terms
    # (codes are appearance-ordered, fine — only equal-key runs matter
    # and the input is grouped); fcodes arrive as ints already
    tcodes = pa.compute.dictionary_encode(terms).indices.to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    bmin = np.int64(buckets.min())
    brange = np.int64(buckets.max()) - bmin + 1
    key = (tcodes * len(field_names) + fcodes) * brange + (
        buckets.astype(np.int64) - bmin
    )
    change = np.flatnonzero(np.diff(key) != 0) + 1
    offs = np.concatenate([[0], change, [len(key)]]).astype(np.int64)
    g_starts = offs[:-1]
    return _encode_groups(
        terms.take(pa.array(g_starts)),
        pa.compute.take(
            pa.array(field_names, type=pa.string()),
            pa.array(fcodes[g_starts], type=pa.int64()),
        ),
        buckets[g_starts],
        offs,
        ids,
        tfs,
        dls,
        cfg,
        pos_data=pdata,
        pos_sizes=psizes,
    )


# ---------------------------------------------------------------------------
# The build (guide §2.3/§8: the boundary crossings, not the kernels,
# dominate a build — so cross the boundary with a few binary blob rows
# instead of tens of millions of flat token rows).
#
# Converting every token row JVM→Arrow→Python and Tungsten-sorting the
# flat rows cost ~13 s of a ~21 s build at 240k docs while the numpy
# kernels cost <1 s. Token rows therefore move as serialized Arrow IPC
# batches:
#
#   tokenize+pack (mapInArrow over documents)
#     → (pid int, blob binary) rows, one blob per reduce partition
#       per input batch — the tokenizer groups its token rows by the
#       target reduce partition (hash of (term, fcode, bucket)) and
#       serializes each group's columnar slice;
#   Exchange hashpartitioning(pid)
#     → moves ~n_red blob rows per map task instead of millions of
#       flat rows (pid values are chosen via _partition_lut so
#       Spark's own hash routes each logical group to its own reduce
#       partition — no balls-in-bins collision skew, guide §2.5);
#   unpack+sort+encode (mapInArrow)
#     → deserializes the partition's blobs, ONE numpy lexsort on
#       (dictionary code, fcode, doc_id) in place of a Tungsten sort,
#       then one `_encode_sorted` call per sorted batch.
#
# Memory: the unpack stage buffers one reduce partition's token rows
# (columnar, ~tens of MB at bench scale); partition count scales with
# cluster parallelism (_WAVES × defaultParallelism), so per-task
# buffers shrink as the cluster grows, and past
# `spark.golr_loader.build.packed_spill_mb` a partition spills to
# group-disjoint sub-bucket files (see `_unpack_encode`).
# ---------------------------------------------------------------------------

# reduce partitions per core. Unpack tasks are light (numpy sort, no
# Tungsten sort memory pressure), so the knee is 2 waves (measured at
# 240k docs / local[32]: builds 7.4 s at 2 waves vs 8.2 s at 4, and
# every later query over the persisted block table schedules half the
# scan tasks).
_WAVES = 2

_PARTITION_LUT_CACHE: dict[int, "np.ndarray"] = {}


def _partition_lut(spark: SparkSession, n: int) -> np.ndarray:
    """lut[t] = an int x with pmod(murmur3_hash(x), n) == t, computed
    BY Spark itself (one tiny driver job, memoized per n) so the pack
    stage never re-implements Spark's hash: emitting pid=lut[t] makes
    the DataFrame `repartition(n, "pid")` place the row in reduce
    partition t exactly."""
    cached = _PARTITION_LUT_CACHE.get(n)
    if cached is not None:
        return cached
    lut = np.full(n, -1, dtype=np.int64)
    lo, found = 0, 0
    while found < n:
        hi = lo + max(64 * n, 4096)
        rows = (
            spark.range(lo, hi)
            .select(
                F.col("id").cast("int").alias("x"),
                F.pmod(F.hash(F.col("id").cast("int")), F.lit(n)).alias("t"),
            )
            .collect()
        )
        for r in rows:
            t = int(r["t"])
            if lut[t] < 0:
                lut[t] = int(r["x"])
                found += 1
        lo = hi
    _PARTITION_LUT_CACHE[n] = lut
    return lut


_MASK64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public-domain constants) — vectorized
    uint64 mixing for the pack stage's group→partition spread."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK64
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK64
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK64
    return x ^ (x >> np.uint64(31))


def _token_arrow_schema(cfg: IndexConfig) -> pa.schema:
    fields = [
        ("term", pa.string()), ("fcode", pa.int32()), ("doc_id", pa.int64()),
        ("tf", pa.int32()), ("dl", pa.int32()),
    ]
    if cfg.positions:
        fields.append(("positions", pa.binary()))
    return pa.schema(fields)


def _pack_batches(cfg: IndexConfig, n_red: int, lut: np.ndarray) -> "callable":
    """mapInArrow stage: documents → (pid, blob) rows. Tokenizes with
    the SAME `_field_arrays` kernel as `tokenize` (byte-identical
    token rows), adds one norms row per (doc, field) with tokens
    (term ``NORMS_TERM``, tf 0, the doc's dl, no positions), assigns
    each row its reduce partition from the (term, fcode, bucket) key,
    and serializes per-partition columnar slices as Arrow IPC
    record-batch messages."""
    from zlib import crc32

    from golr_loader_spark.functions.codec import (
        binary_from_segments,
        positions_encode,
    )
    from golr_loader_spark.functions.tokenize import _field_arrays

    field_spec = [(f, a) for f, (a, _b) in cfg.fields.items()]
    chain = cfg.chain
    min_len = cfg.min_term_len if chain is None else 1
    positional = cfg.positions
    shift = np.int64(max(0, cfg.id_space_bits - cfg.bucket_bits))
    schema = _token_arrow_schema(cfg)
    out_schema = pa.schema([("pid", pa.int32()), ("blob", pa.binary())])
    lut32 = lut.astype(np.int64)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            doc_ids = rb.column(0).to_numpy(zero_copy_only=False)
            col_parts: list[list] = [[] for _ in schema.names]
            tgt_parts: list[np.ndarray] = []
            for fi, (_fname, analyzer) in enumerate(field_spec):
                texts = rb.column(fi + 1).to_pandas()
                r = _field_arrays(texts, analyzer, positional, chain, min_len)
                if r is None:
                    continue
                pos, codes, vocab = r["pos"], r["codes"], r["vocab"]
                tf, dl_rows, cpos = r["tf"], r["dl"], r["cpos"]
                # the field's norms rows ride as vocabulary entry
                # NORMS_TERM: one per doc, tf 0, its dl
                first = np.unique(pos, return_index=True)[1]
                n_norms = len(first)
                pos = np.concatenate([pos, pos[first]])
                codes = np.concatenate(
                    [codes, np.full(n_norms, len(vocab), dtype=codes.dtype)]
                )
                vocab = [*vocab, NORMS_TERM]
                tf = np.concatenate([tf, np.zeros(n_norms, dtype=tf.dtype)])
                dl_rows = np.concatenate([dl_rows, dl_rows[first]])
                docs = doc_ids[pos].astype(np.int64)
                bucket = np.right_shift(docs, shift)
                # deterministic per-row reduce target: vocab-level
                # crc32 of the term (vocab is thousands of entries —
                # the per-row cost is one integer gather), mixed with
                # fcode and bucket by splitmix64
                vh = np.fromiter(
                    (crc32(t.encode()) for t in vocab),
                    dtype=np.uint64, count=len(vocab),
                )
                fsalt = np.uint64(
                    ((fi + 1) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
                )
                key = _mix64(
                    vh[codes]
                    ^ fsalt
                    ^ (bucket.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9))
                )
                tgt_parts.append((key % np.uint64(n_red)).astype(np.int64))
                col_parts[0].append(
                    pa.compute.take(
                        pa.array(vocab, type=pa.string()), pa.array(codes)
                    )
                )
                col_parts[1].append(pa.array(np.full(len(pos), fi, np.int32)))
                col_parts[2].append(pa.array(docs))
                col_parts[3].append(pa.array(tf.astype(np.int32)))
                col_parts[4].append(pa.array(dl_rows))
                if positional:
                    stream, seg = positions_encode(cpos, tf)
                    col_parts[5].append(binary_from_segments(stream, seg))
            if not tgt_parts:
                continue
            tgt = np.concatenate(tgt_parts)
            # introsort: within-blob row order is irrelevant — the
            # encoder side re-sorts the whole partition by
            # (term, fcode, doc_id) before encoding
            order = np.argsort(tgt)
            take = pa.array(order)
            cols = [
                pa.compute.take(
                    part[0] if len(part) == 1 else pa.concat_arrays(part), take
                )
                for part in col_parts
            ]
            packed = pa.RecordBatch.from_arrays(cols, schema=schema)
            st = tgt[order]
            bounds = np.flatnonzero(st[1:] != st[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(st)]))
            pids = lut32[st[starts]].astype(np.int32)
            blobs = [
                packed.slice(int(s), int(e - s)).serialize().to_pybytes()
                for s, e in zip(starts, ends)
            ]
            yield pa.RecordBatch.from_arrays(
                [pa.array(pids), pa.array(blobs, type=pa.binary())],
                schema=out_schema,
            )

    return run


def _sort_token_batches(
    parts: list[pa.RecordBatch], schema: pa.Schema
) -> pa.RecordBatch | None:
    """Combine token batches and lexsort on (term dictionary code,
    fcode, doc_id) — appearance-ordered codes give exactly the
    per-(term, fcode) contiguity plus ascending doc_id the encoder
    needs (block content never depends on ORDER of distinct groups
    within a partition)."""
    if not parts:
        return None
    tbl = pa.Table.from_batches(parts).combine_chunks()
    terms = tbl.column(0).chunk(0) if tbl.column(0).num_chunks else None
    if terms is None or len(terms) == 0:
        return None
    tcodes = pa.compute.dictionary_encode(terms).indices.to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    fcodes = tbl.column(1).chunk(0).to_numpy(zero_copy_only=False)
    docs = tbl.column(2).chunk(0).to_numpy(zero_copy_only=False)
    order = np.lexsort((docs, fcodes, tcodes))
    take = pa.array(order)
    return pa.RecordBatch.from_arrays(
        [pa.compute.take(tbl.column(i).chunk(0), take)
         for i in range(tbl.num_columns)],
        schema=schema,
    )


_SPILL_BUCKETS = 16


def _spill_targets(b: pa.RecordBatch, shift: np.int64) -> np.ndarray:
    """Spill sub-bucket of each token row, from its whole (term, fcode,
    bucket) group key: a hot term's rows spread over its doc-id
    buckets instead of piling into one sub-bucket. Vocab-level term
    hashing (same pattern as _pack_batches): the per-row cost is one
    integer gather and one splitmix64 round, not a per-row crc32.

    The key is salted differently from `_pack_batches`' partition key:
    the rows of one reduce partition all share that key modulo the
    partition count, so reusing it could send them to one sub-bucket."""
    from zlib import crc32

    d = pa.compute.dictionary_encode(b.column(0))
    codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    vh = np.fromiter(
        (crc32(t.encode()) for t in d.dictionary.to_pylist()),
        dtype=np.uint64, count=len(d.dictionary),
    )
    fcodes = b.column(1).to_numpy(zero_copy_only=False).astype(np.uint64)
    buckets = np.right_shift(
        b.column(2).to_numpy(zero_copy_only=False).astype(np.int64), shift
    ).astype(np.uint64)
    key = _mix64(
        vh[codes]
        ^ (fcodes * np.uint64(0x9E3779B97F4A7C15))
        ^ (buckets * np.uint64(0xBF58476D1CE4E5B9))
    )
    return (key % np.uint64(_SPILL_BUCKETS)).astype(np.int64)


def _unpack_encode(cfg: IndexConfig, spill_bytes: int = 0) -> "callable":
    """mapInArrow stage: (pid, blob) rows of one reduce partition →
    postings blocks. Deserializes the blobs, sorts with ONE numpy
    lexsort (`_sort_token_batches`), then encodes the sorted rows with
    one `_encode_sorted` call.

    **Bounded memory (external-bucket spill).** When the partition's
    buffered token bytes exceed ``spill_bytes`` (>0), rows are routed
    into ``_SPILL_BUCKETS`` sub-bucket files on local disk (Arrow IPC
    streams) by a hash of their (term, fcode, bucket) group key
    (`_spill_targets`). A group's rows always share a sub-bucket, so
    sub-buckets partition the group space — and since block content
    never depends on the order of distinct groups within a reduce
    partition, sorting + encoding the sub-buckets ONE AT A TIME yields
    the byte-identical block table with peak memory ~ partition/
    ``_SPILL_BUCKETS`` instead of the whole partition (parity gated by
    tests/test_packed_spill.py). The bound is the largest sub-bucket;
    a hot term no longer sets it alone, because its rows spread over
    its ``2**bucket_bits`` doc-id buckets. Spill files are closed and
    removed however the task ends."""
    schema = _token_arrow_schema(cfg)
    shift = np.int64(max(0, cfg.id_space_bits - cfg.bucket_bits))

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import contextlib
        import os
        import shutil
        import tempfile

        parts: list[pa.RecordBatch] = []
        nbytes = 0
        spill_dir: str | None = None
        writers: list = []
        # owns every spill writer and file: closed before the read-back,
        # and in `finally` however the task ends
        spill = contextlib.ExitStack()

        def _route(b: pa.RecordBatch) -> None:
            tgt = _spill_targets(b, shift)
            order = np.argsort(tgt)
            take = pa.array(order)
            srb = pa.RecordBatch.from_arrays(
                [pa.compute.take(b.column(i), take)
                 for i in range(b.num_columns)],
                schema=schema,
            )
            st = tgt[order]
            bounds = np.flatnonzero(st[1:] != st[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [len(st)]))
            for s, e in zip(starts, ends):
                writers[int(st[s])].write_batch(srb.slice(int(s), int(e - s)))

        try:
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                for blob in rb.column(1):
                    b = pa.ipc.read_record_batch(
                        pa.py_buffer(blob.as_py()), schema
                    )
                    if spill_dir is None:
                        parts.append(b)
                        nbytes += b.nbytes
                        if spill_bytes and nbytes >= spill_bytes:
                            # spill beside Spark's own shuffle files
                            # when local dirs are configured
                            base = (
                                os.environ.get("SPARK_LOCAL_DIRS", "")
                                .split(",")[0]
                                or None
                            )
                            spill_dir = tempfile.mkdtemp(
                                prefix="golr_spill_", dir=base
                            )
                            for i in range(_SPILL_BUCKETS):
                                fh = spill.enter_context(open(
                                    os.path.join(spill_dir, f"b{i}.arrow"), "wb"
                                ))
                                writers.append(pa.ipc.new_stream(fh, schema))
                                spill.callback(writers[-1].close)
                            for p in parts:
                                _route(p)
                            parts = []
                    else:
                        _route(b)
            if spill_dir is None:
                srb = _sort_token_batches(parts, schema)
                if srb is not None:
                    yield _encode_sorted(srb, cfg)
                return
            spill.close()
            for i in range(_SPILL_BUCKETS):
                path = os.path.join(spill_dir, f"b{i}.arrow")
                with pa.OSFile(path, "rb") as src:
                    sub = list(pa.ipc.open_stream(src))
                # sub-buckets never share a (term, fcode, bucket)
                # group, so each one encodes on its own
                srb = _sort_token_batches(sub, schema)
                if srb is not None:
                    yield _encode_sorted(srb, cfg)
        finally:
            # a failed task must not hold its spill files open until
            # the worker's next garbage collection
            try:
                spill.close()
            finally:
                if spill_dir is not None:
                    shutil.rmtree(spill_dir, ignore_errors=True)

    return run


def build_postings_packed(
    documents: DataFrame,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """documents(doc_id, <cfg.fields>) → compressed block-max postings
    (see the section comment above): tokenize+pack → one exchange of
    ~n_red blob rows per map task → unpack, one numpy lexsort and the
    block encoder per reduce task. The encoder needs no corpus
    statistic, so the whole build is one unbroken job, and the bucket
    key bounds per-group work to ≤ n_docs / 2**bucket_bits postings
    however hot a term is.

    Every build goes through here: ``build_index``, the checkpointed
    build (one call per bucket group), the streaming build (one per
    micro-batch) and the fast upsert (one per segment). Segment 0 is
    the base build; fast upserts append blocks under higher segment
    numbers, and compaction folds everything back to segment 0."""
    cfg = cfg or IndexConfig()
    spark = documents.sparkSession
    # scale-adaptive: _WAVES × defaultParallelism, floored by
    # spark.sql.shuffle.partitions
    n_red = max(
        spark.sparkContext.defaultParallelism * _WAVES,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    lut = _partition_lut(spark, n_red)
    # external-bucket spill threshold for the unpack stage (MB; 0
    # disables). Default 1024: never trips at bench scale (~25 MB per
    # reduce partition at 240k docs / 64 partitions) but bounds a
    # pathological partition's memory to ~1/16th of its token bytes
    # on memory-constrained deployments.
    spill_mb = float(
        spark.conf.get("spark.golr_loader.build.packed_spill_mb", "1024")
    )
    spill_bytes = int(spill_mb * (1 << 20)) if spill_mb > 0 else 0
    cols = ["doc_id"] + [f for f in cfg.fields]
    packed = documents.select(*cols).mapInArrow(
        _pack_batches(cfg, n_red, lut), "pid int, blob binary"
    )
    return (
        packed.repartition(n_red, F.col("pid"))
        .mapInArrow(_unpack_encode(cfg, spill_bytes), _block_ddl(cfg.positions))
        .withColumn("segment", F.lit(0))
    )


@dataclass
class InvertedIndex:
    """Handle over the persisted (or in-memory) index tables.

    Corpus-level stats are collected once and memoized on the handle —
    per-query driver lookups read the cached dicts, not the tables."""

    postings: DataFrame
    term_stats: DataFrame
    stats: DataFrame  # (field, avgdl, n_docs)
    cfg: IndexConfig
    _stats_cache: dict | None = None
    # per-term df memo for _idf_table (the in-memory term-dictionary
    # analog): term → {field: Σdf}; immutable for the handle lifetime
    _df_cache: dict | None = None

    def _stats(self) -> dict:
        if self._stats_cache is None:
            rows = self.stats.collect()
            self._stats_cache = {
                "avgdl": {r["field"]: float(r["avgdl"]) for r in rows},
                "n_docs": max(int(r["n_docs"]) for r in rows) if rows else 0,
            }
        return self._stats_cache

    @property
    def n_docs(self) -> int:
        return self._stats()["n_docs"]

    @property
    def avgdl_by_field(self) -> dict[str, float]:
        return self._stats()["avgdl"]


def derived_stats(postings: DataFrame, n_docs: int) -> DataFrame:
    """(field, avgdl, n_docs) from the block table: Σ tf_sum per field
    is exactly Σ dl over docs (dl ≡ Σ tf by the tokenizer invariant),
    so avgdl needs no pass over raw tokens (norms blocks left out)."""
    return postings.filter(F.col("term") != NORMS_TERM).groupBy("field").agg(
        (F.sum("tf_sum") / F.lit(n_docs)).alias("avgdl"),
        F.lit(n_docs).alias("n_docs"),
    )


def derived_term_stats(postings: DataFrame) -> DataFrame:
    """(term, field, df, cf) from the block table: df = Σ n (one
    posting per doc per term), cf = Σ tf_sum; norms lists left out."""
    terms = postings.filter(F.col("term") != NORMS_TERM)
    return terms.groupBy("term", "field").agg(
        F.sum("n").alias("df"), F.sum("tf_sum").alias("cf")
    )


def build_index(
    documents: DataFrame, cfg: IndexConfig | None = None, n_docs: int | None = None
) -> InvertedIndex:
    """documents → in-memory InvertedIndex (no persistence).

    ONE pass over the corpus: tokenize → shuffle → encode, with the
    compact block table persisted (postings are ~50× smaller than the
    flat tokens the round-1 design persisted). avgdl and term_stats
    are aggregations over that block table, not extra corpus passes —
    the serial stats barrier between tokenize and encode is gone.

    ``n_docs``: pass the corpus size when the caller already knows it
    (ids unique by construction) — skips the count job, which is pure
    serial driver time in the build's critical path."""
    from pyspark import StorageLevel

    cfg = cfg or IndexConfig()
    postings = build_postings_packed(documents, cfg).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    if n_docs is None:
        n_docs = documents.count()  # ids unique by construction
    return InvertedIndex(
        postings=postings,
        term_stats=derived_term_stats(postings),
        stats=derived_stats(postings, n_docs),
        cfg=cfg,
    )


def _write_config(cfg: IndexConfig, root: str) -> None:
    """Persist the index's OWN IndexConfig at ``{root}/config.json``
    (Solr stores schema.xml inside the core for the same reason):
    serving MUST analyze queries with the exact index-time analyzer
    chain — a stopword/stemmer/synonym mismatch between builder and
    searcher silently changes results. LocalSearcher restores this
    when the caller passes no cfg. ``block_format`` records the block
    layout (``check_block_format``)."""
    import json
    import os

    os.makedirs(root, exist_ok=True)
    with open(f"{root}/config.json", "w") as fh:
        json.dump(
            {**cfg.to_dict(), "block_format": BLOCK_FORMAT},
            fh, indent=1, sort_keys=True,
        )


def check_block_format(root: str) -> dict:
    """The root's ``config.json`` as a dict, after checking that its
    block table is in the norms format; raises ``ValueError`` (rebuild
    the index) for a root written before it or without a config."""
    import json
    import os

    p = f"{root}/config.json"
    conf = {}
    if os.path.exists(p):
        with open(p) as fh:
            conf = json.load(fh)
    if conf.get("block_format") != BLOCK_FORMAT:
        raise ValueError(
            f"index root {root!r} does not record the {BLOCK_FORMAT!r} "
            "block format (doc lengths in per-field norms lists); it was "
            "written by an older build — rebuild it with build_index + "
            "write_index"
        )
    return conf


# Parquet row-group size of the block table. A LocalSearcher read
# that misses its caches decompresses the row groups holding its
# terms, only the columns it uses (BM25 reads skip ``poss``). Smaller
# groups read faster at a few thousand docs but multiply the row
# groups, footers and open time of a large root (BENCH.md compares
# 4 MB, 1 MB, 256 KB and 64 KB).
POSTINGS_ROW_GROUP_BYTES = 4 << 20


def _writer(df: DataFrame, mode: str = "overwrite"):
    """``df.write`` in ``mode`` with the engine's codec
    (``config.PARQUET_CODEC``), set on the write itself so that it holds
    in any caller's session."""
    return df.write.mode(mode).option("compression", PARQUET_CODEC)


def _write_postings(
    postings: DataFrame, path: str, term_partitions: int, mode: str = "overwrite"
) -> None:
    """Write block rows range-partitioned and sorted by term: small row
    groups on term-sorted files let per-row-group min/max stats prune
    single-term lookups to a few groups instead of whole files (both for
    Catalyst PushedFilters and the pyarrow LocalSearcher path). Every
    block-table write goes through here: one-shot, checkpointed and
    streaming builds, upsert segments, compaction and shards."""
    (
        _writer(
            postings.repartitionByRange(term_partitions, "term")
            .sortWithinPartitions("term", "field", "bucket", "block_id"),
            mode,
        )
        .option("parquet.block.size", str(POSTINGS_ROW_GROUP_BYTES))
        .parquet(path)
    )


def _run_writes(writes: list) -> None:
    """Run table writes that target disjoint directories and share no
    lineage barrier as CONCURRENT jobs from a small driver thread pool
    (guide §2.6): each write's straggler tail is back-filled by the next
    table's tasks instead of idling the cluster between sequential jobs.
    Each write runs under the calling thread's Spark local properties
    (``inheritable_thread_target``), so its jobs carry the caller's job
    group. Returns once every write has finished; raises the first
    failure."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    inherit = inheritable_thread_target(SparkSession.getActiveSession())
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = [pool.submit(inherit(w)) for w in writes]
        for f in futs:
            f.result()


def _docs_manifest(documents: DataFrame) -> DataFrame:
    """(doc_id, content_sha256) rows of the ``{root}/docs`` manifest."""
    sha = (
        F.col("content_sha256")
        if "content_sha256" in documents.columns
        else F.lit(None).cast("string")
    )
    return documents.select("doc_id", sha.alias("content_sha256"))


def write_index(
    index: InvertedIndex,
    root: str,
    term_partitions: int = 8,
    documents: DataFrame | None = None,
    facets: DataFrame | None = None,
    store_fields: list[str] | None = None,
) -> None:
    """Persist index tables as parquet (Iceberg stand-in — the sandbox
    image lacks the Iceberg runtime jars; the layout below mirrors an
    Iceberg table bucketed by term: range-partition + in-file sort by
    term gives parquet row-group min/max pruning for query-term scans).

    ``documents`` (optional): also persist a ``{root}/docs`` manifest
    (doc_id, content_sha256) — doc-level membership for upsert
    accounting (plans.maintenance.upsert_docs) and the per-row
    sha256 invariant surfaced at the index root.

    The per-table writes run concurrently (``_run_writes``)."""

    def _postings() -> None:
        _write_postings(index.postings, f"{root}/postings", term_partitions)

    def _term_stats() -> None:
        _writer(
            index.term_stats.repartitionByRange(max(2, term_partitions // 4), "term")
            .sortWithinPartitions("term", "field")
        ).parquet(f"{root}/term_stats")

    def _stats() -> None:
        _writer(index.stats.coalesce(1)).parquet(f"{root}/stats")

    jobs = [_postings, _term_stats, _stats]
    if documents is not None:

        def _docs() -> None:
            _writer(_docs_manifest(documents)).parquet(f"{root}/docs")

        jobs.append(_docs)
    if facets is not None:
        # (doc_id, bucket, facet, value) from plans.facets.build_facets
        # — doc_id-sorted within files so the serving path can
        # searchsorted-join matched ids without a per-query sort
        def _facets() -> None:
            _writer(
                facets.repartitionByRange(max(2, term_partitions // 2), "doc_id")
                .sortWithinPartitions("doc_id")
            ).parquet(f"{root}/facets")

        jobs.append(_facets)
    if documents is not None and store_fields:
        # stored fields (Solr stored="true"): doc_id-range-partitioned
        # + in-file doc_id sort, so fetching a hit page is a few
        # row-group-pruned point reads, never a table scan
        def _stored() -> None:
            (
                _writer(
                    documents.select("doc_id", *store_fields)
                    .repartitionByRange(max(2, term_partitions // 2), "doc_id")
                    .sortWithinPartitions("doc_id")
                )
                .option("parquet.block.size", str(4 << 20))
                .parquet(f"{root}/stored")
            )

        jobs.append(_stored)
    _run_writes(jobs)
    _write_config(index.cfg, root)


# Spark DDL of the engine's metadata tables, as their writers lay them out
_TABLE_DDL = {
    "term_stats": "term string, field string, df long, cf long",
    "stats": "field string, avgdl double, n_docs long",
    "docs": "doc_id long, content_sha256 string",
}


def _read_table(spark: SparkSession, root: str, table: str) -> DataFrame:
    """One of the engine's own tables at ``root`` (postings, term_stats,
    stats, docs), read with the schema its writer declared: the block
    table's is ``build_postings_packed``'s plus ``segment``, with
    ``poss`` iff the root's ``config.json`` says ``positions``. A known
    schema spares Spark its schema-inference job. Raises for a root not
    in the norms block format (``check_block_format``)."""
    conf = check_block_format(root)
    if table == "postings":
        ddl = _block_ddl(bool(conf.get("positions", False))) + ", segment int"
    else:
        ddl = _TABLE_DDL[table]
    return spark.read.schema(ddl).parquet(f"{root}/{table}")


def read_index(
    spark: SparkSession, root: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    # files a base build wrote carry segment 0 from the build itself;
    # appended upsert segments carry theirs
    postings = _read_table(spark, root, "postings").fillna({"segment": 0})
    return InvertedIndex(
        postings=postings,
        term_stats=_read_table(spark, root, "term_stats"),
        stats=_read_table(spark, root, "stats"),
        cfg=cfg or IndexConfig(),
    )
