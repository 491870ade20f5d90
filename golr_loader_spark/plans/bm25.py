"""BM25 (k1=1.2, b=0.75) top-k scoring.

Two rank-identical paths (SURVEY.md §7 stages 4+8):

* ``score_exact`` — the oracle: pure DataFrame explode-join-aggregate
  over uncompressed tokens. Float summation order is pinned by
  sequentially folding contributions sorted by ``(field, term)``
  (``F.aggregate`` over ``sort_array``), so scores are bit-stable —
  the analog of the reference's deterministic golden-doc serialization
  (GolrLoaderTest.java:41-51's fixture equality needs deterministic
  output; ours needs deterministic float order).

* ``search`` / ``search_batch`` — the production path over the
  compressed block-max index: per doc-range bucket, admissible
  block-max pruning then vectorized scoring inside ``applyInPandas``,
  both in one list-level core (``_score_lists`` over
  ``_decode_lists`` output) that ``serve.LocalSearcher`` also runs,
  once per query over whole-index lists. Pruning invariant: a block B of list t is skipped only if
  ``ub_t(B) + Σ_{t'≠t} max_ub_{t'} < θ`` where θ is the k-th largest
  *lower bound* from the strongest list's exact partial scores —
  every doc touching a skipped block therefore has true score < θ ≤
  true k-th best, and every doc whose accumulated score ≥ θ is
  complete-scored, so the final ``filter(score ≥ θ) → top-k`` is
  exactly the brute-force ranking. Same float-addition order as the
  oracle (lists visited in ``(field, term)`` order).

Tie-break everywhere: (score desc, doc_id asc) — BASELINE.md's
rank-identity contract.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.codec import decode_doc_ids, varint_decode
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.build_index import (
    NORMS_TERM,
    InvertedIndex,
    block_scan,
    decode_norms,
    norms_dl,
)
from golr_loader_spark.plans.tombstones import DEAD_EVERYWHERE


def bm25_idf(n_docs: int, df: int) -> float:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _df_sums(rows) -> dict[tuple[str, str], int]:
    """Aggregate collected term_stats rows to (term, field) → Σdf.
    After a fast upsert the term_stats table carries one row per
    SEGMENT per (term, field) — df is the sum (a superseded copy
    still counts once until compaction, Lucene's stale-df contract)."""
    agg: dict[tuple[str, str], int] = {}
    for r in rows:
        key = (r["term"], r["field"])
        agg[key] = agg.get(key, 0) + int(r["df"])
    return agg


def _idf_table(index: InvertedIndex, terms: list[str]) -> dict[tuple[str, str], float]:
    """(term, field) → idf for the query terms (tiny driver-side lookup;
    the join-shaped analog of the reference's node-by-id point lookups,
    GolrLoader.java:691). Per-term df results are memoized on the
    index handle (the same contract as ``_stats_cache``: term_stats
    is immutable for the handle's lifetime — Lucene's in-memory term
    dictionary), so repeated query terms skip the lookup job."""
    n = index.n_docs
    if index._df_cache is None:
        index._df_cache = {}
    cache = index._df_cache
    missing = [t for t in terms if t not in cache]
    if missing:
        rows = (
            index.term_stats.filter(F.col("term").isin(missing))
            .select("term", "field", "df")
            .collect()
        )
        by_term: dict[str, dict[str, int]] = {t: {} for t in missing}
        for (t, f), d in _df_sums(rows).items():
            by_term.setdefault(t, {})[f] = d
        cache.update(by_term)
    out: dict[tuple[str, str], float] = {}
    for t in terms:
        for f, d in cache.get(t, {}).items():
            out[(t, f)] = bm25_idf(n, d)
    return out


def _avgdl(index: InvertedIndex) -> dict[str, float]:
    return index.avgdl_by_field


# ---------------------------------------------------------------- exact


def score_exact(
    tokens: DataFrame,
    dls: DataFrame,
    n_docs: int,
    avgdl_by_field: dict[str, float],
    query_terms: list[str],
    cfg: IndexConfig | None = None,
    k: int = 10,
) -> DataFrame:
    """Oracle: exact BM25 top-k from uncompressed (doc_id, field, term,
    tf) tokens. Deterministic float order via sorted sequential fold."""
    cfg = cfg or IndexConfig()
    spark = tokens.sparkSession
    terms = sorted(set(query_terms))

    tstats = (
        tokens.filter(F.col("term").isin(terms))
        .groupBy("term", "field")
        .agg(F.count("*").alias("df"))
        .collect()
    )
    weight_rows = []
    for r in tstats:
        if r["field"] not in cfg.fields:
            continue  # index may carry fields this query config drops
        boost = cfg.fields[r["field"]][1]
        idf = bm25_idf(n_docs, int(r["df"]))
        weight_rows.append((r["term"], r["field"], (boost * idf) * (cfg.k1 + 1.0)))
    if not weight_rows:
        return spark.createDataFrame([], "doc_id long, score double")
    weights = spark.createDataFrame(weight_rows, "term string, field string, wt double")
    avgdl = F.create_map(
        *[F.lit(x) for kv in avgdl_by_field.items() for x in kv]
    )

    matched = tokens.filter(F.col("term").isin(terms))
    if "dl" not in tokens.columns:
        matched = matched.join(dls, on=["doc_id", "field"])
    cand = (
        matched
        .join(F.broadcast(weights), on=["term", "field"])
        .withColumn(
            "contrib",
            F.col("wt")
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(cfg.k1)
                * (
                    F.lit(1.0 - cfg.b)
                    + F.lit(cfg.b) * F.col("dl") / F.element_at(avgdl, F.col("field"))
                )
            ),
        )
    )
    scored = cand.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("field", "term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# ------------------------------------------------------------ block-max


def _norm_excl(exclude_ids):
    """Normalize an exclusion spec to ``(ids sorted asc, dead_below)``
    or None. Three accepted shapes:

    * a plain int array — docs dead in EVERY segment (hard deletes);
    * an ``(ids, dead_below)`` pair — Lucene per-segment liveDocs: a
      posting of doc X stored in segment s is dead iff
      ``s < dead_below[X]`` (an upsert at segment e tombstones the
      older copies with dead_below = e; hard deletes use int64 max);
    * a ``pyspark.Broadcast`` wrapping an already-normalized non-None
      pair (from ``broadcast_excl``) — passed through untouched so the
      liveDocs arrays ride Spark's broadcast machinery instead of
      being pickled into every task closure; ``_live_of`` resolves
      ``.value`` executor-side.

    Duplicate ids keep the MAX dead_below — the latest operation wins
    (delete after upsert ⇒ dead everywhere)."""
    if exclude_ids is None:
        return None
    if isinstance(exclude_ids, Broadcast):
        return exclude_ids
    if isinstance(exclude_ids, tuple):
        ids, db = exclude_ids
        ids = np.asarray(ids, dtype=np.int64)
        db = np.asarray(db, dtype=np.int64)
        if not len(ids):
            return None
        order = np.argsort(ids, kind="stable")
        ids, db = ids[order], db[order]
        uniq, idx = np.unique(ids, return_index=True)
        if len(uniq) != len(ids):
            db = np.maximum.reduceat(db, idx)
            ids = uniq
        return ids, db
    arr = np.unique(np.asarray(exclude_ids, dtype=np.int64))
    if not len(arr):
        return None
    return arr, np.full(len(arr), DEAD_EVERYWHERE, dtype=np.int64)


def broadcast_excl(spark, exclude_ids):
    """Normalize an exclusion spec ONCE and wrap it in a SparkContext
    broadcast; pass the result as ``exclude_ids`` to any search /
    facet / phrase call. A 10^8-row delete set then ships via the
    broadcast machinery (one torrent per executor) instead of being
    serialized into every stage's task binary. Returns None when the
    set is empty — a Broadcast handed to the scorers always wraps a
    non-None normalized pair."""
    norm = _norm_excl(exclude_ids)
    if norm is None or isinstance(norm, Broadcast):
        return norm
    return spark.sparkContext.broadcast(norm)


def _live_of(ids: np.ndarray, segs: np.ndarray, excl) -> np.ndarray:
    """Boolean live-mask for postings ``ids`` stored in segments
    ``segs`` under normalized exclusion ``excl`` (resolving a
    ``broadcast_excl`` Broadcast to its value)."""
    if isinstance(excl, Broadcast):
        excl = excl.value
    t_ids, t_db = excl
    pos = np.minimum(np.searchsorted(t_ids, ids), len(t_ids) - 1)
    hit = t_ids[pos] == ids
    return ~(hit & (segs < t_db[pos]))


def _split_norms(cols: dict, norms):
    """(``cols`` without its norms blocks, the norms to read dl from):
    ``norms`` when given, else those decoded from the norms blocks."""
    is_norm = cols["term"] == NORMS_TERM
    if norms is None:
        norms = decode_norms(cols)
    if is_norm.any():
        cols = {c: v[~is_norm] for c, v in cols.items()}
    return cols, norms


def _decode_lists(cols, excl, norms=None) -> dict[tuple[str, str], tuple]:
    """Decode BM25 posting blocks → {(term, field): (doc_ids, tfs, dls,
    blk, max_tf, min_dl)} with tombstone/segment masking applied
    (``excl`` is ``_norm_excl``-normalized) — the BM25 twin of
    ``phrase._decode_positional_lists``. ``cols`` is a DataFrame (an
    applyInPandas bucket group) or a dict of numpy arrays (the serving
    read, any number of buckets).

    One np.unique per key column and one lexsort on (term, field,
    bucket, segment, block_id) put every list's blocks in one
    contiguous run in a deterministic order (appended segments restart
    block_id at 0, so block_id alone would leave ties); then the whole
    table decodes in three varint calls (the streams are
    self-delimiting; per-block doc_id bases are re-applied with a
    segmented cumsum). ``blk`` maps each live posting to its block's
    index in the list, and ``max_tf``/``min_dl`` are the per-block
    bounds, so block-max pruning selects postings with ``keep[blk]``
    instead of decoding again. The stored bounds still cover masked
    postings, so pruning on them stays admissible. Lists with no live
    posting are left out.

    Each posting's dl comes from its field's norms list (``norms``, a
    ``build_index.decode_norms`` result, or else the norms blocks among
    ``cols``), which is never returned as a list."""
    if not isinstance(cols, dict):
        cols = {c: cols[c].to_numpy() for c in cols.columns}
    cols, norms = _split_norms(cols, norms)
    n_rows = len(cols["term"])
    if not n_rows:
        return {}
    zeros = np.zeros(n_rows, dtype=np.int64)
    seg = cols["segment"].astype(np.int64) if "segment" in cols else zeros
    bucket = cols["bucket"].astype(np.int64) if "bucket" in cols else zeros
    t_uniq, t_codes = np.unique(cols["term"], return_inverse=True)
    f_uniq, f_codes = np.unique(cols["field"], return_inverse=True)
    nf = len(f_uniq)
    lid = t_codes * nf + f_codes
    order = np.lexsort((cols["block_id"].astype(np.int64), seg, bucket, lid))
    n_pb = cols["n"].astype(np.int64)[order]
    firsts = cols["doc_id_first"].astype(np.int64)[order]
    ids = decode_doc_ids(n_pb, firsts, b"".join(cols["doc_ids"][order]))
    tfs = varint_decode(b"".join(cols["tfs"][order])).astype(np.float64)
    dls = norms_dl(
        norms, cols["field"][order], seg[order], n_pb, ids
    ).astype(np.float64)
    blk = np.repeat(np.arange(n_rows, dtype=np.int32), n_pb)
    if excl is not None:
        keep = _live_of(ids, seg[order][blk], excl)
        if not keep.all():
            ids, tfs, dls, blk = ids[keep], tfs[keep], dls[keep], blk[keep]
    max_tf = cols["max_tf"].astype(np.float64)[order]
    min_dl = cols["min_dl"].astype(np.float64)[order]
    # per-list block and posting ranges (lid[order] and blk are sorted)
    bcut = np.searchsorted(lid[order], np.arange(len(t_uniq) * nf + 1))
    pcut = np.searchsorted(blk, bcut)
    out = {}
    for i in np.flatnonzero(pcut[1:] > pcut[:-1]):
        b0, b1, p0, p1 = bcut[i], bcut[i + 1], pcut[i], pcut[i + 1]
        out[(t_uniq[i // nf], f_uniq[i % nf])] = (
            ids[p0:p1], tfs[p0:p1], dls[p0:p1], blk[p0:p1] - np.int32(b0),
            max_tf[b0:b1], min_dl[b0:b1],
        )
    return out


class DecodedListCache:
    """Bounded LRU of decoded posting lists — the Solr filterCache
    analog at the decode layer. ``LocalSearcher`` keeps two key shapes
    in one instance (``_list_cache``):

    * ``("bm25", term)`` → {field: (doc_ids, tfs, dls, blk, max_tf,
      min_dl)}: the term's tombstone-masked lists in every configured
      field, over all buckets (``_decode_lists``); ``{}`` caches a term
      with no live posting;
    * ``("pos", term, field)`` → (doc_ids, tfs, dls, positions): one
      positional list (``phrase._decode_positional_lists``); ``()``
      caches an absent one.

    A second instance (``_term_blocks``) keyed by (term, positions)
    holds the raw block rows each shape is decoded from (the BM25 shape's
    without the ``poss`` column). All the scopes
    are one term over every bucket, so a query of n terms misses at
    most n entries of each. ``max_entries`` counts entries, not bytes:
    a ("bm25", term) entry holds every bucket's postings of the term.
    Valid for one searcher lifetime: the mmap'd block table and the
    tombstone mask are both fixed between ``refresh()`` calls, and
    refresh builds a new cache. Entries are read-only by kernel
    contract (every consumer derives new arrays)."""

    def __init__(self, max_entries: int = 4096):
        from collections import OrderedDict

        self.max_entries = max_entries
        self._d: "OrderedDict[tuple, tuple]" = OrderedDict()
        self.hits = 0
        self.misses = 0

    def get(self, key):
        v = self._d.get(key)
        if v is None:
            self.misses += 1
            return None
        self._d.move_to_end(key)
        self.hits += 1
        return v

    def put(self, key, value) -> None:
        self._d[key] = value
        if len(self._d) > self.max_entries:
            self._d.popitem(last=False)


def _acc_by_doc(all_ids: list, all_contribs: list):
    """Accumulate per-list score contributions by doc id, adding in
    LIST ORDER (the oracle's (field, term) float-accumulation order —
    identical arithmetic to the previous sort+searchsorted shape).

    Returns ``(uniq, scores, aux)``. Dense doc-id spans — dense ids
    over a bucket or a whole index, where postings cover a good share
    of the id range — use a direct-indexed buffer: O(span) instead of
    the O(n log n) unique sort + per-list searchsorted. Sparse spans
    (64-bit hash ids, rare terms over a large index) keep the sort
    shape. ``aux`` is
    ``(lo, rank)`` in dense mode (rank maps id-lo → index into uniq,
    valid for the UNFILTERED uniq) or ``None`` in sparse mode."""
    cat = np.concatenate(all_ids) if len(all_ids) > 1 else all_ids[0]
    if len(cat) == 0:
        # every list empty (e.g. fully tombstone-masked decodes)
        return (
            np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64), None
        )
    lo = int(cat.min())
    span = int(cat.max()) - lo + 1
    if span <= max(4 * len(cat), 1 << 16):
        buf = np.zeros(span, dtype=np.float64)
        touched = np.zeros(span, dtype=bool)
        for ids, contrib in zip(all_ids, all_contribs):
            idx = ids - lo
            buf[idx] += contrib
            touched[idx] = True
        pos = np.flatnonzero(touched)
        scores = buf[pos]
        uniq = pos + lo
        rank = np.empty(span, dtype=np.int64)
        rank[pos] = np.arange(len(pos), dtype=np.int64)
        return uniq, scores, (lo, rank)
    uniq = np.unique(cat)
    scores = np.zeros(len(uniq), dtype=np.float64)
    for ids, contrib in zip(all_ids, all_contribs):
        scores[np.searchsorted(uniq, ids)] += contrib
    return uniq, scores, None


def _member_mask(n_uniq: int, lists: list, aux, uniq: np.ndarray) -> np.ndarray:
    """Boolean mask over ``uniq`` marking docs present in any of
    ``lists`` (each a subset of uniq). Dense mode: integer gather via
    the rank table; sparse: unique + searchsorted (the prior shape)."""
    m = np.zeros(n_uniq, dtype=bool)
    if not lists:
        return m
    if aux is not None:
        lo, rank = aux
        for ids in lists:
            m[rank[ids - lo]] = True
        return m
    g_ids = np.unique(np.concatenate(lists)) if len(lists) > 1 else lists[0]
    m[np.searchsorted(uniq, g_ids)] = True
    return m


def _topk_by_score(uniq: np.ndarray, scores: np.ndarray, k: int):
    """Top-k by (score desc, doc_id asc). An np.partition preselect
    keeps every candidate whose score ≥ the kth-largest score (ties
    included — no doc below that bound can displace one above it), so
    the final lexsort over candidates returns exactly the rows a full
    lexsort would: same docs, same order."""
    if k >= len(uniq):
        return uniq, scores
    if len(uniq) > 4 * k:
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.flatnonzero(scores >= kth)
        u, s = uniq[cand], scores[cand]
    else:
        u, s = uniq, scores
    order = np.lexsort((u, -s))[:k]
    return u[order], s[order]


def query_analyzer(cfg: IndexConfig) -> str:
    """The analyzer to parse QUERIES with: when every configured field
    shares one analyzer, use it (a simple-analyzer index must not have
    its queries code-split — 'foo_bar' would become {foo, bar,
    foo_bar}, and conjunctive mode would then demand postings that a
    simple index can never contain). Mixed-analyzer configs keep the
    'code' default: its token set is the common denominator the
    default content+path config indexes in every field."""
    analyzers = {an for (an, _b) in cfg.fields.values()}
    return next(iter(analyzers)) if len(analyzers) == 1 else "code"


_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _must_groups(
    required_terms: set[str] | None, required_groups: list[set[str]] | None
) -> list[set[str]]:
    """MUST constraints as any-of groups: plain required terms are
    singleton groups; ``required_groups`` (Lucene's SCORING_BOOLEAN
    rewrite of a MUST prefix/fuzzy — a required disjunction of its
    expansions) demand ≥1 match within each group."""
    return [
        *([{t} for t in sorted(required_terms)] if required_terms else []),
        *(required_groups or []),
    ]


def _score_lists(
    lists: dict[tuple[str, str], tuple],
    weights: dict[tuple[str, str], float],
    avgdl_by_field: dict[str, float],
    cfg: IndexConfig,
    k: int,
    groups: list[set[str]] | None = None,
    prohibited: set | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The BM25 scoring core: decoded lists (``_decode_lists``) in,
    top-k ``(doc_ids, scores)`` out — unsorted when nothing truncates
    (k ≥ matches). Every scorer runs it: the Spark single-query and
    batch scorers once per bucket group, ``LocalSearcher`` once per
    query over whole-index lists. Each run is exact on its own: a doc's
    postings all sit in one bucket, and the pruning rule below only
    needs θ to be a lower bound of the true k-th best score of the docs
    it sees, so the top-k of the union equals the merge of per-bucket
    top-k sets, bit for bit.

    * Weighted lists accumulate in (field, term) order — the oracle's
      float order (``_acc_by_doc``).
    * θ is the k-th largest exact partial score of the strongest list
      (a lower bound of the k-th best). A block B of list t is skipped
      when ub_t(B) + Σ_{t'≠t} max_ub_{t'} < θ, with ub = wt·max_tf /
      (max_tf + k1(1−b+b·min_dl/avgdl)) ≥ wt·w(tf, dl) for every
      posting in B (w rises with tf, falls with dl); every doc touching
      a skipped block scores below θ, so after ``score ≥ θ`` every
      survivor is complete-scored.
    * ``groups`` (``_must_groups``, Lucene MUST): a doc survives only
      if it matches ≥1 member of every group, in any field; members
      are bare terms or (term, field) pairs.
    * ``prohibited`` (Lucene MUST_NOT): bare terms or (term, field)
      pairs whose lists are read for membership only; any doc in them
      is dropped before the top-k.

    Pruning is off under MUST and MUST_NOT: a skipped block would
    erase a doc's term membership, or hide a doc whose rank rises once
    prohibited docs are removed. It is off, too, when a weight is
    negative (a stale df above n_docs after fast upserts gives idf < 0,
    and a negative boost does the same): a partial score is then no
    lower bound of the total."""
    k1, b = cfg.k1, cfg.b
    neg_sets: list[np.ndarray] = []
    scoring = []  # [(field, term, wt, decoded list)]
    for (term, field), lst in lists.items():
        if prohibited and (term in prohibited or (term, field) in prohibited):
            neg_sets.append(lst[0])
            continue
        wt = weights.get((term, field))
        if wt is not None:
            scoring.append((field, term, wt, lst))
    if not scoring:
        return _EMPTY
    if groups:
        avail = {t for _f, t, *_ in scoring} | {(t, f) for f, t, *_ in scoring}
        if any(not (g & avail) for g in groups):
            return _EMPTY  # some MUST group has no live posting
    scoring.sort(key=lambda x: (x[0], x[1]))  # oracle's (field, term) order

    theta = -np.inf
    if not groups and not prohibited and all(x[2] >= 0.0 for x in scoring):
        ubs = [
            wt * mt / (mt + k1 * ((1.0 - b) + b * md / avgdl_by_field[f]))
            for f, _t, wt, (*_p, mt, md) in scoring
        ]
        max_ub = np.array([u.max() for u in ubs])
        sum_max_ub = max_ub.sum()
        si = int(np.argmax(max_ub))
        s_field, _t, s_wt, (s_ids, s_tf, s_dl, *_r) = scoring[si]
        if len(s_ids) >= k:
            s_avg = avgdl_by_field[s_field]
            partial = s_wt * s_tf / (s_tf + k1 * ((1.0 - b) + b * s_dl / s_avg))
            theta = np.partition(partial, len(partial) - k)[len(partial) - k]

    all_ids, all_contribs = [], []
    pruned_any = False
    for li, (field, _term, wt, (ids, tf, dl, blk, *_bounds)) in enumerate(scoring):
        if np.isfinite(theta):
            keep = ubs[li] + (sum_max_ub - max_ub[li]) >= theta
            if not keep.all():
                pruned_any = True
                sel = keep[blk]
                ids, tf, dl = ids[sel], tf[sel], dl[sel]
        avg = avgdl_by_field[field]
        all_ids.append(ids)
        all_contribs.append(wt * tf / (tf + k1 * ((1.0 - b) + b * dl / avg)))
    uniq, scores, aux = _acc_by_doc(all_ids, all_contribs)
    if pruned_any:
        ok = scores >= theta  # complete-scored docs only
        uniq, scores = uniq[ok], scores[ok]
    if groups:
        n_match = np.zeros(len(uniq), dtype=np.int32)
        for g in groups:
            g_lists = [
                ids for ids, (f, t, *_r) in zip(all_ids, scoring)
                if t in g or (t, f) in g
            ]
            n_match += _member_mask(len(uniq), g_lists, aux, uniq)
        ok = n_match == len(groups)
        uniq, scores = uniq[ok], scores[ok]
    if neg_sets:
        # prohibited lists may hold docs matching no scoring term, so
        # the test runs on ids, not the rank table
        neg = np.unique(np.concatenate(neg_sets))
        ok = ~np.isin(uniq, neg, assume_unique=True)
        uniq, scores = uniq[ok], scores[ok]
    return _topk_by_score(uniq, scores, k)


def _score_bucket_factory(
    weights: dict[tuple[str, str], float],
    avgdl_by_field: dict[str, float],
    cfg: IndexConfig,
    k: int,
    required_terms: set[str] | None = None,
    exclude_ids=None,
    prohibited_terms: set | None = None,
    required_groups: list[set[str]] | None = None,
):
    """The applyInPandas face of ``_score_lists`` for one query: decode
    the bucket group's lists (``_decode_lists``) and score them. pdf
    columns: term, field, block_id, n, doc_id_first, doc_ids, tfs, dls,
    max_tf, min_dl (+ segment, bucket). Used by ``search``,
    ``search_boolean``, the prefix/wildcard/fuzzy expansions, mlt,
    ``lucene`` term clauses and ``facets``.

    ``required_terms`` (Lucene MUST, singleton groups) and
    ``required_groups`` (any-of groups) gate docs; ``prohibited_terms``
    (Lucene MUST_NOT) drops docs holding any of them — membership is
    complete within the group because a doc's postings all live in its
    own doc-range bucket. ``exclude_ids`` drops tombstoned docs at
    decode time (Lucene liveDocs: deleted docs vanish from results at
    once, while statistics stay stale until compaction — see
    plans.maintenance): a plain id array (dead everywhere), an
    ``(ids, dead_below)`` pair for per-segment liveDocs, or a
    ``broadcast_excl`` Broadcast (see ``_norm_excl``)."""
    excl = _norm_excl(exclude_ids)
    groups = _must_groups(required_terms, required_groups)

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        uniq, scores = _score_lists(
            _decode_lists(pdf, excl), weights, avgdl_by_field, cfg, k,
            groups, prohibited_terms,
        )
        return pd.DataFrame({"doc_id": uniq, "score": scores})

    return score_group


def _score_bucket_multi_factory(
    weights: dict[tuple[int, str, str], float],
    avgdl_by_field: dict[str, float],
    cfg: IndexConfig,
    k: int,
    required_terms: dict | None = None,
    exclude_ids=None,
):
    """Per-BUCKET scorer for the batch path: decodes each (term, field)
    list of the bucket once (``_decode_lists``) and runs ``_score_lists``
    for every query of the batch over it. ``weights`` is keyed
    (query_id, term, field); ``required_terms`` maps a query id to its
    MUST terms.

    Why not per-(query, bucket) groups: that plan joins postings to a
    query-term table BEFORE the shuffle, duplicating every block once
    per matching query — with hot terms shared by most of the batch
    ("def", "return"), shuffle volume multiplies by the batch size.
    Here each block crosses the wire once and is decoded once. Scores
    are bit-identical to the single-query scorer (same core);
    parallelism is n_buckets (cfg.bucket_bits — size it to the
    cluster), not n_queries × n_buckets."""
    excl = _norm_excl(exclude_ids)
    per_query: dict[int, dict[tuple[str, str], float]] = {}
    for (qid, t, f), w in weights.items():
        per_query.setdefault(qid, {})[(t, f)] = w
    queries = [
        (qid, wq, _must_groups((required_terms or {}).get(qid), None))
        for qid, wq in sorted(per_query.items())
    ]

    def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        lists = _decode_lists(pdf, excl)
        outs = []
        for qid, wq, groups in queries:
            uniq, scores = _score_lists(lists, wq, avgdl_by_field, cfg, k, groups)
            if len(uniq):
                outs.append(pd.DataFrame(
                    {"query_id": np.int32(qid), "doc_id": uniq, "score": scores}
                ))
        if not outs:
            return pd.DataFrame(
                {"query_id": pd.Series([], dtype=np.int32),
                 "doc_id": pd.Series([], dtype=np.int64),
                 "score": pd.Series([], dtype=np.float64)}
            )
        return pd.concat(outs, ignore_index=True)

    return score_bucket


def search(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    exclude_ids=None,
    fq=None,
) -> DataFrame:
    """Top-k BM25 over the compressed index for one query string.

    ``mode="or"`` (default): disjunctive with block-max pruning.
    ``mode="and"``: conjunctive (Lucene MUST) — a doc must match every
    analyzed query term; a term absent from the corpus empties the
    result. Scores of surviving docs are identical between modes.
    ``fq``: optional Solr filter query (a ``plans.lucene`` query
    string) — restricts matches without affecting scores. Note:
    block-max pruning is disabled under fq (a pruned doc could rise
    into the top-k after the filter removes higher-scored docs)."""
    cfg = cfg or index.cfg
    terms = analyze_query(query, query_analyzer(cfg), cfg.chain)
    spark = index.postings.sparkSession
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    idf = _idf_table(index, terms)
    weights = {
        (t, f): (cfg.fields[f][1] * i) * (cfg.k1 + 1.0)
        for (t, f), i in idf.items()
        if f in cfg.fields  # index may carry fields this query config drops
    }
    required = set(terms) if mode == "and" else None
    if required and not required <= {t for (t, _f) in weights}:
        # strict MUST: a query term with no postings → empty result
        return spark.createDataFrame([], "doc_id long, score double")
    avgdl = _avgdl(index)
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(
        weights, avgdl, cfg, k if fq is None else index.n_docs,
        required_terms=required, exclude_ids=exclude_ids,
    )
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        per_bucket = per_bucket.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_boolean(
    index: InvertedIndex,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    k: int = 10,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Lucene BooleanQuery: MUST clauses are required AND score,
    SHOULD clauses score when present, MUST_NOT clauses disqualify.
    Clause strings are analyzed with the index's query analyzer.
    Scoring = BM25 sum over the doc's matching (must ∪ should) terms,
    the module's float discipline; tie-break (score desc, doc_id asc).

    MUST_NOT is evaluated inside the bucket scorer: a doc's postings
    all live in its own doc-range bucket, so prohibited-term
    membership is decided locally — no extra shuffle, no driver-side
    negative set."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    qan = query_analyzer(cfg)
    ch = cfg.chain
    m_terms = sorted({t for s in (must or []) for t in analyze_query(s, qan, ch)})
    s_terms = sorted({t for s in (should or []) for t in analyze_query(s, qan, ch)})
    n_terms = sorted({t for s in (must_not or []) for t in analyze_query(s, qan, ch)})
    scoring = sorted(set(m_terms) | set(s_terms))
    if not scoring:
        return spark.createDataFrame([], "doc_id long, score double")
    idf = _idf_table(index, scoring)
    weights = {
        (t, f): (cfg.fields[f][1] * i) * (cfg.k1 + 1.0)
        for (t, f), i in idf.items()
        if f in cfg.fields
    }
    required = set(m_terms) if m_terms else None
    if required and not required <= {t for (t, _f) in weights}:
        return spark.createDataFrame([], "doc_id long, score double")
    avgdl = _avgdl(index)
    cand = index.postings.filter(block_scan(scoring + n_terms, cfg.fields))
    fn = _score_bucket_factory(
        weights,
        avgdl,
        cfg,
        k,
        required_terms=required,
        exclude_ids=exclude_ids,
        prohibited_terms=set(n_terms) or None,
    )
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _guard_expansion(base: DataFrame, max_expansions: int, what: str) -> None:
    """Cap-check a multi-term expansion DISTRIBUTED-side, before any
    driver materialization: count at most ``max_expansions + 1``
    distinct terms (the limit bounds the job), so a pathological
    expansion ('a*' against a billion-term vocabulary) raises
    TooManyClauses without ever pulling the expansion to the driver."""
    check_expansion(
        base.select("term").distinct().limit(max_expansions + 1).count(),
        max_expansions, what,
    )


def check_expansion(n: int, max_expansions: int, what: str) -> None:
    """The TooManyClauses check of every face: a multi-term clause
    whose expansion holds ``n`` distinct terms raises past the cap."""
    if n > max_expansions:
        raise ValueError(
            f"{what} expands to >{max_expansions} terms "
            "(Lucene TooManyClauses analog) — raise max_expansions"
        )


def search_prefix(
    index: InvertedIndex,
    prefix: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    max_expansions: int = 1024,
    exclude_ids=None,
) -> DataFrame:
    """Prefix query (Lucene PrefixQuery with the SCORING_BOOLEAN
    rewrite): expand the prefix against the term dictionary, then
    score the union of expanded terms' postings as a disjunctive BM25
    — each doc's score sums the contributions of every prefix-matching
    term it contains, floats folded in the module's (field, term)
    order. The expansion is a driver-side term-dictionary range seek
    (term_stats is vocabulary-sized metadata, exactly Lucene's
    TermsEnum.seekCeil); ``max_expansions`` guards hot prefixes the
    way Lucene's TooManyClauses does. Tie-break (score desc, doc_id
    asc) as everywhere."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    p = prefix.strip().lower()
    if not p:
        return spark.createDataFrame([], "doc_id long, score double")
    n = index.n_docs
    base = index.term_stats.filter(
        F.col("term").startswith(p) & F.col("field").isin(list(cfg.fields))
    )
    _guard_expansion(base, max_expansions, f"prefix '{p}'")
    rows = base.select("term", "field", "df").collect()
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    weights = {
        (t, f): (cfg.fields[f][1] * bm25_idf(n, d)) * (cfg.k1 + 1.0)
        for (t, f), d in _df_sums(rows).items()
    }
    avgdl = _avgdl(index)
    terms = sorted({t for t, _f in weights})
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(weights, avgdl, cfg, k, exclude_ids=exclude_ids)
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wildcard_regex(pattern: str) -> str:
    """Lucene WildcardQuery pattern → anchored regex: ``*`` matches
    any (possibly empty) sequence, ``?`` exactly one char, everything
    else literal. The same string is valid for Java (Spark ``rlike``)
    and Python ``re`` — metachars are escaped char-by-char with a
    backslash, never with ``re.escape``'s Python-only forms."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch.isalnum() or ch == "_":
            out.append(ch)
        else:
            out.append("\\" + ch)
    return "^" + "".join(out) + "$"


def wildcard_literal_prefix(pattern: str) -> str:
    """The literal run before the first wildcard — Lucene's
    WildcardQuery prefix optimization (CompiledAutomaton's
    commonPrefix): seek the term dictionary to it so the regex only
    runs inside the matching range. Pushed down as ``startswith``."""
    for i, ch in enumerate(pattern):
        if ch in "*?":
            return pattern[:i]
    return pattern


def search_wildcard(
    index: InvertedIndex,
    pattern: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    max_expansions: int = 1024,
    exclude_ids=None,
) -> DataFrame:
    """Wildcard query (Lucene WildcardQuery under the SCORING_BOOLEAN
    rewrite): ``*`` = any sequence, ``?`` = one char, anywhere in the
    pattern (``te*t``, ``t?st``, ``*ark``). Expansion runs against the
    term dictionary with the literal prefix pushed down as a
    ``startswith`` range seek (Lucene's commonPrefix optimization) and
    the rest as a JVM-side anchored ``rlike`` — the corpus is never
    touched during expansion. Leading-wildcard patterns scan the whole
    vocabulary, exactly Lucene's documented cost (Solr guards with
    ReversedWildcardFilter; here the vocabulary is parquet metadata and
    the scan is one vectorized filter). ``max_expansions`` caps the
    clause count (TooManyClauses analog), checked distributed-side
    before any collect. Scoring: every expanded term joins the
    disjunction with its own idf weight; tie-break (score desc, doc_id
    asc) as everywhere. Ref: the Solr cores the reference loads into
    accept wildcard q strings through the same classic parser surface
    (GolrLoader.java:498-515 feeds them)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    p = pattern.strip().lower()
    if not p:
        return spark.createDataFrame([], "doc_id long, score double")
    if "*" not in p and "?" not in p:
        return search(index, p, k=k, cfg=cfg, exclude_ids=exclude_ids)
    n = index.n_docs
    rx = wildcard_regex(p)
    pref = wildcard_literal_prefix(p)
    cond = F.col("term").rlike(rx) & F.col("field").isin(list(cfg.fields))
    if pref:
        cond &= F.col("term").startswith(pref)
    base = index.term_stats.filter(cond)
    _guard_expansion(base, max_expansions, f"wildcard '{p}'")
    rows = base.select("term", "field", "df").collect()
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    terms = sorted({r["term"] for r in rows})
    weights = {
        (t, f): (cfg.fields[f][1] * bm25_idf(n, d)) * (cfg.k1 + 1.0)
        for (t, f), d in _df_sums(rows).items()
    }
    avgdl = _avgdl(index)
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(weights, avgdl, cfg, k, exclude_ids=exclude_ids)
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_fuzzy(
    index: InvertedIndex,
    query_term: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    k: int = 10,
    cfg: IndexConfig | None = None,
    max_expansions: int = 64,
    exclude_ids=None,
) -> DataFrame:
    """Fuzzy query (Lucene FuzzyQuery under the SCORING_BOOLEAN
    rewrite): expand ``query_term`` to every vocabulary term within
    ``max_edits`` Levenshtein edits — the distance predicate runs
    JVM-side (``F.levenshtein``) as a filter ON the term-dictionary
    table, the Spark analog of Lucene's LevenshteinAutomata walk over
    the terms index, so the corpus is never touched during expansion —
    then score the expanded disjunction with the normal block-max
    scorer. ``prefix_length``: like Lucene, require the first p chars
    to match exactly (cuts the dictionary scan with a pushed-down
    startswith) — ``prefix_length >= 1`` is the recommended production
    setting (Lucene deployments commonly run 1-2): with
    ``prefix_length=0`` the expansion, though distributed, one-pass
    and pre-banded on term length, still scans the whole term
    dictionary per query. ``max_expansions`` caps the clause count
    (TooManyClauses analog). Tie-break (score desc, doc_id asc)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    q = query_term.strip().lower()
    if not q:
        return spark.createDataFrame([], "doc_id long, score double")
    n = index.n_docs
    ts = index.term_stats.filter(F.col("field").isin(list(cfg.fields)))
    if prefix_length > 0:
        ts = ts.filter(F.col("term").startswith(q[:prefix_length]))
    # cheap pre-band: |len(term) − len(q)| ≤ max_edits is necessary
    # for the edit distance, evaluates JVM-side before the (costlier)
    # levenshtein, and prunes most of a full-vocabulary scan when
    # prefix_length=0 (Lucene walks a Levenshtein automaton over the
    # terms index; this is the cheap Spark analog of its length gate)
    base = ts.filter(
        F.length(F.col("term")).between(len(q) - max_edits, len(q) + max_edits)
        & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
    )
    _guard_expansion(base, max_expansions, f"fuzzy '{q}'~{max_edits}")
    rows = base.select("term", "field", "df").collect()
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    terms = sorted({r["term"] for r in rows})
    weights = {
        (t, f): (cfg.fields[f][1] * bm25_idf(n, d)) * (cfg.k1 + 1.0)
        for (t, f), d in _df_sums(rows).items()
    }
    avgdl = _avgdl(index)
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(weights, avgdl, cfg, k, exclude_ids=exclude_ids)
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_boosted(
    index: InvertedIndex,
    query: str,
    boost_values: DataFrame,
    k: int = 10,
    boost_mode: str = "sum",
    cfg: IndexConfig | None = None,
    mode: str = "or",
    exclude_ids=None,
    missing: float | None = None,
) -> DataFrame:
    """Solr boost/function queries (edismax ``bf=`` additive /
    ``boost=`` multiplicative): BM25-score the query, then combine
    each doc's relevance with a precomputed per-doc boost value →
    top-k (doc_id, score).

    ``boost_values``: (doc_id, boost) — the materialized function
    query (e.g. ``ln(1 + popularity)``, a recency decay, a pagerank
    column). ``boost_mode="sum"`` adds (Solr bf), ``"multiply"``
    scales (Solr boost=). Docs matching the query but absent from
    ``boost_values`` take ``missing`` (default 0.0 for sum — bf of an
    absent field is 0 — and 1.0 for multiply, the neutral element).

    Plan shape: the scorer runs UNtruncated (k = corpus size — a
    below-top-k doc can rise once boosted, so per-bucket truncation
    before the combine would be inadmissible), then ONE equi-join
    against the boost table (broadcast when small, co-partitioned on
    doc_id otherwise) and a TakeOrderedAndProject. The boost join is
    the only addition over ``search``'s plan."""
    cfg = cfg or index.cfg
    if boost_mode not in ("sum", "multiply"):
        raise ValueError(f"boost_mode must be sum|multiply, got {boost_mode!r}")
    if missing is None:
        missing = 0.0 if boost_mode == "sum" else 1.0
    scored = search(
        index, query, k=index.n_docs, cfg=cfg, mode=mode,
        exclude_ids=exclude_ids,
    )
    b = boost_values.select("doc_id", F.col("boost").cast("double"))
    combined = scored.join(b, on="doc_id", how="left").withColumn(
        "score",
        (
            F.col("score") + F.coalesce(F.col("boost"), F.lit(float(missing)))
            if boost_mode == "sum"
            else F.col("score")
            * F.coalesce(F.col("boost"), F.lit(float(missing)))
        ),
    ).drop("boost")
    return combined.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def suggest_terms(
    index: InvertedIndex,
    text: str,
    k: int = 5,
    max_edits: int = 2,
    prefix_length: int = 1,
    min_df: int = 1,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Solr SpellCheckComponent / DirectSolrSpellChecker analog:
    did-you-mean suggestions for a (possibly misspelled) user term →
    (term, df), the vocabulary terms within ``max_edits`` Levenshtein
    edits of ``text`` (sharing its first ``prefix_length`` chars —
    the DirectSpellChecker default of 1 — and not the input itself),
    ranked by popularity (df desc, term asc) like Solr's
    suggestion ordering. ``df`` sums over the config's fields.

    Runs ENTIRELY on the term-dictionary table: a pushed-down prefix +
    length band + levenshtein filter over vocabulary-sized metadata,
    then a tiny top-k — the corpus is never touched (Lucene walks the
    same terms index with a Levenshtein automaton)."""
    cfg = cfg or index.cfg
    q = text.strip().lower()
    spark = index.postings.sparkSession
    if not q:
        return spark.createDataFrame([], "term string, df long")
    ts = index.term_stats.filter(F.col("field").isin(list(cfg.fields)))
    if prefix_length > 0:
        ts = ts.filter(F.col("term").startswith(q[:prefix_length]))
    cand = ts.filter(
        (F.col("term") != q)
        & F.length(F.col("term")).between(len(q) - max_edits, len(q) + max_edits)
        & (F.levenshtein(F.col("term"), F.lit(q)) <= max_edits)
    )
    return (
        cand.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def terms_enum(
    index: InvertedIndex,
    prefix: str | None = None,
    field: str | None = None,
    limit: int = 10,
    min_df: int = 1,
    sort: str = "count",
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Solr TermsComponent (terms.fl / terms.prefix / terms.limit /
    terms.mincount / terms.sort): enumerate the term dictionary →
    (term, df). ``sort="count"`` is Solr's default (df desc, term asc);
    ``"index"`` is dictionary order. ``df`` sums over the requested
    field(s). Runs ENTIRELY on the term-dictionary table — a pushed-
    down prefix filter + tiny top-k over vocabulary-sized metadata;
    the corpus and the postings are never touched (Lucene's
    TermsEnum.seekCeil walk over the terms index)."""
    cfg = cfg or index.cfg
    fields = [field] if field else list(cfg.fields)
    ts = index.term_stats.filter(F.col("field").isin(fields))
    if prefix:
        ts = ts.filter(F.col("term").startswith(prefix))
    agg = (
        ts.groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    if sort == "index":
        return agg.orderBy(F.asc("term")).limit(limit)
    return agg.orderBy(F.desc("df"), F.asc("term")).limit(limit)


def term_vector(
    index: InvertedIndex,
    documents: DataFrame,
    doc_id: int,
    text_col: str = "text",
    field: str | None = None,
    cfg: IndexConfig | None = None,
) -> DataFrame:
    """Solr TermVectorComponent (tv=true & tv.tf & tv.df): the
    (term, tf, df) vector of ONE document, term-sorted. Lucene
    re-analyzes stored text when term vectors were not indexed — same
    here: one pushed-down point read of the doc's text, analyzed with
    the field's analyzer (+ chain), then df joined from the term
    dictionary. Terms absent from the dictionary (possible only under
    an index/config mismatch) carry df=0 rather than erroring."""
    from golr_loader_spark.functions.tokenize import analyze_with_tf

    cfg = cfg or index.cfg
    field = field or next(iter(cfg.fields))
    spark = index.postings.sparkSession
    row = (
        documents.filter(F.col("doc_id") == doc_id)
        .select(F.col(text_col).alias("_t"))
        .collect()
    )
    schema = "term string, tf int, df long"
    if not row or row[0]["_t"] is None:
        return spark.createDataFrame([], schema)
    tf = analyze_with_tf(row[0]["_t"], cfg.fields[field][0], cfg.chain)
    if not tf:
        return spark.createDataFrame([], schema)
    tdf = spark.createDataFrame(
        [(t, int(n)) for t, n in sorted(tf.items())], "term string, tf int"
    )
    ts = index.term_stats.filter(
        (F.col("field") == field) & F.col("term").isin(sorted(tf))
    ).groupBy("term").agg(F.sum("df").cast("long").alias("df"))
    return (
        tdf.join(F.broadcast(ts), "term", "left")
        .na.fill({"df": 0})
        .orderBy(F.asc("term"))
    )


def more_like_this(
    index: InvertedIndex,
    documents: DataFrame,
    doc_id: int,
    k: int = 10,
    cfg: IndexConfig | None = None,
    max_query_terms: int = 25,
    min_doc_freq: int = 1,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    exclude_self: bool = True,
    exclude_ids=None,
) -> DataFrame:
    """More-Like-This (Solr/Lucene MLT — the 'similar entities' query
    the reference's Solr cores serve): re-analyze the source doc's
    stored text, pick its most interesting terms, run them as a
    disjunctive BM25 query.

    Term selection is Lucene MLT's: score each source term by
    tf(term, source) × idf(term), filter by doc-frequency bounds
    (min_doc_freq / max_doc_freq — the noise / stop-term gates), keep
    the top ``max_query_terms``. Selection ranks by the ROUNDED
    (1e-6) interestingness with term-asc tie-break — the module float
    discipline, so the selection is reproducible across runtimes.

    The source text is ONE point lookup on the documents table
    (predicate-pushdown on ``id_col``); term stats come from the
    in-index term dictionary; the search itself is the normal
    block-max scorer. ``exclude_self`` drops the source doc via the
    same decode-time masking tombstones use."""
    import numpy as np

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    text_col = next(iter(cfg.fields))
    row = (
        documents.filter(F.col(id_col) == doc_id)
        .select(F.col(text_col).alias("_t"))
        .collect()
    )
    if not row:
        return spark.createDataFrame([], "doc_id long, score double")
    from golr_loader_spark.functions.tokenize import analyze_with_tf

    tf = analyze_with_tf(row[0]["_t"], query_analyzer(cfg), cfg.chain)
    if not tf:
        return spark.createDataFrame([], "doc_id long, score double")
    n = index.n_docs
    stats = (
        index.term_stats.filter(
            F.col("term").isin(list(tf)) & F.col("field").isin(list(cfg.fields))
        )
        .select("term", "field", "df")
        .collect()
    )
    # interestingness per TERM: tf in source × idf (df summed over the
    # configured fields, as one Lucene MLT field-aggregated gate)
    df_by_term: dict[str, int] = {}
    for r in stats:
        df_by_term[r["term"]] = df_by_term.get(r["term"], 0) + int(r["df"])
    cand = []
    for t, d in df_by_term.items():
        if d < min_doc_freq or (max_doc_freq is not None and d > max_doc_freq):
            continue
        cand.append((round(tf[t] * bm25_idf(n, d), 6), t))
    cand.sort(key=lambda x: (-x[0], x[1]))
    terms = sorted(t for _s, t in cand[:max_query_terms])
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    tset = set(terms)
    weights = {
        (t, f): (cfg.fields[f][1] * bm25_idf(n, d)) * (cfg.k1 + 1.0)
        for (t, f), d in _df_sums(stats).items()
        if t in tset
    }
    excl = np.asarray(exclude_ids, dtype=np.int64) if exclude_ids is not None else np.empty(0, np.int64)
    if exclude_self:
        excl = np.union1d(excl, np.array([doc_id], dtype=np.int64))
    avgdl = _avgdl(index)
    pcand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(
        weights, avgdl, cfg, k, exclude_ids=excl if len(excl) else None
    )
    per_bucket = pcand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_batch(
    index: InvertedIndex,
    queries: dict[int, str],
    k: int = 10,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    exclude_ids=None,
) -> DataFrame:
    """Top-k for a whole query set in one job → (query_id, rank,
    doc_id, score). SHARED-SCAN plan: postings are filtered to the
    union of all query terms and each block is shuffled ONCE to its
    bucket group; the per-bucket scorer then serves every query from a
    shared decode cache (see _score_bucket_multi_factory — the old
    per-(query, bucket) plan duplicated each hot block once per
    matching query in the shuffle). A per-query window takes the
    global top-k (W3/W4 of SURVEY.md §2.6)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    qan = query_analyzer(cfg)
    qterms = [(qid, t) for qid, q in queries.items() for t in analyze_query(q, qan, cfg.chain)]
    if not qterms:
        return spark.createDataFrame([], "query_id int, rank int, doc_id long, score double")
    all_terms = sorted({t for _, t in qterms})
    idf = _idf_table(index, all_terms)
    weights = {
        (qid, t, f): (cfg.fields[f][1] * i) * (cfg.k1 + 1.0)
        for qid, t in qterms
        for (tt, f), i in idf.items()
        if tt == t and f in cfg.fields
    }
    required = None
    if mode == "and":
        required = {}
        for qid, q in queries.items():
            qt = set(analyze_query(q, qan, cfg.chain))
            present = {t for (qqid, t, _f) in weights if qqid == qid}
            # strict MUST: unmatched term → impossible requirement
            required[qid] = qt if qt <= present else {"\x00_absent_term"}
    avgdl = _avgdl(index)
    cand = index.postings.filter(block_scan(all_terms, cfg.fields))
    fn = _score_bucket_multi_factory(
        weights, avgdl, cfg, k, required_terms=required, exclude_ids=exclude_ids,
    )
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="query_id int, doc_id long, score double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_bucket.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def explain(
    index: InvertedIndex,
    query: str,
    doc_id: int,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
) -> dict:
    """Lucene Explanation / Solr debugQuery=on analog: the per-term
    score breakdown of ``doc_id`` for ``query``.

    Returns {"doc_id", "score", "terms": [{term, field, tf, dl,
    avgdl, idf, weight, contribution}, ...]} with terms in the
    scorer's sorted (field, term) fold order — summing the
    contributions in that order reproduces ``search``'s float for
    the doc BIT-EXACTLY (pytest-pinned), because it is the same
    formula over the same decoded postings in the same order.

    Plan shape: one row-group-pruned scan of the query terms' blocks
    restricted to the doc's OWN bucket (bucket is a function of
    doc_id), decoded and filtered to the doc — a point lookup, not a
    corpus pass."""
    from golr_loader_spark.plans.build_index import block_scan, bucket_of
    from golr_loader_spark.plans.phrase import _flat_postings

    cfg = cfg or index.cfg
    terms = analyze_query(query, query_analyzer(cfg), cfg.chain)
    out: dict = {"doc_id": int(doc_id), "score": 0.0, "terms": []}
    if not terms:
        return out
    idf = _idf_table(index, terms)
    avgdl = _avgdl(index)
    own = F.col("bucket") == bucket_of(
        F.lit(int(doc_id)), cfg.bucket_bits, cfg.id_space_bits
    )
    flat = (
        _flat_postings(
            index.postings.filter(block_scan(terms, cfg.fields) & own), exclude_ids
        )
        .filter(F.col("doc_id") == int(doc_id))
        .collect()
    )
    rows = sorted(flat, key=lambda r: (r["field"], r["term"]))
    total = 0.0
    for r in rows:
        t, f = r["term"], r["field"]
        i = idf.get((t, f))
        if i is None or f not in cfg.fields:
            continue
        wt = (cfg.fields[f][1] * i) * (cfg.k1 + 1.0)
        tf, dl, avg = float(r["tf"]), float(r["dl"]), avgdl[f]
        contrib = wt * tf / (tf + cfg.k1 * ((1.0 - cfg.b) + cfg.b * dl / avg))
        total += contrib
        out["terms"].append(
            {
                "term": t,
                "field": f,
                "tf": int(r["tf"]),
                "dl": int(r["dl"]),
                "avgdl": avg,
                "idf": i,
                "weight": wt,
                "contribution": contrib,
            }
        )
    out["score"] = total
    return out


def _collation_combos(
    cands: list[list[tuple[str, int]]], max_tries: int
) -> list[tuple[str, int]]:
    """Candidate corrections per word → collation try order: cross
    product ranked by (sum of suggestion ranks, collation string) —
    Solr's SpellCheckCollator walks suggestion ranks the same way —
    truncated to ``max_tries``."""
    import itertools

    combos = [
        (" ".join(t for t, _r in combo), sum(r for _t, r in combo))
        for combo in itertools.product(*cands)
    ]
    combos.sort(key=lambda x: (x[1], x[0]))
    return combos[:max_tries]


def _collation_candidates(
    words: list[str],
    present: set[str],
    suggest_fn,
    k_suggestions: int,
) -> list[list[tuple[str, int]]] | None:
    """Per-word candidate lists: a dictionary word keeps itself at
    rank 0; a misspelled word takes its top suggestions at rank 1..k.
    None when some word has no correction at all (Solr: the collation
    fails)."""
    cands: list[list[tuple[str, int]]] = []
    for w in words:
        if w in present:
            cands.append([(w, 0)])
            continue
        sugg = suggest_fn(w)
        if not sugg:
            return None
        cands.append([(t, r + 1) for r, t in enumerate(sugg)])
    return cands


def collate(
    index: InvertedIndex,
    query: str,
    cfg: IndexConfig | None = None,
    max_collations: int = 3,
    max_tries: int = 10,
    k_suggestions: int = 3,
    max_edits: int = 2,
    prefix_length: int = 1,
    exclude_ids=None,
) -> DataFrame:
    """Solr spellcheck.collate: rewrite a multi-word query with
    dictionary corrections and VERIFY each rewrite actually returns
    hits (spellcheck.collateExtendedResults) → (collation, hits),
    first ``max_collations`` hit-producing rewrites in Solr's try
    order (suggestion-rank sum, then string). Words already in the
    dictionary are kept; misspelled words take their top
    ``k_suggestions`` corrections (popularity-ranked, the
    ``suggest_terms`` ordering); verification is a conjunctive
    decode-only match count (the collation must work as q with
    q.op=AND, corpus never scored).

    Driver-side work is Solr's own collation loop: ≤ ``max_tries``
    bounded count jobs over decoded doc_id streams; the dictionary
    membership probe is one vocabulary-metadata filter."""
    from golr_loader_spark.plans.facets import matching_doc_ids

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "collation string, hits long")
    qan = query_analyzer(cfg)
    words = analyze_query(query, qan, cfg.chain)
    if not words:
        return empty
    present = {
        r["term"]
        for r in index.term_stats.filter(
            F.col("term").isin(words) & F.col("field").isin(list(cfg.fields))
        )
        .select("term")
        .distinct()
        .collect()
    }

    def suggest_fn(w: str) -> list[str]:
        return [
            r["term"]
            for r in suggest_terms(
                index, w, k=k_suggestions, max_edits=max_edits,
                prefix_length=prefix_length, cfg=cfg,
            ).collect()
        ]

    cands = _collation_candidates(words, present, suggest_fn, k_suggestions)
    if cands is None:
        return empty
    out = []
    for phrase, _rank in _collation_combos(cands, max_tries):
        hits = matching_doc_ids(
            index, phrase, cfg=cfg, mode="and", exclude_ids=exclude_ids
        ).count()
        if hits:
            out.append((phrase, hits))
        if len(out) == max_collations:
            break
    if not out:
        return empty
    return spark.createDataFrame(out, "collation string, hits long")
