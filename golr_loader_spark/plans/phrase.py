"""Phrase queries over the compressed index (Lucene PhraseQuery
analog — the other core query type of the Solr engine the reference
loads into; golr's search UI issues quoted-phrase queries against the
same cores the loader fills).

Strategy: **match + verify + index-backed scoring** — the standard
shape for engines without positional postings:

1. candidate generation from the index — conjunctive membership
   (``facets.matching_doc_ids`` mode="and"): only docs containing
   every phrase term can contain the phrase, and that set is read by
   decoding doc_id streams only (no tf/dl decode, no scoring);
2. verification against the corpus — a (bucket, doc_id) equi-join of
   the candidates to the documents table plus a substring test on the
   analyzer's token stream. For the ``simple`` analyzer the token
   stream IS ``lower(text)`` split on single spaces, so consecutive
   tokens ⇔ ``' '||lower(text)||' '`` contains ``' t1 t2 … '`` — a
   pure JVM-side ``contains``, bit-identical to its ANSI-SQL twin;
3. scoring from the index — ``decode_postings`` flattens ONLY the
   phrase terms' posting blocks back to (doc_id, tf, dl) rows,
   semi-joined to the verified set, then the exact BM25 fold
   (contributions summed in sorted (field, term) order — the module
   float-determinism discipline) and a distributed
   TakeOrderedAndProject top-k. idf/avgdl are corpus-level stats from
   the index, NOT the candidate subset — same weights as
   ``bm25.search``.

At 100 TB: candidates of a selective phrase are a tiny fraction of
the corpus; every join here is a (bucket, doc_id) equi-join that AQE
broadcasts when the candidate side is small, and the decode touches
only the phrase terms' blocks. No driver-side materialization
anywhere.

Two phrase paths:

* ``phrase_search`` — match + verify against the corpus text
  (simple analyzer only, where the token stream is a literal
  substring of the text). Works on ANY index, positional or not.
* ``phrase_search_positional`` — Lucene-style positional matching
  over an ``IndexConfig(positions=True)`` index: any analyzer,
  sloppy phrases (``slop``), and the corpus text is never read.
  On the simple analyzer with slop=0 its matching semantics coincide
  with the substring test, so it shares the same DuckDB oracle
  family (SQL_Q37 / SQL_Q44).

**Sloppy matching** (``slop > 0``) follows Lucene's
SloppyPhraseScorer semantics: slop is an *edit distance* over
adjusted term positions (position − query offset) — a doc matches
when some assignment of one occurrence per query slot (distinct
document positions for slots sharing a term) spans ≤ ``slop``
adjusted positions. REORDERED terms are admissible: doc ``query
data`` matches ``"data query"~2`` (a transposition costs 2), exactly
as in Solr. Phrase frequency is Lucene's slop factor Σ
1/(1+matchLength) over the pq sweep's matches; for repeated-term
phrases whose greedy sweep (Lucene's own is equally greedy) finds
nothing, an exact pruned search rescues membership — strictly more
faithful to the match condition than Lucene's scorer. Exact phrases
(``slop=0``) use the vectorized chain matcher (Lucene
ExactPhraseScorer analog; each match contributes slop factor 1).
Each factory's matcher core (``score_group.lists``) takes decoded
per-term lists: Spark feeds it one bucket per applyInPandas call,
while ``LocalSearcher.search_phrase`` feeds it every bucket at once
from its cached per-term lists, so both paths agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.codec import decode_doc_ids, varint_decode
from golr_loader_spark.functions.tokenize import analyze_phrase, analyze_query
from golr_loader_spark.plans.bm25 import _idf_table, query_analyzer
from golr_loader_spark.plans.build_index import (
    InvertedIndex,
    block_scan,
    bucket_of,
    norms_dl,
)
from golr_loader_spark.plans.facets import matching_doc_ids


def decode_postings(
    index: InvertedIndex,
    terms: list[str],
    cfg: IndexConfig | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Flatten the given terms' posting blocks back to row form →
    (term, field, bucket, doc_id, tf, dl). Reads only the matching
    blocks (parquet row-group pruning via the term predicate) plus the
    fields' norms lists, grouped by bucket so each group holds the
    norms its postings read dl from; useful for index introspection
    and for scoring an externally-filtered doc set without
    re-tokenizing the corpus. ``exclude_ids`` (either
    bm25._norm_excl shape) masks tombstoned/superseded postings by
    each block's segment — a fast-upserted doc decodes from its newest
    copy only."""
    cfg = cfg or index.cfg
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    return _flat_postings(cand, exclude_ids)


def _flat_postings(cand: DataFrame, exclude_ids) -> DataFrame:
    """``decode_postings`` over the block rows ``cand`` (a
    ``block_scan`` selection: its buckets' norms included)."""
    from golr_loader_spark.plans.bm25 import _decode_lists, _norm_excl

    excl = _norm_excl(exclude_ids)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        # the BM25 decoder's lists, flattened back to rows
        lists = _decode_lists(pdf, excl)
        keys = list(lists)
        n = np.array([len(lists[k][0]) for k in keys], dtype=np.int64)

        def flat(i, dtype):
            if not keys:
                return np.empty(0, dtype=dtype)
            return np.concatenate([lists[k][i] for k in keys]).astype(dtype)

        return pd.DataFrame({
            "term": np.repeat(np.array([t for t, _f in keys], dtype=object), n),
            "field": np.repeat(np.array([f for _t, f in keys], dtype=object), n),
            "bucket": np.full(int(n.sum()), pdf["bucket"].iloc[0], dtype=np.int32),
            "doc_id": flat(0, np.int64),
            "tf": flat(1, np.int32),
            "dl": flat(2, np.int32),
        })

    return cand.groupBy("bucket").applyInPandas(
        run,
        schema="term string, field string, bucket int, doc_id long, tf int, dl int",
    )


def phrase_search(
    index: InvertedIndex,
    documents: DataFrame,
    phrase: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
    exclude_ids=None,
) -> DataFrame:
    """Top-k BM25 over docs containing ``phrase`` as consecutive
    tokens → (doc_id, score). Scores are the conjunctive BM25 of the
    phrase's terms (idf/avgdl from the whole corpus), tie-break
    (score desc, doc_id asc) — identical discipline to ``bm25.search``.

    Requires a single-``simple``-analyzer config: only there is the
    token stream a literal substring of the text (code/path analyzers
    reorder and duplicate subtokens, so consecutive-token semantics
    need positional postings — see ``phrase_search_positional``)."""
    cfg = cfg or index.cfg
    if query_analyzer(cfg) != "simple":
        raise NotImplementedError(
            "phrase_search requires a single-'simple'-analyzer config; "
            "for code/path analyzers build a positional index and use "
            "phrase_search_positional"
        )
    spark = index.postings.sparkSession
    terms = [t for t in phrase.lower().split(" ") if t]
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")

    cand = matching_doc_ids(
        index, phrase, cfg=cfg, mode="and", exclude_ids=exclude_ids
    )
    needle = " " + " ".join(terms) + " "
    text_col = next(iter(cfg.fields))
    verified = (
        documents.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text")
        )
        .withColumn(
            "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
        )
        .join(cand, on=["bucket", "doc_id"], how="left_semi")
        .filter(
            F.concat(F.lit(" "), F.lower(F.col("_text")), F.lit(" ")).contains(needle)
        )
        .select("bucket", "doc_id")
    )

    idf = _idf_table(index, terms)
    weights = [
        (t, f, (cfg.fields[f][1] * i) * (cfg.k1 + 1.0))
        for (t, f), i in idf.items()
        if f in cfg.fields
    ]
    if not weights:
        return spark.createDataFrame([], "doc_id long, score double")
    wdf = spark.createDataFrame(weights, "term string, field string, wt double")
    avgdl = index.avgdl_by_field
    avgdl_map = F.create_map(*[F.lit(x) for kv in avgdl.items() for x in kv])

    flat = decode_postings(index, terms, cfg, exclude_ids=exclude_ids).join(
        verified, on=["bucket", "doc_id"], how="left_semi"
    )
    contrib = (
        flat.join(F.broadcast(wdf), on=["term", "field"])
        .withColumn(
            "contrib",
            F.col("wt")
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(cfg.k1)
                * (
                    F.lit(1.0 - cfg.b)
                    + F.lit(cfg.b) * F.col("dl") / F.element_at(avgdl_map, F.col("field"))
                )
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("field", "term", "contrib"))),
            F.lit(0.0),
            lambda acc, x: acc + x["contrib"],
        ).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _decode_positions(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """One block's concatenated position stream → flat ABSOLUTE
    positions (length Σtf). Posting i's segment has exactly tf_i
    varints (first absolute, rest ascending deltas), so the stream
    needs no length metadata: split at cumsum(tfs), un-delta with a
    segmented cumsum — all vectorized. A tf-0 posting (norms) has an
    empty segment."""
    vals = varint_decode(blob).astype(np.int64)
    if len(vals) == 0:
        return np.empty(0, dtype=np.int64)
    nz = tfs > 0
    starts = (np.cumsum(tfs) - tfs)[nz]
    c = np.cumsum(vals)
    base = np.zeros(len(tfs), dtype=np.int64)
    base[nz] = c[starts] - vals[starts]
    return c - np.repeat(base, tfs)


def phrase_search_positional(
    index: InvertedIndex,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    field: str | None = None,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    scoring: str = "phrase",
) -> DataFrame:
    """Lucene (sloppy) PhraseQuery over a POSITIONAL index
    (``IndexConfig(positions=True)``) — works with ANY analyzer,
    unlike ``phrase_search``'s substring verification (simple-only).

    **Matching**: ``slop=0`` ⇔ exact phrase — a doc matches when an
    increasing chain of indexed occurrences realizes the query's
    (term, position) sequence with every gap exact, found by a greedy
    chain walk fully vectorized across every occurrence in the bucket;
    on the ``simple`` analyzer this coincides with the ``' t1 t2 '``
    substring semantics of ``phrase_search`` / SQL_Q37. ``slop>0`` is
    Lucene's SloppyPhraseScorer edit distance over ADJUSTED positions
    (position − query offset): some assignment of one occurrence per
    slot — distinct document positions for repeated terms — must span
    ≤ ``slop``; reordered terms are admissible (a transposition costs
    2), matching Solr. See the module docstring for the sweep and the
    repeated-term rescue.

    **Scoring**: ``scoring="phrase"`` (default — Lucene PhraseWeight):
    tf = phrase frequency — at slop=0 the number of exact matches, at
    slop>0 Lucene's Σ 1/(1+matchLength) over the sweep's matches —
    idf = Σ idf(term_i) over the query sequence, folded
    through the standard BM25 tf-normalization with the doc's dl and
    the corpus avgdl. ``scoring="terms"``: the per-term BM25 sum over
    the phrase's distinct terms in sorted term order — on a
    single-field config this is float-for-float what ``phrase_search``
    computes, so the two paths return IDENTICAL rows on the simple
    analyzer with slop=0 (shared DuckDB oracle). Tie-break
    (score desc, doc_id asc) either way, as in ``bm25.search``.

    Note on query whitespace: ``phrase_search`` collapses runs of
    spaces in the QUERY (its needle joins the nonempty tokens), while
    the positional analyzer keeps the exact position gaps; use
    single-spaced phrases when comparing the two paths.

    **Plan shape**: one scan of the phrase terms' posting blocks
    (parquet row-group pruning on the term predicate), one
    groupBy(bucket) — the same single-exchange shape as
    ``bm25.search``; candidates never leave their bucket and the
    corpus text is never read. The chain walk is O(occurrences ×
    phrase length) searchsorted passes, all numpy."""
    from golr_loader_spark.plans.bm25 import _norm_excl

    cfg = cfg or index.cfg
    if "poss" not in index.postings.columns:
        raise ValueError(
            "phrase_search_positional needs a positional index — build "
            "with IndexConfig(positions=True)"
        )
    field = field or next(iter(cfg.fields))
    analyzer = cfg.fields[field][0]
    seq = analyze_phrase(phrase, analyzer, cfg.min_term_len, cfg.chain)
    spark = index.postings.sparkSession
    if not seq:
        return spark.createDataFrame([], "doc_id long, score double")
    uterms = sorted({t for t, _p in seq})
    idf = _idf_table(index, uterms)
    score_group = _phrase_bucket_factory(
        seq, idf, field, index.avgdl_by_field[field], cfg, k, slop, scoring,
        _norm_excl(exclude_ids),
    )
    if score_group is None:
        return spark.createDataFrame([], "doc_id long, score double")

    cand = index.postings.filter(block_scan(uterms, [field]))
    per_bucket = cand.groupBy("bucket").applyInPandas(
        score_group, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _decode_positional_lists(cols, excl, norms=None) -> dict[str, tuple]:
    """Decode positional posting blocks → {term: (doc_ids, tfs, dls,
    flat_positions)} with tombstone/segment masking applied (``excl``
    is bm25._norm_excl-normalized). ``cols`` is a DataFrame (an
    applyInPandas bucket group) or a dict of numpy arrays (the serving
    read, any number of buckets).

    One np.unique and one lexsort on (term, bucket, segment, block_id)
    put every term's blocks in one contiguous run in a deterministic
    order; then the whole table decodes in four varint calls (the
    streams are self-delimiting, so concatenated buffers decode in one
    pass; per-block doc_id bases are re-applied with a segmented
    cumsum, and the position stream splits at cumsum(tfs) since each
    block holds exactly Σtf varints). dl comes from the norms list, as
    in ``bm25._decode_lists``."""
    from golr_loader_spark.plans.bm25 import _live_of, _split_norms

    if not isinstance(cols, dict):
        cols = {c: cols[c].to_numpy() for c in cols.columns}
    cols, norms = _split_norms(cols, norms)
    zeros = np.zeros(len(cols["term"]), dtype=np.int64)
    seg = cols["segment"].astype(np.int64) if "segment" in cols else zeros
    bucket = cols["bucket"].astype(np.int64) if "bucket" in cols else zeros
    t_uniq, t_codes = np.unique(cols["term"], return_inverse=True)
    order = np.lexsort((cols["block_id"].astype(np.int64), seg, bucket, t_codes))
    n_pb = cols["n"].astype(np.int64)[order]
    firsts = cols["doc_id_first"].astype(np.int64)[order]
    ids = decode_doc_ids(n_pb, firsts, b"".join(cols["doc_ids"][order]))
    tfs = varint_decode(b"".join(cols["tfs"][order])).astype(np.int64)
    dls = norms_dl(norms, cols["field"][order], seg[order], n_pb, ids)
    pos = _decode_positions(b"".join(cols["poss"][order]), tfs)
    tid = np.repeat(t_codes[order], n_pb)
    if excl is not None:
        keep = _live_of(ids, np.repeat(seg[order], n_pb), excl)
        if not keep.all():
            pos = pos[np.repeat(keep, tfs)]
            ids, tfs, dls, tid = ids[keep], tfs[keep], dls[keep], tid[keep]
    # per-term posting and position ranges (tid is sorted)
    cut = np.searchsorted(tid, np.arange(len(t_uniq) + 1))
    pcut = np.concatenate(([0], np.cumsum(tfs)))[cut]
    return {
        t_uniq[i]: (
            ids[cut[i]:cut[i + 1]], tfs[cut[i]:cut[i + 1]],
            dls[cut[i]:cut[i + 1]], pos[pcut[i]:pcut[i + 1]],
        )
        for i in range(len(t_uniq))
        if cut[i + 1] > cut[i]
    }


def _lucene_sloppy_freq(
    arrs: list, offs: list[int], terms: list[str], slop: int
) -> float:
    """One doc's sloppy phrase frequency — Lucene's
    SloppyPhraseScorer.phraseFreq() structure. ``arrs[i]`` is slot i's
    sorted ADJUSTED positions (doc position − query offset), ``offs``
    the query offsets (for the repeat-collision check on actual
    positions), ``terms`` the slot terms.

    A match is a choice of one occurrence per slot whose adjusted
    positions span ≤ ``slop`` (this is what admits REORDERED terms: a
    transposition costs 2); the sweep advances the minimal phrase
    position through a priority queue, scoring 1/(1+matchLength) per
    match exactly like Lucene's slop factor. Slots sharing a term must
    occupy DISTINCT document positions (Lucene's repeats discipline)."""
    import heapq

    n = len(arrs)
    if n == 1:
        return float(len(arrs[0]))
    idx = [0] * n
    pos = [0] * n
    taken: dict[str, set] = {}
    for i in range(n):
        a = arrs[i]
        held = taken.setdefault(terms[i], set())
        j = 0
        while j < len(a) and (a[j] + offs[i]) in held:
            j += 1
        if j >= len(a):
            return 0.0
        idx[i], pos[i] = j, int(a[j])
        held.add(int(a[j]) + offs[i])
    end = max(pos)
    heap = [(pos[i], i) for i in range(n)]
    heapq.heapify(heap)
    p0, pp = heapq.heappop(heap)
    match_len = end - p0
    nxt = heap[0][0]
    freq = 0.0
    while True:
        a = arrs[pp]
        held = taken[terms[pp]]
        held.discard(pos[pp] + offs[pp])
        j = idx[pp] + 1
        while j < len(a) and (a[j] + offs[pp]) in held:
            j += 1
        if j >= len(a):
            break
        idx[pp], pos[pp] = j, int(a[j])
        held.add(pos[pp] + offs[pp])
        if pos[pp] > end:
            end = pos[pp]
        if pos[pp] > nxt:
            # done minimizing the current leader's match length
            if match_len <= slop:
                freq += 1.0 / (1.0 + match_len)
            heapq.heappush(heap, (pos[pp], pp))
            _p, pp = heapq.heappop(heap)
            nxt = heap[0][0]
            match_len = end - pos[pp]
        else:
            ml2 = end - pos[pp]
            if ml2 < match_len:
                match_len = ml2
    if match_len <= slop:
        freq += 1.0 / (1.0 + match_len)
    if freq == 0.0 and len(set(terms)) < n:
        # Repeated-term phrases: the greedy sweep (like Lucene's own
        # non-backtracking SloppyPhraseScorer) can miss assignments
        # where a repeat must "leapfrog" a position another slot
        # holds. Rescue membership with an exact pruned search for the
        # minimal adjusted span — strictly MORE faithful to the match
        # condition than Lucene's scorer, scored as one best match.
        span = _min_span_with_repeats(arrs, offs, terms, slop)
        if span is not None:
            return 1.0 / (1.0 + span)
    return freq


def _min_span_with_repeats(
    arrs: list, offs: list[int], terms: list[str], slop: int
):
    """Exact minimal adjusted-position span over assignments of one
    occurrence per slot (distinct actual positions for same-term
    slots), or None if no assignment spans ≤ slop. DFS ordered by
    fewest-occurrences-first, pruned the moment a partial span exceeds
    ``slop`` — per-doc occurrence lists are tiny, and this only runs
    when the greedy sweep of a repeated-term phrase found nothing."""
    n = len(arrs)
    order = sorted(range(n), key=lambda i: len(arrs[i]))
    best = None
    used: dict[str, set] = {}

    def dfs(d: int, lo: int, hi: int) -> None:
        nonlocal best
        if best == 0:
            return
        if d == n:
            span = hi - lo
            if best is None or span < best:
                best = span
            return
        i = order[d]
        t, o = terms[i], offs[i]
        held = used.setdefault(t, set())
        for a in arrs[i]:
            a = int(a)
            act = a + o
            if act in held:
                continue
            nlo = a if d == 0 else min(lo, a)
            nhi = a if d == 0 else max(hi, a)
            if nhi - nlo > slop:
                continue
            held.add(act)
            dfs(d + 1, nlo, nhi)
            held.discard(act)

    dfs(0, 0, 0)
    return best


def _sloppy_freqs(
    comp: dict[str, np.ndarray],
    seq: list[tuple[str, int]],
    n_cand: int,
    P: int,
    slop: int,
) -> np.ndarray:
    """Per-candidate-doc Lucene sloppy phrase frequencies. ``comp[t]``
    is term t's sorted composite (dense doc index × P + position)
    occurrence array. Doc slicing is one vectorized searchsorted per
    term; the per-doc sweep is bounded by the doc's own phrase-term
    occurrences (candidates already contain every term, so selective
    phrases visit few docs). Only the ``slop>0`` path pays this —
    exact phrases keep the fully-vectorized chain."""
    uts = list(dict.fromkeys(t for t, _p in seq))
    base = np.arange(n_cand, dtype=np.int64) * P
    bounds = {
        t: (np.searchsorted(comp[t], base), np.searchsorted(comp[t], base + P))
        for t in uts
    }
    offs = [p for _t, p in seq]
    terms = [t for t, _p in seq]
    out = np.zeros(n_cand, dtype=np.float64)
    for j in range(n_cand):
        per_t = {}
        for t in uts:
            lo, hi = bounds[t][0][j], bounds[t][1][j]
            if hi <= lo:
                break
            per_t[t] = comp[t][lo:hi] - np.int64(j) * P
        else:
            arrs = [per_t[t] - o for t, o in zip(terms, offs)]
            out[j] = _lucene_sloppy_freq(arrs, offs, terms, slop)
    return out


# ---- matcher building blocks shared by the phrase and span-near cores.
# A core takes {term: (doc_ids, tfs, dls, positions)} — one bucket's
# lists (applyInPandas) or every bucket's at once (serving): matching
# and scoring are per doc and a doc's postings never leave its bucket,
# so both give the same rows.

_EMPTY = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))


def _candidates(per_term: dict, terms) -> np.ndarray:
    """Sorted ids of the docs holding every one of ``terms`` (empty
    when a term has no live posting)."""
    cand = None
    for t in terms:
        if t not in per_term:
            return _EMPTY[0]
        u = np.unique(per_term[t][0])
        cand = u if cand is None else np.intersect1d(cand, u, assume_unique=True)
    return cand


def _composite_keys(per_term: dict, terms, cand: np.ndarray):
    """→ ({term: sorted (dense candidate index × P + position) keys},
    P). Dense indices keep the keys inside int64 even for xxhash
    doc_ids; P exceeds every position, so key // P is the doc."""
    P = 2
    for t in terms:
        pos_t = per_term[t][3]
        if len(pos_t):
            P = max(P, int(pos_t.max()) + 2)
    comp: dict[str, np.ndarray] = {}
    for t in terms:
        # look each POSTING up once, then expand to its occurrences
        ids_t, tfs_t, _dls_t, pos_t = per_term[t]
        di = np.minimum(np.searchsorted(cand, ids_t), len(cand) - 1)
        ok = np.repeat(cand[di] == ids_t, tfs_t)
        keys = np.repeat(di.astype(np.int64) * P, tfs_t)[ok] + pos_t[ok]
        comp[t] = np.sort(keys, kind="stable")
    return comp, P


def _tf_dl_at(lst: tuple, cand: np.ndarray):
    """(tf, dl) of each candidate doc in one term's list, as float64."""
    ids, tfs, dls, _pos = lst
    o = np.argsort(ids, kind="stable")
    sel = np.searchsorted(ids[o], cand)
    return tfs[o][sel].astype(np.float64), dls[o][sel].astype(np.float64)


def _bm25(w: float, tf, dl, k1: float, b: float, avgdl: float):
    return w * tf / (tf + k1 * ((1.0 - b) + b * dl / avgdl))


def _match_counts(keys: np.ndarray, P: int, n_cand: int) -> np.ndarray:
    """Matches per candidate doc from the matched occurrence keys."""
    return np.bincount(
        (keys // P).astype(np.int64), minlength=n_cand
    ).astype(np.float64)


def _pandas_face(lists, excl, decode=_decode_positional_lists):
    """The applyInPandas face of a matcher core: decode the bucket
    group (positional lists, or ``bm25._decode_lists`` for the dismax
    core), match, frame the rows. ``.lists`` is the pandas-free core
    (the serving entry), so Spark and serving share one matcher."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, sc = lists(decode(pdf, excl))
        return pd.DataFrame({"doc_id": docs, "score": sc})

    score_group.lists = lists
    return score_group


def _phrase_bucket_factory(
    seq: list[tuple[str, int]],
    idf: dict[tuple[str, str], float],
    field: str,
    avgdl: float,
    cfg: IndexConfig,
    k: int,
    slop: int,
    scoring: str,
    excl,
):
    """The positional phrase matcher + scorer shared by the
    distributed path and ``serve.LocalSearcher.search_phrase``:
    ``score_group(pdf)`` for applyInPandas and ``score_group.lists``
    for decoded lists (see ``_pandas_face``), so the two paths are
    bit-identical by construction. ``excl`` is already
    ``bm25._norm_excl``-normalized. Returns None when no phrase term
    carries idf weight (guaranteed-empty result)."""
    from golr_loader_spark.plans.bm25 import _topk_by_score

    terms_seq = [t for t, _p in seq]
    terms_u = list(dict.fromkeys(terms_seq))
    qpos = [p for _t, p in seq]
    sum_idf = sum(idf.get((t, field), 0.0) for t in terms_seq)
    if sum_idf <= 0.0:
        return None
    wt = cfg.fields[field][1] * sum_idf * (cfg.k1 + 1.0)
    k1, b = cfg.k1, cfg.b
    q_span = qpos[-1] - qpos[0]
    t0 = terms_seq[0]

    def lists(per_term: dict) -> tuple[np.ndarray, np.ndarray]:
        cand_ids = _candidates(per_term, terms_u)
        if not len(cand_ids):
            return _EMPTY
        comp, P = _composite_keys(per_term, terms_u, cand_ids)
        if slop > 0:
            # Lucene SloppyPhraseScorer semantics: adjusted-position
            # windows ≤ slop (REORDERED terms admissible — a
            # transposition costs 2), freq = Σ 1/(1+matchLength) over
            # the pq sweep's matches, repeats occupy distinct
            # positions. Per-doc sweep; only sloppy queries pay it.
            freq = _sloppy_freqs(comp, seq, len(cand_ids), P, slop)
        else:
            # exact phrase: greedy minimal chain, vectorized over ALL
            # first-term occurrences at once (each exact match
            # contributes 1 — identical to Lucene's matchLength=0
            # slop factor)
            start = comp[t0]
            cur = start.copy()
            valid = np.ones(len(cur), dtype=bool)
            for (t_prev, p_prev), (t_i, p_i) in zip(seq[:-1], seq[1:]):
                gap = p_i - p_prev
                arr = comp[t_i]
                idx = np.searchsorted(arr, cur + gap, side="left")
                ok = idx < len(arr)
                nxt = arr[np.minimum(idx, len(arr) - 1)]
                ok &= (nxt // P) == (cur // P)  # stayed inside the doc
                valid &= ok
                cur = np.where(ok, nxt, cur)
            match = valid & ((cur - start) - q_span <= slop)
            freq = _match_counts(start[match], P, len(cand_ids))
        hit = freq > 0
        if not hit.any():
            return _EMPTY
        if scoring == "terms":
            # per-term BM25 sum in sorted term order — float-for-float
            # the fold phrase_search runs (single-field configs)
            score = np.zeros(len(cand_ids), dtype=np.float64)
            for t in sorted(terms_u):
                w_t = cfg.fields[field][1] * idf.get((t, field), 0.0) * (k1 + 1.0)
                tf_t, dl_t = _tf_dl_at(per_term[t], cand_ids)
                score += _bm25(w_t, tf_t, dl_t, k1, b, avgdl)
        else:
            # Lucene PhraseWeight: tf = phrase frequency
            score = _bm25(wt, freq, _tf_dl_at(per_term[t0], cand_ids)[1], k1, b, avgdl)
        return _topk_by_score(cand_ids[hit], score[hit], k)

    return _pandas_face(lists, excl)


def _span_bucket_factory(
    uterms: list[str],
    window: int,
    idf: dict[tuple[str, str], float],
    field: str,
    avgdl: float,
    cfg: IndexConfig,
    k: int,
    excl,
):
    """UNORDERED span-near matcher (Lucene SpanNearQuery,
    inOrder=false): a doc matches when some width-``window`` position
    window contains at least one occurrence of every term. Same two
    faces as ``_phrase_bucket_factory``.

    Exact and fully vectorized: every minimal covering window contains
    an occurrence of the anchor term (``uterms[0]``, the sorted-first
    term — fixed so the SQL oracle can replicate the count); for each
    anchor occurrence, each other term's optimal pick is one of its
    two occurrences bracketing the anchor (anything farther only
    widens the window), so the minimal span is the min over
    2^(m-1) pred/succ combinations — enumerated as numpy array ops
    over ALL anchors at once (m = distinct terms, tiny).

    tf = number of anchor occurrences whose minimal covering span ≤
    window − 1; score = BM25 with idf = Σ idf(term) over the distinct
    terms — same fold/tie-break discipline as the phrase scorer.
    Returns None when no term carries idf weight."""
    from golr_loader_spark.plans.bm25 import _topk_by_score

    sum_idf = sum(idf.get((t, field), 0.0) for t in uterms)
    if sum_idf <= 0.0:
        return None
    wt = cfg.fields[field][1] * sum_idf * (cfg.k1 + 1.0)
    k1, b = cfg.k1, cfg.b
    anchor = uterms[0]
    others = uterms[1:]

    def lists(per_term: dict) -> tuple[np.ndarray, np.ndarray]:
        cand_ids = _candidates(per_term, uterms)
        if not len(cand_ids):
            return _EMPTY
        comp, P = _composite_keys(per_term, uterms, cand_ids)
        A = comp[anchor]
        n = len(A)
        doc_of = A // P
        # bracketing occurrences of each other term around each anchor
        preds, succs, pred_ok, succ_ok = [], [], [], []
        for t in others:
            C = comp[t]
            idx = np.searchsorted(C, A, side="left")
            s_ok = idx < len(C)
            s = C[np.minimum(idx, len(C) - 1)]
            s_ok &= (s // P) == doc_of
            p_ok = idx > 0
            pv = C[np.maximum(idx - 1, 0)]
            p_ok &= (pv // P) == doc_of
            preds.append(pv)
            succs.append(s)
            pred_ok.append(p_ok)
            succ_ok.append(s_ok)

        best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        m1 = len(others)
        for mask in range(1 << m1):
            lo = A.copy()
            hi = A.copy()
            ok = np.ones(n, dtype=bool)
            for i in range(m1):
                take_pred = (mask >> i) & 1
                v = preds[i] if take_pred else succs[i]
                vok = pred_ok[i] if take_pred else succ_ok[i]
                ok &= vok
                lo = np.minimum(lo, v)
                hi = np.maximum(hi, v)
            span = hi - lo
            best = np.where(ok & (span < best), span, best)
        freq = _match_counts(A[best <= window - 1], P, len(cand_ids))
        hit = freq > 0
        if not hit.any():
            return _EMPTY
        score = _bm25(wt, freq, _tf_dl_at(per_term[anchor], cand_ids)[1], k1, b, avgdl)
        return _topk_by_score(cand_ids[hit], score[hit], k)

    return _pandas_face(lists, excl)


def span_near_search(
    index: InvertedIndex,
    terms: list[str],
    window: int,
    k: int = 10,
    field: str | None = None,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Unordered span-near over a POSITIONAL index: top-k docs where
    some width-``window`` token window contains every term in
    ``terms`` (each analyzed to its indexed form; duplicates
    deduplicated — unordered set semantics). The ORDERED variant is
    ``phrase_search_positional(..., slop=...)``. Same plan shape as
    the positional phrase path: one pruned scan of the terms' blocks,
    one groupBy(bucket), no corpus read."""
    from golr_loader_spark.plans.bm25 import _norm_excl

    cfg = cfg or index.cfg
    if "poss" not in index.postings.columns:
        raise ValueError(
            "span_near_search needs a positional index — build with "
            "IndexConfig(positions=True)"
        )
    field = field or next(iter(cfg.fields))
    analyzer = cfg.fields[field][0]
    uterms = sorted(
        {t for raw in terms for t, _p in analyze_phrase(raw, analyzer, cfg.min_term_len, cfg.chain)}
    )
    spark = index.postings.sparkSession
    if not uterms:
        return spark.createDataFrame([], "doc_id long, score double")
    idf = _idf_table(index, uterms)
    score_group = _span_bucket_factory(
        uterms, window, idf, field, index.avgdl_by_field[field], cfg, k,
        _norm_excl(exclude_ids),
    )
    if score_group is None:
        return spark.createDataFrame([], "doc_id long, score double")
    cand = index.postings.filter(block_scan(uterms, [field]))
    per_bucket = cand.groupBy("bucket").applyInPandas(
        score_group, schema="doc_id long, score double"
    )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
