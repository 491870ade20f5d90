"""Low-latency serving path over a persisted index.

The distributed ``plans.bm25.search`` is the right tool for query
SETS (one Spark job amortized over many queries), but a single
interactive query pays ~1 s of job scheduling. ``LocalSearcher``
serves the SAME persisted postings without launching Spark jobs at
all: the postings files are range-partitioned and sorted by term
(plans.build_index.write_index / plans.manifest), so a query reads
exactly the row groups whose footer term bounds cover its terms
(``_RowGroupIndex``, two bisections per file, opened once; a pyarrow
dataset scan with a term predicate is the fallback for files without
usable bounds), decodes each term's lists once into a cache, then runs
the exact same numpy scoring kernel as the distributed path. Results
are identical by construction (same blocks, same weights, same float
order).

This is the Solr-server analog of the reference's stack
(GolrLoader.java:498-515 POSTs to a serving instance; here the
"server" is a thin reader over the engine's own tables).
"""

from __future__ import annotations

import glob
import math
from bisect import bisect_left, bisect_right

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.bm25 import (
    _decode_lists,
    _must_groups,
    _norm_excl,
    _score_lists,
    bm25_idf,
    check_expansion,
    query_analyzer,
)
from golr_loader_spark.plans.build_index import (
    NORMS_TERM,
    check_block_format,
    decode_norms,
)


def _lev_le(a: str, b: str, m: int) -> bool:
    """Banded Levenshtein ≤ m with early exit — the automata-free
    analog of Lucene's LevenshteinAutomata terms-index walk."""
    if abs(len(a) - len(b)) > m:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > m:
            return False
        prev = cur
    return prev[-1] <= m


def _wildcard_terms(vocab, pattern: str) -> list[str]:
    """Vocabulary terms matching a Lucene wildcard pattern: the
    anchored regex from ``bm25.wildcard_regex`` with the literal
    prefix short-circuiting most non-matches before the regex runs."""
    import re as _re

    from golr_loader_spark.plans.bm25 import (
        wildcard_literal_prefix,
        wildcard_regex,
    )

    rx = _re.compile(wildcard_regex(pattern))
    pref = wildcard_literal_prefix(pattern)
    return [t for t in vocab if t.startswith(pref) and rx.match(t)]


class _RowGroupIndex:
    """One-time footer scan over a term-sorted parquet directory: keeps
    memory-mapped ``ParquetFile`` handles open and each file's
    [(term_min, term_max) → row group] bounds, so a query reads exactly
    the row groups whose stats cover its terms — no per-query dataset /
    fragment / expression machinery, and repeat reads come from the OS
    page cache. This is the Lucene-style "open once, seek per query"
    serving discipline; the distributed path keeps using Catalyst
    PushedFilters over the same files."""

    def __init__(self, path: str):
        self.files: list[pq.ParquetFile] = []
        # per file: (row groups, their term mins, their term maxes)
        self._bounds: list[tuple[list[int], list[str], list[str]]] = []
        # all row groups carry usable term stats, and each file's bounds
        # ascend (true of every file build_index._write_postings writes)
        self.complete = True
        for fp in sorted(glob.glob(f"{path}/*.parquet")):
            pf = pq.ParquetFile(fp, memory_map=True)
            md = pf.metadata
            term_col = next(
                i for i in range(md.num_columns)
                if md.schema.column(i).name == "term"
            )
            self.files.append(pf)
            rgs, lo, hi = [], [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(term_col).statistics
                if st is None or not st.has_min_max:
                    self.complete = False
                    continue
                rgs.append(rg)
                lo.append(st.min)
                hi.append(st.max)
            if lo != sorted(lo) or hi != sorted(hi):
                self.complete = False
            self._bounds.append((rgs, lo, hi))

    def select(self, terms: list[str]) -> dict[int, list[int]]:
        """{file index: ascending row groups} whose [min, max] holds any
        of ``terms``. In a file whose bounds ascend, the groups holding
        term t run from the first with max ≥ t to the last with
        min ≤ t, so two bisections find them."""
        hits: dict[int, list[int]] = {}
        for fi, (rgs, lo, hi) in enumerate(self._bounds):
            sel = {
                i for t in terms
                for i in range(bisect_left(hi, t), bisect_right(lo, t))
            }
            if sel:
                hits[fi] = [rgs[i] for i in sorted(sel)]
        return hits

    def read(
        self, terms: list[str], columns: list[str] | None = None
    ) -> pa.Table | None:
        """All row groups whose [min,max] may contain any query term,
        read grouped per file. None ⇒ stats were unusable or a file is
        not term-sorted: fall back.
        ``columns`` prunes the read (e.g. BM25 scoring never needs the
        positional ``poss`` blobs or ``tf_sum``)."""
        if not self.complete:
            return None
        if columns is not None:
            avail = set(self.files[0].schema_arrow.names) if self.files else set()
            columns = [c for c in columns if c in avail]
        hits = self.select(terms)
        if not hits:
            if not self.files:
                return None
            empty = self.files[0].schema_arrow.empty_table()
            return empty.select(columns) if columns is not None else empty
        parts = [
            self.files[fi].read_row_groups(rgs, columns=columns)
            for fi, rgs in hits.items()
        ]
        # files differ in the segment column's nullability (a fast
        # upsert writes it NOT NULL)
        return pa.concat_tables(parts, promote_options="default")


class _TermDict:
    """The preloaded term dictionary (the analog of Lucene's in-memory
    terms index) over a term_stats table's (term, field, df) rows. Fast
    upserts append one row per SEGMENT per (term, field), so df is
    summed per (term, field), in Arrow. ``vocab`` lists the distinct
    terms, sorted, and ``by_field`` maps each field to a {term: df}
    dict."""

    def __init__(self, tbl: pa.Table):
        g = tbl.group_by(["term", "field"]).aggregate([("df", "sum")])
        terms = g["term"].to_numpy(zero_copy_only=False)
        fields, fcode = np.unique(
            g["field"].to_numpy(zero_copy_only=False), return_inverse=True
        )
        dfs = g["df_sum"].to_numpy()
        self.vocab: list[str] = np.unique(terms).tolist()
        self.fields: list[str] = fields.tolist()
        self.by_field = {
            f: dict(zip(terms[fcode == j].tolist(), dfs[fcode == j].tolist()))
            for j, f in enumerate(self.fields)
        }

    def rows(self, terms: list[str]) -> list[dict]:
        by_field = self.by_field
        return [
            {"term": t, "field": f, "df": by_field[f][t]}
            for t in terms
            for f in self.fields
            if t in by_field[f]
        ]


def _join_scores(
    acc: dict[int, float], part: dict[int, float], how: str
) -> dict[int, float]:
    """One relational step of a Lucene plan over {doc_id: score} dicts
    — the dict face of the Spark joins in ``lucene._run``: ``part``
    becomes the result, is subtracted, or is joined (inner, left/right
    or full outer) with the scores added, a missing side counting 0."""
    from golr_loader_spark.plans.lucene import ANTI, BASE

    if how == BASE:
        return dict(part)
    if how == ANTI:
        return {d: s for d, s in acc.items() if d not in part}
    if how == "inner":
        keys = [d for d in acc if d in part]
    elif how == "left_outer":
        keys = acc
    elif how == "right_outer":
        keys = part
    else:
        keys = {**acc, **part}
    return {d: acc.get(d, 0.0) + part.get(d, 0.0) for d in keys}


def _load_config(root: str) -> IndexConfig | None:
    """Restore the IndexConfig persisted by write_index /
    build_index_checkpointed at ``{root}/config.json``; None when the
    root predates config persistence."""
    import json
    import os

    p = f"{root}/config.json"
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return IndexConfig.from_dict(json.load(fh))


def _numpy_cols(tbl: pa.Table) -> dict:
    return {c: tbl[c].to_numpy(zero_copy_only=False) for c in tbl.column_names}


class LocalSearcher:
    """Driver-/service-side BM25 top-k over a persisted index root
    (written by write_index or build_index_checkpointed)."""

    def __init__(
        self, root: str, cfg: IndexConfig | None = None, preload_term_stats: bool = True
    ):
        # originals, for refresh(): cfg BEFORE default resolution so a
        # reopen re-reads config.json exactly like a fresh open would
        self._init_args = (root, cfg, preload_term_stats)
        conf = check_block_format(root)
        # the index root persists its own IndexConfig (Solr ships
        # schema.xml inside the core for the same reason): queries MUST
        # be analyzed with the index-time analyzer chain — a
        # builder/searcher stopword-stemmer-synonym mismatch silently
        # changes results. Explicit cfg still wins.
        self.cfg = cfg or IndexConfig.from_dict(conf)
        self._root = root
        self._facet_arrays = None
        # the live universe (_all_doc_ids_local), memoized per open
        self._all_ids_cache: set[int] | None = None
        # decoded-postings LRU (bm25.DecodedListCache): valid for this
        # searcher lifetime — refresh() re-runs __init__ and replaces
        # it along with the datasets and the tombstone mask
        from golr_loader_spark.plans.bm25 import DecodedListCache

        self._list_cache = DecodedListCache()
        # raw-block LRU keyed by (term, positions) (a term's block rows
        # as numpy arrays): repeated query terms skip the parquet
        # row-group read entirely — the terms-dictionary analog one
        # level below DecodedListCache. Rebuilt by refresh().
        self._term_blocks = DecodedListCache(max_entries=4096)
        self.postings = pads.dataset(f"{root}/postings", format="parquet")
        self._rgix = _RowGroupIndex(f"{root}/postings")
        # each field's norms list (every doc's dl), decoded once per
        # open: every list decode and explain reads dl from it
        self._norms = decode_norms(
            _numpy_cols(self._read_rows([NORMS_TERM], self._NORMS_COLS))
        )
        self.term_stats = pads.dataset(f"{root}/term_stats", format="parquet")
        # tombstones (plans.maintenance.delete_docs): Lucene liveDocs —
        # deleted docs are masked out of every result until compaction.
        # (ids, dead_below) pair — the scorers' per-segment liveDocs
        # shape, duplicates already resolved to their max dead_below
        from golr_loader_spark.plans.tombstones import read_tombstones

        t_ids, t_db = read_tombstones(root)
        self.tombstones = (t_ids, t_db) if len(t_ids) else None
        stats = pq.read_table(f"{root}/stats").to_pylist()
        self.avgdl = {r["field"]: float(r["avgdl"]) for r in stats}
        self.n_docs = max(int(r["n_docs"]) for r in stats) if stats else 0
        # term_stats is vocabulary-sized metadata — preload it so each
        # query pays ONE pruned parquet read (the postings), not two.
        # Disable for truly huge vocabularies. df sums across segments
        # (Lucene's stale-df contract until compaction).
        self._ts: _TermDict | None = None
        if preload_term_stats:
            self._ts = _TermDict(
                self.term_stats.to_table(columns=["term", "field", "df"])
            )

    def refresh(self) -> "LocalSearcher":
        """Re-open against the CURRENT on-disk state — Lucene's
        DirectoryReader.openIfChanged / a Solr searcher reopen: picks
        up appended segments (``upsert_docs_fast``), new tombstones
        (``delete_docs``), post-compaction rewrites, and refreshed
        stats, in place (datasets, row-group index, term dictionary,
        liveDocs, and facet arrays are all rebuilt). Call between
        queries on a long-lived serving process after the index root
        changes; a no-op reopen is cheap (metadata-sized reads)."""
        self.__init__(*self._init_args)
        return self

    def _term_rows(self, terms: list[str]) -> list[dict]:
        if self._ts is not None:
            return self._ts.rows(terms)
        rows = self.term_stats.to_table(
            filter=pc.field("term").isin(terms),
            columns=["term", "field", "df"],
        ).to_pylist()
        agg: dict[tuple[str, str], int] = {}
        for r in rows:
            key = (r["term"], r["field"])
            agg[key] = agg.get(key, 0) + int(r["df"])
        return [{"term": t, "field": f, "df": d} for (t, f), d in agg.items()]

    def _df_by_term(self, terms: list[str], fields) -> dict[str, int]:
        """{term: df summed over ``fields``} for those of ``terms``
        indexed in any of ``fields``."""
        dfs: dict[str, int] = {}
        for r in self._term_rows(terms):
            if r["field"] in fields:
                dfs[r["term"]] = dfs.get(r["term"], 0) + int(r["df"])
        return dfs

    # the block columns serving reads: BM25 scoring's, plus the
    # positional ``poss`` blobs only the phrase and span matchers decode
    # (absent on non-positional roots; most of a positional table's
    # bytes) — never ``tf_sum`` (pruned at the parquet read, guide §6:
    # ReadSchema should list only what is used)
    _BM25_COLS = [
        "term", "field", "bucket", "block_id", "n", "doc_id_first",
        "doc_ids", "tfs", "dls", "max_tf", "min_dl", "segment",
    ]
    _SCORE_COLS = _BM25_COLS + ["poss"]

    # the columns ``build_index.decode_norms`` reads
    _NORMS_COLS = [
        "term", "field", "n", "doc_id_first", "doc_ids", "dls", "segment",
    ]

    def _read_rows(self, terms: list[str], columns: list[str]) -> pa.Table:
        """The block rows of ``terms`` in the cfg fields (``columns`` of
        them), from one row-group read (a dataset scan on roots without
        usable footer stats)."""
        raw = self._rgix.read(terms, columns=columns)
        if raw is None:
            names = set(self.postings.schema.names)
            raw = self.postings.to_table(
                filter=pc.field("term").isin(terms),
                columns=[c for c in columns if c in names],
            )
        mask = pc.and_(
            pc.is_in(raw["term"], value_set=pa.array(terms)),
            pc.is_in(raw["field"], value_set=pa.array(list(self.cfg.fields))),
        )
        return raw.filter(mask)

    def _read_score_cols(self, terms: list[str], positions: bool = False) -> dict:
        """Raw block rows of ``terms`` (cfg fields only) as {column:
        numpy array}, concatenated over the terms; {} when none has
        blocks. ``positions`` adds the ``poss`` column; BM25 reads go
        without it, so a cache miss decompresses only the columns it
        scores. This is the read under both decoded shapes of
        ``_list_cache`` (``_bm25_lists``, ``_positional_topk``), so it
        runs only for terms whose decoded entry missed. Each term's rows
        are one ``_term_blocks`` entry under (term, positions) (the
        Lucene terms-dictionary-to-blocks analog, one level rawer than
        the decoded lists; immutable between refresh() calls, which
        rebuild the cache); the terms that miss there share one
        ``_read_rows`` call."""
        cache = self._term_blocks
        have: dict[str, dict | bool] = {}
        missing = []
        for t in terms:
            v = cache.get((t, positions))
            if v is None:
                missing.append(t)
            else:
                have[t] = v
        if missing:
            cols = _numpy_cols(self._read_rows(
                missing, self._SCORE_COLS if positions else self._BM25_COLS
            ))
            tarr = cols["term"]
            order = np.argsort(tarr, kind="stable")
            sorted_cols = {k: v[order] for k, v in cols.items()}
            st = sorted_cols["term"]
            bounds = np.flatnonzero(st[1:] != st[:-1]) + 1
            starts = np.concatenate(([0], bounds)) if len(st) else []
            ends = np.concatenate((bounds, [len(st)])) if len(st) else []
            present: dict[str, dict] = {}
            for s, e in zip(starts, ends):
                present[st[s]] = {k: v[s:e] for k, v in sorted_cols.items()}
            for t in missing:
                # False marks a term with NO blocks (distinct from a
                # cache miss, which reads as None)
                p = present.get(t, False)
                have[t] = p
                cache.put((t, positions), p)
        parts = [p for p in (have[t] for t in terms) if p]
        if not parts:
            return {}
        if len(parts) == 1:
            return parts[0]
        return {
            k: np.concatenate([p[k] for p in parts]) for k in parts[0]
        }

    def _idf(self, terms: list[str]) -> dict[tuple[str, str], float]:
        return {
            (r["term"], r["field"]): bm25_idf(self.n_docs, int(r["df"]))
            for r in self._term_rows(terms)
        }

    def _weights_of(self, ts: list[dict]) -> dict[tuple[str, str], float]:
        return {
            (r["term"], r["field"]): (
                self.cfg.fields[r["field"]][1] * bm25_idf(self.n_docs, int(r["df"]))
            )
            * (self.cfg.k1 + 1.0)
            for r in ts
            if r["field"] in self.cfg.fields
        }

    def _bm25_lists(self, terms: list[str]) -> dict[tuple[str, str], tuple]:
        """{(term, field): decoded list} over every bucket for ``terms``
        (``bm25._decode_lists``, tombstone-masked). Each term's lists in
        all configured fields are one ``_list_cache`` entry under
        ("bm25", term) — the scope of the raw ``_term_blocks`` entry
        they are decoded from; the terms that miss are read through
        ``_read_score_cols`` and decoded together. ``_list_cache =
        None`` decodes on every call."""
        cache = self._list_cache
        per_term = {
            t: None if cache is None else cache.get(("bm25", t))
            for t in dict.fromkeys(terms)
        }
        missing = [t for t, v in per_term.items() if v is None]
        if missing:
            cols = self._read_score_cols(missing)
            for t in missing:
                per_term[t] = {}
            if cols:
                decoded = _decode_lists(
                    cols, _norm_excl(self.tombstones), self._norms
                )
                for (t, f), lst in decoded.items():
                    per_term[t][f] = lst
            if cache is not None:
                for t in missing:
                    cache.put(("bm25", t), per_term[t])
        return {
            (t, f): lst for t, by_field in per_term.items()
            for f, lst in by_field.items()
        }

    def _score(
        self,
        weights: dict[tuple[str, str], float],
        read_terms: list[str],
        k: int,
        required: set[str] | None = None,
        prohibited: set | None = None,
        required_groups: list[set[str]] | None = None,
    ) -> list[tuple[int, float]]:
        """BM25 top-k: the Spark scorers' core (``bm25._score_lists``)
        run ONCE over the whole-index lists of ``read_terms`` (scoring ∪
        prohibited) from ``_bm25_lists`` — no bucket loop, no pandas.
        Exact, because a doc's postings never leave its bucket and the
        core's pruning is admissible for any set of buckets (see
        ``_score_lists``); results equal the Spark plans'."""
        lists = self._bm25_lists(read_terms)
        ids, sc = _score_lists(
            lists, weights, self.avgdl, self.cfg, k,
            _must_groups(required, required_groups), prohibited,
        )
        order = np.lexsort((ids, -sc))
        return [(int(ids[i]), float(sc[i])) for i in order]

    def search(
        self, query: str, k: int = 10, mode: str = "or"
    ) -> list[tuple[int, float]]:
        """→ [(doc_id, score)] ranked (score desc, doc_id asc).
        ``mode="and"``: conjunctive (Lucene MUST) — mirrors the
        distributed ``plans.bm25.search`` semantics exactly, including
        the strict empty result when a query term has no postings."""
        terms = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        if not terms:
            return []
        ts = self._term_rows(terms)
        if not ts:
            return []
        weights = self._weights_of(ts)
        required = set(terms) if mode == "and" else None
        if required and not required <= {t for (t, _f) in weights}:
            return []  # strict MUST: an absent term empties the result
        return self._score(weights, terms, k, required=required)

    def search_many(
        self, queries: dict[int, str], k: int = 10, mode: str = "or"
    ) -> dict[int, list[tuple[int, float]]]:
        return {qid: self.search(q, k, mode=mode) for qid, q in queries.items()}

    def search_boolean(
        self,
        must: list[str] | None = None,
        should: list[str] | None = None,
        must_not: list[str] | None = None,
        k: int = 10,
    ) -> list[tuple[int, float]]:
        """Serving-path Lucene BooleanQuery — same semantics as the
        distributed ``bm25.search_boolean`` (MUST gates+scores,
        SHOULD scores, MUST_NOT disqualifies)."""
        qan = query_analyzer(self.cfg)
        ch = self.cfg.chain
        m = sorted({t for s in (must or []) for t in analyze_query(s, qan, ch)})
        sh = sorted({t for s in (should or []) for t in analyze_query(s, qan, ch)})
        n = sorted({t for s in (must_not or []) for t in analyze_query(s, qan, ch)})
        scoring = sorted(set(m) | set(sh))
        if not scoring:
            return []
        weights = self._weights_of(self._term_rows(scoring))
        required = set(m) if m else None
        if required and not required <= {t for (t, _f) in weights}:
            return []
        return self._score(
            weights, scoring + n, k, required=required,
            prohibited=set(n) or None,
        )

    def _vocab_terms(self) -> list[str]:
        if self._ts is not None:
            return list(self._ts.vocab)
        tbl = self.term_stats.to_table(columns=["term"])
        return list(dict.fromkeys(tbl["term"].to_pylist()))

    def search_prefix(
        self, prefix: str, k: int = 10, max_expansions: int = 1024
    ) -> list[tuple[int, float]]:
        """Serving-path PrefixQuery: expand against the in-memory term
        dictionary (Lucene TermsEnum.seekCeil), then score the
        disjunction — same SCORING_BOOLEAN semantics as
        ``bm25.search_prefix``."""
        p = prefix.strip().lower()
        if not p:
            return []
        terms = sorted(t for t in self._vocab_terms() if t.startswith(p))
        if not terms:
            return []
        check_expansion(len(terms), max_expansions, f"prefix '{p}'")
        weights = self._weights_of(self._term_rows(terms))
        return self._score(weights, terms, k)

    def search_wildcard(
        self, pattern: str, k: int = 10, max_expansions: int = 1024
    ) -> list[tuple[int, float]]:
        """Serving-path WildcardQuery (``te*t`` / ``t?st`` / ``*ark``):
        anchored-regex walk over the in-memory term dictionary with the
        literal prefix short-circuiting the scan (Lucene's
        CompiledAutomaton.commonPrefix), then the scored disjunction —
        same SCORING_BOOLEAN semantics as ``bm25.search_wildcard``."""
        p = pattern.strip().lower()
        if not p:
            return []
        if "*" not in p and "?" not in p:
            return self.search(p, k=k)
        terms = sorted(_wildcard_terms(self._vocab_terms(), p))
        if not terms:
            return []
        check_expansion(len(terms), max_expansions, f"wildcard '{p}'")
        weights = self._weights_of(self._term_rows(terms))
        return self._score(weights, terms, k)

    def search_fuzzy(
        self,
        query_term: str,
        max_edits: int = 1,
        prefix_length: int = 0,
        k: int = 10,
        max_expansions: int = 64,
    ) -> list[tuple[int, float]]:
        """Serving-path FuzzyQuery: Levenshtein walk over the term
        dictionary (bounded early-exit DP — the automata-free analog
        of Lucene's LevenshteinAutomata), then the scored
        disjunction."""
        q = query_term.strip().lower()
        if not q:
            return []
        lev_le = _lev_le
        pref = q[:prefix_length]
        terms = sorted(
            t
            for t in self._vocab_terms()
            if t.startswith(pref) and lev_le(q, t, max_edits)
        )
        if not terms:
            return []
        check_expansion(len(terms), max_expansions, f"fuzzy '{q}'~{max_edits}")
        weights = self._weights_of(self._term_rows(terms))
        return self._score(weights, terms, k)

    def _positional_topk(
        self, score_group, uterms: list[str], field: str, k: int, what: str
    ) -> list[tuple[int, float]]:
        """Top-k of a ``plans.phrase`` matcher core (``score_group.lists``)
        run ONCE over every bucket — exact, since matching and scoring
        are per doc and a doc's postings never leave its bucket. Each
        term's list is decoded once, tombstone-masked, and kept in
        ``_list_cache`` under ("pos", term, field): one entry per list,
        the scope of the raw ``_term_blocks`` entries it is decoded from
        (per-bucket entries measured slower and evicted BM25 lists from
        the shared LRU). No pandas object is built. ``_list_cache =
        None`` decodes on every call."""
        from golr_loader_spark.plans.phrase import _decode_positional_lists

        if score_group is None:
            return []
        cache = self._list_cache
        per_term = {
            t: None if cache is None else cache.get(("pos", t, field))
            for t in uterms
        }
        missing = [t for t, v in per_term.items() if v is None]
        if missing:
            cols = self._read_score_cols(missing, positions=True)
            if cols and "poss" not in cols:
                raise ValueError(
                    f"{what} needs a positional index root — build "
                    "with IndexConfig(positions=True)"
                )
            decoded = {}
            if cols:
                here = cols["field"] == field
                decoded = _decode_positional_lists(
                    {c: v[here] for c, v in cols.items()},
                    _norm_excl(self.tombstones),
                    self._norms,
                )
            for t in missing:
                # () caches a term with no live posting in ``field``
                per_term[t] = decoded.get(t, ())
                if cache is not None:
                    cache.put(("pos", t, field), per_term[t])
        docs, sc = score_group.lists({t: v for t, v in per_term.items() if v})
        order = np.lexsort((docs, -sc))[:k]
        return [(int(docs[i]), float(sc[i])) for i in order]

    def search_phrase(
        self,
        phrase: str,
        k: int = 10,
        slop: int = 0,
        field: str | None = None,
        scoring: str = "phrase",
    ) -> list[tuple[int, float]]:
        """Serving-path (sloppy) PhraseQuery over a POSITIONAL index
        root (written with ``IndexConfig(positions=True)``). Runs the
        matcher core of the distributed
        ``plans.phrase.phrase_search_positional`` once over the cached,
        decoded per-term lists of every bucket (``_positional_topk``) —
        results identical by construction; see that function for the
        matching/scoring semantics."""
        from golr_loader_spark.functions.tokenize import analyze_phrase
        from golr_loader_spark.plans.phrase import _phrase_bucket_factory

        field = field or next(iter(self.cfg.fields))
        seq = analyze_phrase(
            phrase, self.cfg.fields[field][0], self.cfg.min_term_len,
            self.cfg.chain,
        )
        if not seq:
            return []
        uterms = sorted({t for t, _p in seq})
        idf = self._idf(uterms)
        score_group = _phrase_bucket_factory(
            seq, idf, field, self.avgdl[field], self.cfg, k, slop, scoring, None,
        )
        return self._positional_topk(score_group, uterms, field, k, "search_phrase")

    def search_span_near(
        self,
        terms: list[str],
        window: int,
        k: int = 10,
        field: str | None = None,
    ) -> list[tuple[int, float]]:
        """Serving-path unordered span-near (Lucene SpanNearQuery
        inOrder=false) over a positional root — the matcher core of the
        distributed ``plans.phrase.span_near_search`` over the same
        cached per-term lists as ``search_phrase``, results identical
        by construction."""
        from golr_loader_spark.functions.tokenize import analyze_phrase
        from golr_loader_spark.plans.phrase import _span_bucket_factory

        field = field or next(iter(self.cfg.fields))
        analyzer = self.cfg.fields[field][0]
        uterms = sorted(
            {
                t
                for raw in terms
                for t, _p in analyze_phrase(raw, analyzer, self.cfg.min_term_len, self.cfg.chain)
            }
        )
        if not uterms:
            return []
        idf = self._idf(uterms)
        score_group = _span_bucket_factory(
            uterms, window, idf, field, self.avgdl[field], self.cfg, k, None,
        )
        return self._positional_topk(score_group, uterms, field, k, "search_span_near")

    def search_dismax(
        self, query: str, qf, k: int = 10, tie: float = 0.0, mm=0,
        pf=None, pf2=None, pf3=None, ps: int = 0, ps2=None, ps3=None,
    ) -> list[tuple[int, float]]:
        """Serving-path eDisMax (Solr defType=edismax analog — see
        ``plans.dismax`` for semantics): per-word DisjunctionMax
        across the qf fields with tie breaker and mm gating.
        ``pf``/``pf2``/``pf3`` (+ ``ps``/``ps2``/``ps3``) add Solr
        phrase boosting over a positional index root (see
        ``dismax.pf_clause_list``). The plan of the distributed
        ``dismax.search_dismax``, applied by ``_run_dismax``."""
        return self._run_dismax(
            query, False, qf, k, tie, mm, (pf, pf2, pf3, ps, ps2, ps3)
        )

    def _run_dismax(
        self, query: str, edismax: bool, qf, k: int, tie, mm, pfs
    ) -> list[tuple[int, float]]:
        """Apply a ``dismax._plan`` — the serving executor: the dismax
        core run once over the cached whole-index ``_bm25_lists``, each
        phrase step per field through ``search_phrase``, dismax-combined
        and joined as the plan says (``_join_scores``). No pandas object
        is built."""
        from golr_loader_spark.plans.dismax import _dismax_bucket_factory, _plan

        plan = _plan(query, edismax, qf, self.cfg, self._idf, tie, mm, pfs)
        if plan.none:
            return []
        scores: dict[int, float] = {}
        if plan.weights:
            core = _dismax_bucket_factory(
                plan, self.avgdl, self.cfg, plan.scorer_k(k, self.n_docs), None
            )
            ids, sc = core.lists(self._bm25_lists(plan.read))
            scores = dict(zip(ids.tolist(), sc.tolist()))
        for _occur, ph, fields, how in plan.steps:
            per_f = [
                {
                    d: s * b
                    for d, s in self.search_phrase(
                        ph.text, k=self.n_docs, slop=ph.slop, field=f
                    )
                }
                for f, b in fields.items()
            ]
            part: dict[int, float] = {}
            for d in set().union(*per_f):
                vals = [m.get(d, 0.0) for m in per_f]
                mx = max(vals)
                part[d] = (mx + plan.tie * (sum(vals) - mx)) * float(ph.boost)
            scores = _join_scores(scores, part, how)
        if plan.vet:
            scores = self._vet(scores, plan.prohibited)
        return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]

    def suggest(
        self,
        text: str,
        k: int = 5,
        max_edits: int = 2,
        prefix_length: int = 1,
        min_df: int = 1,
    ) -> list[tuple[str, int]]:
        """Serving-path spellcheck (Solr SpellCheckComponent — the
        Spark-free twin of ``bm25.suggest_terms``): corrections from
        the in-memory term dictionary within ``max_edits``,
        popularity-ranked (df summed over fields, desc; term asc)."""
        q = text.strip().lower()
        if not q:
            return []
        p = q[:prefix_length] if prefix_length > 0 else ""
        cand = [
            t
            for t in self._vocab_terms()
            if t != q
            and t.startswith(p)
            and abs(len(t) - len(q)) <= max_edits
            and _lev_le(q, t, max_edits)
        ]
        dfs = self._df_by_term(cand, self.cfg.fields)
        out = [(t, d) for t, d in dfs.items() if d >= min_df]
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]

    def terms(
        self,
        prefix: str | None = None,
        field: str | None = None,
        limit: int = 10,
        min_df: int = 1,
        sort: str = "count",
    ) -> list[tuple[str, int]]:
        """Serving-path TermsComponent (twin of ``bm25.terms_enum``):
        enumerate the term dictionary → (term, df), df summed over the
        requested field(s); sort="count" (df desc, term asc — the Solr
        default) or "index"."""
        fields = [field] if field else list(self.cfg.fields)
        cand = self._vocab_terms()
        if prefix:
            cand = [t for t in cand if t.startswith(prefix)]
        dfs = self._df_by_term(cand, fields)
        out = [(t, d) for t, d in dfs.items() if d >= min_df]
        if sort == "index":
            out.sort(key=lambda x: x[0])
        else:
            out.sort(key=lambda x: (-x[1], x[0]))
        return out[:limit]

    def term_vector(
        self, doc_id: int, field: str | None = None
    ) -> list[tuple[str, int, int]]:
        """Serving-path TermVectorComponent (twin of
        ``bm25.term_vector``): (term, tf, df) of one STORED document,
        term-sorted — re-analyzes the stored text with the index-time
        analyzer chain, df from the term dictionary (0 for terms the
        dictionary lacks, mirroring the distributed twin)."""
        from golr_loader_spark.functions.tokenize import analyze_with_tf

        field = field or next(iter(self.cfg.fields))
        stored = self.fetch([int(doc_id)], [field])
        text = (stored.get(int(doc_id)) or {}).get(field)
        if not text:
            return []
        tf = analyze_with_tf(text, self.cfg.fields[field][0], self.cfg.chain)
        dfs = self._df_by_term(sorted(tf), [field])
        return [(t, int(tf[t]), int(dfs.get(t, 0))) for t in sorted(tf)]

    def stats_field(
        self,
        query: str,
        field: str,
        mode: str = "or",
        fq: str | None = None,
        percentiles: list[float] | None = None,
    ) -> dict:
        """Serving-path StatsComponent (twin of
        ``facets.stats_field``): count/min/max/sum/mean/sample-stddev
        of a STORED numeric field over the match set, floats rounded
        to 4 (the cross-engine discipline). ``percentiles`` adds
        exact ``p<pct>`` keys (quantile_cont semantics, like the
        distributed twin)."""
        import statistics

        from golr_loader_spark.plans.jsonfacet import exact_percentile

        pkeys = [f"p{p:g}" for p in (percentiles or [])]
        ids = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            ids &= self._fq_ids_local(fq)
        empty = {
            "n": 0, "min": None, "max": None,
            "sum": None, "mean": None, "stddev": None,
            **{k: None for k in pkeys},
        }
        if not ids:
            return empty
        stored = self.fetch(sorted(ids), [field])
        xs = [
            v[field]
            for v in stored.values()
            if v.get(field) is not None
        ]
        if not xs:
            return empty
        return {
            "n": len(xs),
            "min": min(xs),
            "max": max(xs),
            "sum": round(float(sum(xs)), 4),
            "mean": round(float(sum(xs)) / len(xs), 4),
            "stddev": round(statistics.stdev(xs), 4) if len(xs) > 1 else None,
            **{
                k: round(float(exact_percentile(xs, p)), 4)
                for k, p in zip(pkeys, percentiles or [])
            },
        }

    def search_boosted(
        self,
        query: str,
        boosts: dict[int, float],
        k: int = 10,
        boost_mode: str = "sum",
        missing: float | None = None,
    ) -> list[tuple[int, float]]:
        """Serving-path boost/function query (twin of
        ``bm25.search_boosted``): BM25 over the full match set, then
        combine with the per-doc ``boosts`` map (sum = Solr bf,
        multiply = Solr boost=; absent docs take the neutral
        ``missing``)."""
        if boost_mode not in ("sum", "multiply"):
            raise ValueError(
                f"boost_mode must be sum|multiply, got {boost_mode!r}"
            )
        if missing is None:
            missing = 0.0 if boost_mode == "sum" else 1.0
        scored = self.search(query, k=self.n_docs)
        if boost_mode == "sum":
            out = [(d, s + boosts.get(d, missing)) for d, s in scored]
        else:
            out = [(d, s * boosts.get(d, missing)) for d, s in scored]
        out.sort(key=lambda x: (-x[1], x[0]))
        return [(int(d), float(s)) for d, s in out[:k]]

    def search_after(
        self,
        query: str,
        sort_field: str,
        after_value=None,
        after_doc_id: int | None = None,
        ascending: bool = True,
        rows: int = 10,
        mode: str = "or",
        fq: str | None = None,
    ) -> list[tuple[int, object]]:
        """Serving-path cursorMark keyset paging (twin of
        ``facets.search_after``): the ``rows`` docs strictly after the
        (value, doc_id) cursor in (sort_field, doc_id) order —
        NULL-sort-valued docs excluded, cursor threaded from the last
        returned row."""
        ids = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            ids &= self._fq_ids_local(fq)
        if not ids:
            return []
        stored = self.fetch(sorted(ids), [sort_field])
        pairs = [
            (d, v[sort_field])
            for d, v in stored.items()
            if v.get(sort_field) is not None
        ]
        if after_value is not None:
            def past(dv):
                d, v = dv
                if v != after_value:
                    return v > after_value if ascending else v < after_value
                return after_doc_id is not None and d > after_doc_id
            pairs = [p for p in pairs if past(p)]
        pairs.sort(key=lambda x: x[0])
        pairs.sort(key=lambda x: x[1], reverse=not ascending)
        return [(int(d), v) for d, v in pairs[:rows]]

    def search_edismax(
        self, query: str, qf, k: int = 10, tie: float = 0.0, mm=0,
        pf=None, pf2=None, pf3=None, ps: int = 0, ps2=None, ps3=None,
    ) -> list[tuple[int, float]]:
        """Serving-path extended DisMax (Solr defType=edismax with
        query syntax — see ``dismax.search_edismax``): term/phrase
        clauses with +/- occurs, explicit field: overrides, per-word
        clause boosts, dismax across qf with tie, mm over optional
        words, query-time single-word synonyms, pf/pf2/pf3 phrase
        boosting. The plan of the distributed path, applied by
        ``_run_dismax``."""
        return self._run_dismax(
            query, True, qf, k, tie, mm, (pf, pf2, pf3, ps, ps2, ps3)
        )

    def more_like_this(
        self,
        doc_id: int | None = None,
        text: str | None = None,
        field: str | None = None,
        k: int = 10,
        max_query_terms: int = 25,
        min_tf: int = 2,
        min_df: int = 5,
        max_df: int | None = None,
        min_word_len: int = 0,
        max_word_len: int = 0,
        boost: bool = True,
    ) -> list[tuple[int, float]]:
        """Serving-path MoreLikeThis (Solr MoreLikeThisComponent —
        twin of ``plans.mlt.more_like_this``): seed text from
        ``text`` or fetched from the stored table by ``doc_id``,
        interesting-term selection per ``mlt.select_interesting_terms``,
        execution through the vetted ``query()`` executor, the seed
        doc dropped from the page."""
        from golr_loader_spark.plans.mlt import (
            mlt_query_string,
            seed_term_freqs,
            select_interesting_terms,
        )

        field = field or next(iter(self.cfg.fields))
        if field not in self.cfg.fields:
            raise ValueError(
                f"field {field!r} not in config ({list(self.cfg.fields)})"
            )
        if text is None:
            if doc_id is None:
                raise ValueError("pass doc_id or text")
            stored = self.fetch([int(doc_id)], [field])
            if int(doc_id) not in stored:
                raise ValueError(f"doc_id {doc_id} not found in stored")
            text = stored[int(doc_id)].get(field) or ""
        tf_map = seed_term_freqs(
            text, self.cfg.fields[field][0], self.cfg.min_term_len,
            self.cfg.chain,
        )
        selected = select_interesting_terms(
            tf_map, self._df_by_term(sorted(tf_map), [field]), self.n_docs,
            max_query_terms, min_tf, min_df, max_df, min_word_len,
            max_word_len, boost,
        )
        qs = mlt_query_string(selected, field)
        if qs is None:
            return []
        fetch = k if doc_id is None else k + 1
        hits = self.query(qs, k=fetch)
        if doc_id is not None:
            hits = [(d, s) for d, s in hits if d != int(doc_id)][:k]
        return hits

    def search_sorted(
        self,
        query: str,
        sort_field: str,
        ascending: bool = True,
        start: int = 0,
        rows: int = 10,
        mode: str = "or",
        fq: str | None = None,
        max_expansions: int = 1024,
    ) -> list[tuple[int, int, object]]:
        """Serving-path Solr ``sort=<field>`` + ``start``/``rows`` →
        [(pos, doc_id, value)]: decode-only matching, stored-field
        fetch from the doc_id-sorted ``{root}/stored`` table
        (row-group-pruned point reads), (value NULLS LAST, doc_id asc)
        ordering, offset pagination. Mirrors ``facets.search_sorted``
        row for row."""
        ids = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            ids &= self._fq_ids_local(fq, max_expansions)
        if not ids:
            return []
        stored = self.fetch(sorted(ids), [sort_field])
        present = [
            (d, v[sort_field])
            for d, v in stored.items()
            if v.get(sort_field) is not None
        ]
        missing = sorted(
            [d for d in ids if stored.get(d, {}).get(sort_field) is None]
        )
        # doc_id-asc base sort, then a STABLE value sort → Solr's
        # (field, doc_id asc) with sortMissingLast in either direction
        present.sort(key=lambda x: x[0])
        present.sort(key=lambda x: x[1], reverse=not ascending)
        ordered = present + [(d, None) for d in missing]
        page = ordered[start : start + rows]
        return [(start + i + 1, int(d), v) for i, (d, v) in enumerate(page)]

    def query(
        self,
        querystring: str,
        k: int = 10,
        max_expansions: int = 1024,
        fq: str | None = None,
    ) -> list[tuple[int, float]]:
        """Serving-path Lucene query string (see ``plans.lucene`` for
        syntax and semantics): planned by ``lucene._plan``, the planner
        of ``lucene.search_lucene``, and applied by the serving executor
        (``_run_plan``). ``fq``: non-scoring filter query (match-set
        restriction)."""
        from golr_loader_spark.plans.lucene import _query_clauses

        clauses = _query_clauses(querystring, self.cfg)
        if not clauses:
            return []
        # Under fq, score the complete match set (k hint None) before
        # the filter intersects it — truncating first loses fq-passing
        # docs ranked below k pre-filter (same invariant as
        # lucene.search_lucene / bm25.search).
        scores = self._lucene_scores(
            clauses, max_expansions, k if fq is None else None
        )
        if scores is None:
            return []
        if fq is not None:
            keep = self._fq_ids_local(fq, max_expansions)
            scores = {d: s for d, s in scores.items() if d in keep}
        out = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
        return [(int(d), float(s)) for d, s in out]

    def facet_counts_multiselect(
        self,
        query: str,
        fqs: dict[str, str],
        facet_fields: dict[str, list[str]],
        mode: str = "or",
        top: int = 10,
        min_count: int = 1,
        values: dict[str, list[str]] | None = None,
    ) -> dict[str, list[tuple[str, int]]]:
        """Serving twin of ``facets.facet_counts_multiselect`` (Solr
        {!tag}/{!ex} multi-select faceting): per-facet match sets with
        that facet's own filters excluded, dict arithmetic over the
        in-memory facet arrays.

        ``values``: refinement mode — exact counts for exactly those
        candidate values per facet field (zero counts omitted),
        ignoring ``top``; used by the sharded coordinator's phase 2."""
        import numpy as _np

        base = {int(d) for d in self.matching_ids(query, mode)}
        tag_sets = {
            tag: self._fq_ids_local(fq) for tag, fq in fqs.items()
        }
        arrays = self._load_facets()
        if arrays is False:
            raise FileNotFoundError(f"{self._root}/facets not written")
        a_ids, a_facets, a_vals = arrays
        out: dict[str, list[tuple[str, int]]] = {}
        for field, excl_tags in facet_fields.items():
            if values is not None and field not in values:
                continue
            m = set(base)
            for tag, ids in tag_sets.items():
                if tag not in excl_tags:
                    m &= ids
            mask = a_facets == field
            counts: dict[str, int] = {}
            for d, v in zip(a_ids[mask].tolist(), a_vals[mask].tolist()):
                if int(d) in m:
                    counts[v] = counts.get(v, 0) + 1
            if values is not None:
                want = set(values.get(field, ()))
                got = [(v, n) for v, n in counts.items() if v in want]
                out[field] = sorted(got, key=lambda x: (-x[1], x[0]))
                continue
            vals = sorted(
                ((n, v) for v, n in counts.items() if n >= min_count),
                key=lambda x: (-x[0], x[1]),
            )[:top]
            out[field] = [(v, n) for n, v in vals]
        return out

    def collate(
        self,
        query: str,
        max_collations: int = 3,
        max_tries: int = 10,
        k_suggestions: int = 3,
        max_edits: int = 2,
        prefix_length: int = 1,
    ) -> list[tuple[str, int]]:
        """Serving-path spellcheck.collate (twin of ``bm25.collate``):
        dictionary words kept, misspelled words corrected from the
        in-memory term dictionary, each rewrite verified with a
        conjunctive decode-only hit count; first ``max_collations``
        hit-producing rewrites in Solr's try order."""
        from golr_loader_spark.plans.bm25 import (
            _collation_candidates,
            _collation_combos,
        )

        words = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        if not words:
            return []
        cands = _collation_candidates(
            words,
            set(self._df_by_term(words, self.cfg.fields)),
            lambda w: [
                t
                for t, _df in self.suggest(
                    w, k=k_suggestions, max_edits=max_edits,
                    prefix_length=prefix_length,
                )
            ],
            k_suggestions,
        )
        if cands is None:
            return []
        out: list[tuple[str, int]] = []
        for phrase, _rank in _collation_combos(cands, max_tries):
            hits = len(self.matching_ids(phrase, mode="and"))
            if hits:
                out.append((phrase, int(hits)))
            if len(out) == max_collations:
                break
        return out

    def search_elevated(
        self,
        query: str,
        elevate: list[int] | None = None,
        exclude: list[int] | None = None,
        k: int = 10,
        max_expansions: int = 1024,
    ) -> list[tuple[int, float]]:
        """Serving-path QueryElevationComponent (twin of
        ``lucene.search_elevated``): pinned page assembled from the
        complete organic match set via the shared kernel."""
        from golr_loader_spark.plans.lucene import (
            elevate_lists,
            parse_lucene,
        )

        base = self._lucene_scores(
            parse_lucene(query), max_expansions, None
        ) or {}
        return elevate_lists(base, elevate, exclude, k)

    def json_facet(
        self, query: str, spec: dict, mode: str = "or", fq: str | None = None
    ) -> dict:
        """Serving-path Solr JSON Facet API (nested facets with
        per-bucket aggregations) — delegates to
        ``jsonfacet.json_facet_local``; see that module for the
        supported subset and the parity contract."""
        from golr_loader_spark.plans.jsonfacet import json_facet_local

        return json_facet_local(self, query, spec, mode=mode, fq=fq)

    def block_join_parent(
        self, child_query: str, which: str, block_field: str,
        score_mode: str = "none", k: int = 10, max_expansions: int = 1024,
    ):
        """Serving-path Solr {!parent} block join (see
        ``plans.blockjoin`` for semantics and the doc-values block
        key that replaces Lucene's physical contiguity)."""
        from golr_loader_spark.plans.blockjoin import block_join_parent_local

        return block_join_parent_local(
            self, child_query, which, block_field, score_mode, k,
            max_expansions,
        )

    def block_join_child(
        self, parent_query: str, of: str, block_field: str,
        max_expansions: int = 1024,
    ):
        """Serving-path Solr {!child} block join."""
        from golr_loader_spark.plans.blockjoin import block_join_child_local

        return block_join_child_local(
            self, parent_query, of, block_field, max_expansions
        )

    def rerank(
        self,
        querystring: str,
        rerank_query: str,
        k: int = 10,
        rerank_docs: int = 200,
        rerank_weight: float = 2.0,
        max_expansions: int = 1024,
    ) -> list[tuple[int, float]]:
        """Serving-path Solr ReRank (rq={!rerank ...}): complete match
        sets for both passes, then the shared ReRankCollector block
        kernel (``rerank.rerank_lists``) — the exact twin of
        ``rerank.rerank_search``."""
        from golr_loader_spark.plans.lucene import parse_lucene
        from golr_loader_spark.plans.rerank import rerank_lists

        clauses = parse_lucene(querystring)
        if not clauses:
            return []
        first = self._lucene_scores(clauses, max_expansions, None)
        if first is None:
            return []
        second = self._lucene_scores(
            parse_lucene(rerank_query), max_expansions, None
        )
        out = rerank_lists(
            first, second or {}, k, rerank_docs, rerank_weight
        )
        return [(int(d), float(s)) for d, s in out]

    def ltr_rerank(
        self,
        querystring: str,
        features: list,
        model,
        k: int = 10,
        rerank_docs: int = 200,
        max_expansions: int = 1024,
    ) -> list[tuple[int, int, float]]:
        """Serving-path Solr LTR (rq={!ltr model=m reRankDocs=N}):
        complete first-pass match set, features resolved locally
        (original_score / solr_query via the local executor,
        field_value via stored fields, constant), then the shared
        ``ltr.ltr_block`` kernel — the exact twin of
        ``ltr.ltr_rerank``. → [(rank, doc_id, score)]."""
        from golr_loader_spark.plans.lucene import parse_lucene
        from golr_loader_spark.plans.ltr import ltr_block

        clauses = parse_lucene(querystring)
        if not clauses:
            return []
        first = self._lucene_scores(clauses, max_expansions, None)
        if first is None:
            return []
        block_ids = [
            d
            for d, _s in sorted(first.items(), key=lambda x: (-x[1], x[0]))[
                :rerank_docs
            ]
        ]
        vals: dict[str, dict[int, float]] = {}
        for f in features:
            if f.kind == "original_score":
                vals[f.name] = {int(d): float(s) for d, s in first.items()}
            elif f.kind == "constant":
                vals[f.name] = {int(d): float(f.param) for d in block_ids}
            elif f.kind == "solr_query":
                m = self._lucene_scores(
                    parse_lucene(str(f.param)), max_expansions, None
                )
                vals[f.name] = (
                    {int(d): float(s) for d, s in m.items()} if m else {}
                )
            elif f.kind == "field_value":
                stored = self.fetch(sorted(block_ids), [str(f.param)])
                vals[f.name] = {
                    int(d): float(v[str(f.param)])
                    for d, v in stored.items()
                    if v.get(str(f.param)) is not None
                }
            else:
                raise ValueError(f"unknown feature kind {f.kind!r}")
        return ltr_block(
            [(int(d), float(s)) for d, s in first.items()],
            vals, model, k, rerank_docs,
        )

    def _all_doc_ids_local(self) -> set[int]:
        """Live doc universe (serving twin of ``facets.all_doc_ids``):
        union of the fields' norms doc ids, tombstone-masked. Memoized
        per searcher instance (invalidated with the searcher, like any
        Lucene reader-scoped cache)."""
        if self._all_ids_cache is not None:
            return self._all_ids_cache
        from golr_loader_spark.plans.bm25 import _live_of

        excl = _norm_excl(self.tombstones)
        ids = set()
        for (_f, seg), (nids, _dls) in self._norms.items():
            if excl is not None:
                nids = nids[_live_of(nids, np.full(len(nids), seg), excl)]
            ids.update(int(d) for d in nids)
        self._all_ids_cache = ids
        return self._all_ids_cache

    def _fq_ids_local(self, fq, max_expansions: int = 1024) -> set[int]:
        """Solr fq → doc_id match set (serving twin of
        ``lucene.fq_doc_ids``); a pure-negative fq is the live universe
        minus the match set of its flipped clauses
        (``lucene._filter_clauses``). Complete set, never top-k
        truncated."""
        from golr_loader_spark.plans.lucene import _filter_clauses

        clauses, negated = _filter_clauses(fq, self.cfg)
        if not clauses:
            return set()
        found = self._lucene_scores(clauses, max_expansions, None) or {}
        ids = {int(d) for d in found}
        return self._all_doc_ids_local() - ids if negated else ids

    def _expand(self, node, fields: list[str], max_expansions: int) -> set[str]:
        """Serving face of the planner's multi-term expansion
        (``lucene._expand`` is the Spark one): a walk over the
        in-memory term dictionary — prefix seek, wildcard regex with
        the literal prefix short-circuit, lexicographic range or banded
        Levenshtein — kept to the terms indexed in ``fields``."""
        from golr_loader_spark.plans.bm25 import check_expansion
        from golr_loader_spark.plans.lucene import (
            Prefix,
            TermRange,
            Wildcard,
            _describe,
        )

        vocab = self._vocab_terms()
        if isinstance(node, TermRange):
            cand = [
                t
                for t in vocab
                if (
                    node.lo is None
                    or (t >= node.lo if node.include_lo else t > node.lo)
                )
                and (
                    node.hi is None
                    or (t <= node.hi if node.include_hi else t < node.hi)
                )
            ]
        elif isinstance(node, Prefix):
            p = node.text.lower()
            cand = [t for t in vocab if t.startswith(p)]
        elif isinstance(node, Wildcard):
            cand = _wildcard_terms(vocab, node.text.lower())
        else:
            t0 = node.text.lower()
            cand = [t for t in vocab if _lev_le(t0, t, node.max_edits)]
        terms = set(self._df_by_term(cand, fields))
        check_expansion(len(terms), max_expansions, _describe(node))
        return terms

    def _plan(self, clauses: list, max_expansions: int):
        from golr_loader_spark.plans.lucene import _plan

        return _plan(clauses, self.cfg, self._expand, self._idf, max_expansions)

    def _lucene_scores(
        self,
        clauses: list,
        max_expansions: int,
        k: int | None,
    ) -> dict[int, float] | None:
        """A clause list → complete {doc_id: score} match set, None when
        nothing matches. ``k`` is a truncation hint honored only when
        the plan has no relational step (nested groups / fq callers
        pass None)."""
        return self._run_plan(self._plan(clauses, max_expansions), k)

    def _run_plan(self, plan, k: int | None) -> dict[int, float] | None:
        """Apply a ``lucene._plan`` — the serving executor: term clauses
        through ``_score`` over whole-index lists, phrase steps through
        ``search_phrase``, group steps recursively, each step a dict
        join of the kind the plan chose."""
        from golr_loader_spark.plans.lucene import Phrase

        if plan.none:
            return None
        scores: dict[int, float] = {}
        if plan.read:
            scores = dict(
                self._score(
                    plan.weights,
                    plan.read,
                    plan.scorer_k(k, self.n_docs),
                    prohibited=plan.prohibited or None,
                    required_groups=plan.groups or None,
                )
            )
        for _occur, node, sub, how in plan.steps:
            if how is None:
                continue
            part = (
                self.search_phrase(
                    node.text, k=self.n_docs, slop=node.slop, field=node.field,
                )
                if isinstance(node, Phrase)
                else self._run_plan(sub, None).items()
            )
            scores = _join_scores(
                scores, {d: s * float(node.boost) for d, s in part}, how
            )
        if plan.vet:
            scores = self._vet(scores, plan.prohibited)
        return scores

    def _vet(self, scores: dict[int, float], bad: set) -> dict[int, float]:
        """Drop docs holding a prohibited member, read from the lists
        the scorer uses (a field-restricted member masks only its
        field's list) — the dict face of ``lucene._vet``."""
        lists = self._bm25_lists(
            sorted({m if isinstance(m, str) else m[0] for m in bad})
        )
        neg = {
            int(d)
            for (t, f), lst in lists.items()
            if t in bad or (t, f) in bad
            for d in lst[0]
        }
        return {d: s for d, s in scores.items() if d not in neg}

    def _doc_tfdl(
        self, terms: list[str], doc_id: int
    ) -> dict[tuple[str, str], tuple[int, int]]:
        """Point lookup: (tf, dl) per (term, field) for ONE doc, from
        the decoded lists ``_bm25_lists`` keeps (tombstone-masked, cfg
        fields only, dl from the field's norms). Shared by ``explain``
        and ``explain_query``."""
        found: dict[tuple[str, str], tuple[int, int]] = {}
        for key, (ids, tfs, dls, *_bounds) in self._bm25_lists(terms).items():
            hit = np.flatnonzero(ids == doc_id)
            if len(hit):
                found[key] = (int(tfs[hit[0]]), int(dls[hit[0]]))
        return found

    def explain(self, query: str, doc_id: int) -> dict:
        """Serving-path Lucene Explanation (Solr debugQuery=on): the
        per-term score breakdown of ``doc_id`` for ``query`` — same
        fields and fold order as the distributed ``bm25.explain``,
        values identical by construction (same decoded postings, same
        formula)."""
        terms = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        out: dict = {"doc_id": int(doc_id), "score": 0.0, "terms": []}
        if not terms:
            return out
        idf = self._idf(terms)
        found = self._doc_tfdl(terms, doc_id)
        total = 0.0
        for (t, f) in sorted(found, key=lambda k: (k[1], k[0])):
            i = idf.get((t, f))
            if i is None:
                continue
            tf, dl = found[(t, f)]
            wt = (self.cfg.fields[f][1] * i) * (self.cfg.k1 + 1.0)
            avg = self.avgdl[f]
            contrib = wt * tf / (
                tf + self.cfg.k1 * ((1.0 - self.cfg.b) + self.cfg.b * dl / avg)
            )
            total += contrib
            out["terms"].append(
                {
                    "term": t, "field": f, "tf": tf, "dl": dl,
                    "avgdl": avg, "idf": i, "weight": wt,
                    "contribution": contrib,
                }
            )
        out["score"] = total
        return out

    def explain_query(
        self, query: str, doc_id: int, max_expansions: int = 1024
    ) -> dict:
        """Serving-path full-query explanation (Solr debugQuery over
        every clause type): ``lucene._explain_plan`` — the explain of
        both faces — over the plan ``query`` runs, with this searcher's
        per-doc lookups (``_doc_tfdl``, ``search_phrase``). Same dict as
        ``lucene.explain_lucene``; totals reproduce
        ``LocalSearcher.query``'s score for the doc."""
        from golr_loader_spark.plans.lucene import _explain_plan, parse_lucene

        doc_id = int(doc_id)
        return _explain_plan(
            self._plan(parse_lucene(query), max_expansions),
            doc_id, self.cfg, self.avgdl,
            lambda terms: self._doc_tfdl(terms, doc_id),
            lambda ph: dict(
                self.search_phrase(
                    ph.text, k=self.n_docs, slop=ph.slop, field=ph.field,
                )
            ).get(doc_id),
        )

    # ------------------------------------------------------------ facets

    def _load_facets(self):
        """Lazy one-time load of {root}/facets (written by write_index
        from plans.facets.build_facets) into parallel numpy arrays
        sorted by doc_id. Facet tables are docs × facet-fields rows —
        the serving-node analog of Lucene doc values; the distributed
        plans.facets.facet_counts is the path for corpus-scale tables."""
        if self._facet_arrays is not None:
            return self._facet_arrays
        import glob as _glob
        import numpy as _np

        files = sorted(_glob.glob(f"{self._root}/facets/*.parquet"))
        if not files:
            self._facet_arrays = False
            return False
        schema = pa.unify_schemas([pq.read_schema(f) for f in files])
        if "_seg" in schema.names:
            # upserted roots: resolve each doc's facet ROWS to its
            # latest segment (Lucene docValues update semantics) —
            # base rows (no _seg column) read as segment 0
            ds = pads.dataset(files, format="parquet", schema=schema)
            tbl = ds.to_table(columns=["doc_id", "facet", "value", "_seg"])
            ids0 = tbl["doc_id"].to_numpy(zero_copy_only=False)
            segs = tbl["_seg"].to_numpy(zero_copy_only=False)
            segs = _np.where(_np.isnan(segs.astype(_np.float64)), 0, segs).astype(
                _np.int64
            ) if segs.dtype == object else _np.nan_to_num(
                segs.astype(_np.float64), nan=0.0
            ).astype(_np.int64)
            order0 = _np.argsort(ids0, kind="stable")
            ids_s, segs_s = ids0[order0], segs[order0]
            starts = _np.flatnonzero(
                _np.concatenate(([True], ids_s[1:] != ids_s[:-1]))
            )
            max_per = _np.maximum.reduceat(segs_s, starts)
            doc_max = dict(zip(ids_s[starts].tolist(), max_per.tolist()))
            keep = _np.fromiter(
                (int(sg) == doc_max[int(d)] for d, sg in zip(ids0, segs)),
                dtype=bool,
                count=len(ids0),
            )
            tbl = tbl.filter(pa.array(keep)).select(
                ["doc_id", "facet", "value"]
            )
        else:
            tbl = pa.concat_tables(
                [
                    pq.read_table(f, columns=["doc_id", "facet", "value"])
                    for f in files
                ]
            )
        ids = tbl["doc_id"].to_numpy(zero_copy_only=False)
        order = _np.argsort(ids, kind="stable")
        self._facet_arrays = (
            ids[order],
            tbl["facet"].to_numpy(zero_copy_only=False)[order],
            tbl["value"].to_numpy(zero_copy_only=False)[order],
        )
        return self._facet_arrays

    def matching_ids(self, query: str, mode: str = "or") -> np.ndarray:
        """All doc_ids matching the analyzed query (no scores), sorted —
        the union of each term's decoded lists (``_bm25_lists``, so
        tombstone-masked and limited to the cfg fields), intersected
        over the terms for ``mode="and"``: the serving twin of
        ``plans.facets.matching_doc_ids``, strict conjunctive empties
        included (a term with no live list empties the result)."""
        terms = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        per_term: dict[str, list[np.ndarray]] = {t: [] for t in terms}
        for (t, _f), lst in self._bm25_lists(terms).items():
            per_term[t].append(lst[0])
        sets = [np.unique(np.concatenate(a)) for a in per_term.values() if a]
        if not sets or (mode == "and" and len(sets) < len(terms)):
            return np.empty(0, dtype=np.int64)
        if mode != "and":
            return np.unique(np.concatenate(sets))
        out = sets[0]
        for ids in sets[1:]:
            out = np.intersect1d(out, ids, assume_unique=True)
        return out

    # ------------------------------------------------ {!join} parser

    def _join_from_values(
        self, query: str, from_field: str, mode: str = "or",
        fq: str | None = None,
    ) -> set:
        """Round 1 of the {!join}: the distinct ``from_field`` values
        of the subquery's match set (this searcher's docs only — the
        sharded coordinator unions these across shards)."""
        import numpy as _np

        fx = self._load_facets()
        if fx is False:
            return set()
        ids, fcts, vals = fx
        m = self.matching_ids(query, mode)
        if fq is not None:
            m = _np.array(
                sorted({int(x) for x in m} & self._fq_ids_local(fq)),
                dtype=_np.int64,
            )
        if not len(m):
            return set()
        mask = (fcts == from_field) & _np.isin(ids, m)
        return set(vals[mask].tolist())

    def _join_to_docs(self, value_set: set, to_field: str) -> set:
        """Round 2 of the {!join}: this searcher's docs whose
        ``to_field`` carries one of ``value_set``."""
        import numpy as _np

        if not value_set:
            return set()
        fx = self._load_facets()
        if fx is False:
            return set()
        ids, fcts, vals = fx
        mask = (fcts == to_field) & _np.isin(
            vals, _np.array(sorted(value_set), dtype=object)
        )
        return {int(x) for x in ids[mask].tolist()}

    def join_query(
        self, query: str, from_field: str, to_field: str,
        mode: str = "or", fq: str | None = None,
    ) -> list[int]:
        """Serving-path Solr JoinQParserPlugin (twin of
        ``facets.join_query``): {!join from=F to=T}subquery → sorted
        doc_ids whose ``to_field`` matches a from-value of the
        subquery's match set. ScoreMode.None (the Solr default) — a
        membership transform, no scores."""
        return sorted(
            self._join_to_docs(
                self._join_from_values(query, from_field, mode=mode, fq=fq),
                to_field,
            )
        )

    def json_facet_partials(
        self, query: str, spec: dict, mode: str = "or", fq: str | None = None
    ):
        """This shard's mergeable json-facet partials for one request
        (single scatter unit for ``jsonfacet.json_facet_sharded``)."""
        from golr_loader_spark.plans.jsonfacet import local_facet_partials

        return local_facet_partials(self, query, spec, mode=mode, fq=fq)

    def facet_counts(
        self,
        query: str,
        mode: str = "or",
        top: int = 10,
        min_count: int = 1,
        values: dict[str, list[str]] | None = None,
    ) -> dict[str, list[tuple[str, int]]]:
        """Solr-style facets for one query → {facet: [(value, n), …]}
        ordered (n desc, value asc), n ≥ min_count, ≤ top per facet.
        Same counts as the distributed plans.facets.facet_counts.

        ``values``: refinement mode (Solr's distributed facet phase 2,
        FacetComponent.REFINE_PARAM analog) — {facet: [candidate
        values]}; returns exact counts for exactly those candidates
        (zero-count candidates omitted), ignoring ``top``."""
        import numpy as _np

        loaded = self._load_facets()
        if loaded is False:
            raise FileNotFoundError(f"{self._root}/facets not written")
        f_ids, f_facets, f_values = loaded
        matched = self.matching_ids(query, mode=mode)
        out: dict[str, list[tuple[str, int]]] = {}
        if not len(matched):
            return out
        # sorted-array membership: facet doc_ids are pre-sorted on disk
        pos = _np.searchsorted(matched, f_ids)
        pos[pos >= len(matched)] = 0
        hit = matched[pos] == f_ids
        pairs = pd.DataFrame({"facet": f_facets[hit], "value": f_values[hit]})
        counts = pairs.groupby(["facet", "value"], sort=False).size()
        if values is not None:
            for facet, cands in values.items():
                want = set(cands)
                got = [
                    (v, int(n))
                    for (f, v), n in counts.items()
                    if f == facet and v in want
                ]
                if got:
                    out[str(facet)] = sorted(got, key=lambda x: (-x[1], x[0]))
            return out
        for facet, grp in counts.groupby(level=0):
            vals = sorted(
                ((int(n), v) for (_f, v), n in grp.items() if n >= min_count),
                key=lambda x: (-x[0], x[1]),
            )[:top]
            out[str(facet)] = [(v, n) for n, v in vals]
        return out


    def pivot_facet_counts(
        self,
        query: str,
        outer: str,
        inner: str,
        mode: str = "or",
        top_outer: int = 10,
        top_inner: int = 5,
        min_count: int = 1,
        outer_values: list[str] | None = None,
    ) -> list[tuple[str, int, int, str, int, int]]:
        """Serving-path pivot facets (twin of
        ``facets.pivot_facet_counts``): two-level drill-down counts
        from the preloaded facet table → [(outer_value, outer_n,
        outer_rank, inner_value, inner_n, inner_rank)], both levels
        ranked (count desc, value asc), same ordering as the
        distributed path.

        ``outer_values``: refinement mode for the sharded
        coordinator's phase 2 — restrict to exactly those outer
        values and return their COMPLETE inner counts (top limits
        ignored); ranks are within the restriction."""
        import numpy as _np

        loaded = self._load_facets()
        if loaded is False:
            raise FileNotFoundError(f"{self._root}/facets not written")
        f_ids, f_facets, f_values = loaded
        matched = self.matching_ids(query, mode=mode)
        if not len(matched):
            return []
        pos = _np.searchsorted(matched, f_ids)
        pos[pos >= len(matched)] = 0
        hit = matched[pos] == f_ids
        sel = pd.DataFrame(
            {"doc_id": f_ids[hit], "facet": f_facets[hit], "value": f_values[hit]}
        )
        o = sel[sel["facet"] == outer][["doc_id", "value"]].rename(
            columns={"value": "outer_value"}
        )
        i = sel[sel["facet"] == inner][["doc_id", "value"]].rename(
            columns={"value": "inner_value"}
        )
        merged = o.merge(i, on="doc_id")
        if not len(merged):
            return []
        counts = (
            merged.groupby(["outer_value", "inner_value"], sort=False)
            .size()
            .reset_index(name="inner_n")
        )
        if outer_values is not None:
            counts = counts[counts["outer_value"].isin(set(outer_values))]
            top_outer = top_inner = len(counts) + 1
        counts = counts[counts["inner_n"] >= min_count]
        outer_n = counts.groupby("outer_value")["inner_n"].sum()
        heads = sorted(
            ((int(n), v) for v, n in outer_n.items()), key=lambda x: (-x[0], x[1])
        )[:top_outer]
        out: list[tuple[str, int, int, str, int, int]] = []
        for orank, (on, ov) in enumerate(heads, 1):
            grp = counts[counts["outer_value"] == ov]
            inner_sorted = sorted(
                ((int(r.inner_n), r.inner_value) for r in grp.itertuples()),
                key=lambda x: (-x[0], x[1]),
            )[:top_inner]
            for irank, (inn, iv) in enumerate(inner_sorted, 1):
                out.append((str(ov), on, orank, str(iv), inn, irank))
        return out

    def range_facet_counts(
        self,
        query: str,
        field: str,
        width: float,
        mode: str = "or",
        min_count: int = 1,
    ) -> list[tuple[float, int]]:
        """Serving-path range facets (twin of
        ``facets.range_facet_counts``): histogram of a STORED numeric
        field over the match set → [(lo, n)] ordered by lo, where
        lo = floor(value / width) · width."""
        import math

        ids = {int(d) for d in self.matching_ids(query, mode)}
        if not ids:
            return []
        stored = self.fetch(sorted(ids), [field])
        bins: dict[float, int] = {}
        for v in stored.values():
            x = v.get(field)
            if x is None:
                continue
            lo = math.floor(float(x) / width) * width
            bins[lo] = bins.get(lo, 0) + 1
        return sorted((lo, n) for lo, n in bins.items() if n >= min_count)

    def facet_query_counts(
        self,
        query: str,
        facet_queries: dict[str, str],
        mode: str = "or",
        fq: str | None = None,
    ) -> list[tuple[str, int]]:
        """Solr ``facet.query`` (twin of
        ``facets.facet_query_counts``): count of q(+fq)-matching docs
        also matching each requested subquery → [(label, n)] ordered
        by label, zero counts included. Subqueries run through the
        same non-scoring local filter executor as fq
        (``_fq_ids_local``), so boolean/phrase/wildcard facet queries
        all work."""
        m = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            m &= self._fq_ids_local(fq)
        return [
            (label, len(m & self._fq_ids_local(facet_queries[label])))
            for label in sorted(facet_queries)
        ]

    def interval_facet_counts(
        self,
        query: str,
        field: str,
        intervals: list[str],
        mode: str = "or",
        fq: str | None = None,
    ) -> list[tuple[int, str, int]]:
        """Solr interval facets (twin of
        ``facets.interval_facet_counts``): [(pos, interval, n)] in
        request order, zero counts included, overlapping intervals
        each counting the doc — one pass over the matched docs'
        stored values."""
        from golr_loader_spark.plans.facets import parse_interval

        m = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            m &= self._fq_ids_local(fq)
        parsed = [parse_interval(s) for s in intervals]
        counts = [0] * len(intervals)
        if m:
            stored = self.fetch(sorted(m), [field])
            for v in stored.values():
                x = v.get(field)
                if x is None:
                    continue
                x = float(x)
                for i, (lo, hi, li, hi_incl) in enumerate(parsed):
                    if lo is not None and (x < lo if li else x <= lo):
                        continue
                    if hi is not None and (x > hi if hi_incl else x >= hi):
                        continue
                    counts[i] += 1
        return [(i + 1, s, counts[i]) for i, s in enumerate(intervals)]

    def _geo_dists(
        self, query: str, pt: tuple[float, float], mode: str, fq: str | None,
        lat_field: str = "lat", lon_field: str = "lon",
    ) -> list[tuple[float, int]]:
        """(rounded dist_km, doc_id) for every matching doc with a
        stored location — shared by the geofilt/geodist twins."""
        import math

        from golr_loader_spark.plans.spatial import EARTH_RADIUS_KM

        m = {int(d) for d in self.matching_ids(query, mode)}
        if fq is not None:
            m &= self._fq_ids_local(fq)
        if not m:
            return []
        stored = self.fetch(sorted(m), [lat_field, lon_field])
        rl1, rlo1 = math.radians(pt[0]), math.radians(pt[1])
        out = []
        for did, v in stored.items():
            lat, lon = v.get(lat_field), v.get(lon_field)
            if lat is None or lon is None:
                continue
            rl2 = math.radians(float(lat))
            a = (
                math.sin((rl2 - rl1) / 2.0) ** 2
                + math.cos(rl1)
                * math.cos(rl2)
                * math.sin((math.radians(float(lon)) - rlo1) / 2.0) ** 2
            )
            out.append(
                (round(2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(a)), 4), did)
            )
        return out

    def geofilt(
        self,
        query: str,
        pt: tuple[float, float],
        d_km: float,
        mode: str = "or",
        fq: str | None = None,
    ) -> list[tuple[int, float]]:
        """Solr {!geofilt} (twin of ``spatial.geofilt``): matching
        docs within d km great-circle of pt → [(doc_id, dist_km)]
        ordered (dist asc, doc_id asc), round-to-4-then-threshold."""
        return [
            (did, d)
            for d, did in sorted(self._geo_dists(query, pt, mode, fq))
            if d <= d_km
        ]

    def geodist_topk(
        self,
        query: str,
        pt: tuple[float, float],
        k: int = 10,
        mode: str = "or",
        fq: str | None = None,
    ) -> list[tuple[int, int, float]]:
        """Solr sort=geodist() asc + rows=k (twin of
        ``spatial.geodist_topk``) → [(rank, doc_id, dist_km)]."""
        ranked = sorted(self._geo_dists(query, pt, mode, fq))[:k]
        return [(i + 1, did, d) for i, (d, did) in enumerate(ranked)]

    def grouped_topk(
        self,
        facet: str,
        query: str,
        docs_per_group: int = 2,
        k_groups: int = 10,
        mode: str = "or",
        round_scores: int | None = None,
    ) -> list[tuple[int, str, int, int, float]]:
        """Serving-path field collapsing (twin of
        ``facets.grouped_topk``): BM25-score the full match set, keep
        the top ``docs_per_group`` per facet value, return the top
        ``k_groups`` groups ordered by their best doc → [(group_rank,
        value, rank, doc_id, score)] in (group_rank, rank) order."""
        loaded = self._load_facets()
        if loaded is False:
            raise FileNotFoundError(f"{self._root}/facets not written")
        f_ids, f_facets, f_values = loaded
        scored = self.search(query, k=self.n_docs)
        if mode == "and":
            # conjunctive match set gates the scored rows
            keep = {int(d) for d in self.matching_ids(query, mode="and")}
            scored = [(d, s) for d, s in scored if d in keep]
        if not scored:
            return []
        if round_scores is not None:
            scored = [(d, round(s, round_scores)) for d, s in scored]
        smap = dict(scored)
        mask = f_facets == facet
        fid, fval = f_ids[mask], f_values[mask]
        per_value: dict[str, list[tuple[float, int]]] = {}
        for d, v in zip(fid, fval):
            s = smap.get(int(d))
            if s is not None:
                per_value.setdefault(str(v), []).append((s, int(d)))
        ranked: dict[str, list[tuple[int, float]]] = {}
        heads: list[tuple[float, int, str]] = []
        for v, lst in per_value.items():
            lst.sort(key=lambda x: (-x[0], x[1]))
            ranked[v] = [(d, s) for s, d in lst[:docs_per_group]]
            best_s, best_d = lst[0]
            heads.append((best_s, best_d, v))
        heads.sort(key=lambda x: (-x[0], x[2]))
        out: list[tuple[int, str, int, int, float]] = []
        for grank, (_s, _d, v) in enumerate(heads[:k_groups], 1):
            for r, (d, s) in enumerate(ranked[v], 1):
                out.append((grank, v, r, d, float(s)))
        return out

    # ------------------------------------------------- stored fields

    def fetch(self, doc_ids: list[int], fields: list[str] | None = None) -> dict[int, dict]:
        """Point-fetch stored fields for a hit page (Solr fl=...):
        {root}/stored is doc_id-range-partitioned and in-file sorted,
        so the predicate prunes to a few row groups — a page of k hits
        costs O(k) row-group reads, not a scan."""
        import glob as _glob
        import os as _os

        if not _os.path.isdir(f"{self._root}/stored"):
            raise FileNotFoundError(f"{self._root}/stored not written")
        # upserted roots mix base files (no _seg column) and appended
        # segment files (_seg = segment number): unify the schemas so
        # base rows read _seg = null, then resolve each doc to its
        # LATEST segment — Lucene's per-segment stored fields
        files = sorted(_glob.glob(f"{self._root}/stored/*.parquet"))
        schema = pa.unify_schemas([pq.read_schema(f) for f in files])
        ds = pads.dataset(files, format="parquet", schema=schema)
        has_seg = "_seg" in schema.names
        want = fields or [
            c for c in schema.names if c not in ("doc_id", "_seg")
        ]
        cols = ["doc_id"] + list(want) + (["_seg"] if has_seg else [])
        tbl = ds.to_table(filter=pc.field("doc_id").isin(doc_ids), columns=cols)
        rows = tbl.to_pylist()
        if has_seg:
            best: dict[int, tuple[int, dict]] = {}
            for r in rows:
                d = int(r["doc_id"])
                seg = r["_seg"] if r["_seg"] is not None else 0
                if d not in best or seg > best[d][0]:
                    best[d] = (seg, r)
            rows = [r for _s, r in best.values()]
        return {
            int(r["doc_id"]): {c: r[c] for c in want} for r in rows
        }

    def vector_topk(
        self, qvec, k: int = 10, exclude_id: int | None = None
    ) -> list[tuple[int, int, float]]:
        """Serving-path exact cosine top-k over the root's persisted
        vectors table (``plans.vectors.write_vectors``) →
        [(vec_id, rank, cos_sim)]; the serving twin of
        ``similarity.cosine_topk`` (same round-before-rank + id
        tie-break discipline). Lazy-loads the vector matrix once per
        searcher lifetime."""
        if getattr(self, "_vectors", None) is None:
            from golr_loader_spark.plans.vectors import VectorReader

            self._vectors = VectorReader(self._root)
        return self._vectors.topk(qvec, k, exclude_id=exclude_id)

    def hybrid_rrf(
        self,
        q: str,
        qvec,
        k_arms: int = 50,
        top: int = 10,
        k_rrf: int = 60,
        exclude_id: int | None = None,
    ) -> list[tuple]:
        """Hybrid lexical+vector retrieval on the serving path: the
        BM25 top-``k_arms`` for ``q`` fused with the cosine
        top-``k_arms`` around ``qvec`` by Reciprocal Rank Fusion —
        the serving twin of q45's distributed kernel
        (``similarity.rrf_fuse``): score = Σ 1/(k_rrf+rank) over the
        arms that ranked the id, top by (score desc, id asc).
        Returns [(doc_id, lex_rank, vec_rank, rrf_score)]."""
        from golr_loader_spark.plans.vectors import rrf_fuse_lists

        lex = [d for d, _s in self.search(q, k=k_arms)]
        vec = [
            i for i, _r, _c in self.vector_topk(
                qvec, k=k_arms, exclude_id=exclude_id
            )
        ]
        return rrf_fuse_lists([lex, vec], k=k_rrf, top=top)

    def get(self, doc_id: int, fields: list[str] | None = None):
        """Solr real-time get (/get): one doc's stored fields by id, or
        None when the doc is deleted (tombstone-masked — a plain fetch
        serves hit pages and does not consult liveDocs) or unknown.
        With segment upserts the latest version is returned
        (fetch's latest-segment resolution)."""
        d = int(doc_id)
        if self.tombstones is not None:
            import numpy as _np

            from golr_loader_spark.plans.tombstones import DEAD_EVERYWHERE

            t_ids, t_db = self.tombstones
            i = int(_np.searchsorted(t_ids, d))
            if i < len(t_ids) and t_ids[i] == d and t_db[i] == DEAD_EVERYWHERE:
                # dead in every segment → gone; segment-scoped
                # tombstones only mask OLD copies, the newest stays
                return None
        out = self.fetch([d], fields)
        return out.get(d)

    def search_fetch(
        self,
        query: str,
        k: int = 10,
        mode: str = "or",
        fields: list[str] | None = None,
        highlight_field: str | None = None,
        frag_size: int = 80,
        n_snippets: int = 1,
    ) -> list[dict]:
        """search + stored-field retrieval (+ optional highlighting) —
        the full Solr response shape: [{doc_id, score, <fields>,
        [highlight]}]."""
        hits = self.search(query, k=k, mode=mode)
        if not hits:
            return []
        stored = self.fetch(
            [d for d, _s in hits],
            list({*(fields or []), *( [highlight_field] if highlight_field else [] )}) or None,
        )
        terms = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        out = []
        for doc_id, score in hits:
            row = {"doc_id": doc_id, "score": score}
            row.update(stored.get(doc_id, {}))
            if highlight_field and highlight_field in row and row[highlight_field]:
                row["highlight"] = highlight(
                    str(row[highlight_field]), terms, frag_size=frag_size
                )
                if n_snippets > 1:
                    # Solr hl.snippets: extra non-overlapping fragments
                    row["highlights"] = highlight_snippets(
                        str(row[highlight_field]), terms,
                        n_snippets=n_snippets, frag_size=frag_size,
                    )
            out.append(row)
        return out


def highlight_field_col(
    text_col: str,
    terms: list[str],
    pre: str = "<em>",
    post: str = "</em>",
):
    """Distributed whole-field highlighting (Solr ``hl.fragsize=0``:
    the entire field content with every matching token marked) as ONE
    Catalyst expression — transform over the token split, token-exact
    lowercased match like the simple analyzer, zero Python in the hot
    path. Use this to highlight a full match SET; the driver-side
    ``highlight``/``highlight_snippets`` fragmenters below serve the
    bounded top-k path. (Import is local: this module otherwise stays
    JVM-free for forked shard workers.)"""
    from pyspark.sql import functions as F

    tarr = F.array(*[F.lit(t) for t in terms])
    return F.array_join(
        F.transform(
            F.split(F.col(text_col), " "),
            lambda t: F.when(
                F.array_contains(tarr, F.lower(t)),
                F.concat(F.lit(pre), t, F.lit(post)),
            ).otherwise(t),
        ),
        " ",
    )


def highlight(text: str, terms: list[str], frag_size: int = 80, pre: str = "<em>", post: str = "</em>") -> str:
    """Solr-style highlighter for whitespace-token text: the best
    fragment of ~frag_size chars centered on the densest run of query
    terms, with each matching token wrapped in <em></em>. Token-exact
    (a term matches a whole lowercased token, mirroring the simple
    analyzer), no regex on user input."""
    toks = text.split(" ")
    low = [t.lower() for t in toks]
    tset = set(terms)
    match = [i for i, t in enumerate(low) if t in tset]
    if not match:
        return text[:frag_size]
    # densest window: most matches within a frag_size-char span,
    # earliest span wins ties
    starts = [0]
    for t in toks[:-1]:
        starts.append(starts[-1] + len(t) + 1)
    best_i, best_n = 0, 0
    for i in match:
        n = sum(1 for j in match if 0 <= starts[j] - starts[i] <= frag_size)
        if n > best_n:
            best_i, best_n = i, n
    lo = best_i
    hi = best_i
    while hi + 1 < len(toks) and starts[hi + 1] - starts[lo] <= frag_size:
        hi += 1
    frag = [
        (pre + toks[i] + post) if low[i] in tset else toks[i]
        for i in range(lo, hi + 1)
    ]
    prefix = "…" if lo > 0 else ""
    suffix = "…" if hi + 1 < len(toks) else ""
    return prefix + " ".join(frag) + suffix


def highlight_snippets(
    text: str,
    terms: list[str],
    n_snippets: int = 3,
    frag_size: int = 80,
    pre: str = "<em>",
    post: str = "</em>",
) -> list[str]:
    """Solr hl.snippets > 1: up to ``n_snippets`` NON-OVERLAPPING
    fragments ranked by match density (ties: earliest), each built
    like ``highlight``'s single best fragment. Returns [] when no
    term matches (Solr omits the doc from the highlighting section)."""
    toks = text.split(" ")
    low = [t.lower() for t in toks]
    tset = set(terms)
    match = [i for i, t in enumerate(low) if t in tset]
    if not match:
        return []
    starts = [0]
    for t in toks[:-1]:
        starts.append(starts[-1] + len(t) + 1)

    def window(i):
        lo = hi = i
        while hi + 1 < len(toks) and starts[hi + 1] - starts[lo] <= frag_size:
            hi += 1
        return lo, hi

    cands = []
    for i in match:
        n = sum(1 for j in match if 0 <= starts[j] - starts[i] <= frag_size)
        cands.append((-n, i))
    cands.sort()
    taken: list[tuple[int, int]] = []
    out: list[str] = []
    for _negn, i in cands:
        lo, hi = window(i)
        if any(not (hi < a or lo > b) for a, b in taken):
            continue  # overlaps an already-emitted fragment
        taken.append((lo, hi))
        frag = [
            (pre + toks[k] + post) if low[k] in tset else toks[k]
            for k in range(lo, hi + 1)
        ]
        prefix = "…" if lo > 0 else ""
        suffix = "…" if hi + 1 < len(toks) else ""
        out.append(prefix + " ".join(frag) + suffix)
        if len(out) == n_snippets:
            break
    return out


def p95_latency_ms(searcher: LocalSearcher, queries: list[str], k: int = 10) -> float:
    """Measure per-query serving latency (for BENCH reporting)."""
    import time

    lat = []
    for q in queries:
        t0 = time.perf_counter()
        searcher.search(q, k)
        lat.append((time.perf_counter() - t0) * 1000)
    lat.sort()
    return lat[max(0, math.ceil(len(lat) * 0.95) - 1)]
