"""eDisMax query surface (Solr ``defType=edismax`` analog).

This is the query shape production Solr front ends — including the
golr UIs that consume the cores the reference loads (the Solr sink at
GolrLoader.java:498-515) — actually send: a free-text user query
scored per-field with ``qf`` boosts, each query word a
DisjunctionMaxQuery across the qf fields, plus the ``tie`` breaker
and ``mm`` (minimum-should-match).

Semantics implemented (the classic dismax core of edismax):

* the user query splits on whitespace into WORDS; each word is
  analyzed per field with that field's analyzer (a code-analyzer
  field may expand one word to several index terms — they all score
  for that (word, field));
* per (word, field): ``s_f = Σ_subterms boost_cfg(f) · qf(f) ·
  idf(t,f) · (k1+1) · tf / (tf + k1·(1−b+b·dl/avgdl_f))`` — the
  engine's standard BM25 contribution with the qf boost multiplied
  into the field weight;
* per word: ``score_w = max_f s_f + tie · (Σ_f s_f − max_f s_f)``,
  the max over the fields the doc matches the word in — Lucene
  DisjunctionMaxQuery with tiebreak multiplier. ``tie=0`` is
  pure max (classic dismax); ``tie=1`` degrades to the plain sum
  (equivalent to the boolean scorer);
* a doc MATCHES word w when any qf field contains any of its
  subterms; the doc survives when it matches ≥ ``mm`` words
  (``parse_mm`` handles the common Solr mm subset: absolute int,
  negative int, ``'N%'``, ``'-N%'``; percentages floor like Solr).
  ``mm=0`` ≡ q.op=OR, ``mm='100%'`` ≡ q.op=AND;
* doc score = Σ score_w over matched words, accumulated in query
  word order; ranking (score desc, doc_id asc) as everywhere;
* ``pf``/``pf2``/``pf3`` (+ ``ps``/``ps2``/``ps3``) — Solr phrase
  boosting over a POSITIONAL index: the whole query / every
  consecutive word pair / triple runs as a sloppy PhraseQuery per
  boost field, each clause's score added to docs the main query
  already matches (the main query is the MUST clause of the boosted
  BooleanQuery, so phrase clauses never change the match set — see
  ``pf_clause_list``). With boosts active the main query is scored
  UNTRUNCATED before the combine, the same invariant as ``fq`` and
  ``bf`` (a phrase-matching doc ranked below k pre-boost must be
  able to rise into the page).

Execution is one planner, one core and two thin executors. ``_plan``
makes every decision a clause list implies — dismax runs it over the
whitespace words as SHOULD terms, edismax over ``lucene.parse_lucene``
— and records it in a ``_Plan``: Term/Phrase classification and the
unsupported-node error, the qf/explicit-field override, word analysis
with single-word query synonyms, MUST/SHOULD/MUST_NOT words, per-word
boosts, ``mm_count``, weights, the prohibited (term, field) set, and
the phrase steps: phrase clauses positives first, joined by the rule
``lucene._plan`` uses (``lucene._Joins``), then each pf/pf2/pf3
clause as a left-outer phrase step.

``_dismax_bucket_factory`` is the scoring core, pandas-free over
``bm25._decode_lists`` output (``score_group.lists``) behind an
applyInPandas face. It drops MUST_NOT members itself, like
``bm25._score_lists``, so it truncates to k whenever no step follows;
a final anti-join runs only when a join admitted docs the scorer never
saw (``_Plan.vet``). The Spark executor (``_run``) is one pruned scan
of the read terms' posting blocks, one ``groupBy(bucket)`` exchange,
the core per bucket, ``phrase_search_positional`` per phrase step and
field, and DataFrame joins (``lucene._join``); the dismax max/tie
combination is a per-word reduction over per-field contribution arrays
— no extra shuffle, no corpus read. Block-max pruning is NOT applied
(the max-per-word score of a doc is not bounded by any single list's
block max once tie > 0 and mm gates matter); dismax queries are short
(2-5 words × 2-3 qf fields), so the unpruned union decode is the
WAND-disabled cost ``bm25.search(mode="and")`` already pays.
``LocalSearcher._run_dismax`` applies the same plan with the core run
once over the cached whole-index ``_bm25_lists``, ``search_phrase``
and dict joins (``serve._join_scores``) — no pandas object, so the two
faces agree by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.bm25 import (
    _avgdl,
    _decode_lists,
    _idf_table,
    _norm_excl,
)
from golr_loader_spark.plans.build_index import InvertedIndex, block_scan


def parse_qf(qf) -> dict[str, float]:
    """Solr ``qf`` → {field: boost}. Accepts a dict (passed through)
    or the Solr string form ``"title^2 body"`` (no ^ → boost 1.0)."""
    if isinstance(qf, dict):
        return {f: float(b) for f, b in qf.items()}
    out: dict[str, float] = {}
    for part in str(qf).split():
        f, _, b = part.partition("^")
        out[f] = float(b) if b else 1.0
    if not out:
        raise ValueError("empty qf")
    return out


def parse_mm(mm, n_clauses: int) -> int:
    """Solr minimum-should-match (common subset) → required count.

    ``3`` → 3; ``-2`` → n−2; ``'75%'`` → floor(n·0.75) (Solr rounds
    percentages DOWN); ``'-25%'`` → n − floor(n·0.25). Clamped to
    [0, n]. (Solr's conditional ``'2<75%'`` clauses are not
    supported — ValueError.)"""
    if isinstance(mm, str):
        s = mm.strip()
        if "<" in s:
            raise ValueError(
                "conditional mm specs ('2<75%') are not supported"
            )
        neg = s.startswith("-")
        if neg:
            s = s[1:]
        if s.endswith("%"):
            v = (n_clauses * int(s[:-1])) // 100
        else:
            v = int(s)
        v = n_clauses - v if neg else v
    else:
        v = int(mm)
        if v < 0:
            v = n_clauses + v
    return max(0, min(v, n_clauses))


def _word_synonyms(word: str, cfg: IndexConfig) -> list[str]:
    """Single-word query-time synonym targets for one dismax word
    clause (Lucene SynonymQuery analog: the alternatives extend the
    word's own term list, so the clause matches and scores on any of
    them). Multi-word rules need the graph-query path — use
    ``search_lucene``, whose expand_synonyms handles phrases."""
    if not cfg.query_synonyms:
        return []
    from golr_loader_spark.plans.lucene import synonym_rules

    lw = word.lower()
    out: list[str] = []
    for src, targets in synonym_rules(cfg.query_synonyms):
        if len(src) == 1 and src[0] == lw:
            out.extend(t for t in targets if " " not in t)
    return out


def _analyzed_with_synonyms(
    word: str, analyzer: str, cfg: IndexConfig
) -> list[str]:
    """analyze_query(word) plus the analyzed forms of its single-word
    query synonyms, deduped in first-seen order."""
    terms = list(analyze_query(word, analyzer, cfg.chain))
    for syn in _word_synonyms(word, cfg):
        for t in analyze_query(syn, analyzer, cfg.chain):
            if t not in terms:
                terms.append(t)
    return terms


def pf_clause_list(
    words: list[str],
    pf=None,
    pf2=None,
    pf3=None,
    ps: int = 0,
    ps2=None,
    ps3=None,
    cfg: IndexConfig | None = None,
) -> list[tuple[str, str, float, int]]:
    """The Solr edismax phrase-boost clause list: ``(phrase_text,
    field, boost, slop)`` per SHOULD clause the boosted BooleanQuery
    would carry (Solr ExtendedDismaxQParser.addShingledPhraseQueries):

    * ``pf``  — the WHOLE word sequence as one phrase per pf field
      (added only when ≥2 words — a 1-word phrase boosts nothing);
    * ``pf2`` — every consecutive word PAIR per pf2 field (≥2 words);
    * ``pf3`` — every consecutive word TRIPLE per pf3 field (≥3);
    * slops: ``ps`` for pf; ``ps2``/``ps3`` default to ``ps`` when
      unset, like Solr.

    Boosts sum across clauses (each is an independent SHOULD clause);
    the main query is MUST in that BooleanQuery, so phrase clauses are
    purely score-additive — they can never admit a doc the main query
    rejected. Both search paths enforce that with a left-outer
    combine."""
    ps2 = ps if ps2 is None else ps2
    ps3 = ps if ps3 is None else ps3
    out: list[tuple[str, str, float, int]] = []
    for fmap, width, slop in (
        (pf, 0, ps),
        (pf2, 2, ps2),
        (pf3, 3, ps3),
    ):
        if not fmap:
            continue
        m = parse_qf(fmap)
        if cfg is not None:
            for f in m:
                if f not in cfg.fields:
                    raise ValueError(
                        f"pf field {f!r} not in config ({list(cfg.fields)})"
                    )
        if width == 0:  # whole-query phrase
            if len(words) < 2:
                continue
            subs = [" ".join(words)]
        else:
            if len(words) < width:
                continue
            subs = [
                " ".join(words[i : i + width])
                for i in range(len(words) - width + 1)
            ]
        for f, b in m.items():
            for s in subs:
                out.append((s, f, float(b), int(slop)))
    return out


@dataclass
class _Plan:
    """An eDisMax clause list planned against one index.

    * ``words`` — one {qf field: analyzed terms} per scoring word, in
      query order; ``required`` — its MUST flag; ``boosts`` — its
      clause boost; ``mm_count`` — how many OPTIONAL words must match;
    * ``weights`` — (term, field) → qf·cfg-boost·idf·(k1+1);
    * ``prohibited`` — MUST_NOT (term, field) pairs, dropped inside
      the scorer;
    * ``steps`` — (occur, Phrase, {field: qf boost}, how) per phrase
      clause, positives first, joined by ``lucene._Joins``, then one
      left-outer step per pf/pf2/pf3 clause;
    * ``none`` — nothing can match; ``vet`` — a join admitted docs the
      scorer never checked against ``prohibited``."""

    tie: float
    words: list = field(default_factory=list)
    required: list = field(default_factory=list)
    boosts: list = field(default_factory=list)
    mm_count: int = 0
    weights: dict = field(default_factory=dict)
    prohibited: set = field(default_factory=set)
    steps: list = field(default_factory=list)
    none: bool = True
    vet: bool = False

    @property
    def read(self) -> list[str]:
        """The terms the scorer reads: weighted and prohibited."""
        return sorted({t for t, _f in self.weights} | {t for t, _f in self.prohibited})

    def scorer_k(self, k: int, n_docs: int) -> int:
        """The scorer may truncate to ``k`` only when no step follows."""
        return k if not self.steps else n_docs


def _plan(
    query: str, edismax: bool, qf, cfg: IndexConfig, idf, tie, mm, pfs,
) -> _Plan:
    """Plan a dismax (the whitespace words as SHOULD terms) or edismax
    (``lucene.parse_lucene``) query for every face. ``idf(terms)`` →
    {(term, field): idf}; ``pfs`` = (pf, pf2, pf3, ps, ps2, ps3)."""
    from golr_loader_spark.plans.lucene import (
        MUST,
        MUST_NOT,
        SHOULD,
        Phrase,
        Term,
        _Joins,
        parse_lucene,
    )

    qf_map = parse_qf(qf)
    for f in qf_map:
        if f not in cfg.fields:
            raise ValueError(f"qf field {f!r} not in config ({list(cfg.fields)})")
    clauses = (
        parse_lucene(query) if edismax
        else [(SHOULD, Term(w)) for w in query.split()]
    )
    p = _Plan(float(tie))
    phrases: list = []
    pf_words: list[str] = []  # bare non-negative words, clause order
    for occur, node in clauses:
        if not isinstance(node, (Term, Phrase)):
            raise ValueError(
                f"edismax supports term and phrase clauses only, got "
                f"{type(node).__name__} — use search_lucene"
            )
        if node.field and node.field not in cfg.fields:
            raise ValueError(f"unknown field {node.field!r}")
        if isinstance(node, Phrase):
            phrases.append((occur, node))
            continue
        if occur != MUST_NOT and not node.field:
            # Solr's pf shingling runs over the user's query words
            # minus operators, MUST_NOT clauses, and explicit-field
            # clauses (ExtendedDismaxQParser getQueryStringFromParser)
            pf_words.append(node.text)
        # explicit field: overrides qf (Solr); else dismax across qf
        per_field: dict[str, list[str]] = {}
        for f in [node.field] if node.field else qf_map:
            terms = _analyzed_with_synonyms(node.text, cfg.fields[f][0], cfg)
            if terms:
                per_field[f] = terms
        if occur == MUST_NOT:
            p.prohibited |= {(t, f) for f, ts in per_field.items() for t in ts}
        elif per_field:
            p.words.append(per_field)
            p.required.append(occur == MUST)
            p.boosts.append(float(node.boost))
        elif occur == MUST:
            return p  # a required word that analyzes to nothing
    if not p.words and not phrases:
        return p
    boost_clauses = pf_clause_list(pf_words, *pfs, cfg=cfg)
    p.mm_count = parse_mm(mm, p.required.count(False))
    terms = sorted({t for w in p.words for ts in w.values() for t in ts})
    idfs = idf(terms) if terms else {}
    # an explicit field scores under its qf boost, defaulting to 1.0
    for w in p.words:
        for f, ts in w.items():
            for t in ts:
                i = idfs.get((t, f))
                if i is not None:
                    p.weights[(t, f)] = (
                        cfg.fields[f][1] * qf_map.get(f, 1.0) * i * (cfg.k1 + 1.0)
                    )
    if any(
        req and not any((t, f) in p.weights for f, ts in w.items() for t in ts)
        for w, req in zip(p.words, p.required)
    ):
        return p  # a required word with no indexed term
    joins = _Joins(bool(p.weights), any(p.required))
    for occur, ph in joins.order(phrases):
        # the phrase runs per field, dismax-combined across them
        fields = [ph.field] if ph.field else sorted(qf_map)
        p.steps.append(
            (occur, ph, {f: qf_map.get(f, 1.0) for f in fields}, joins.how(occur))
        )
    # the main query is the MUST clause of Solr's boosted BooleanQuery:
    # a phrase boost adds to its docs and never admits one
    p.steps += [
        (SHOULD, Phrase(text, slop, f, b), {f: 1.0}, "left_outer")
        for text, f, b, slop in boost_clauses
    ]
    p.none = not joins.has_base
    p.vet = bool(p.prohibited) and joins.vet
    return p


def _dismax_bucket_factory(
    plan: _Plan, avgdl_by_field: dict[str, float], cfg: IndexConfig, k: int,
    excl,
):
    """The dismax scoring core: ``score_group.lists(decoded)`` over
    ``bm25._decode_lists`` output (any set of buckets — serving runs it
    once over whole-index lists) → top-k (doc_ids, scores), unsorted
    when nothing truncates; ``score_group(pdf)`` is its applyInPandas
    face (``phrase._pandas_face``). Exact per doc, since a doc's
    postings never leave its bucket.

    Per word (query order), per field (sorted), the word's terms' BM25
    contributions (sorted term order) sum to ``s_f``; the word scores
    ``boost · (max + tie·(Σ − max))`` over the fields the doc matches.
    A doc survives when it matches every required word and ``mm_count``
    optional ones (≥ 1 when no word is required), and holds no
    prohibited (term, field) — so the core may truncate to ``k``.
    ``excl`` is ``bm25._norm_excl``-normalized."""
    from golr_loader_spark.plans.bm25 import _EMPTY, _topk_by_score
    from golr_loader_spark.plans.phrase import _pandas_face

    k1, b = cfg.k1, cfg.b
    gated = any(plan.required)

    def lists(decoded: dict) -> tuple[np.ndarray, np.ndarray]:
        contrib = {}
        for (t, f), (ids, tfs, dls, *_bounds) in decoded.items():
            wt = plan.weights.get((t, f))
            if wt is not None:
                avg = avgdl_by_field[f]
                contrib[(t, f)] = (
                    ids, wt * tfs / (tfs + k1 * ((1.0 - b) + b * dls / avg))
                )
        if not contrib:
            return _EMPTY
        uniq = np.unique(np.concatenate([ids for ids, _c in contrib.values()]))
        n = len(uniq)
        score = np.zeros(n, dtype=np.float64)
        n_opt = np.zeros(n, dtype=np.int32)
        req_ok = np.ones(n, dtype=bool)
        any_match = np.zeros(n, dtype=bool)
        for per_field, req, boost in zip(plan.words, plan.required, plan.boosts):
            matched = np.zeros(n, dtype=bool)
            mx = np.zeros(n, dtype=np.float64)
            total = np.zeros(n, dtype=np.float64)
            for f in sorted(per_field):
                arr = np.zeros(n, dtype=np.float64)
                hit = np.zeros(n, dtype=bool)
                for t in sorted(per_field[f]):
                    got = contrib.get((t, f))
                    if got is not None:
                        idx = np.searchsorted(uniq, got[0])
                        arr[idx] += got[1]
                        hit[idx] = True
                # the max runs over the fields the doc matches
                mx = np.where(hit & (~matched | (arr > mx)), arr, mx)
                total += arr
                matched |= hit
            if req:
                req_ok &= matched
            if not matched.any():
                continue
            word = mx + plan.tie * (total - mx) if plan.tie else mx
            score += np.where(matched, word * boost, 0.0)
            any_match |= matched
            if not req:
                n_opt += matched
        if gated:
            ok = req_ok & any_match & (n_opt >= plan.mm_count)
        else:
            ok = n_opt >= max(plan.mm_count, 1)
        neg = [
            lst[0] for key, lst in decoded.items() if key in plan.prohibited
        ]
        if neg:
            ok &= ~np.isin(uniq, np.concatenate(neg))
        return _topk_by_score(uniq[ok], score[ok], k)

    return _pandas_face(lists, excl, _decode_lists)


def _run(
    index: InvertedIndex, plan: _Plan, cfg: IndexConfig, exclude_ids, k: int
) -> DataFrame | None:
    """Apply a plan with Spark → (doc_id, score), None when nothing
    matches: word clauses through one bucket-grouped scorer job, each
    phrase step per field through ``phrase_search_positional``
    (complete, k = corpus size), dismax-combined and joined as the plan
    says (``lucene._join``)."""
    from golr_loader_spark.plans.lucene import _join, _vet
    from golr_loader_spark.plans.phrase import phrase_search_positional

    if plan.none:
        return None
    out = None
    if plan.weights:
        fn = _dismax_bucket_factory(
            plan, _avgdl(index), cfg, plan.scorer_k(k, index.n_docs),
            _norm_excl(exclude_ids),
        )
        scanned = sorted({f for _t, f in (*plan.weights, *plan.prohibited)})
        cand = index.postings.filter(block_scan(plan.read, scanned))
        out = cand.groupBy("bucket").applyInPandas(
            fn, schema="doc_id long, score double"
        )
    for _occur, ph, fields, how in plan.steps:
        merged = None
        for i, (f, b) in enumerate(fields.items()):
            part = phrase_search_positional(
                index, ph.text, k=index.n_docs, slop=ph.slop, cfg=cfg,
                exclude_ids=exclude_ids, field=f,
            ).select("doc_id", (F.col("score") * F.lit(b)).alias(f"_s{i}"))
            merged = part if merged is None else merged.join(
                part, on="doc_id", how="full_outer"
            )
        cols = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(fields))]
        mx = cols[0] if len(cols) == 1 else F.greatest(*cols)
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        pscore = (mx + F.lit(plan.tie) * (total - mx)) * F.lit(float(ph.boost))
        out = _join(out, merged.select("doc_id", pscore.alias("_ps")), how)
    if plan.vet:
        out = _vet(index, out, plan.prohibited, cfg, exclude_ids)
    return out


def _search(
    index: InvertedIndex, query: str, edismax: bool, qf, k, tie, mm, cfg,
    exclude_ids, pfs,
) -> DataFrame:
    cfg = cfg or index.cfg
    plan = _plan(
        query, edismax, qf, cfg, lambda terms: _idf_table(index, terms), tie,
        mm, pfs,
    )
    out = _run(index, plan, cfg, exclude_ids, k)
    if out is None:
        return index.postings.sparkSession.createDataFrame(
            [], "doc_id long, score double"
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def search_dismax(
    index: InvertedIndex,
    query: str,
    qf,
    k: int = 10,
    tie: float = 0.0,
    mm=0,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    pf=None,
    pf2=None,
    pf3=None,
    ps: int = 0,
    ps2=None,
    ps3=None,
) -> DataFrame:
    """Execute an eDisMax query → top-k (doc_id, score). See the
    module docstring for semantics; ``qf`` is a Solr qf string
    (``"title^2 body"``) or a {field: boost} dict. ``pf``/``pf2``/
    ``pf3`` (same syntax as qf) add Solr phrase boosting over a
    POSITIONAL index — whole-query / word-pair / word-triple phrase
    scores, slop ``ps``/``ps2``/``ps3``, added to the main score for
    docs the main query already matches (see ``pf_clause_list``)."""
    return _search(
        index, query, False, qf, k, tie, mm, cfg, exclude_ids,
        (pf, pf2, pf3, ps, ps2, ps3),
    )


def search_edismax(
    index: InvertedIndex,
    query: str,
    qf,
    k: int = 10,
    tie: float = 0.0,
    mm=0,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    pf=None,
    pf2=None,
    pf3=None,
    ps: int = 0,
    ps2=None,
    ps3=None,
) -> DataFrame:
    """Extended DisMax (Solr ``defType=edismax`` with query syntax):
    the user query is parsed with the Lucene grammar
    (``plans.lucene.parse_lucene``) and its TERM and PHRASE clauses
    score DisjunctionMax across the qf fields:

    * bare terms — dismax across qf (``max + tie·rest``), per-word
      clause boosts (``term^2``) multiply the word's dismax score;
    * ``+term`` / ``-term`` — MUST words gate the match set (all
      required words must match; ``mm`` then applies to the OPTIONAL
      words only); MUST_NOT words disqualify, inside the scorer, docs
      holding them in any qf field;
    * ``field:term`` — an explicit field overrides qf (Solr
      semantics): the word scores on that field alone;
    * ``"a phrase"``/``~slop`` — the phrase runs per qf field on the
      positional index, each field's score scaled by its qf boost,
      combined as ``max + tie·rest`` across the fields it matches;
      MUST/SHOULD/MUST_NOT phrase occurs combine relationally exactly
      as in ``search_lucene`` (mm does NOT count phrase clauses —
      documented divergence from Solr's all-optional-clauses mm).

    Unsupported inside edismax (clear ``ValueError`` — use
    ``search_lucene``): prefix/fuzzy/range clauses and parenthesized
    groups. Plan shape: ONE bucket-grouped job for all word clauses
    + one positional-phrase job per (phrase × qf field), combined
    with the same join shapes as ``search_lucene``."""
    return _search(
        index, query, True, qf, k, tie, mm, cfg, exclude_ids,
        (pf, pf2, pf3, ps, ps2, ps3),
    )
