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
* per word: ``score_w = max_f s_f + tie · (Σ_f s_f − max_f s_f)`` —
  Lucene DisjunctionMaxQuery with tiebreak multiplier. ``tie=0`` is
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

**Plan shape** (the scale story): identical to ``bm25.search`` — one
pruned scan of the query terms' posting blocks, one
``groupBy(bucket)`` exchange, per-bucket numpy kernel, distributed
TakeOrderedAndProject top-k. The dismax max/tie combination is a
per-word reduction over per-field contribution arrays — no extra
shuffle, no corpus read. Block-max pruning is NOT applied here (the
max-per-word score of a doc is not bounded by any single list's
block max once tie > 0 and mm gates matter); dismax queries are
short (2-5 words × 2-3 qf fields), so the unpruned union decode is
the WAND-disabled cost ``bm25.search(mode="and")`` already pays.

The serving twin is ``serve.LocalSearcher.search_dismax`` — same
factory, Spark-free.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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
from golr_loader_spark.plans.build_index import InvertedIndex


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


def _decode_contrib_lists(
    pdf: pd.DataFrame,
    weights: dict[tuple[str, str], float],
    avgdl_by_field: dict[str, float],
    cfg: IndexConfig,
    excl,
) -> dict[tuple[str, str], tuple[np.ndarray, np.ndarray]]:
    """Decode each weighted (term, field) list of the group →
    {(term, field): (doc_ids, bm25_contribs)} — ``bm25._decode_lists``
    (deterministic block order, tombstone masking) plus the per-posting
    BM25 contribution."""
    k1, b = cfg.k1, cfg.b
    out: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
    for (term, field), (ids, tfs, dls, *_bounds) in _decode_lists(pdf, excl).items():
        wt = weights.get((term, field))
        if wt is None:
            continue
        avg = avgdl_by_field[field]
        out[(term, field)] = (ids, wt * tfs / (tfs + k1 * ((1.0 - b) + b * dls / avg)))
    return out


def _dismax_bucket_factory(
    qwords: list[dict[str, list[str]]],
    weights: dict[tuple[str, str], float],
    avgdl_by_field: dict[str, float],
    cfg: IndexConfig,
    k: int,
    tie: float,
    mm_count: int,
    excl,
    required: list[bool] | None = None,
    word_boosts: list[float] | None = None,
):
    """Per-bucket dismax scorer shared by the distributed path and
    ``LocalSearcher.search_dismax`` (the module's factory pattern —
    both paths bit-identical by construction). ``qwords``: one dict
    per query word mapping qf field → that field's analyzed subterms.
    ``weights``: (term, field) → qf·cfg-boost·idf·(k1+1).

    ``required`` (edismax): per-word MUST flags — a doc survives only
    when every required word matches, and ``mm_count`` then gates the
    OPTIONAL words only (Lucene BooleanQuery: mm applies to SHOULD
    clauses; with no required words every word is optional and mm
    gates them all, min 1). ``word_boosts``: per-word clause boosts
    (edismax ``term^2``), multiplying that word's dismax score."""

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        def empty() -> pd.DataFrame:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": np.int64, "score": np.float64}
            )

        lists = _decode_contrib_lists(pdf, weights, avgdl_by_field, cfg, excl)
        if not lists:
            return empty()
        uniq = np.unique(np.concatenate([ids for ids, _c in lists.values()]))
        score = np.zeros(len(uniq), dtype=np.float64)
        n_opt = np.zeros(len(uniq), dtype=np.int32)
        req_ok = np.ones(len(uniq), dtype=bool)
        any_match = np.zeros(len(uniq), dtype=bool)
        for wi, per_field in enumerate(qwords):  # query word order
            field_arrs: list[np.ndarray] = []
            matched = np.zeros(len(uniq), dtype=bool)
            for f in sorted(per_field):  # deterministic field order
                arr = np.zeros(len(uniq), dtype=np.float64)
                hit = np.zeros(len(uniq), dtype=bool)
                for t in sorted(per_field[f]):
                    got = lists.get((t, f))
                    if got is None:
                        continue
                    idx = np.searchsorted(uniq, got[0])
                    arr[idx] += got[1]
                    hit[idx] = True
                if hit.any():
                    field_arrs.append(arr)
                    matched |= hit
            is_req = bool(required[wi]) if required else False
            if not field_arrs:
                if is_req:
                    return empty()  # a required word absent everywhere
                continue
            m = np.vstack(field_arrs)
            mx = m.max(axis=0)
            if tie:
                word_score = mx + tie * (m.sum(axis=0) - mx)
            else:
                word_score = mx
            if word_boosts is not None:
                word_score = word_score * word_boosts[wi]
            score += np.where(matched, word_score, 0.0)
            any_match |= matched
            if is_req:
                req_ok &= matched
            else:
                n_opt += matched
        if required and any(required):
            ok = req_ok & any_match & (n_opt >= mm_count)
        else:
            ok = n_opt >= max(mm_count, 1)
        if not ok.any():
            return empty()
        docs, sc = uniq[ok], score[ok]
        if k < len(docs):  # skip the sort when nothing truncates
            order = np.lexsort((docs, -sc))[:k]
            docs, sc = docs[order], sc[order]
        return pd.DataFrame({"doc_id": docs, "score": sc})

    return score_group


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


def _analyze_qwords(
    query: str, qf_map: dict[str, float], cfg: IndexConfig
) -> list[dict[str, list[str]]]:
    """Split the user query into words and analyze each per qf field
    with that field's analyzer → one {field: subterms} dict per word
    (words whose every field-analysis is empty are dropped, like
    stopword-only clauses in Solr). Single-word query synonyms extend
    each word's subterm list (_word_synonyms)."""
    for f in qf_map:
        if f not in cfg.fields:
            raise ValueError(f"qf field {f!r} not in config ({list(cfg.fields)})")
    qwords: list[dict[str, list[str]]] = []
    for w in query.split():
        per_field: dict[str, list[str]] = {}
        for f in qf_map:
            terms = _analyzed_with_synonyms(w, cfg.fields[f][0], cfg)
            if terms:
                per_field[f] = terms
        if per_field:
            qwords.append(per_field)
    return qwords


def _dismax_weights(
    idf: dict[tuple[str, str], float],
    qf_map: dict[str, float],
    cfg: IndexConfig,
) -> dict[tuple[str, str], float]:
    return {
        (t, f): cfg.fields[f][1] * qf_map[f] * i * (cfg.k1 + 1.0)
        for (t, f), i in idf.items()
        if f in qf_map
    }


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


def _apply_pf_boosts(
    base: DataFrame,
    index: InvertedIndex,
    clauses: list[tuple[str, str, float, int]],
    cfg: IndexConfig,
    exclude_ids,
) -> DataFrame:
    """LEFT-OUTER join each phrase-boost clause's scores onto the
    (untruncated) main match set: ``score += Σ boost ×
    phrase_score``. Docs matching only the phrase are dropped — the
    main query is the MUST clause of Solr's boosted BooleanQuery."""
    from golr_loader_spark.plans.phrase import phrase_search_positional

    out = base
    for i, (text, f, b, slop) in enumerate(clauses):
        pdf = phrase_search_positional(
            index, text, k=index.n_docs, slop=slop, cfg=cfg,
            exclude_ids=exclude_ids, field=f,
        ).select(
            "doc_id", (F.col("score") * F.lit(b)).alias(f"_pf{i}")
        )
        out = out.join(pdf, on="doc_id", how="left_outer").withColumn(
            "score",
            F.col("score") + F.coalesce(F.col(f"_pf{i}"), F.lit(0.0)),
        ).drop(f"_pf{i}")
    return out


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
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    qf_map = parse_qf(qf)
    qwords = _analyze_qwords(query, qf_map, cfg)
    if not qwords:
        return empty
    boost_clauses = pf_clause_list(
        query.split(), pf, pf2, pf3, ps, ps2, ps3, cfg=cfg
    )
    mm_count = parse_mm(mm, len(qwords))
    all_terms = sorted({t for pf_ in qwords for ts in pf_.values() for t in ts})
    weights = _dismax_weights(_idf_table(index, all_terms), qf_map, cfg)
    if not weights:
        return empty
    fn = _dismax_bucket_factory(
        qwords, weights, _avgdl(index), cfg,
        k if not boost_clauses else index.n_docs,
        float(tie), mm_count, _norm_excl(exclude_ids),
    )
    cand = index.postings.filter(
        F.col("term").isin(all_terms) & F.col("field").isin(list(qf_map))
    )
    per_bucket = cand.groupBy("bucket").applyInPandas(
        fn, schema="doc_id long, score double"
    )
    if boost_clauses:
        per_bucket = _apply_pf_boosts(
            per_bucket, index, boost_clauses, cfg, exclude_ids
        )
    return per_bucket.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


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
      words only); MUST_NOT words disqualify via a decode-only
      anti-join over every qf field;
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
    with the same semi/anti join shapes as ``search_lucene``."""
    from golr_loader_spark.plans.lucene import (
        MUST,
        MUST_NOT,
        Phrase,
        Term,
        parse_lucene,
    )
    from golr_loader_spark.plans.phrase import (
        decode_postings,
        phrase_search_positional,
    )

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    qf_map = parse_qf(qf)
    for f in qf_map:
        if f not in cfg.fields:
            raise ValueError(f"qf field {f!r} not in config ({list(cfg.fields)})")
    clauses = parse_lucene(query)
    if not clauses:
        return empty

    qwords: list[dict[str, list[str]]] = []
    required: list[bool] = []
    word_boosts: list[float] = []
    prohibited_terms: set[tuple[str, str]] = set()
    phrases: list[tuple[str, Phrase]] = []
    pf_words: list[str] = []  # bare non-negative words, clause order
    for occur, node in clauses:
        if isinstance(node, Phrase):
            phrases.append((occur, node))
            continue
        if not isinstance(node, Term):
            raise ValueError(
                f"edismax supports term and phrase clauses only, got "
                f"{type(node).__name__} — use search_lucene"
            )
        if occur != MUST_NOT and not node.field:
            # Solr's pf shingling runs over the user's query words
            # minus operators, MUST_NOT clauses, and explicit-field
            # clauses (ExtendedDismaxQParser getQueryStringFromParser)
            pf_words.append(node.text)
        # explicit field: overrides qf (Solr); else dismax across qf
        fields = (
            {node.field: qf_map.get(node.field, 1.0)}
            if node.field
            else qf_map
        )
        if node.field and node.field not in cfg.fields:
            raise ValueError(f"unknown field {node.field!r}")
        per_field: dict[str, list[str]] = {}
        for f in fields:
            terms = _analyzed_with_synonyms(node.text, cfg.fields[f][0], cfg)
            if terms:
                per_field[f] = terms
        if occur == MUST_NOT:
            for f in fields:
                for t in per_field.get(f, []):
                    prohibited_terms.add((t, f))
            continue
        if not per_field:
            if occur == MUST:
                return empty
            continue
        qwords.append(per_field)
        required.append(occur == MUST)
        word_boosts.append(float(node.boost))

    if not qwords and not phrases:
        return empty
    boost_clauses = pf_clause_list(
        pf_words, pf, pf2, pf3, ps, ps2, ps3, cfg=cfg
    )
    mm_count = parse_mm(mm, sum(1 for r in required if not r))

    bool_df = None
    if qwords:
        all_terms = sorted({t for pf in qwords for ts in pf.values() for t in ts})
        idf = _idf_table(index, all_terms)
        # weights use the per-word field map (an explicit field: term
        # scores under that field's qf boost, defaulting to 1.0)
        weights: dict[tuple[str, str], float] = {}
        for pf in qwords:
            for f, ts in pf.items():
                b = qf_map.get(f, 1.0)
                for t in ts:
                    i = idf.get((t, f))
                    if i is not None:
                        weights[(t, f)] = cfg.fields[f][1] * b * i * (cfg.k1 + 1.0)
        if not weights and any(required):
            return empty
        if weights:
            fn = _dismax_bucket_factory(
                qwords, weights, _avgdl(index), cfg,
                k
                if not phrases and not prohibited_terms and not boost_clauses
                else index.n_docs,
                float(tie), mm_count, _norm_excl(exclude_ids),
                required=required, word_boosts=word_boosts,
            )
            cand = index.postings.filter(
                F.col("term").isin(all_terms)
                & F.col("field").isin(sorted({f for pf in qwords for f in pf}))
            )
            bool_df = cand.groupBy("bucket").applyInPandas(
                fn, schema="doc_id long, score double"
            )
        elif any(required):
            return empty

    out = bool_df
    has_must = any(required)
    phrases.sort(key=lambda c: c[0] == MUST_NOT)
    for occur, ph in phrases:
        # per-qf-field phrase scores, dismax-combined (max + tie·rest)
        fields = [ph.field] if ph.field else sorted(qf_map)
        parts = []
        for i, f in enumerate(fields):
            b = qf_map.get(f, 1.0)
            parts.append(
                phrase_search_positional(
                    index, ph.text, k=index.n_docs, slop=ph.slop, cfg=cfg,
                    exclude_ids=exclude_ids, field=f,
                ).select(
                    "doc_id",
                    (F.col("score") * F.lit(float(b))).alias(f"_s{i}"),
                )
            )
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.join(p, on="doc_id", how="full_outer")
        cols = [F.coalesce(F.col(f"_s{i}"), F.lit(0.0)) for i in range(len(parts))]
        mx = cols[0] if len(cols) == 1 else F.greatest(*cols)
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        pscore = (mx + F.lit(float(tie)) * (total - mx)) * F.lit(float(ph.boost))
        pdf = merged.select("doc_id", pscore.alias("_ps"))
        if occur == MUST_NOT:
            if out is not None:
                out = out.join(pdf.select("doc_id"), on="doc_id", how="left_anti")
            continue
        if out is None:
            out = pdf.withColumnRenamed("_ps", "score")
            if occur == MUST:
                has_must = True
            continue
        if occur == MUST:
            if has_must:
                out = (
                    out.join(pdf, on="doc_id", how="inner")
                    .withColumn("score", F.col("score") + F.col("_ps"))
                    .drop("_ps")
                )
            else:
                out = (
                    out.join(pdf, on="doc_id", how="right_outer")
                    .withColumn(
                        "score",
                        F.coalesce(F.col("score"), F.lit(0.0)) + F.col("_ps"),
                    )
                    .drop("_ps")
                )
            has_must = True
        else:
            how = "left_outer" if has_must else "full_outer"
            out = (
                out.join(pdf, on="doc_id", how=how)
                .withColumn(
                    "score",
                    F.coalesce(F.col("score"), F.lit(0.0))
                    + F.coalesce(F.col("_ps"), F.lit(0.0)),
                )
                .drop("_ps")
            )
    if out is None:
        return empty
    if prohibited_terms:
        # the dismax bucket factory never vets MUST_NOT members (they
        # carry no weights), so prohibition is ALWAYS relational here:
        # decode-only anti-join over the prohibited (term, field)s
        neg = decode_postings(
            index,
            sorted({t for t, _f in prohibited_terms}),
            cfg,
            exclude_ids=exclude_ids,
        )
        cond = F.lit(False)
        for t, f in sorted(prohibited_terms):
            cond = cond | ((F.col("term") == t) & (F.col("field") == f))
        out = out.join(
            neg.filter(cond).select("doc_id").distinct(),
            on="doc_id",
            how="left_anti",
        )
    if boost_clauses:
        out = _apply_pf_boosts(out, index, boost_clauses, cfg, exclude_ids)
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
