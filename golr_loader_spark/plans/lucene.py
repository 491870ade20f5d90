"""Lucene/Solr query-string surface (classic QueryParser subset).

The reference loads documents INTO a Solr core precisely so users can
issue Lucene-syntax queries against it; this module gives the engine
the same front door. Supported syntax:

* bare terms — analyzed with the index's query analyzer; OR by
  default (Solr ``q.op=OR``);
* ``+term`` / ``-term`` — MUST / MUST_NOT (Lucene occurs);
* ``a AND b`` / ``a OR b`` / ``NOT a`` / ``&&`` ``||`` ``!`` — the
  classic parser's flat simplification: AND marks both neighbours
  MUST, NOT marks the next clause MUST_NOT, OR is the default;
* ``"quoted phrase"`` and ``"quoted phrase"~N`` — (sloppy)
  PhraseQuery, positional index required;
* ``prefix*`` — PrefixQuery (SCORING_BOOLEAN rewrite);
* ``term~`` / ``term~1`` — FuzzyQuery (Levenshtein expansion,
  default max edits 2, like Lucene);
* ``field:term`` / ``field:"a phrase"`` — field selectors: the
  clause scores, matches, and (for MUST/MUST_NOT) gates on that
  field only; the field must exist in the IndexConfig;
* ``term^2`` / ``"a phrase"^1.5`` — clause boosts (multiply the
  clause's score contribution; clauses hitting the same (term,
  field) sum, scoring being linear in the weight);
* ``(a OR b) AND c`` — parenthesized sub-queries nest arbitrarily
  (``Group`` nodes; a group's boost ``(...)^2`` scales every score
  it contributes). A MUST/SHOULD/MUST_NOT group combines
  relationally exactly like a phrase clause: its complete sub-match
  set joins the accumulated result;
* ``field:[a TO b]`` / ``{a TO b}`` — TermRangeQuery: lexicographic
  term-dictionary slice (``*`` endpoint = open; brackets pick
  inclusive/exclusive per side), scored under the SCORING_BOOLEAN
  rewrite like prefix/fuzzy (Lucene defaults ranges to
  constant-score; this engine scores expansions uniformly —
  documented divergence);
* wildcard clauses ``te*t`` / ``t?st`` / ``*ark`` (Lucene
  WildcardQuery) — anchored-regex dictionary expansion with the
  literal prefix pushed down; trailing-``*``-only patterns parse to
  the cheaper ``Prefix``;
* ``fq=`` (on ``search_lucene`` / ``facet_counts``) — Solr filter
  query: a non-scoring match-set restriction (semi-join); bare-term
  fqs match by decoding doc_id streams only.

Unsupported (clear ``ValueError``): ``field:(...)`` grouped field
queries, conditional mm specs.

Execution is one planner, two executors and one explain. ``_plan``
makes every decision a clause list implies and records it in a
``_Plan``: Group/Phrase vs term clauses, the unknown-field error,
expansion of Term/Prefix/Wildcard/TermRange/Fuzzy nodes to index
terms under the ``max_expansions`` cap (Lucene TooManyClauses), the
empty-MUST and pure-negation outcomes, clause-additive weights, MUST
any-of groups (Lucene's rewrite of a MUST multi-term query into a
required disjunction), the prohibited set, and — positives first —
how each phrase/group clause joins the result: inner under a
MUST-gated result, right outer under a SHOULD-only one (the MUST
clause defines the match set), left/full outer for SHOULD, anti for
MUST_NOT. Term MUST_NOTs are checked inside the scorer, and once more
at the end only when a join admitted docs the scorer never saw.

A face supplies only what differs: term expansion (Spark: a filter on
``term_stats``, capped distributed-side; serving: the in-memory term
dictionary) and the idf rows. ``_run`` applies a plan with
``bm25._score_bucket_factory`` (the BM25 core ``bm25._score_lists``
per bucket), ``phrase.phrase_search_positional`` (complete phrase
sets, k = corpus size: selective semi/anti joins at scale, the shape
AQE broadcasts) and DataFrame joins; ``LocalSearcher._run_plan``
applies the same plan with the same core over whole-index lists,
``search_phrase`` and dict joins. ``_explain_plan`` walks the plan
for one doc from the face's point reads, so an explanation cannot
drift from the execution.

Scores are Lucene BooleanQuery semantics: the sum of the matching
clauses' scores; ranking (score desc, doc_id asc) as everywhere.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.bm25 import (
    _avgdl,
    _score_bucket_factory,
    query_analyzer,
)
from golr_loader_spark.plans.build_index import InvertedIndex

MUST, SHOULD, MUST_NOT = "MUST", "SHOULD", "MUST_NOT"


@dataclass(frozen=True)
class Term:
    text: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase:
    text: str
    slop: int = 0
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Prefix:
    text: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Fuzzy:
    text: str
    max_edits: int = 2
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Wildcard:
    """Lucene WildcardQuery: ``te*t`` / ``t?st`` / ``*ark`` — ``*``
    any sequence, ``?`` one char, anywhere in the pattern. Trailing-*
    only patterns parse to the cheaper ``Prefix`` instead; everything
    else lands here and expands via the dictionary regex scan with the
    literal prefix pushed down (bm25.wildcard_regex /
    wildcard_literal_prefix)."""

    text: str
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class TermRange:
    """Lucene TermRangeQuery: ``field:[lo TO hi]`` (inclusive) /
    ``{lo TO hi}`` (exclusive; brackets mix). ``*`` endpoint = open.
    Lexicographic term-dictionary range, scored under the
    SCORING_BOOLEAN rewrite like Prefix/Fuzzy (Lucene defaults ranges
    to constant-score; this engine scores every expansion for
    consistency with its other multi-term queries — documented)."""

    lo: str | None
    hi: str | None
    include_lo: bool = True
    include_hi: bool = True
    field: str | None = None
    boost: float = 1.0


@dataclass(frozen=True)
class Group:
    """A parenthesized sub-query: ``(a OR b) AND c``. Carries its own
    clause list with the same flat classic-parser semantics; groups
    nest arbitrarily."""

    clauses: tuple  # tuple[(occur, node), ...]
    boost: float = 1.0


_TOKEN = re.compile(
    r"""
    \s*(?:
      (?P<phrase>(?P<pfield>[A-Za-z_]\w*:)?
                 "(?P<ptext>[^"]*)"
                 (?:~(?P<pslop>\d+))?
                 (?:\^(?P<pboost>\d+(?:\.\d+)?))?)
    | (?P<range>(?P<rfield>[A-Za-z_]\w*:)?
                (?P<rlb>[\[\{])\s*(?P<rlo>[^\s\]\}]+)\s+TO\s+(?P<rhi>[^\s\]\}]+)\s*(?P<rrb>[\]\}])
                (?:\^(?P<rboost>\d+(?:\.\d+)?))?)
    | (?P<lparen>(?P<lfield>[A-Za-z_]\w*:)?\()
    | (?P<rparen>\))
    | (?P<and>AND|&&)
    | (?P<or>OR|\|\|)
    | (?P<not>NOT|!)
    | (?P<plus>\+)
    | (?P<minus>-)
    | (?P<word>[^\s+\-!"()][^\s"()]*)
    )
    """,
    re.VERBOSE,
)

_BOOST_SUFFIX = re.compile(r"\^(\d+(?:\.\d+)?)")


def synonym_rules(synonyms) -> list[tuple[tuple[str, ...], list[str]]]:
    """(source, target) pairs → longest-source-first match rules with
    same-source targets merged: [(source_tokens, [target, …]), …].
    Sources/targets are lowercased; either side may be multi-word."""
    merged: dict[tuple[str, ...], list[str]] = {}
    for src, tgt in synonyms:
        key = tuple(src.lower().split())
        if not key:
            raise ValueError("empty synonym source")
        tgt = " ".join(tgt.lower().split())
        if not tgt:
            raise ValueError("empty synonym target")
        bucket = merged.setdefault(key, [])
        if tgt not in bucket:
            bucket.append(tgt)
    return sorted(merged.items(), key=lambda kv: -len(kv[0]))


def expand_synonyms(
    clauses: list[tuple[str, object]], synonyms
) -> list[tuple[str, object]]:
    """Query-time synonym expansion — the SynonymGraphFilter +
    QueryBuilder graph-query analog (Solr runs SynonymGraphFilter on
    the QUERY analyzer precisely because multi-word rules cannot be
    injected at index time; reference context: the golr documents
    were served by production Solr, README.md:3-24).

    Matching: runs of consecutive un-fielded, boost-1 ``Term``
    clauses are scanned for source sequences (longest source first,
    case-insensitive). Multi-token sources only match all-SHOULD runs
    (a ``+``/``-`` inside a span is an explicit user override);
    single-token matches keep their clause's occur. A matched span is
    replaced by ONE group of SHOULD alternatives — the original span
    (a 0-slop Phrase when multi-word) and each target (Term, or
    Phrase when multi-word) — carrying the span's occur. Because
    boolean scoring sums SHOULD clauses and a boost-1 group is
    transparent, a SHOULD-only expansion scores exactly like the
    flat query over all alternatives (the property the DuckDB oracle
    replays). Groups recurse; every other clause type passes through
    untouched."""
    rules = synonym_rules(synonyms)
    if not rules:
        return clauses
    out: list[tuple[str, object]] = []
    i = 0
    n = len(clauses)

    def plain_term(j: int) -> str | None:
        occ, node = clauses[j][0], clauses[j][1]
        if isinstance(node, Term) and node.field is None and node.boost == 1.0:
            return node.text.lower()
        return None

    while i < n:
        occ, node = clauses[i][0], clauses[i][1]
        if isinstance(node, Group):
            out.append(
                (occ, Group(
                    tuple(expand_synonyms(list(node.clauses), synonyms)),
                    boost=node.boost,
                ))
            )
            i += 1
            continue
        matched = False
        word0 = plain_term(i)
        if word0 is not None:
            for src, targets in rules:
                L = len(src)
                if i + L > n or word0 != src[0]:
                    continue
                span = [plain_term(i + d) for d in range(L)]
                if any(w is None for w in span) or tuple(span) != src:
                    continue
                if L > 1 and any(clauses[i + d][0] != SHOULD for d in range(L)):
                    continue
                alts: list[tuple[str, object]] = [
                    (SHOULD, Term(span[0]) if L == 1 else Phrase(" ".join(span)))
                ]
                for tgt in targets:
                    words = tgt.split()
                    alts.append(
                        (SHOULD, Term(words[0]) if len(words) == 1
                         else Phrase(tgt))
                    )
                out.append((occ if L == 1 else SHOULD, Group(tuple(alts))))
                i += L
                matched = True
                break
        if not matched:
            out.append(clauses[i])
            i += 1
    return out


def parse_lucene(query: str) -> list[tuple[str, object]]:
    """Query string → clause list [(occur, node)].

    Classic-parser flat semantics per nesting level: explicit ``+``/
    ``-`` win; ``AND`` promotes both neighbours to MUST; ``NOT``
    makes the next clause MUST_NOT; everything else is SHOULD.
    Parenthesized sub-queries become ``Group`` nodes (recursively),
    ``[lo TO hi]`` / ``{lo TO hi}`` become ``TermRange``."""
    if query.count('"') % 2:
        raise ValueError("unbalanced quotes in query")
    clauses, pos = _parse_level(query, 0, depth=0)
    if query[pos:].strip():
        raise ValueError(f"cannot parse query at: {query[pos:]!r}")
    return clauses


def _parse_level(
    query: str, pos: int, depth: int
) -> tuple[list[tuple[str, object]], int]:
    clauses: list[list] = []  # [occur, node, explicit]
    pending_occur: str | None = None
    pending_explicit = False
    and_prev = False

    def flush(node: object) -> None:
        nonlocal pending_occur, pending_explicit, and_prev
        occur = pending_occur or (MUST if and_prev else SHOULD)
        explicit = pending_explicit or and_prev
        clauses.append([occur, node, explicit])
        pending_occur, pending_explicit, and_prev = None, False, False

    while pos < len(query):
        m = _TOKEN.match(query, pos)
        if not m or m.end() == pos:
            if query[pos:].strip():
                raise ValueError(f"cannot parse query at: {query[pos:]!r}")
            pos = len(query)
            break
        pos = m.end()
        if m.group("rparen"):
            if depth == 0:
                raise ValueError("unbalanced ')' in query")
            return [(o, n) for o, n, _e in clauses], pos
        if m.group("lparen"):
            if m.group("lfield"):
                raise ValueError(
                    "field:(...) grouped field queries are not supported — "
                    "write the field on each clause"
                )
            sub, pos = _parse_level(query, pos, depth + 1)
            boost = 1.0
            bm = _BOOST_SUFFIX.match(query, pos)
            if bm:
                boost, pos = float(bm.group(1)), bm.end()
            flush(Group(tuple(sub), boost=boost))
            continue
        if m.group("and"):
            if clauses and not clauses[-1][2]:
                clauses[-1][0] = MUST
            and_prev = True
            continue
        if m.group("or"):
            and_prev = False
            continue
        if m.group("not"):
            pending_occur, pending_explicit = MUST_NOT, True
            continue
        if m.group("plus"):
            pending_occur, pending_explicit = MUST, True
            continue
        if m.group("minus"):
            pending_occur, pending_explicit = MUST_NOT, True
            continue

        if m.group("phrase") is not None:
            pf = m.group("pfield")
            node: object = Phrase(
                m.group("ptext"),
                int(m.group("pslop") or 0),
                field=pf[:-1] if pf else None,
                boost=float(m.group("pboost") or 1.0),
            )
        elif m.group("range") is not None:
            rf = m.group("rfield")
            lo, hi = m.group("rlo"), m.group("rhi")
            node = TermRange(
                lo=None if lo == "*" else lo.lower(),
                hi=None if hi == "*" else hi.lower(),
                include_lo=m.group("rlb") == "[",
                include_hi=m.group("rrb") == "]",
                field=rf[:-1] if rf else None,
                boost=float(m.group("rboost") or 1.0),
            )
        else:
            w = m.group("word")
            field = None
            if ":" in w:
                field, _, w = w.partition(":")
                if not re.fullmatch(r"[A-Za-z_]\w*", field) or not w:
                    raise ValueError(f"bad field selector: {field!r}")
            boost = 1.0
            bm = re.fullmatch(r"(.+)\^(\d+(?:\.\d+)?)", w)
            if bm:
                w, boost = bm.group(1), float(bm.group(2))
            fm = re.fullmatch(r"(.+?)~(\d?)", w)
            if fm:
                node = Fuzzy(
                    fm.group(1), int(fm.group(2) or 2), field=field,
                    boost=boost,
                )
            elif (
                w.endswith("*")
                and len(w) > 1
                and "*" not in w[:-1]
                and "?" not in w
            ):
                node = Prefix(w[:-1], field=field, boost=boost)
            elif "*" in w or "?" in w:
                node = Wildcard(w, field=field, boost=boost)
            else:
                node = Term(w, field=field, boost=boost)
        flush(node)
    if depth > 0:
        raise ValueError("unbalanced '(' in query")
    return [(occ, node) for occ, node, _e in clauses], pos


def _query_clauses(query: str, cfg: IndexConfig) -> list[tuple[str, object]]:
    """A q string → its clause list, with query-time synonyms when the
    config carries them."""
    clauses = parse_lucene(query)
    if cfg.query_synonyms:
        clauses = expand_synonyms(clauses, cfg.query_synonyms)
    return clauses


def _filter_clauses(fq, cfg: IndexConfig) -> tuple[list[tuple[str, object]], bool]:
    """Solr fq → (clauses to match, negated). A string runs the query
    analyzer like a q string, synonyms included; a pre-parsed clause
    list is taken verbatim. An all-MUST_NOT fq implies *:*
    (SolrQueryParser's pure-negative rewrite): its clauses flip to
    SHOULD and ``negated`` says the filter is the live doc universe
    minus their match set."""
    clauses = _query_clauses(fq, cfg) if isinstance(fq, str) else list(fq)
    if clauses and all(occ == MUST_NOT for occ, _n in clauses):
        return [(SHOULD, n) for _o, n in clauses], True
    return clauses, False


# ------------------------------------------------------------- planner

# How a phrase or group clause meets the result accumulated before it:
# it becomes the result (BASE), is subtracted (ANTI), or joins it with
# the named Spark join type and adds its score.
BASE, ANTI = "base", "left_anti"


@dataclass
class _Plan:
    """A clause list planned against one index.

    * ``term_clauses`` — (occur, index terms, fields, boost) per
      term-like clause, in query order;
    * ``empty`` — why nothing can match when a MUST clause expanded to
      no index term (planning stops there);
    * ``weights`` — clause-additive BM25 weight per (term, field);
      ``groups`` — MUST any-of groups over the weighted members;
      ``prohibited`` — MUST_NOT members (a bare term, or (term, field)
      for a field-restricted clause); ``read`` — what the scorer reads
      (empty when no term clause scores);
    * ``steps`` — (occur, node, sub-plan, how) per phrase or group
      clause, positives first; ``how`` is None for a group that
      matches nothing;
    * ``none`` — the whole plan matches nothing; ``vet`` — the result
      can hold docs the scorer never checked against ``prohibited``,
      so they are filtered at the end."""

    term_clauses: list
    empty: str | None = None
    weights: dict = field(default_factory=dict)
    groups: list = field(default_factory=list)
    prohibited: set = field(default_factory=set)
    read: list = field(default_factory=list)
    steps: list = field(default_factory=list)
    none: bool = True
    vet: bool = False

    def scorer_k(self, k: int | None, n_docs: int) -> int:
        """The scorer may truncate to ``k`` only when no step follows."""
        return k if k is not None and not self.steps else n_docs


class _Joins:
    """How each phrase or group clause joins the term result — the rule
    ``_plan`` and ``dismax._plan`` share. Clauses come positives first
    (``order``): a MUST_NOT clause subtracts (ANTI) from the final
    positive set wherever it stands in the query. The first positive
    clause over no term result becomes the result (BASE). A MUST clause
    then intersects a MUST-gated result and right-outer joins a
    SHOULD-only one (Lucene BooleanQuery: the MUST clause defines the
    match set, the optional score coalesced to 0); a SHOULD clause
    left-outer joins a MUST-gated result and full-outer joins a
    SHOULD-only one. ``vet`` records that a join admitted docs the term
    scorer never saw."""

    def __init__(self, has_base: bool, has_must: bool):
        self.has_base, self.has_must, self.vet = has_base, has_must, False

    @staticmethod
    def order(clauses: list) -> list:
        return sorted(clauses, key=lambda c: c[0] == MUST_NOT)

    def how(self, occur: str) -> str:
        if occur == MUST_NOT:
            return ANTI
        if not self.has_base:
            self.has_base, self.has_must, self.vet = True, occur == MUST, True
            return BASE
        admits = not self.has_must
        self.vet = self.vet or admits
        if occur == MUST:
            self.has_must = True
            return "right_outer" if admits else "inner"
        return "full_outer" if admits else "left_outer"


def _describe(node) -> str:
    """A multi-term node as the TooManyClauses message names it."""
    if isinstance(node, TermRange):
        return f"range [{node.lo or '*'} TO {node.hi or '*'}]"
    if isinstance(node, Fuzzy):
        return f"fuzzy '{node.text.lower()}'~{node.max_edits}"
    kind = "prefix" if isinstance(node, Prefix) else "wildcard"
    return f"{kind} '{node.text.lower()}'"


def _plan(
    clauses: list[tuple[str, object]],
    cfg: IndexConfig,
    expand,
    idf,
    max_expansions: int,
) -> _Plan:
    """Plan a clause list. ``expand(node, fields, max_expansions)`` →
    the index terms a Prefix, Wildcard, TermRange or Fuzzy node expands
    to in ``fields``, capped through ``bm25.check_expansion``;
    ``idf(terms)`` → {(term, field): idf}. Groups are planned
    recursively, in the order the executors meet them."""
    qan = query_analyzer(cfg)
    # a clause with field: restricts both its scoring AND its
    # MUST/MUST_NOT membership test to that field
    term_clauses: list[tuple[str, set[str], list[str], float]] = []
    rel: list[tuple[str, object]] = []  # Phrase and Group clauses
    for occur, node in clauses:
        if isinstance(node, Group):
            rel.append((occur, node))
            continue
        nf = getattr(node, "field", None)
        if nf is not None and nf not in cfg.fields:
            raise ValueError(f"unknown field {nf!r} (config: {list(cfg.fields)})")
        if isinstance(node, Phrase):
            rel.append((occur, node))
            continue
        fields = [nf] if nf else list(cfg.fields)
        if isinstance(node, Term):
            an = cfg.fields[nf][0] if nf else qan
            terms = set(analyze_query(node.text, an, cfg.chain))
        else:
            terms = expand(node, fields, max_expansions)
        if not terms:
            if occur == MUST:
                return _Plan(
                    term_clauses,
                    empty=f"MUST clause {node!r} matches no indexed term",
                )
            continue
        term_clauses.append((occur, terms, fields, node.boost))

    p = _Plan(term_clauses)
    should: set[str] = set()
    for occur, terms, fields, _boost in term_clauses:
        restricted = len(fields) < len(cfg.fields)
        members = (
            {(t, f) for t in terms for f in fields} if restricted
            else set(terms)
        )
        if occur == MUST_NOT:
            p.prohibited |= members
        else:
            should |= terms
            if occur == MUST:
                # one analyzed query word can yield several index
                # terms (code analyzer subwords) — any satisfies the
                # clause, all of them score
                p.groups.append(members)
    none = False
    if should:
        idfs = idf(sorted(should))
        # clause-additive weights (Lucene clause boosts; two clauses
        # hitting the same (term, field) sum — scoring is linear in
        # the weight)
        for occur, terms, fields, boost in term_clauses:
            if occur == MUST_NOT:
                continue
            for t in terms:
                for f in fields:
                    i = idfs.get((t, f))
                    if i is not None:
                        p.weights[(t, f)] = p.weights.get((t, f), 0.0) + (
                            boost * cfg.fields[f][1] * i * (cfg.k1 + 1.0)
                        )
        avail = set(p.weights) | {t for (t, _f) in p.weights}
        none = any(not (g & avail) for g in p.groups)  # no indexed term
        p.groups = [g & avail for g in p.groups]
        prohib_terms = {m if isinstance(m, str) else m[0] for m in p.prohibited}
        p.read = sorted(should | prohib_terms)

    joins = _Joins(bool(should), bool(p.groups))
    for occur, node in joins.order(rel):
        sub = (
            _plan(list(node.clauses), cfg, expand, idf, max_expansions)
            if isinstance(node, Group) else None
        )
        # a group matching nothing contributes nothing
        how = None if sub is not None and sub.none else joins.how(occur)
        p.steps.append((occur, node, sub, how))
        if how is None and occur == MUST:
            # a required subquery matching nothing empties the whole
            # result, like any MUST clause
            none = True
            break
    p.none = none or not joins.has_base
    p.vet = bool(p.prohibited) and joins.vet
    return p


def _explain_plan(
    plan: _Plan,
    doc_id: int,
    cfg: IndexConfig,
    avgdl: dict[str, float],
    tfdl,
    phrase_score,
) -> dict:
    """Lucene Explanation of ``doc_id`` under a plan, for every face:
    ``tfdl(terms)`` → {(term, field): (tf, dl)} of the doc (a point
    read), ``phrase_score(node)`` → the doc's unboosted phrase score or
    None. See ``explain_lucene`` for the dict."""
    out: dict = {
        "doc_id": doc_id, "matches": True, "score": 0.0, "clauses": [],
    }

    def miss(reason: str) -> dict:
        out.update(matches=False, reason=reason, score=0.0)
        return out

    if plan.empty:
        return miss(plan.empty)
    all_terms = sorted({t for _o, ts, _f, _b in plan.term_clauses for t in ts})
    found = tfdl(all_terms) if all_terms else {}
    # MUST_NOT term membership disqualifies
    for occur, terms, fields, _boost in plan.term_clauses:
        if occur != MUST_NOT:
            continue
        for (t, f) in found:
            if t in terms and f in fields:
                return miss(f"doc contains prohibited term {t!r} in {f!r}")
    # term MUST groups: any member (term in any listed field) present
    for occur, terms, fields, _boost in plan.term_clauses:
        if occur == MUST and not any(
            t in terms and f in fields for (t, f) in found
        ):
            return miss(f"MUST clause over {sorted(terms)[:5]} not matched")

    term_entries = []
    bool_score = 0.0
    for (t, f) in sorted(found, key=lambda x: (x[1], x[0])):
        wt = plan.weights.get((t, f))
        if wt is None:
            continue
        tf, dl = found[(t, f)]
        contrib = wt * tf / (
            tf + cfg.k1 * ((1.0 - cfg.b) + cfg.b * dl / avgdl[f])
        )
        bool_score += contrib
        term_entries.append(
            {
                "term": t, "field": f, "tf": tf, "dl": dl,
                "avgdl": avgdl[f], "weight": wt, "contribution": contrib,
            }
        )
    if term_entries:
        out["clauses"].append(
            {"kind": "terms", "score": bool_score, "terms": term_entries}
        )
    total = bool_score
    matched_any = bool(term_entries)

    for occur, node, sub, _how in plan.steps:
        if isinstance(node, Phrase):
            ps = phrase_score(node)
            ps = None if ps is None else ps * float(node.boost)
            entry = {
                "kind": "phrase", "text": node.text, "slop": node.slop,
                "field": node.field, "occur": occur,
                "matched": ps is not None, "score": ps or 0.0,
            }
        else:
            sx = _explain_plan(sub, doc_id, cfg, avgdl, tfdl, phrase_score)
            ps = (
                sx["score"] * float(node.boost)
                if sx["matches"] and sx["clauses"] else None
            )
            entry = {
                "kind": "group", "occur": occur, "boost": node.boost,
                "matched": ps is not None, "score": ps or 0.0,
                "explanation": sx,
            }
        if occur == MUST_NOT:
            if ps is not None:
                return miss(f"doc matches prohibited {entry['kind']}")
            continue
        if occur == MUST and ps is None:
            return miss(f"MUST {entry['kind']} not matched")
        out["clauses"].append(entry)
        if ps is not None:
            total += ps
            matched_any = True

    if not matched_any:
        return miss("no positive clause matched")
    out["score"] = total
    return out


# ---------------------------------------------------------- Spark face


def _expand(
    index: InvertedIndex, node, fields: list[str], max_expansions: int
) -> set[str]:
    """Multi-term expansion against the term dictionary table: Prefix
    (TermsEnum.seekCeil analog), Wildcard (anchored regex with the
    literal prefix pushed down, CompiledAutomaton.commonPrefix analog),
    TermRange (lexicographic slice; ``*`` endpoints open) and Fuzzy
    (Levenshtein). The cap is checked distributed-side, before any
    collect (``bm25._guard_expansion``)."""
    from golr_loader_spark.plans.bm25 import (
        _guard_expansion,
        wildcard_literal_prefix,
        wildcard_regex,
    )

    c = F.col("term")
    cond = F.col("field").isin(fields)
    if isinstance(node, Prefix):
        cond &= c.startswith(node.text.lower())
    elif isinstance(node, Wildcard):
        p = node.text.lower()
        cond &= c.rlike(wildcard_regex(p))
        if wildcard_literal_prefix(p):
            cond &= c.startswith(wildcard_literal_prefix(p))
    elif isinstance(node, TermRange):
        if node.lo is not None:
            cond &= (c >= node.lo) if node.include_lo else (c > node.lo)
        if node.hi is not None:
            cond &= (c <= node.hi) if node.include_hi else (c < node.hi)
    else:
        # length pre-band evaluates before the costlier levenshtein and
        # prunes most of the vocabulary scan (see bm25.search_fuzzy)
        q, m = node.text.lower(), node.max_edits
        cond &= F.length(c).between(len(q) - m, len(q) + m) & (
            F.levenshtein(c, F.lit(q)) <= m
        )
    base = index.term_stats.filter(cond)
    _guard_expansion(base, max_expansions, _describe(node))
    return {r["term"] for r in base.select("term").collect()}


def _spark_plan(
    index: InvertedIndex, clauses, cfg: IndexConfig, max_expansions: int
) -> _Plan:
    from golr_loader_spark.plans.bm25 import _idf_table

    return _plan(
        clauses, cfg,
        lambda node, fields, m: _expand(index, node, fields, m),
        lambda terms: _idf_table(index, terms),
        max_expansions,
    )


def _run(
    index: InvertedIndex,
    plan: _Plan,
    cfg: IndexConfig,
    exclude_ids,
    k: int | None,
) -> DataFrame | None:
    """Apply a plan with Spark → full (doc_id, score) match set, None
    when nothing matches: term clauses through one bucket-grouped
    scorer job, phrase steps through ``phrase_search_positional``
    (complete, k = corpus size), group steps recursively, each step
    joined as the plan says."""
    from golr_loader_spark.plans.phrase import phrase_search_positional

    if plan.none:
        return None
    out = None
    if plan.read:
        cand = index.postings.filter(
            F.col("term").isin(plan.read)
            & F.col("field").isin(list(cfg.fields))
        )
        fn = _score_bucket_factory(
            plan.weights,
            _avgdl(index),
            cfg,
            plan.scorer_k(k, index.n_docs),
            exclude_ids=exclude_ids,
            prohibited_terms=plan.prohibited or None,
            required_groups=plan.groups or None,
        )
        out = cand.groupBy("bucket").applyInPandas(
            fn, schema="doc_id long, score double"
        )
    for _occur, node, sub, how in plan.steps:
        if how is None:
            continue
        part = (
            phrase_search_positional(
                index, node.text, k=index.n_docs, slop=node.slop,
                cfg=cfg, exclude_ids=exclude_ids, field=node.field,
            )
            if isinstance(node, Phrase)
            else _run(index, sub, cfg, exclude_ids, None)
        ).select(
            "doc_id", (F.col("score") * F.lit(float(node.boost))).alias("_ps")
        )
        out = _join(out, part, how)
    if plan.vet:
        out = _vet(index, out, plan.prohibited, cfg, exclude_ids)
    return out


def _join(out: DataFrame | None, part: DataFrame, how: str) -> DataFrame:
    """One plan step over DataFrames: ``part`` (doc_id, _ps) becomes the
    result, is subtracted, or is joined with the scores added, a
    missing side counting 0 (``serve._join_scores`` is the dict face)."""
    if how == BASE:
        return part.withColumnRenamed("_ps", "score")
    if how == ANTI:
        return out.join(part.select("doc_id"), on="doc_id", how=ANTI)
    return out.join(part, on="doc_id", how=how).select(
        "doc_id",
        (
            F.coalesce(F.col("score"), F.lit(0.0))
            + F.coalesce(F.col("_ps"), F.lit(0.0))
        ).alias("score"),
    )


def _vet(
    index: InvertedIndex, out: DataFrame, prohibited: set, cfg: IndexConfig,
    exclude_ids,
) -> DataFrame:
    """Apply term MUST_NOTs relationally (decode only the prohibited
    terms' doc_id streams) to a result a join filled with docs the
    scorer never saw. Docs the scorer DID emit hold no prohibited term,
    so re-filtering them is a no-op."""
    from golr_loader_spark.plans.phrase import decode_postings

    bare = sorted(m for m in prohibited if isinstance(m, str))
    pairs = sorted(m for m in prohibited if not isinstance(m, str))
    neg = decode_postings(
        index,
        sorted({*bare, *(t for t, _f in pairs)}),
        cfg,
        exclude_ids=exclude_ids,
    )
    cond = F.col("term").isin(bare) if bare else F.lit(False)
    for t, f in pairs:
        cond = cond | ((F.col("term") == t) & (F.col("field") == f))
    neg = neg.filter(cond).select("doc_id").distinct()
    return out.join(neg, on="doc_id", how=ANTI)


def _match(
    index: InvertedIndex,
    clauses: list[tuple[str, object]],
    cfg: IndexConfig,
    exclude_ids,
    max_expansions: int,
    k: int | None,
) -> DataFrame | None:
    """A clause list → full (doc_id, score) match set, None when nothing
    matches. ``k`` is a truncation hint honored only when the plan has
    no relational step (callers needing the complete set — fq, rerank,
    elevation, block joins — pass None)."""
    return _run(
        index, _spark_plan(index, clauses, cfg, max_expansions), cfg,
        exclude_ids, k,
    )


def search_lucene(
    index: InvertedIndex,
    query: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
    fq=None,
) -> DataFrame:
    """Execute a Lucene query string → top-k (doc_id, score).

    See the module docstring for syntax and the execution mapping.
    Pure negative queries (only MUST_NOT clauses) return no rows,
    like Lucene. ``fq``: optional non-scoring filter query (Solr fq —
    any supported query string); the result set is restricted to fq's
    match set via a semi-join but scores come from ``query`` alone —
    the standard Solr search-then-drill-down composition."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    clauses = _query_clauses(query, cfg)
    if not clauses:
        return empty
    # Under fq the complete match set must be scored BEFORE the filter
    # intersects it: fq-passing docs ranked below k among pre-filter
    # matches would otherwise be lost (mirrors bm25.search's
    # `k if fq is None else n_docs` invariant).
    out = _match(
        index, clauses, cfg, exclude_ids, max_expansions,
        k if fq is None else None,
    )
    if out is None:
        return empty
    if fq is not None:
        out = out.join(
            fq_doc_ids(
                index, fq, cfg=cfg, exclude_ids=exclude_ids,
                max_expansions=max_expansions,
            ).select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def fq_doc_ids(
    index: InvertedIndex,
    fq,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """Solr fq (non-scoring filter query) → (bucket, doc_id) match
    set. ``fq`` is any supported Lucene query string (or pre-parsed
    clause list). Fast path: an fq of bare unfielded terms — the
    common drill-down shape — matches by decoding ONLY doc_id streams
    (``facets.matching_doc_ids``, no scoring); anything richer
    (phrases, prefixes, groups, field selectors) runs the full
    executor and keeps just the ids. A pure-negative fq is the live
    universe (``facets.all_doc_ids``) minus the match set of its
    flipped clauses (``_filter_clauses``). Either way the result is
    the COMPLETE match set (no top-k truncation), suitable for
    semi-joins from ``search_lucene`` / ``facet_counts``."""
    from golr_loader_spark.plans.build_index import bucket_of
    from golr_loader_spark.plans.facets import all_doc_ids, matching_doc_ids

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "bucket int, doc_id long")
    clauses, negated = _filter_clauses(fq, cfg)
    if not clauses:
        return empty
    occurs = {occ for occ, _n in clauses}
    all_bare_terms = all(
        isinstance(n, Term) and n.field is None for _o, n in clauses
    )
    if all_bare_terms and (occurs == {SHOULD} or occurs == {MUST}):
        ids = matching_doc_ids(
            index, " ".join(n.text for _o, n in clauses), cfg=cfg,
            mode="and" if occurs == {MUST} else "or",
            exclude_ids=exclude_ids,
        )
    else:
        out = _match(index, clauses, cfg, exclude_ids, max_expansions, None)
        ids = empty if out is None else out.select(
            bucket_of(
                F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits
            ).alias("bucket"),
            "doc_id",
        )
    if not negated:
        return ids
    return all_doc_ids(index, cfg=cfg, exclude_ids=exclude_ids).join(
        ids.select("doc_id"), on="doc_id", how=ANTI
    ).select("bucket", "doc_id")


def _phrase_doc_score(
    index: InvertedIndex,
    ph: Phrase,
    doc_id: int,
    cfg: IndexConfig,
    exclude_ids,
) -> float | None:
    """Phrase score of ONE doc (None when the doc doesn't contain the
    phrase): run the positional bucket matcher over the doc's OWN
    bucket only — a point lookup like ``bm25.explain``, not a corpus
    query."""
    from golr_loader_spark.functions.tokenize import analyze_phrase
    from golr_loader_spark.plans.bm25 import _idf_table, _norm_excl
    from golr_loader_spark.plans.build_index import bucket_of
    from golr_loader_spark.plans.phrase import _phrase_bucket_factory

    field = ph.field or next(iter(cfg.fields))
    seq = analyze_phrase(ph.text, cfg.fields[field][0], cfg.min_term_len, cfg.chain)
    if not seq:
        return None
    uterms = sorted({t for t, _p in seq})
    fn = _phrase_bucket_factory(
        seq, _idf_table(index, uterms), field, index.avgdl_by_field[field],
        cfg, index.n_docs, ph.slop, "phrase", _norm_excl(exclude_ids),
    )
    if fn is None:
        return None
    pdf = (
        index.postings.filter(
            F.col("term").isin(uterms)
            & (F.col("field") == F.lit(field))
            & (
                F.col("bucket")
                == bucket_of(
                    F.lit(int(doc_id)), cfg.bucket_bits, cfg.id_space_bits
                )
            )
        )
        .toPandas()
    )
    if not len(pdf):
        return None
    res = fn(pdf)
    hit = res[res["doc_id"] == doc_id]
    if not len(hit):
        return None
    return float(hit["score"].iloc[0])


def explain_lucene(
    index: InvertedIndex,
    query: str,
    doc_id: int,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> dict:
    """Lucene Explanation for a FULL query string (Solr debugQuery=on
    over every clause type — ``bm25.explain`` covers plain term
    queries): per-clause breakdown of ``doc_id``'s score under
    ``query``, including boolean term clauses (with per-(term, field)
    tf/dl/idf/weight entries), prefix/fuzzy/range expansions (their
    expanded terms appear as term entries), phrase clauses, and
    nested groups (recursive explanations). ``matches`` is False —
    with a ``reason`` — when the doc fails a MUST clause or contains
    a MUST_NOT member; the score then reflects Lucene's "did not
    match" (0.0). When it matches, summing in the reported clause
    order reproduces ``search_lucene``'s score for the doc. The
    doc's postings and phrase scores are point reads of its own
    bucket, not a corpus query."""
    from golr_loader_spark.plans.build_index import bucket_of
    from golr_loader_spark.plans.phrase import decode_postings

    cfg = cfg or index.cfg
    doc_id = int(doc_id)
    in_doc = (F.col("doc_id") == doc_id) & (
        F.col("bucket")
        == bucket_of(F.lit(doc_id), cfg.bucket_bits, cfg.id_space_bits)
    )

    def tfdl(terms):
        return {
            (r["term"], r["field"]): (int(r["tf"]), int(r["dl"]))
            for r in decode_postings(index, terms, cfg, exclude_ids=exclude_ids)
            .filter(in_doc)
            .collect()
        }

    return _explain_plan(
        _spark_plan(index, parse_lucene(query), cfg, max_expansions),
        doc_id, cfg, _avgdl(index), tfdl,
        lambda ph: _phrase_doc_score(index, ph, doc_id, cfg, exclude_ids),
    )


def search_elevated(
    index: InvertedIndex,
    query: str,
    elevate: list[int] | None = None,
    exclude: list[int] | None = None,
    k: int = 10,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """Solr QueryElevationComponent (elevate.xml): editorial pinning —
    ``elevate`` doc_ids appear FIRST in the given order regardless of
    their organic rank (forceElevation: even a non-matching doc is
    pinned, with score 0.0 like Solr's elevated-but-unscored docs),
    ``exclude`` doc_ids vanish, everything else follows by organic
    (score desc, doc_id asc). Scores of elevated docs are their
    organic scores when they match — Solr keeps the real score and
    marks ``[elevated]``; the marker here is position.

    Plan: one complete-set pass of the organic query (the fq
    invariant), the pinned page assembled driver-side from ≤|elevate|
    point lookups (a broadcast semi-join when the list is long), the
    tail a TakeOrdered over the remainder."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    elevate = [int(d) for d in (elevate or [])]
    excl_set = {int(d) for d in (exclude or [])}
    base = _match(
        index, parse_lucene(query), cfg, exclude_ids, max_expansions, None
    )
    if base is None:
        base = spark.createDataFrame([], "doc_id long, score double")
    pinned_ids = [d for d in elevate if d not in excl_set][:k]
    drop = excl_set | set(elevate)
    if drop:
        tail = base.filter(~F.col("doc_id").isin([int(d) for d in drop]))
    else:
        tail = base
    n_tail = max(0, k - len(pinned_ids))
    tail_rows = (
        tail.orderBy(F.desc("score"), F.asc("doc_id")).limit(n_tail).collect()
        if n_tail
        else []
    )
    pinned_scores = {}
    if pinned_ids:
        for r in base.filter(F.col("doc_id").isin(pinned_ids)).collect():
            pinned_scores[int(r["doc_id"])] = float(r["score"])
    out = [(d, pinned_scores.get(d, 0.0)) for d in pinned_ids]
    out += [(int(r["doc_id"]), float(r["score"])) for r in tail_rows]
    return spark.createDataFrame(out[:k], "doc_id long, score double")


def elevate_lists(
    base: dict[int, float],
    elevate: list[int] | None,
    exclude: list[int] | None,
    k: int,
) -> list[tuple[int, float]]:
    """Serving/shard kernel for QueryElevation over a complete
    {doc_id: score} match set — identical page-assembly rule as
    ``search_elevated`` (pinned in elevation order, score 0.0 when
    unmatched, excluded gone, organic tail)."""
    excl = {int(d) for d in (exclude or [])}
    elev = [int(d) for d in (elevate or [])]
    pinned = [d for d in elev if d not in excl][:k]
    out = [(d, float(base.get(d, 0.0))) for d in pinned]
    drop = excl | set(elev)
    rest = sorted(
        ((int(d), float(s)) for d, s in base.items() if int(d) not in drop),
        key=lambda x: (-x[1], x[0]),
    )
    out += rest[: max(0, k - len(out))]
    return out
