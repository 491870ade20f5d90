"""Positional postings (IndexConfig.positions) and
phrase_search_positional: position round-trip through the block
codec, parity with the substring phrase path on the simple analyzer,
code-analyzer phrase semantics (subword positions, compound overlay),
sloppy matching vs a brute-force reference, and phrase-frequency
scoring."""

from __future__ import annotations

import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.codec import varint_decode
from golr_loader_spark.functions.tokenize import analyze_phrase
from golr_loader_spark.plans.build_index import NORMS_TERM, build_index
from golr_loader_spark.plans.phrase import (
    _decode_positions,
    phrase_search,
    phrase_search_positional,
)

ROWS = [
    (0, "data query spark engine"),
    (1, "query data spark"),
    (2, "data query data query runs"),
    (3, "big data  query gap"),
    (4, "unrelated words entirely"),
    (5, "the data query"),
    (6, "a a a"),
]
SCHEMA = "doc_id long, text string"

CODE_ROWS = [
    (0, "def getUserData(ctx): return user_data"),
    (1, "user_data parse(x) scan"),
    (2, "data user mix"),
    (3, "user stuff data things"),
    (4, "parse user_data now"),
]

_RAW = r"[A-Za-z_][A-Za-z0-9_]*|[0-9]+"
_SUB = r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+"


def _brute_positions(text: str, analyzer: str) -> dict[str, list[int]]:
    """Independent (plain-Python) recomputation of the index-side
    position convention: simple → split index; code → one position per
    subword, compound overlaid on its first subword."""
    d: dict[str, list[int]] = {}
    if analyzer == "simple":
        for i, t in enumerate(text.lower().split(" ")):
            d.setdefault(t, []).append(i)
        return d
    p = 0
    for tok in re.findall(_RAW, text):
        subs = re.findall(_SUB, tok)
        for j, s in enumerate(subs):
            d.setdefault(s.lower(), []).append(p + j)
        if len(subs) > 1:
            d.setdefault(tok.lower(), []).append(p)
        p += len(subs)
    return d


def _brute_phrase_freq(text: str, phrase: str, analyzer: str, slop: int) -> int:
    """Lucene sloppy MEMBERSHIP by brute-force enumeration (1 iff the
    doc matches): some assignment of one occurrence per query slot —
    distinct document positions for slots sharing a term — has
    adjusted-position span (max(pos−offset) − min(pos−offset)) ≤ slop.
    This is SloppyPhraseScorer's match condition and admits reordered
    terms (a transposition costs 2). Exact counts are pinned
    separately in the frequency tests."""
    import itertools

    seq = analyze_phrase(phrase, analyzer)
    if not seq:
        return 0
    pos = _brute_positions(text, analyzer)
    if any(t not in pos for t, _ in seq):
        return 0
    if slop == 0:
        # exact-phrase count (the engine's ExactPhrase analog): starts
        # where every slot sits at start + offset
        n = 0
        base = seq[0][1]
        for q0 in pos[seq[0][0]]:
            if all(q0 + (pi - base) in pos[ti] for ti, pi in seq[1:]):
                n += 1
        return n
    slots = [(t, p) for t, p in seq]
    for choice in itertools.product(*[pos[t] for t, _p in slots]):
        used: dict[str, set] = {}
        ok = True
        for (t, _o), c in zip(slots, choice):
            s = used.setdefault(t, set())
            if c in s:
                ok = False
                break
            s.add(c)
        if not ok:
            continue
        adj = [c - o for (_t, o), c in zip(slots, choice)]
        if max(adj) - min(adj) <= slop:
            return 1
    return 0


@pytest.fixture(scope="module")
def cfg_pos():
    return IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3,
        positions=True,
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, SCHEMA).cache()


@pytest.fixture(scope="module")
def ix_pos(docs, cfg_pos):
    return build_index(docs, cfg_pos)


@pytest.fixture(scope="module")
def cfg_code():
    return IndexConfig(
        fields={"text": ("code", 1.0)}, bucket_bits=2, id_space_bits=3,
        positions=True,
    )


@pytest.fixture(scope="module")
def code_docs(spark):
    return spark.createDataFrame(CODE_ROWS, SCHEMA).cache()


@pytest.fixture(scope="module")
def ix_code(code_docs, cfg_code):
    return build_index(code_docs, cfg_code)


@pytest.mark.parametrize("which", ["simple", "code"])
def test_positions_roundtrip(which, ix_pos, ix_code, request):
    """Decode every block's position stream and compare (doc, term) →
    sorted positions against the brute-force analyzer."""
    ix = ix_pos if which == "simple" else ix_code
    rows = ROWS if which == "simple" else CODE_ROWS
    truth = {}
    for doc_id, text in rows:
        for term, ps in _brute_positions(text, which).items():
            truth[(doc_id, term)] = sorted(ps)
    got: dict[tuple[int, str], list[int]] = {}
    for r in ix.postings.filter(F.col("term") != NORMS_TERM).collect():
        tfs = varint_decode(r["tfs"]).astype(np.int64)
        ids = np.cumsum(varint_decode(r["doc_ids"]).astype(np.int64)) + r[
            "doc_id_first"
        ]
        pos = _decode_positions(r["poss"], tfs)
        bounds = np.concatenate([[0], np.cumsum(tfs)])
        for i, doc in enumerate(ids):
            got.setdefault((int(doc), r["term"]), []).extend(
                pos[bounds[i] : bounds[i + 1]].tolist()
            )
    got = {k: sorted(v) for k, v in got.items()}
    assert got == truth


def test_positional_matches_substring_path(docs, ix_pos, cfg_pos):
    """slop=0 + scoring='terms' on the simple analyzer is row-for-row
    (and float-for-float) the substring phrase path."""
    for phrase in ["data query", "a a", "the data query", "query"]:
        want = [
            (r["doc_id"], r["score"])
            for r in phrase_search(ix_pos, docs, phrase, k=10, cfg=cfg_pos).collect()
        ]
        got = [
            (r["doc_id"], r["score"])
            for r in phrase_search_positional(
                ix_pos, phrase, k=10, slop=0, cfg=cfg_pos, scoring="terms"
            ).collect()
        ]
        assert got == want, phrase


def test_positional_membership_simple(ix_pos, cfg_pos):
    got = {
        r["doc_id"]
        for r in phrase_search_positional(
            ix_pos, "data query", k=10, cfg=cfg_pos
        ).collect()
    }
    assert got == {0, 2, 5}
    # slop=2 bridges doc 3's empty-token gap ("data <''> query") AND
    # admits doc 1's reversed pair ("query data" — a transposition
    # costs 2 in Lucene's adjusted-position semantics)
    got2 = {
        r["doc_id"]
        for r in phrase_search_positional(
            ix_pos, "data query", k=10, slop=2, cfg=cfg_pos
        ).collect()
    }
    assert got2 == {0, 1, 2, 3, 5}
    # slop=1 is NOT enough for the transposition
    got1 = {
        r["doc_id"]
        for r in phrase_search_positional(
            ix_pos, "data query", k=10, slop=1, cfg=cfg_pos
        ).collect()
    }
    assert 1 not in got1 and {0, 2, 3, 5} <= got1


def test_positional_code_phrases(ix_code, cfg_code):
    """Subword positions: 'user data' matches user_data and
    getUserData (consecutive subwords); compound-in-phrase aligns
    ('user_data parse' → user@0 data@1 parse@2)."""
    got = {
        r["doc_id"]
        for r in phrase_search_positional(
            ix_code, "user data", k=10, cfg=cfg_code
        ).collect()
    }
    assert got == {0, 1, 4}  # doc 2 has them reversed, doc 3 gapped
    got2 = {
        r["doc_id"]
        for r in phrase_search_positional(
            ix_code, "user_data parse", k=10, cfg=cfg_code
        ).collect()
    }
    assert got2 == {1}  # doc 4 is 'parse user_data' (reversed)


@pytest.mark.parametrize("analyzer", ["simple", "code"])
@pytest.mark.parametrize("slop", [0, 1, 2, 4])
@pytest.mark.parametrize(
    "phrase", ["data query", "user data", "data spark", "query spark engine"]
)
def test_sloppy_vs_brute(analyzer, slop, phrase, ix_pos, ix_code, cfg_pos, cfg_code):
    ix = ix_pos if analyzer == "simple" else ix_code
    cfg = cfg_pos if analyzer == "simple" else cfg_code
    rows = ROWS if analyzer == "simple" else CODE_ROWS
    want = {
        doc_id
        for doc_id, text in rows
        if _brute_phrase_freq(text, phrase, analyzer, slop) > 0
    }
    got = {
        r["doc_id"]
        for r in phrase_search_positional(ix, phrase, k=10, slop=slop, cfg=cfg).collect()
    }
    assert got == want, (analyzer, slop, phrase)


def test_phrase_freq_scoring(ix_pos, cfg_pos):
    """Default scoring: tf = phrase frequency (doc 2 has the phrase
    twice), idf = Σ term idfs, standard BM25 fold — recomputed here
    from corpus stats."""
    res = {
        r["doc_id"]: r["score"]
        for r in phrase_search_positional(ix_pos, "data query", k=10, cfg=cfg_pos).collect()
    }
    n_docs = ix_pos.n_docs
    avgdl = ix_pos.avgdl_by_field["text"]
    dfs = {
        r["term"]: r["df"]
        for r in ix_pos.term_stats.filter(
            ix_pos.term_stats.term.isin(["data", "query"])
        ).collect()
    }
    idf = sum(
        math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
        for t in ["data", "query"]
    )
    wt = idf * (cfg_pos.k1 + 1.0)
    texts = dict(ROWS)
    for doc_id, freq in [(0, 1.0), (2, 2.0), (5, 1.0)]:
        dl = len(texts[doc_id].split(" "))
        want = wt * freq / (
            freq + cfg_pos.k1 * (1 - cfg_pos.b + cfg_pos.b * dl / avgdl)
        )
        assert res[doc_id] == pytest.approx(want, rel=1e-12)
    assert res[2] > res[0]  # double occurrence outranks single


def test_positional_requires_flag(docs):
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3)
    ix = build_index(docs, cfg)
    with pytest.raises(ValueError, match="positional"):
        phrase_search_positional(ix, "data query", cfg=cfg)


def test_serving_phrase_parity(tmp_path, docs, ix_pos, cfg_pos):
    """LocalSearcher.search_phrase (no Spark at query time) returns
    exactly what the distributed positional path returns — both
    scoring modes, slop 0 and 2."""
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path / "posix")
    write_index(ix_pos, root, term_partitions=2)
    ls = LocalSearcher(root, cfg_pos)
    for slop in (0, 2):
        for scoring in ("phrase", "terms"):
            want = [
                (r["doc_id"], r["score"])
                for r in phrase_search_positional(
                    ix_pos, "data query", k=10, slop=slop, cfg=cfg_pos,
                    scoring=scoring,
                ).collect()
            ]
            got = ls.search_phrase("data query", k=10, slop=slop, scoring=scoring)
            assert got == want, (slop, scoring)


def test_compaction_preserves_positions(spark, cfg_pos):
    """compact_postings on a positional index re-encodes position
    lists; a compacted index answers phrase queries identically, and
    deleted docs drop out."""
    import numpy as np

    from golr_loader_spark.plans.build_index import InvertedIndex, build_index
    from golr_loader_spark.plans.maintenance import compact_postings

    docs = spark.createDataFrame(ROWS, SCHEMA)
    ix = build_index(docs, cfg_pos)
    dead = np.array([0], dtype=np.int64)
    compacted = compact_postings(ix.postings, dead, cfg_pos).persist()
    assert "poss" in compacted.columns
    ix2 = InvertedIndex(
        postings=compacted, term_stats=ix.term_stats, stats=ix.stats, cfg=cfg_pos
    )
    got = {
        r["doc_id"]
        for r in phrase_search_positional(ix2, "data query", k=10, cfg=cfg_pos).collect()
    }
    assert got == {2, 5}  # doc 0 compacted away, positions intact


# ------------------------------------------------------------ span-near

def _brute_span_freq(
    text: str, terms: list[str], window: int, analyzer: str
) -> int:
    """Unordered span-near reference: count anchor (sorted-first term)
    positions p such that SOME window of width `window` contains p and
    at least one occurrence of every term — brute force over all
    occurrence combinations."""
    import itertools

    pos = _brute_positions(text, analyzer)
    uterms = sorted(set(terms))
    if any(t not in pos for t in uterms):
        return 0
    anchor, rest = uterms[0], uterms[1:]
    n = 0
    for p in pos[anchor]:
        best = None
        for combo in itertools.product(*[pos[t] for t in rest]):
            allp = [p, *combo]
            span = max(allp) - min(allp)
            best = span if best is None else min(best, span)
        if rest and best is not None and best <= window - 1:
            n += 1
        elif not rest:
            n += 1
    return n


SPAN_ROWS = [
    (0, "data x query y spark"),        # span 4 (window 5)
    (1, "spark query data"),            # any order, span 2
    (2, "data query"),                  # missing spark
    (3, "data x x x x x query spark"),  # span 7
    (4, "spark a data b query data"),   # two data anchors
    (5, "other words"),
]


@pytest.fixture(scope="module")
def span_docs(spark):
    return spark.createDataFrame(SPAN_ROWS, SCHEMA).cache()


@pytest.fixture(scope="module")
def ix_span(span_docs, cfg_pos):
    return build_index(span_docs, cfg_pos)


@pytest.mark.parametrize("window", [3, 5, 8])
def test_span_near_vs_brute(window, ix_span, cfg_pos):
    from golr_loader_spark.plans.phrase import span_near_search

    terms = ["data", "query", "spark"]
    want = {
        doc_id
        for doc_id, text in SPAN_ROWS
        if _brute_span_freq(text, terms, window, "simple") > 0
    }
    got = {
        r["doc_id"]
        for r in span_near_search(
            ix_span, terms, window=window, k=10, cfg=cfg_pos
        ).collect()
    }
    assert got == want, window


def test_span_near_unordered_and_freq(ix_span, cfg_pos):
    from golr_loader_spark.plans.phrase import span_near_search

    res = {
        r["doc_id"]: r["score"]
        for r in span_near_search(
            ix_span, ["data", "query", "spark"], window=5, k=10, cfg=cfg_pos
        ).collect()
    }
    # order-free: doc 1 (reversed) matches; doc 3 (span 7) and doc 2
    # (missing term) do not
    assert set(res) == {0, 1, 4}
    # doc 4: only the FIRST data anchor (pos 2) fits a width-5 window
    # (spark@0..query@4); the second (pos 5) spans 5 — anchor counting
    # is per-occurrence, not per-doc
    assert _brute_span_freq(SPAN_ROWS[4][1], ["data", "query", "spark"], 5, "simple") == 1
    # widen to 6 and the second anchor qualifies too
    assert _brute_span_freq(SPAN_ROWS[4][1], ["data", "query", "spark"], 6, "simple") == 2


def test_span_near_serving_parity(tmp_path, ix_span, cfg_pos):
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.phrase import span_near_search
    from golr_loader_spark.plans.serve import LocalSearcher

    root = str(tmp_path / "spanix")
    write_index(ix_span, root, term_partitions=2)
    ls = LocalSearcher(root, cfg_pos)
    for window in (3, 5, 8):
        want = [
            (r["doc_id"], r["score"])
            for r in span_near_search(
                ix_span, ["data", "query", "spark"], window=window, k=10,
                cfg=cfg_pos,
            ).collect()
        ]
        got = ls.search_span_near(["data", "query", "spark"], window=window, k=10)
        assert got == want, window


def test_span_near_code_analyzer(ix_code, cfg_code):
    """Span-near on the code analyzer: subword positions make
    'user data parse' within window 3 match `user_data parse(x)`."""
    from golr_loader_spark.plans.phrase import span_near_search

    got = {
        r["doc_id"]
        for r in span_near_search(
            ix_code, ["user", "data", "parse"], window=3, k=10, cfg=cfg_code
        ).collect()
    }
    want = {
        doc_id
        for doc_id, text in CODE_ROWS
        if _brute_span_freq(text, ["user", "data", "parse"], 3, "code") > 0
    }
    assert got == want and 1 in got and 4 in got


# ---------------------------------------------- property: random corpora

def test_property_phrase_vs_brute(spark):
    """Hypothesis-style randomized sweep (fixed seed, deterministic):
    on random small-vocab token streams, positional phrase matching ==
    the brute-force reference for every (phrase, slop) probed."""
    import random

    rng = random.Random(20260817)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
        for i in range(40)
    ]
    cfg = IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6,
        positions=True,
    )
    ix = build_index(spark.createDataFrame(docs, SCHEMA), cfg)
    probes = [
        ("a b", 0), ("a b", 1), ("b a c", 0), ("b a c", 2),
        ("a a", 0), ("c d a", 3), ("a b a", 1),
        # transposition-heavy: slop ≥ 2 admits reordered pairs, higher
        # slops admit rotated triples (Lucene adjusted-span semantics)
        ("a b", 2), ("d c", 2), ("b a c", 4), ("c b a", 4),
        ("a b a", 3), ("d a", 1),
    ]
    for phrase, slop in probes:
        want = {
            d for d, t in docs if _brute_phrase_freq(t, phrase, "simple", slop) > 0
        }
        got = {
            r["doc_id"]
            for r in phrase_search_positional(
                ix, phrase, k=100, slop=slop, cfg=cfg
            ).collect()
        }
        assert got == want, (phrase, slop)
