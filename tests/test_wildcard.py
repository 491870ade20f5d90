"""WildcardQuery (bm25.search_wildcard + the Wildcard node in
plans/lucene.py + serving/sharded twins): Lucene semantics — ``*``
any sequence, ``?`` one char, anywhere in the pattern; expansion is a
dictionary scan with the literal prefix pushed down; scoring is the
SCORING_BOOLEAN disjunction like Prefix/Fuzzy/TermRange."""

from __future__ import annotations

import fnmatch

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.bm25 import (
    search_boolean,
    search_wildcard,
    wildcard_literal_prefix,
    wildcard_regex,
)
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.lucene import search_lucene

ROWS = [
    (0, "data query spark engine"),
    (1, "query data spark sparse"),
    (2, "data query data query runs"),
    (3, "spark streaming joins stack"),
    (4, "unrelated words entirely"),
    (5, "the data query dart"),
    (6, "sort scan data stark"),
    (7, "span sort query dust"),
]
SCHEMA = "doc_id long, text string"
VOCAB = sorted({t for _d, txt in ROWS for t in txt.split()})


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3
    )


@pytest.fixture(scope="module")
def ix(spark, cfg):
    return build_index(spark.createDataFrame(ROWS, SCHEMA).cache(), cfg)


def rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_regex_translation():
    assert wildcard_regex("te*t") == "^te.*t$"
    assert wildcard_regex("t?st") == "^t.st$"
    assert wildcard_regex("a.b*") == "^a\\.b.*$"
    assert wildcard_literal_prefix("sta*k") == "sta"
    assert wildcard_literal_prefix("?ark") == ""
    assert wildcard_literal_prefix("plain") == "plain"


@pytest.mark.parametrize(
    "pattern", ["s*k", "st*", "*ark", "d?ta", "s??n", "*ar*", "sp?r*"]
)
def test_matches_fnmatch_model_as_disjunction(ix, cfg, pattern):
    # brute-force model: expand against the corpus vocabulary with
    # fnmatch (same * / ? semantics), score the expansion as a SHOULD
    # disjunction — search_wildcard must agree exactly
    expanded = [t for t in VOCAB if fnmatch.fnmatchcase(t, pattern)]
    got = rows(search_wildcard(ix, pattern, k=10, cfg=cfg))
    if not expanded:
        assert got == []
        return
    want = rows(search_boolean(ix, should=expanded, k=10, cfg=cfg))
    assert got == want, pattern


def test_no_wildcard_chars_degenerates_to_term_query(ix, cfg):
    from golr_loader_spark.plans.bm25 import search

    assert rows(search_wildcard(ix, "data", k=10, cfg=cfg)) == rows(
        search(ix, "data", k=10, cfg=cfg)
    )


def test_querystring_routes_to_wildcard(ix, cfg):
    assert rows(search_lucene(ix, "d?ta", k=10, cfg=cfg)) == rows(
        search_wildcard(ix, "d?ta", k=10, cfg=cfg)
    )
    # MUST wildcard intersects like any required clause: +s*k +data
    got = {d for d, _s in rows(search_lucene(ix, "+s*k +data", k=10, cfg=cfg))}
    sk_docs = {
        d
        for d, _s in rows(search_wildcard(ix, "s*k", k=10, cfg=cfg))
    }
    data_docs = {0, 1, 2, 5, 6}
    assert got == (sk_docs & data_docs)


def test_expansion_cap_guard(ix, cfg):
    with pytest.raises(ValueError, match="expands to >"):
        search_wildcard(ix, "*a*", k=5, cfg=cfg, max_expansions=2).collect()


def test_serving_and_sharded_parity(spark, ix, cfg, tmp_path):
    from golr_loader_spark.plans.serve import LocalSearcher
    from golr_loader_spark.plans.shard import ShardedSearcher, shard_index

    root = str(tmp_path / "ix")
    write_index(ix, root, term_partitions=2)
    ls = LocalSearcher(root, cfg)
    sh = ShardedSearcher(shard_index(spark, root, root + "/sh", 2, cfg=cfg), cfg)
    for pattern in ("s*k", "*ark", "d?ta", "sp?r*", "zzz*y"):
        want = [
            (d, round(s, 6))
            for d, s in rows(search_wildcard(ix, pattern, k=10, cfg=cfg))
        ]
        got_l = [(d, round(s, 6)) for d, s in ls.search_wildcard(pattern, k=10)]
        got_s = [(d, round(s, 6)) for d, s in sh.search_wildcard(pattern, k=10)]
        assert got_l == want, pattern
        assert got_s == want, pattern
    # the query-string serving path takes the same route
    want_q = [(d, round(s, 6)) for d, s in ls.search_wildcard("d?ta", k=10)]
    assert [(d, round(s, 6)) for d, s in ls.query("d?ta", k=10)] == want_q


def test_explain_wildcard_pins_scores(ix, cfg):
    from golr_loader_spark.plans.lucene import explain_lucene

    for q in ("d?ta s*k", "+data *ar*"):
        got = dict(rows(search_lucene(ix, q, k=10, cfg=cfg)))
        assert got, q
        for d, s in got.items():
            ex = explain_lucene(ix, q, d, cfg=cfg)
            assert ex["matches"], (q, d, ex.get("reason"))
            assert ex["score"] == pytest.approx(s, rel=1e-12), (q, d)


def test_no_expansion_yields_the_norms_term(spark, ix, cfg, tmp_path):
    """Every doc's length lives in its field's norms list, a list under a
    reserved term: no multi-term expansion, term enumeration or MLT
    selection may return it, on either face, and each face's expansion
    is exactly the indexed vocabulary."""
    from golr_loader_spark.plans.bm25 import terms_enum
    from golr_loader_spark.plans.build_index import NORMS_TERM
    from golr_loader_spark.plans.lucene import Fuzzy, TermRange, Wildcard, _expand
    from golr_loader_spark.plans.mlt import seed_term_freqs, select_interesting_terms
    from golr_loader_spark.plans.serve import LocalSearcher, _wildcard_terms

    root = str(tmp_path / "ix")
    write_index(ix, root, term_partitions=2)
    ls = LocalSearcher(root, cfg)
    fields = list(cfg.fields)
    nodes = {
        "wildcard": Wildcard("*"),
        "open range": TermRange(None, None),
        "fuzzy": Fuzzy(NORMS_TERM.strip(), max_edits=1),
    }
    for name, node in nodes.items():
        for face in (_expand(ix, node, fields, 10_000), ls._expand(node, fields, 10_000)):
            assert NORMS_TERM not in face, name
            if name != "fuzzy":
                assert sorted(face) == VOCAB, name
    assert _wildcard_terms(ls._vocab_terms(), "*") == VOCAB  # the regex ^.*$
    assert NORMS_TERM not in {t for t, _d in ls.terms(limit=10_000)}
    assert NORMS_TERM not in {
        r["term"] for r in terms_enum(ix, limit=10_000, cfg=cfg).collect()
    }
    tf = seed_term_freqs(f"{NORMS_TERM} {NORMS_TERM} data data", "simple")
    df = {t: d for t, d in ls.terms(limit=10_000)}
    picked = select_interesting_terms(tf, df, ls.n_docs, min_tf=1, min_df=1)
    assert picked and NORMS_TERM not in {t for t, _b in picked}
