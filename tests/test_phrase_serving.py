"""LocalSearcher's positional serving path: ``search_phrase`` and
``search_span_near`` run the Spark path's matcher cores once over
per-term decoded lists kept in the searcher's decoded-list cache.

* on a live root (fast upserts plus deletes) the served phrase results
  equal ``phrase_search_positional`` handed the same tombstones, for
  both slops and scoring modes, cold and from the cache;
* a repeated phrase misses no cached list and reads no row group;
  ``refresh()`` drops the cached lists, so a deleted doc leaves the
  results;
* a root without positions still raises ``ValueError``.
"""

from __future__ import annotations

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import build_index, read_index, write_index
from golr_loader_spark.plans.maintenance import (
    delete_docs,
    load_tombstones,
    upsert_docs_fast,
)
from golr_loader_spark.plans.phrase import phrase_search_positional, span_near_search
from golr_loader_spark.plans.serve import LocalSearcher

ROWS = [
    (0, "data query spark engine"),
    (1, "query data spark"),
    (2, "data query data query runs"),
    (3, "big data query gap"),
    (4, "unrelated words entirely"),
    (5, "the data query"),
    (6, "data data query"),
    (7, "spark data x query"),
    (8, "query query data data"),
    (9, "more data query text here"),
    (10, "data then later query"),
    (11, "nothing relevant"),
]
UPSERTS = [
    (1, "data query now"),  # gains the exact phrase
    (2, "no phrase left"),  # loses it
    (8, "data data data query"),
    (20, "new data query doc"),  # new ids
    (21, "query data data spark"),
]
DELETED = [5, 20]
PHRASES = [
    "data query",
    "query data",
    "data data",  # repeated term
    "data query spark",
    "data absentterm",  # a term with no postings: always empty
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6,
        positions=True,
    )


def _root(spark, cfg, path) -> str:
    docs = _docs(spark, ROWS)
    root = str(path)
    write_index(build_index(docs, cfg), root, term_partitions=2, documents=docs)
    return root


@pytest.fixture(scope="module")
def live_root(spark, cfg, tmp_path_factory):
    root = _root(spark, cfg, tmp_path_factory.mktemp("live") / "ix")
    upsert_docs_fast(spark, root, _docs(spark, UPSERTS), cfg)
    delete_docs(spark, root, DELETED)
    return root


def _rows(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_phrase_parity_on_live_root(spark, cfg, live_root):
    ix = read_index(spark, live_root, cfg)
    excl = load_tombstones(spark, live_root)
    assert ix.postings.select("segment").distinct().count() == 2
    ls = LocalSearcher(live_root, cfg)
    nonempty = 0
    for phrase in PHRASES:
        for slop in (0, 2):
            for scoring in ("phrase", "terms"):
                want = _rows(
                    phrase_search_positional(
                        ix, phrase, k=10, slop=slop, cfg=cfg, scoring=scoring,
                        exclude_ids=excl,
                    )
                )
                nonempty += bool(want)
                assert not set(DELETED) & {d for d, _s in want}
                # the second answer comes from the cached lists
                for _ in range(2):
                    got = ls.search_phrase(phrase, k=10, slop=slop, scoring=scoring)
                    assert got == want, (phrase, slop, scoring)
    assert ls.search_phrase("data absentterm") == []
    assert nonempty >= 12


def test_span_near_parity_on_live_root(spark, cfg, live_root):
    ix = read_index(spark, live_root, cfg)
    excl = load_tombstones(spark, live_root)
    ls = LocalSearcher(live_root, cfg)
    for terms in (["data", "query"], ["spark", "data", "query"]):
        for window in (3, 5):
            want = _rows(
                span_near_search(ix, terms, window, k=10, cfg=cfg, exclude_ids=excl)
            )
            assert want
            for _ in range(2):
                assert ls.search_span_near(terms, window, k=10) == want


def _count_reads(ls: LocalSearcher) -> list[int]:
    """Count the searcher's row-group reads from here on."""
    calls = [0]
    read = ls._rgix.read

    def counted(*a, **kw):
        calls[0] += 1
        return read(*a, **kw)

    ls._rgix.read = counted
    return calls


def test_repeated_phrase_is_served_from_cache(cfg, live_root):
    ls = LocalSearcher(live_root, cfg)
    first = ls.search_phrase("data query spark", slop=2)
    misses = ls._list_cache.misses
    reads = _count_reads(ls)
    for slop, scoring in ((2, "phrase"), (0, "phrase"), (0, "terms")):
        ls.search_phrase("data query spark", slop=slop, scoring=scoring)
    assert ls.search_phrase("data query spark", slop=2) == first
    assert ls._list_cache.misses == misses
    assert reads[0] == 0
    # span-near reads the same per-term lists
    ls.search_span_near(["query", "data"], 3)
    assert ls._list_cache.misses == misses
    assert reads[0] == 0


def test_refresh_drops_cached_lists(spark, cfg, tmp_path):
    root = _root(spark, cfg, tmp_path / "ix")
    ls = LocalSearcher(root, cfg)
    before = ls.search_phrase("data query")
    assert 0 in {d for d, _s in before}
    delete_docs(spark, root, [0])
    # a searcher is a point-in-time view until it is reopened
    assert ls.search_phrase("data query") == before
    ls.refresh()
    after = ls.search_phrase("data query")
    assert 0 not in {d for d, _s in after}
    want = _rows(
        phrase_search_positional(
            read_index(spark, root, cfg), "data query", k=10, cfg=cfg,
            exclude_ids=load_tombstones(spark, root),
        )
    )
    assert after == want


def test_non_positional_root_raises(spark, tmp_path):
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6)
    root = _root(spark, cfg, tmp_path / "plain")
    ls = LocalSearcher(root, cfg)
    for _ in range(2):  # nothing is cached by the failed call
        with pytest.raises(ValueError, match="positional"):
            ls.search_phrase("data query")
        with pytest.raises(ValueError, match="positional"):
            ls.search_span_near(["data", "query"], 3)
    # BM25 serving on the same root is unaffected
    assert ls.search("data query", k=3)


def test_scan_fallback_matches_row_group_reads(cfg, live_root):
    """Without usable footer stats the serving reads fall back to a
    dataset scan; the answers do not change."""
    ls, scan = LocalSearcher(live_root, cfg), LocalSearcher(live_root, cfg)
    scan._rgix.complete = False
    for phrase in PHRASES:
        assert scan.search_phrase(phrase, slop=2) == ls.search_phrase(phrase, slop=2)
    assert scan.search_span_near(["data", "query"], 3) == ls.search_span_near(
        ["data", "query"], 3
    )
    assert scan.search("data query spark", k=5) == ls.search("data query spark", k=5)


def test_phrase_serving_with_decoded_cache_off(cfg, live_root):
    """``_list_cache = None`` (decode on every call, the mode the BM25
    path already honours) serves the same phrase, span-near and Lucene
    phrase-clause answers as the cached searcher."""
    on, off = LocalSearcher(live_root, cfg), LocalSearcher(live_root, cfg)
    off._list_cache = None
    for phrase in PHRASES:
        for slop in (0, 2):
            want = on.search_phrase(phrase, slop=slop)
            assert off.search_phrase(phrase, slop=slop) == want, (phrase, slop)
    for terms in (["data", "query"], ["spark", "data", "query"]):
        assert off.search_span_near(terms, 3) == on.search_span_near(terms, 3)
    for q in ('"data query" spark', '+data -"query data"'):
        assert off.query(q) == on.query(q), q


# (edismax, query, options) over the one-field live root: term MUST_NOT,
# phrase clauses and pf boosts, answered from changed segments
DISMAX_CASES = [
    (False, "data query", dict(tie=0.1)),
    (False, "data query spark", dict(mm=2, pf="text^2", pf2="text", ps=1)),
    (True, "data -spark", {}),
    (True, '+data "query data"~2 -engine', dict(pf="text^3")),
    (True, 'query "data query" -"data data"', dict(tie=0.3, pf3="text")),
]


def _dismax_serve(ls: LocalSearcher, edismax: bool, q: str, kw: dict):
    search = ls.search_edismax if edismax else ls.search_dismax
    return search(q, "text", k=10, **kw)


def test_dismax_parity_on_live_root(spark, cfg, live_root):
    from golr_loader_spark.plans.dismax import search_dismax, search_edismax

    ix = read_index(spark, live_root, cfg)
    excl = load_tombstones(spark, live_root)
    ls = LocalSearcher(live_root, cfg)
    for edismax, q, kw in DISMAX_CASES:
        search = search_edismax if edismax else search_dismax
        want = _rows(search(ix, q, "text", k=10, cfg=cfg, exclude_ids=excl, **kw))
        assert want and not set(DELETED) & {d for d, _s in want}
        assert _dismax_serve(ls, edismax, q, kw) == want, q
        # a repeated query is answered from the decoded lists
        misses = ls._list_cache.misses
        assert _dismax_serve(ls, edismax, q, kw) == want, q
        assert ls._list_cache.misses == misses, q


def test_dismax_serving_builds_no_pandas(cfg, live_root, monkeypatch):
    import pandas as pd

    ls = LocalSearcher(live_root, cfg)

    def built(*_a, **_kw):
        raise AssertionError("serving dismax built a pandas object")

    monkeypatch.setattr(pd, "DataFrame", built)
    monkeypatch.setattr(pd, "Series", built)
    for edismax, q, kw in DISMAX_CASES:
        assert _dismax_serve(ls, edismax, q, kw), q


# (edismax, query, options) over the one-field live root: term MUST_NOT,
# phrase clauses and pf boosts, answered from changed segments
DISMAX_CASES = [
    (False, "data query", dict(tie=0.1)),
    (False, "data query spark", dict(mm=2, pf="text^2", pf2="text", ps=1)),
    (True, "data -spark", {}),
    (True, '+data "query data"~2 -engine', dict(pf="text^3")),
    (True, 'query "data query" -"data data"', dict(tie=0.3, pf3="text")),
]


def _dismax_serve(ls: LocalSearcher, edismax: bool, q: str, kw: dict):
    search = ls.search_edismax if edismax else ls.search_dismax
    return search(q, "text", k=10, **kw)


def test_dismax_parity_on_live_root(spark, cfg, live_root):
    from golr_loader_spark.plans.dismax import search_dismax, search_edismax

    ix = read_index(spark, live_root, cfg)
    excl = load_tombstones(spark, live_root)
    ls = LocalSearcher(live_root, cfg)
    for edismax, q, kw in DISMAX_CASES:
        search = search_edismax if edismax else search_dismax
        want = _rows(search(ix, q, "text", k=10, cfg=cfg, exclude_ids=excl, **kw))
        assert want and not set(DELETED) & {d for d, _s in want}
        assert _dismax_serve(ls, edismax, q, kw) == want, q
        # a repeated query is answered from the decoded lists
        misses = ls._list_cache.misses
        assert _dismax_serve(ls, edismax, q, kw) == want, q
        assert ls._list_cache.misses == misses, q


def test_dismax_serving_builds_no_pandas(cfg, live_root, monkeypatch):
    import pandas as pd

    ls = LocalSearcher(live_root, cfg)

    def built(*_a, **_kw):
        raise AssertionError("serving dismax built a pandas object")

    monkeypatch.setattr(pd, "DataFrame", built)
    monkeypatch.setattr(pd, "Series", built)
    for edismax, q, kw in DISMAX_CASES:
        assert _dismax_serve(ls, edismax, q, kw), q
