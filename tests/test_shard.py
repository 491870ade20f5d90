"""Sharded serving (plans/shard.py): shard_index splits a persisted
root into independent LocalSearcher-able directories; ShardedSearcher
scatter-gathers per-shard results into pages IDENTICAL to the
unsharded LocalSearcher on every query type (the SolrCloud
coordinator contract — global stats copied per shard make per-shard
scores globally comparable, so truncated-top-k merging is exact)."""

from __future__ import annotations

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.documents import flatten_documents
from golr_loader_spark.plans.facets import build_facets
from golr_loader_spark.plans.serve import LocalSearcher
from golr_loader_spark.plans.shard import ShardedSearcher, shard_index

N_DOCS = 400


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(positions=True)


@pytest.fixture(scope="module")
def roots(spark, cfg, tmp_path_factory):
    docs = flatten_documents(synth_corpus(spark, N_DOCS, seed=7)).cache()
    ix = build_index(docs, cfg)
    base = tmp_path_factory.mktemp("shardix")
    root = str(base / "flat")
    fx = build_facets(docs, ["lang", "repo"], cfg)
    write_index(
        ix, root, term_partitions=4, documents=docs,
        facets=fx, store_fields=["path", "lang", "content_len"],
    )
    out = str(base / "sharded")
    shard_roots = shard_index(spark, root, out, 4, cfg=cfg)
    return root, shard_roots, docs


@pytest.fixture(scope="module")
def pair(roots, cfg):
    root, shard_roots, _docs = roots
    return LocalSearcher(root, cfg), ShardedSearcher(shard_roots, cfg)


QUERIES = ["def return", "user data", "main util scan", "zq0007", "parse"]


def test_shards_are_disjoint_and_complete(roots, cfg):
    root, shard_roots, _docs = roots
    uni = LocalSearcher(root, cfg)._all_doc_ids_local()
    seen: set[int] = set()
    for r in shard_roots:
        ids = LocalSearcher(r, cfg)._all_doc_ids_local()
        assert not (ids & seen), "doc in two shards"
        seen |= ids
    assert seen == uni


def test_search_parity(pair):
    ls, ss = pair
    for q in QUERIES:
        for mode in ("or", "and"):
            assert ss.search(q, k=10, mode=mode) == ls.search(
                q, k=10, mode=mode
            ), (q, mode)
    assert ss.search_many({1: "def return", 2: "parse"}, k=5) == ls.search_many(
        {1: "def return", 2: "parse"}, k=5
    )


def test_boolean_prefix_fuzzy_parity(pair):
    ls, ss = pair
    assert ss.search_boolean(
        must=["def"], should=["return util"], must_not=["zq0007"], k=10
    ) == ls.search_boolean(
        must=["def"], should=["return util"], must_not=["zq0007"], k=10
    )
    assert ss.search_prefix("ret", k=10) == ls.search_prefix("ret", k=10)
    assert ss.search_fuzzy("retrn", max_edits=1, k=10) == ls.search_fuzzy(
        "retrn", max_edits=1, k=10
    )


def test_phrase_span_parity(pair):
    ls, ss = pair
    for slop in (0, 2):
        assert ss.search_phrase("def return", k=10, slop=slop) == ls.search_phrase(
            "def return", k=10, slop=slop
        ), slop
    assert ss.search_span_near(["def", "return"], window=4, k=10) == (
        ls.search_span_near(["def", "return"], window=4, k=10)
    )


def test_dismax_boost_parity(pair):
    ls, ss = pair
    qf = {"content": 1.0, "path": 2.0}
    assert ss.search_dismax("def return", qf, k=10, tie=0.3, mm=1) == (
        ls.search_dismax("def return", qf, k=10, tie=0.3, mm=1)
    )
    assert ss.search_edismax("+def return -zq0007", qf, k=10, tie=0.2) == (
        ls.search_edismax("+def return -zq0007", qf, k=10, tie=0.2)
    )
    boosts = {d: 0.5 for d, _s in ls.search("def", k=20)}
    assert ss.search_boosted("def return", boosts, k=10) == (
        ls.search_boosted("def return", boosts, k=10)
    )


def test_querystring_fq_parity(pair):
    ls, ss = pair
    for q, fq in [
        ("def return", None),
        ("def return", "util"),
        ('"def return"', None),
        ("(def OR util) +return", None),
        ("def", "-util"),
    ]:
        assert ss.query(q, k=10, fq=fq) == ls.query(q, k=10, fq=fq), (q, fq)


def test_facets_parity(pair):
    ls, ss = pair
    q = "def return"
    assert ss.facet_counts(q, top=5) == ls.facet_counts(q, top=5)
    assert ss.range_facet_counts(q, "content_len", 100.0) == (
        ls.range_facet_counts(q, "content_len", 100.0)
    )
    assert ss.pivot_facet_counts(q, "lang", "repo", top_outer=3, top_inner=2) == (
        ls.pivot_facet_counts(q, "lang", "repo", top_outer=3, top_inner=2)
    )
    assert ss.stats_field(q, "content_len") == ls.stats_field(q, "content_len")
    assert ss.stats_field(q, "content_len", fq="util") == ls.stats_field(
        q, "content_len", fq="util"
    )
    assert ss.stats_field(q, "content_len", percentiles=[50, 95]) == (
        ls.stats_field(q, "content_len", percentiles=[50, 95])
    )
    assert ss.suggest("retrn", k=5) == ls.suggest("retrn", k=5)


def test_sort_paging_parity(pair):
    ls, ss = pair
    q = "def return"
    for start in (0, 5, 20):
        assert ss.search_sorted(
            q, "content_len", ascending=False, start=start, rows=7
        ) == ls.search_sorted(
            q, "content_len", ascending=False, start=start, rows=7
        ), start
    # cursor walk: page 2 via the cursor from page 1
    p1 = ls.search_after(q, "content_len", rows=5)
    p1s = ss.search_after(q, "content_len", rows=5)
    assert p1 == p1s
    cur_d, cur_v = p1[-1]
    assert ss.search_after(
        q, "content_len", after_value=cur_v, after_doc_id=cur_d, rows=5
    ) == ls.search_after(
        q, "content_len", after_value=cur_v, after_doc_id=cur_d, rows=5
    )


def test_grouping_fetch_explain_parity(pair):
    ls, ss = pair
    q = "def return"
    assert ss.grouped_topk("lang", q, docs_per_group=2, k_groups=3) == (
        ls.grouped_topk("lang", q, docs_per_group=2, k_groups=3)
    )
    hits = ls.search(q, k=5)
    ids = [d for d, _s in hits]
    assert ss.fetch(ids, ["lang", "path"]) == ls.fetch(ids, ["lang", "path"])
    got = ss.search_fetch(q, k=5, fields=["lang"], highlight_field="path")
    want = ls.search_fetch(q, k=5, fields=["lang"], highlight_field="path")
    assert got == want
    d0 = ids[0]
    assert ss.explain(q, d0) == ls.explain(q, d0)
    assert ss.explain_query("(def OR util) return", d0) == (
        ls.explain_query("(def OR util) return", d0)
    )


def test_matching_ids_parity(pair):
    import numpy as np

    ls, ss = pair
    for mode in ("or", "and"):
        a = np.sort(ls.matching_ids("def return", mode=mode))
        b = ss.matching_ids("def return", mode=mode)
        assert np.array_equal(a, b), mode


def test_parallel_scatter_optin_identical(roots, cfg):
    """parallel=True (process-per-shard scatter since round 5; see
    test_shard_process.py for the full surface) is an opt-in transport
    choice, never a semantic one: identical results to the sequential
    default on ranked, facet, and grouped operations. The sequential
    and process transports are the only two."""
    _root, shard_roots, _docs = roots
    seq = ShardedSearcher(shard_roots, cfg)
    assert seq._pool is None and seq._proxies is None
    with pytest.raises(ValueError, match="bool"):
        ShardedSearcher(shard_roots, cfg, parallel="threads")
    with ShardedSearcher(shard_roots, cfg, parallel=True) as par:
        assert par._pool is not None and par._proxies is not None
        for q in QUERIES:
            assert par.search(q, k=10) == seq.search(q, k=10), q
        assert par.facet_counts("def", "lang") == seq.facet_counts("def", "lang")
        assert par.grouped_topk("lang", "def return", k_groups=3) == (
            seq.grouped_topk("lang", "def return", k_groups=3)
        )
