"""LocalSearcher (Spark-free serving path) — identity with the
distributed search over the same persisted index."""

from __future__ import annotations

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.plans.bm25 import search
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.documents import flatten_documents
from golr_loader_spark.plans.manifest import build_index_checkpointed
from golr_loader_spark.plans.serve import LocalSearcher

QUERIES = ["def return", "zq0007", "userData index", "main util scan", "xyzzyq"]


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    cfg = IndexConfig()
    docs = flatten_documents(synth_corpus(spark, 400, seed=42)).cache()
    r1 = str(tmp_path_factory.mktemp("serve") / "flat")
    ix = build_index(docs, cfg)
    write_index(ix, r1, term_partitions=4)
    # stats path expected by LocalSearcher: write_index writes stats/
    r2 = str(tmp_path_factory.mktemp("serve") / "ckpt")
    build_index_checkpointed(docs, r2, cfg, n_bucket_groups=2)
    return docs, cfg, ix, r1, r2


def test_local_matches_distributed(spark, roots):
    docs, cfg, ix, r1, r2 = roots
    for root in (r1, r2):
        ls = LocalSearcher(root, cfg)
        for q in QUERIES:
            local = ls.search(q, k=10)
            dist = [
                (r["doc_id"], r["score"]) for r in search(ix, q, k=10, cfg=cfg).collect()
            ]
            assert local == dist, (root, q)


def test_local_latency_is_interactive(spark, roots):
    docs, cfg, ix, r1, r2 = roots
    ls = LocalSearcher(r1, cfg)
    ls.search("warm up", k=5)
    from golr_loader_spark.plans.serve import p95_latency_ms

    p95 = p95_latency_ms(ls, QUERIES * 4, k=10)
    # the point of the serving path: no Spark job per query
    assert p95 < 300, f"p95 {p95}ms"


def test_local_empty_and_unknown(spark, roots):
    docs, cfg, ix, r1, r2 = roots
    ls = LocalSearcher(r1, cfg)
    assert ls.search("", k=5) == []
    assert ls.search("xyzzyq plugh", k=5) == []


def test_local_and_mode_matches_distributed(spark, roots):
    """Conjunctive (MUST) serving parity: LocalSearcher mode='and'
    is identical to the distributed engine's AND mode, including the
    strict empty result when a term is absent from the corpus."""
    docs, cfg, ix, r1, _r2 = roots
    ls = LocalSearcher(r1, cfg)
    for q in ["def return", "main util scan", "def zq0007", "def xyzzyq"]:
        local = ls.search(q, k=10, mode="and")
        dist = [
            (r["doc_id"], r["score"])
            for r in search(ix, q, k=10, cfg=cfg, mode="and").collect()
        ]
        assert local == dist, q
    # AND results are a subset of OR results' doc set scored equally
    both = ls.search("def return", k=400, mode="and")
    any_ = dict(ls.search("def return", k=400, mode="or"))
    assert both and all(s == any_[d] for d, s in both)


def test_decoded_list_cache_semantics(spark, tmp_path):
    """DecodedListCache: identical results cached/uncached (incl. under
    tombstones), LRU eviction bound, refresh() replaces the cache."""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.corpus import synth_corpus
    from golr_loader_spark.plans.bm25 import DecodedListCache
    from golr_loader_spark.plans.build_index import build_index, write_index
    from golr_loader_spark.plans.documents import flatten_documents
    from golr_loader_spark.plans.maintenance import delete_docs
    from golr_loader_spark.plans.serve import LocalSearcher

    cfg = IndexConfig()
    docs = flatten_documents(synth_corpus(spark, 400, seed=3)).cache()
    ix = build_index(docs, cfg)
    root = str(tmp_path / "ix")
    write_index(ix, root, term_partitions=2)
    ls = LocalSearcher(root, cfg)
    qs = ["def return", "main util scan", "def return", "parse"]
    warm = [ls.search(q, k=10) for q in qs]
    again = [ls.search(q, k=10) for q in qs]
    assert warm == again
    assert ls._list_cache.hits > 0
    # uncached twin agrees exactly
    ls._list_cache = None
    assert [ls.search(q, k=10) for q in qs] == warm
    ls._list_cache = DecodedListCache(max_entries=2)
    for q in qs:
        ls.search(q, k=10)
    assert len(ls._list_cache._d) <= 2  # LRU bound holds
    # deletes: the cache dies with the searcher generation on refresh
    victim = warm[0][0][0]
    delete_docs(spark, root, [victim])
    old_cache = ls._list_cache
    ls.refresh()
    assert ls._list_cache is not old_cache
    assert victim not in {d for d, _s in ls.search("def return", k=10)}


def test_term_block_cache_serves_identical_results(spark, roots):
    """Round-6 per-term raw-block LRU: repeated terms skip the
    parquet read but must return byte-identical rankings, and the
    cache must actually be hit."""
    docs, cfg, ix, r1, r2 = roots
    ls = LocalSearcher(r1, cfg)
    first = [ls.search(q, k=10) for q in QUERIES]
    # repeats would come from the decoded lists; bypass them so the
    # second pass reads through the raw-block cache
    ls._list_cache = None
    hits_before = ls._term_blocks.hits
    second = [ls.search(q, k=10) for q in QUERIES]
    assert second == first
    assert ls._term_blocks.hits > hits_before
    # refresh() rebuilds the cache (fresh searcher state)
    ls.refresh()
    assert ls._term_blocks.hits == 0
    assert [ls.search(q, k=10) for q in QUERIES] == first
