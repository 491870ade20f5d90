"""LocalSearcher's BM25 path runs the list-level scoring core once per
query over whole-index decoded lists; the Spark scorers run the same
core per bucket.

* goldens: digests of ``LocalSearcher.search`` over a Zipf query
  stream (OR and AND, top-10 ``(doc_id, score)`` pairs, scores exact)
  on three roots — dense ids at ``bucket_bits=3`` with positions, dense
  ids at ``bucket_bits=1`` after a fast upsert and deletes, and 64-bit
  hash ids (sparse doc-id spans). The dense and hash digests were
  recorded from the per-bucket scorer this path replaced. On the live
  root that scorer pruned with negative weights (the fast upsert's
  stale df exceeds n_docs for "def" and "return", so their content idf
  is below 0) and 9 of its 300 answers missed docs of the exact
  ranking; that root's digest is the change's own, and every answer on
  every root must equal the unpruned ranking (k = n_docs, cut to 10);
* parity: served ``search_boolean`` with MUST_NOT and ``search_prefix``
  equal the Spark plans on the same roots;
* cache scope: a cold query of n terms adds at most n BM25 entries to
  the decoded-list cache.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.bm25 import (
    query_analyzer,
    search,
    search_boolean,
    search_prefix,
)
from golr_loader_spark.plans.build_index import build_index, read_index, write_index
from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents
from golr_loader_spark.plans.maintenance import (
    delete_docs,
    load_tombstones,
    upsert_docs_fast,
)
from golr_loader_spark.plans.serve import LocalSearcher

N = 600
UPSERTS = 20  # half updates of existing ids, half new ids
DELETES = 5
STREAM = 300

# sha256 of the stream's results per root; see the module docstring
# for where each was recorded
GOLDENS = {
    "dense_b3": "2de7b6568e7494f742d5367c4fa07035e88fa0f0422823a70c6be068aa238151",
    "dense_b1_live": "6de00992fabe655181037451f10f99bbb71275edae43ce11fc00b22868fa62d7",
    "hash_ids": "694025801987c0e0723a35a2f622a9982d4c6dbc90a00e3f59ebfae3537b584e",
}


def _id_bits(n: int) -> int:
    return max(2, (n - 1).bit_length())


def _build(spark, docs, cfg, root: str) -> str:
    write_index(build_index(docs, cfg), root, term_partitions=4, documents=docs)
    return root


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("kernel")
    corpus = flatten_documents(synth_corpus(spark, N + UPSERTS // 2, seed=11, partitions=4))
    everything = assign_dense_ids(corpus).persist()
    dense = everything.filter(F.col("doc_id") < N)
    out = {}
    cfg = IndexConfig(bucket_bits=3, id_space_bits=_id_bits(N), positions=True)
    out["dense_b3"] = (_build(spark, dense, cfg, str(base / "b3")), cfg)

    cfg = IndexConfig(bucket_bits=1, id_space_bits=_id_bits(N + UPSERTS // 2))
    root = _build(spark, dense, cfg, str(base / "b1"))
    rng = np.random.RandomState(11)
    chosen = rng.choice(N, size=UPSERTS // 2 + DELETES, replace=False)
    upd, dele = chosen[: UPSERTS // 2], [int(i) for i in chosen[UPSERTS // 2 :]]
    # rows past N carry new content: the first half lands on existing
    # ids (updates), the rest keep their own (new) ids
    ids = {N + j: int(upd[j]) for j in range(UPSERTS // 2)}
    extra = everything.filter(F.col("doc_id") >= N)
    remap = F.create_map(*[F.lit(x) for kv in ids.items() for x in kv])
    batch = extra.withColumn("doc_id", F.element_at(remap, F.col("doc_id"))).unionByName(
        dense.filter(F.col("doc_id") < UPSERTS // 2).withColumn(
            "doc_id", F.col("doc_id") + N + UPSERTS // 2
        )
    )
    upsert_docs_fast(spark, root, batch, cfg)
    delete_docs(spark, root, dele)
    out["dense_b1_live"] = (root, cfg)

    cfg = IndexConfig(bucket_bits=3)
    out["hash_ids"] = (_build(spark, corpus, cfg, str(base / "hash")), cfg)
    everything.unpersist()
    return out


def _stream(ls: LocalSearcher, seed: int) -> list[tuple[str, str]]:
    """``STREAM`` queries of 1–4 distinct content terms drawn Zipf
    (s = 1.1) over the document-frequency rank; a third of them AND."""
    vocab = sorted(
        ls._ts.by_field.get("content", {}).items(), key=lambda td: (-td[1], td[0])
    )
    terms = [t for t, _d in vocab]
    rng = np.random.RandomState(seed)
    p = 1.0 / np.arange(1, len(terms) + 1, dtype=np.float64) ** 1.1
    p /= p.sum()
    out = []
    for _ in range(STREAM):
        k = int(rng.randint(1, 5))
        pick = rng.choice(len(terms), size=k, replace=False, p=p)
        mode = "and" if rng.random_sample() < 1 / 3 else "or"
        out.append((" ".join(terms[i] for i in pick), mode))
    return out


def _digest(results) -> str:
    h = hashlib.sha256()
    for hits in results:
        h.update(repr([(int(d), float(s).hex()) for d, s in hits]).encode())
        h.update(b"|")
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_stream_reproduces_golden(roots, name):
    root, cfg = roots[name]
    ls = LocalSearcher(root, cfg)
    got = []
    for q, mode in _stream(ls, 5):
        hits = ls.search(q, k=10, mode=mode)
        assert hits == ls.search(q, k=ls.n_docs + 100, mode=mode)[:10], (q, mode)
        got.append(hits)
    assert _digest(got) == GOLDENS[name]


@pytest.mark.parametrize("name", sorted(GOLDENS))
def test_served_queries_match_spark(spark, roots, name):
    root, cfg = roots[name]
    ix = read_index(spark, root, cfg)
    excl = load_tombstones(spark, root)
    ls = LocalSearcher(root, cfg)
    rows = lambda df: [(r["doc_id"], r["score"]) for r in df.collect()]  # noqa: E731
    cases = [
        (["def"], ["return util"], ["main"]),
        (None, ["def return"], ["util scan"]),
        (["return", "def"], None, ["index"]),
    ]
    for must, should, must_not in cases:
        want = rows(search_boolean(
            ix, must=must, should=should, must_not=must_not, k=10, cfg=cfg,
            exclude_ids=excl,
        ))
        assert want
        for _ in range(2):  # cold, then from the cache
            got = ls.search_boolean(must=must, should=should, must_not=must_not, k=10)
            assert got == want, (name, must, should, must_not)
    for q in ("def", "return", "def return util"):
        want = rows(search(ix, q, k=10, cfg=cfg, exclude_ids=excl))
        assert ls.search(q, k=10) == want, (name, q)
    for prefix in ("re", "ut", "d"):
        want = rows(search_prefix(ix, prefix, k=10, cfg=cfg, exclude_ids=excl))
        assert want
        assert ls.search_prefix(prefix, k=10) == want, (name, prefix)


def test_cold_query_adds_one_entry_per_term(roots):
    root, cfg = roots["dense_b3"]
    ls = LocalSearcher(root, cfg)
    for q, _mode in _stream(ls, 9)[:40]:
        before = len(ls._list_cache._d)
        ls.search(q, k=10)
        n_terms = len(set(analyze_query(q, query_analyzer(cfg), cfg.chain)))
        assert len(ls._list_cache._d) - before <= n_terms, q
