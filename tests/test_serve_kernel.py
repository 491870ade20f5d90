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
  the decoded-list cache;
* live-root goldens: on the fast-upserted and deleted root, the
  membership sets (``matching_ids`` / ``matching_doc_ids``), the live
  universe, ``explain`` and ``explain_query`` of untouched, superseded,
  deleted and new docs, and a query whose prohibited term is applied
  after a join (``lucene._vet`` on both faces). They were recorded
  from the per-block matcher and explain reads that serving used before
  it read the decoded lists.
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


def _mutated() -> tuple[list[int], list[int]]:
    """(updated ids, deleted ids) of the live root."""
    chosen = np.random.RandomState(11).choice(
        N, size=UPSERTS // 2 + DELETES, replace=False
    )
    return [int(i) for i in chosen[: UPSERTS // 2]], [
        int(i) for i in chosen[UPSERTS // 2 :]
    ]


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
    upd, dele = _mutated()
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


# membership, explain and vetted-join answers on the live root (two
# fields, superseded and deleted copies), pinned before serving match
# and explain moved onto the decoded lists
MATCH_QUERIES = [
    ("def return", "or"), ("def return", "and"), ("util main", "or"),
    ("util main", "and"), ("return index scan", "or"), ("def zzabsent", "and"),
]
# a SHOULD group full-outer joins the term result, so the prohibited
# term is applied to docs the scorer never saw (``lucene._vet``)
VET_QUERY = "def (return OR util) -main"
EXPLAIN_QUERIES = ["def return util", VET_QUERY, "+return +def path"]
# the serving and Spark faces share the matching, universe and vetted
# query digests
LIVE_GOLDENS = {
    "matching": "34cc40e5af2616320c4a0382baa5985560dc7fe6d87314179062a9265ff1ad0a",
    "universe": "39bccf21bd1cb587283bc2293da160b9a5448ed8ce97f59307bd7613ecff8441",
    "explain": "12f181f081a6cb313ef531a749e65143fbb387960f59e77feccd979af7cd35db",
    "explain_query": "3107c3d128954001b0ac1a63bb11cfc5282c6c88e52581e2dfdebddabc185e16",
    "vet_query": "25c9808f2c57d1df5df73fb7ec00c5b1cf4e73c56d8282ad92c651d407f3eeea",
}
# every match of VET_QUERY: more than the root's docs
VET_K = N + UPSERTS


def _explained_docs() -> list[int]:
    """Two untouched docs, every updated (superseded) and deleted doc,
    and two new ids."""
    upd, dele = _mutated()
    live = [i for i in range(N) if i not in upd and i not in dele][:2]
    return live + upd + dele + [N + UPSERTS // 2, N + UPSERTS // 2 + 1]


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def test_live_root_match_and_explain_goldens(roots):
    root, cfg = roots["dense_b1_live"]
    ls = LocalSearcher(root, cfg)
    docs = _explained_docs()
    got = {
        "matching": _sha(
            [ls.matching_ids(q, mode).tolist() for q, mode in MATCH_QUERIES]
        ),
        "universe": _sha(sorted(ls._all_doc_ids_local())),
        "explain": _sha(
            [ls.explain(q, d) for q in EXPLAIN_QUERIES for d in docs]
        ),
        "explain_query": _sha(
            [ls.explain_query(q, d) for q in EXPLAIN_QUERIES for d in docs]
        ),
        "vet_query": _digest([ls.query(VET_QUERY, k=VET_K)]),
    }
    assert got == {k: LIVE_GOLDENS[k] for k in got}


def test_live_root_spark_match_goldens(spark, roots):
    from golr_loader_spark.plans.facets import all_doc_ids, matching_doc_ids
    from golr_loader_spark.plans.lucene import search_lucene

    root, cfg = roots["dense_b1_live"]
    ix = read_index(spark, root, cfg)
    excl = load_tombstones(spark, root)
    ls = LocalSearcher(root, cfg)

    def ids(df) -> list[int]:
        return sorted(r["doc_id"] for r in df.collect())

    matching = []
    for q, mode in MATCH_QUERIES:
        got = ids(matching_doc_ids(ix, q, cfg=cfg, mode=mode, exclude_ids=excl))
        assert got == ls.matching_ids(q, mode).tolist(), (q, mode)
        matching.append(got)
    universe = ids(all_doc_ids(ix, cfg=cfg, exclude_ids=excl))
    assert universe == sorted(ls._all_doc_ids_local())
    hits = [
        (r["doc_id"], r["score"])
        for r in search_lucene(
            ix, VET_QUERY, k=VET_K, cfg=cfg, exclude_ids=excl
        ).collect()
    ]
    got = {
        "matching": _sha(matching),
        "universe": _sha(universe),
        "vet_query": _digest([hits]),
    }
    assert got == {k: LIVE_GOLDENS[k] for k in got}
