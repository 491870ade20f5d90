"""End-to-end index + rank-identity tests (SURVEY.md §5 plan items
(b)(c): golden postings round-trip and WAND-vs-exact rank identity)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import synth_corpus
from golr_loader_spark.functions.codec import decode_block
from golr_loader_spark.functions.tokenize import analyze_query, tokenize
from golr_loader_spark.plans.bm25 import score_exact, search, search_batch
from golr_loader_spark.plans.build_index import (
    build_index,
    build_postings_packed,
    corpus_stats,
    doc_lengths,
    read_index,
    term_stats,
    write_index,
)
from golr_loader_spark.plans.documents import flatten_documents

N_DOCS = 600
QUERIES = [
    "def return",  # ultra-hot terms (salting / pruning stress)
    "zq0007",  # rare identifier
    "userData index",  # camelCase compound + mid-freq
    "node_ctx batch import",  # snake compound + hot
    "nonexistent_term_xyzzy",  # no hits
    "main util scan",  # path-field heavy
]


@pytest.fixture(scope="module")
def corpus_ix(spark):
    docs = flatten_documents(synth_corpus(spark, N_DOCS, seed=42)).cache()
    cfg = IndexConfig()
    tokens = tokenize(docs, cfg).cache()
    dls = doc_lengths(tokens).cache()
    stats = corpus_stats(docs, dls).cache()
    ix = build_index(docs, cfg)
    ix.postings = ix.postings.cache()
    ix.term_stats = ix.term_stats.cache()
    return docs, cfg, tokens, dls, stats, ix


def test_postings_blocks_sorted_and_roundtrip(spark, corpus_ix):
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    rows = ix.postings.filter(F.col("term") == "def").collect()
    assert rows, "hot term must exist"
    # decode all blocks for (term=def, field=content) → globally sorted ids
    by_key = {}
    for r in sorted(rows, key=lambda r: (r["field"], r["bucket"], r["block_id"])):
        ids, tfs = decode_block(r["doc_id_first"], r["doc_ids"], r["tfs"])
        assert len(ids) == r["n"] and r["n"] <= cfg.block_size
        assert int(tfs.max()) == r["max_tf"]
        by_key.setdefault(r["field"], []).append(ids)
    all_ids = np.concatenate(by_key["content"])
    assert np.all(np.diff(all_ids) > 0), "bucket-range layout ⇒ global doc_id order"
    # postings match the uncompressed truth
    truth = sorted(
        r["doc_id"]
        for r in tokens.filter(
            (F.col("term") == "def") & (F.col("field") == "content")
        ).collect()
    )
    assert all_ids.tolist() == truth


def test_rank_identity_wand_vs_exact(spark, corpus_ix):
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    n_docs = ix.n_docs
    avgdl = {r["field"]: float(r["avgdl"]) for r in stats.collect()}
    for q in QUERIES:
        terms = analyze_query(q)
        exact = score_exact(tokens, dls, n_docs, avgdl, terms, cfg, k=10).collect()
        wand = search(ix, q, k=10, cfg=cfg).collect()
        assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact], q
        for a, b in zip(wand, exact):
            assert a["score"] == pytest.approx(b["score"], rel=1e-9), q


def test_search_batch_matches_single(spark, corpus_ix):
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    batch = search_batch(ix, dict(enumerate(QUERIES)), k=10, cfg=cfg).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, q in enumerate(QUERIES):
        single = search(ix, q, k=10, cfg=cfg).collect()
        got = sorted(by_q.get(qid, []), key=lambda r: r["rank"])
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in single], q
        assert [r["rank"] for r in got] == list(range(1, len(got) + 1))


def test_write_read_index_roundtrip(spark, corpus_ix, tmp_path):
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    root = str(tmp_path / "ix")
    write_index(ix, root, term_partitions=4)
    ix2 = read_index(spark, root, cfg)
    got = search(ix2, "def return", k=5, cfg=cfg).collect()
    want = search(ix, "def return", k=5, cfg=cfg).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in want
    ]


def test_encoder_carryover_small_arrow_batches(spark, corpus_ix):
    """Tiny Arrow batches (maxRecordsPerBatch) split every stage's input
    many times; the block table must not depend on where they fall."""
    docs, cfg, tokens, dls, stats, ix = corpus_ix

    key = ["term", "field", "bucket", "block_id"]
    baseline = {
        tuple(r[k] for k in key): (r["n"], r["doc_id_first"], r["doc_ids"])
        for r in ix.postings.collect()
    }
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        small = {
            tuple(r[k] for k in key): (r["n"], r["doc_id_first"], r["doc_ids"])
            for r in build_postings_packed(docs, cfg).collect()
        }
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert small == baseline


def test_conjunctive_mode_semantics(spark, corpus_ix):
    """mode='and' (Lucene MUST): every hit contains ALL analyzed
    terms, scores are bit-identical to the disjunctive scorer's for
    the surviving docs, and a query term absent from the corpus
    empties the result."""
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    q = "def return zq0007"
    terms = set(analyze_query(q))
    want_docs = {
        r["doc_id"]
        for r in tokens.filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("nt"))
        .filter(F.col("nt") == len(terms))
        .collect()
    }
    got = search(ix, q, k=1000, cfg=cfg, mode="and").collect()
    assert {r["doc_id"] for r in got} == want_docs
    # identical scores vs the disjunctive run (no-prune accumulation
    # order matches)
    or_scores = {
        r["doc_id"]: r["score"]
        for r in search(ix, q, k=1000, cfg=cfg, mode="or").collect()
    }
    for r in got:
        assert r["score"] == or_scores[r["doc_id"]]
    # strict MUST: missing term → empty
    assert search(ix, "def nonexistent_term_xyzzy", k=10, cfg=cfg, mode="and").count() == 0
    # batch path agrees with the single path
    batch = search_batch(ix, {0: q}, k=1000, cfg=cfg, mode="and").collect()
    assert {r["doc_id"] for r in batch} == want_docs


def test_empty_query_and_no_hits(spark, corpus_ix):
    docs, cfg, tokens, dls, stats, ix = corpus_ix
    assert search(ix, "", k=5, cfg=cfg).count() == 0
    assert search(ix, "%%% !!!", k=5, cfg=cfg).count() == 0
    # all subtokens absent from the corpus vocabulary
    assert search(ix, "xyzzyq plugh", k=5, cfg=cfg).count() == 0


def test_simple_analyzer_conjunctive_compound_tokens(spark):
    """On a simple-analyzer index, queries must be simple-analyzed too:
    code-splitting 'foo_bar' into {foo, bar, foo_bar} would demand
    postings a simple index can never contain, making mode='and'
    falsely empty (and OR scoring weight-skewed)."""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.bm25 import query_analyzer, search
    from golr_loader_spark.plans.build_index import build_index

    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=4)
    docs = spark.createDataFrame(
        [
            (0, "foo_bar baz qux"),
            (1, "foo_bar other words"),
            (2, "baz alone here"),
        ],
        "doc_id long, text string",
    )
    assert query_analyzer(cfg) == "simple"
    ix = build_index(docs, cfg)
    hits = [r["doc_id"] for r in search(ix, "foo_bar baz", k=10, cfg=cfg, mode="and").collect()]
    assert hits == [0]  # only doc 0 has BOTH tokens
    hits_or = {r["doc_id"] for r in search(ix, "foo_bar baz", k=10, cfg=cfg).collect()}
    assert hits_or == {0, 1, 2}


def test_explain_reproduces_search_score(spark):
    """Lucene Explanation analog: summing explain()'s per-term
    contributions in its listed order reproduces the doc's search()
    score bit-exactly, and the breakdown fields are self-consistent."""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.bm25 import explain, search
    from golr_loader_spark.plans.build_index import build_index

    rows = [
        (0, "data query spark engine"),
        (1, "query data data spark"),
        (2, "data query runs"),
        (3, "spark streaming"),
    ]
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3)
    ix = build_index(spark.createDataFrame(rows, "doc_id long, text string"), cfg)
    hits = {
        r["doc_id"]: r["score"]
        for r in search(ix, "data query spark", k=10, cfg=cfg).collect()
    }
    assert hits
    for doc_id, score in hits.items():
        ex = explain(ix, "data query spark", doc_id, cfg=cfg)
        assert ex["score"] == score  # bit-exact, same fold order
        total = 0.0
        for t in ex["terms"]:
            assert t["weight"] == pytest.approx(
                t["idf"] * (cfg.k1 + 1.0), rel=1e-12
            )
            total += t["contribution"]
        assert total == score
    # doc 1 has tf=2 for data — its data contribution must exceed
    # doc 0's (same dl=4)
    e0 = explain(ix, "data", 0, cfg=cfg)
    e1 = explain(ix, "data", 1, cfg=cfg)
    c0 = [t for t in e0["terms"] if t["term"] == "data"][0]
    c1 = [t for t in e1["terms"] if t["term"] == "data"][0]
    assert c1["tf"] == 2 and c0["tf"] == 1 and c1["contribution"] > c0["contribution"]


def test_explain_serving_parity(spark, tmp_path):
    """LocalSearcher.explain == distributed explain, field for field."""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.bm25 import explain, search
    from golr_loader_spark.plans.build_index import build_index, write_index
    from golr_loader_spark.plans.serve import LocalSearcher

    rows = [
        (0, "data query spark engine"),
        (1, "query data data spark"),
        (2, "data query runs"),
        (3, "spark streaming"),
    ]
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3)
    ix = build_index(spark.createDataFrame(rows, "doc_id long, text string"), cfg)
    root = str(tmp_path / "exix")
    write_index(ix, root, term_partitions=2)
    ls = LocalSearcher(root, cfg)
    for r in search(ix, "data query spark", k=10, cfg=cfg).collect():
        want = explain(ix, "data query spark", r["doc_id"], cfg=cfg)
        got = ls.explain("data query spark", r["doc_id"])
        assert got == want
        assert got["score"] == r["score"]
