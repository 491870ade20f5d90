"""Exact goldens for the Lucene query surface, on both faces.

The digests below were taken from the tree in which Spark
(``lucene.search_lucene`` / ``explain_lucene`` / ``fq_doc_ids``) and
serving (``LocalSearcher.query`` / ``explain_query`` /
``_fq_ids_local``) each walked clause lists with their own hand-kept
evaluator. They pin, with ``==`` and no tolerance:

* the top-10 of the randomized query set of ``tests/test_lucene.py``
  (``_random_queries(seed=7, n=30)``), of its serving, explain and
  field/boost query lists, on each face;
* the complete explain dict of every doc of the corpus (returned docs
  and non-matches alike) for the explain query lists on the serving
  face, and on the Spark face for the docs that reach every reason
  (each Spark explain runs several jobs);
* fq match sets, pure-negative fqs included, on each face.

Each section is serialized with sorted keys and ``repr`` floats (exact
round trip) and hashed, so one digest mismatch names the section that
moved. Errors are part of the record (type and message).
"""

from __future__ import annotations

import hashlib
import json

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.lucene import (
    explain_lucene,
    fq_doc_ids,
    search_lucene,
)
from golr_loader_spark.plans.serve import LocalSearcher
from test_lucene import FROWS, FSCHEMA, ROWS, SCHEMA, _random_queries

SERVING_QUERIES = [
    "data spark",
    "+data +query -spark",
    "s*",
    "quera~1",
    '"data query"',
    '+data "data query"',
    'data -"data query"',
    '"data query" -engine',
    "+sp* +data",
    '-"data query" data',
    'engine +"data query"',
    'engine -spark +"data query"',
    'engine -spark "data query"',
    "(data OR engine) AND sort",
    "data -(spark engine)",
    "(data query)^2",
    "((data OR engine) AND sort) OR runs",
    "[sc TO sp]",
    "[e TO er] -data",
    '+(data engine) "data query"',
]
EXPLAIN_QUERIES = [
    '+data s* "data query"',
    'engine +"data query"',
    "(data OR engine) AND sort",
    "data -(spark engine)",
    "(data query)^2 -streaming",
    "[sc TO sp] runs~1",
    "+data +query",
    "data -spark",
    'data +"data query"',
    "data query",
    "-spark",
    "+zzznope (data engine)",
    "data (+zzznope spark)",
    "-(spark engine) -data",
    "+zzz* data",
    "data (+qqq* spark)",
    "-(+zzz* data) spark",
]
FIELD_QUERIES = [
    "+tag:alpha",
    "+tag:data",
    "+data",
    "+text:data -tag:alpha",
    "text:data",
    "tag:data",
    "data",
    "spark",
    "spark^3",
    "spark^3 data",
    '"data query"',
    '"data query"^2',
    'tag:"alpha data"',
    '"data query"^2 -tag:beta',
    "nope:data",
]
FQS = [
    "spark",
    '"data query"',
    "+data +spark",
    "data query",
    "-spark",
    "-xyzzyq",
    "-spark -engine",
    "-(spark engine)",
    '-"data query"',
    "-sp*",
    "s* -data",
    "(data OR engine) AND sort",
    "[sc TO sp]",
    "+zzznope data",
    "+zzz* data",
]

# Explained on the Spark face: between them these docs reach every
# match/no-match reason of the explain sections.
SPARK_EXPLAIN_DOCS = [3, 6, 7]
SPARK_FIELD_EXPLAIN_DOCS = [0, 1]

# one digest per section: at the recording both faces produced the
# same bytes in every section, errors included
GOLDENS = {
    "topk": "eb47d773f40bae46",
    "field_topk": "9e29240411a40742",
    "explain": "d07a6e235c54c299",
    "field_explain": "bf5ce97aa902f426",
    # the SPARK_EXPLAIN_DOCS slices of the two sections above
    "explain_some": "fc96a1864530e3ec",
    "field_explain_some": "212428e28b33bf86",
    "fq": "cab22b28a483e0e5",
}


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=3,
        positions=True,
    )


@pytest.fixture(scope="module")
def fcfg():
    return IndexConfig(
        fields={"text": ("simple", 1.0), "tag": ("simple", 1.0)},
        bucket_bits=2, id_space_bits=3, positions=True,
    )


@pytest.fixture(scope="module")
def ix(spark, cfg):
    return build_index(spark.createDataFrame(ROWS, SCHEMA).cache(), cfg)


@pytest.fixture(scope="module")
def fix(spark, fcfg):
    return build_index(spark.createDataFrame(FROWS, FSCHEMA).cache(), fcfg)


@pytest.fixture(scope="module")
def ls(ix, cfg, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("goldens") / "ix")
    write_index(ix, root, term_partitions=2)
    return LocalSearcher(root, cfg)


@pytest.fixture(scope="module")
def fls(fix, fcfg, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fgoldens") / "ix")
    write_index(fix, root, term_partitions=2)
    return LocalSearcher(root, fcfg)


def _digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True).encode()
    ).hexdigest()[:16]


def _record(fn):
    """fn() → its value, or the error it raised (type and message)."""
    try:
        return fn()
    except ValueError as e:
        return ["error", type(e).__name__, str(e)]


def _rows(df) -> list[list]:
    return [[int(r["doc_id"]), float(r["score"])] for r in df.collect()]


def _topk_queries() -> list[str]:
    return list(dict.fromkeys(
        _random_queries(seed=7, n=30) + SERVING_QUERIES + EXPLAIN_QUERIES
    ))


def _spark_topk(ix, cfg, queries):
    return {
        q: _record(lambda q=q: _rows(search_lucene(ix, q, k=10, cfg=cfg)))
        for q in queries
    }


def _serve_topk(ls, queries):
    return {
        q: _record(lambda q=q: [[d, s] for d, s in ls.query(q, k=10)])
        for q in queries
    }


def _explains(explain, queries, doc_ids):
    return {
        f"{q} @ {d}": _record(lambda q=q, d=d: explain(q, d))
        for q in queries
        for d in doc_ids
    }


def test_topk_goldens(ix, cfg, ls):
    queries = _topk_queries()
    assert _digest(_spark_topk(ix, cfg, queries)) == GOLDENS["topk"]
    assert _digest(_serve_topk(ls, queries)) == GOLDENS["topk"]


def test_field_topk_goldens(fix, fcfg, fls):
    assert (
        _digest(_spark_topk(fix, fcfg, FIELD_QUERIES))
        == GOLDENS["field_topk"]
    )
    assert _digest(_serve_topk(fls, FIELD_QUERIES)) == GOLDENS["field_topk"]


def test_explain_goldens(ix, cfg, ls):
    docs = [d for d, _t in ROWS]
    serve_ex = _explains(ls.explain_query, EXPLAIN_QUERIES, docs)
    assert _digest(serve_ex) == GOLDENS["explain"]
    spark_ex = _explains(
        lambda q, d: explain_lucene(ix, q, d, cfg=cfg), EXPLAIN_QUERIES,
        SPARK_EXPLAIN_DOCS,
    )
    assert _digest(spark_ex) == GOLDENS["explain_some"]


def test_field_explain_goldens(fix, fcfg, fls):
    docs = [d for d, *_t in FROWS]
    serve_ex = _explains(fls.explain_query, FIELD_QUERIES, docs)
    assert _digest(serve_ex) == GOLDENS["field_explain"]
    spark_ex = _explains(
        lambda q, d: explain_lucene(fix, q, d, cfg=fcfg), FIELD_QUERIES,
        SPARK_FIELD_EXPLAIN_DOCS,
    )
    assert _digest(spark_ex) == GOLDENS["field_explain_some"]


def test_fq_goldens(ix, cfg, ls):
    spark_fq = {
        fq: _record(lambda fq=fq: sorted(
            int(r["doc_id"]) for r in fq_doc_ids(ix, fq, cfg=cfg).collect()
        ))
        for fq in FQS
    }
    assert _digest(spark_fq) == GOLDENS["fq"]
    serve_fq = {
        fq: _record(lambda fq=fq: sorted(ls._fq_ids_local(fq))) for fq in FQS
    }
    assert _digest(serve_fq) == GOLDENS["fq"]


def test_too_many_clauses_message_on_serving(ls):
    """Serving raises the one TooManyClauses message of the Spark face,
    on the Lucene surface and on the single multi-term searches."""
    d = ROWS[0][0]
    for call in (
        lambda: ls.query("s*", max_expansions=1),
        lambda: ls.explain_query("s*", d, max_expansions=1),
        lambda: ls._fq_ids_local("s*", max_expansions=1),
        lambda: ls.search_prefix("s", max_expansions=1),
        lambda: ls.search_wildcard("s*a*", max_expansions=0),
        lambda: ls.search_fuzzy("dta", max_edits=3, max_expansions=1),
    ):
        with pytest.raises(ValueError, match="TooManyClauses"):
            call()
