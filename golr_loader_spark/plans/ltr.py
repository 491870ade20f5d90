"""Solr Learning-to-Rank (the LTR contrib: feature stores +
LTRScoringQuery rerank).

Production Solr serves learned ranking through the LTR plugin: a
FEATURE STORE declares per-document features (the original score, the
score of an arbitrary feature query, a stored field value, a
constant), ``rq={!ltr model=m reRankDocs=N}`` extracts them for the
top-N first-pass block and REPLACES the block's scores with the
model's (LinearModel: a weighted sum), and feature LOGGING exports the
extracted vectors as training data. This module re-expresses all
three on the engine index:

* ``extract_features`` — the feature-logging path: one DataFrame of
  (doc_id, first_score, <feature columns…>) for the top-N block —
  training-data export for a downstream learner, the LTR
  ``[features]`` transformer.
* ``ltr_rerank`` — the serving path: block rescored by the model
  (score REPLACED, Solr LTR semantics — unlike {!rerank}'s additive
  combine), tail keeps first-pass order below the block; Lucene's
  ReRankCollector block contract holds (nothing crosses the block
  boundary in either direction).
* ``ltr_block`` — the shared driver-side kernel both the distributed
  path and the ``LocalSearcher.ltr_rerank`` serving twin run, so
  parity is structural.

Feature kinds mirror Solr's stock feature classes:
``original_score`` (OriginalScoreFeature), ``solr_query`` with a
query-string param (SolrFeature), ``field_value`` with a stored
numeric field (FieldValueFeature, missing → 0.0 like Solr's default),
``constant`` (ValueFeature). Normalizers are not implemented (fold
them into the weights offline).

Plan shape at 100 TB: the first pass is the existing complete-set
Lucene executor; the block is a bounded TakeOrdered (reRankDocs is
protocol-small); every feature resolves with ONE bounded read —
feature-query match sets and stored fields are filtered to the ≤N
block ids (isin pushdown) before the ≤N-row collect. The kernel
touches only the block; the tail is one more bounded TakeOrdered with
offset. No unbounded collect, no window, no shuffle beyond the
executor's own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import InvertedIndex


@dataclass(frozen=True)
class Feature:
    """One feature-store entry. ``kind`` ∈ {original_score,
    solr_query, field_value, constant}; ``param`` is the query string
    (solr_query), the stored field name (field_value), or the value
    (constant)."""

    name: str
    kind: str
    param: object = None


@dataclass(frozen=True)
class LinearModel:
    """Solr LinearModel: score = Σ weight_f · feature_f."""

    name: str
    weights: tuple  # ((feature_name, weight), …) — hashable/ordered

    def score(self, feats: dict[str, float], round_to: int = 4) -> float:
        return round(
            sum(w * feats.get(n, 0.0) for n, w in self.weights), round_to
        )


def ltr_block(
    first: list[tuple[int, float]],
    feature_values: dict[str, dict[int, float]],
    model: LinearModel,
    k: int,
    rerank_docs: int,
    round_to: int = 4,
) -> list[tuple[int, int, float]]:
    """Shared block kernel → [(rank, doc_id, score)]. ``first``:
    complete first-pass hits as (doc_id, score) — order irrelevant,
    the kernel sorts (score desc, doc_id asc). Block scores are the
    MODEL's (replaced); tail rows keep first-pass order and score."""
    order = sorted(first, key=lambda x: (-x[1], x[0]))
    block, tail = order[:rerank_docs], order[rerank_docs:]
    rescored = sorted(
        (
            (
                -model.score(
                    {n: vals.get(did, 0.0) for n, vals in feature_values.items()},
                    round_to,
                ),
                did,
            )
            for did, _fs in block
        ),
    )
    # 0.0 - neg (not -neg): keeps a zero model score +0.0, never -0.0
    out = [(i + 1, did, 0.0 - neg) for i, (neg, did) in enumerate(rescored)]
    for j, (did, fs) in enumerate(tail[: max(0, k - len(out))]):
        out.append((len(rescored) + j + 1, did, round(fs, round_to)))
    return out[:k]


def _resolve_features_distributed(
    index: InvertedIndex,
    documents: DataFrame | None,
    features: list[Feature],
    block: list[tuple[int, float]],
    cfg: IndexConfig,
    exclude_ids,
    max_expansions: int,
) -> dict[str, dict[int, float]]:
    from golr_loader_spark.plans.lucene import _match, parse_lucene

    ids = [did for did, _ in block]
    out: dict[str, dict[int, float]] = {}
    for f in features:
        if f.kind == "original_score":
            out[f.name] = dict(block)
        elif f.kind == "constant":
            out[f.name] = {did: float(f.param) for did in ids}
        elif f.kind == "solr_query":
            m = _match(
                index, parse_lucene(str(f.param)), cfg, exclude_ids,
                max_expansions, None,
            )
            if m is None:
                out[f.name] = {}
                continue
            rows = m.filter(F.col("doc_id").isin(ids)).collect()  # ≤ block
            out[f.name] = {int(r["doc_id"]): float(r["score"]) for r in rows}
        elif f.kind == "field_value":
            if documents is None:
                raise ValueError(f"feature {f.name}: field_value needs documents")
            rows = (
                documents.select("doc_id", F.col(str(f.param)).cast("double"))
                .filter(F.col("doc_id").isin(ids))
                .collect()  # ≤ block
            )
            out[f.name] = {
                int(r["doc_id"]): float(r[1]) for r in rows if r[1] is not None
            }
        else:
            raise ValueError(f"unknown feature kind {f.kind!r}")
    return out


def _first_pass(index, query, cfg, exclude_ids, max_expansions):
    from golr_loader_spark.plans.lucene import _match, parse_lucene

    clauses = parse_lucene(query)
    if not clauses:
        return None
    return _match(index, clauses, cfg, exclude_ids, max_expansions, None)


def extract_features(
    index: InvertedIndex,
    documents: DataFrame | None,
    query: str,
    features: list[Feature],
    rerank_docs: int = 200,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """Feature logging → (doc_id, first_score, <feature…>) for the
    top-``rerank_docs`` first-pass block, doc_id asc — the training-
    data export surface (Solr's ``fl=[features]``)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    names = [f.name for f in features]
    schema = "doc_id long, first_score double, " + ", ".join(
        f"`{n}` double" for n in names
    )
    first = _first_pass(index, query, cfg, exclude_ids, max_expansions)
    if first is None:
        return spark.createDataFrame([], schema)
    block = [
        (int(r["doc_id"]), float(r["score"]))
        for r in first.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(rerank_docs)
        .collect()  # bounded: ≤ rerank_docs
    ]
    vals = _resolve_features_distributed(
        index, documents, features, block, cfg, exclude_ids, max_expansions
    )
    return spark.createDataFrame(
        [
            tuple([did, fs] + [vals[n].get(did, 0.0) for n in names])
            for did, fs in sorted(block)
        ],
        schema,
    )


def ltr_rerank(
    index: InvertedIndex,
    documents: DataFrame | None,
    query: str,
    features: list[Feature],
    model: LinearModel,
    k: int = 10,
    rerank_docs: int = 200,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """LTR rerank → (rank, doc_id, score): model score inside the
    block (REPLACED, Solr LTR semantics), first-pass score and order
    below it. Tail rows come from one bounded offset-TakeOrdered."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "rank int, doc_id long, score double")
    first = _first_pass(index, query, cfg, exclude_ids, max_expansions)
    if first is None:
        return empty
    ordered = first.orderBy(F.desc("score"), F.asc("doc_id"))
    block = [
        (int(r["doc_id"]), float(r["score"]))
        for r in ordered.limit(rerank_docs).collect()  # bounded
    ]
    if not block:
        return empty
    vals = _resolve_features_distributed(
        index, documents, features, block, cfg, exclude_ids, max_expansions
    )
    rows = ltr_block(block, vals, model, k, rerank_docs)
    need_tail = k - len(rows)
    if need_tail > 0 and len(block) == rerank_docs:
        tail = (
            ordered.offset(rerank_docs).limit(need_tail).collect()  # bounded
        )
        base = len(rows)
        rows += [
            (base + j + 1, int(r["doc_id"]), round(float(r["score"]), 4))
            for j, r in enumerate(tail)
        ]
    return spark.createDataFrame(rows, "rank int, doc_id long, score double")
