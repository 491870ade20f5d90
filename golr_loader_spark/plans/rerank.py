"""Solr ReRankQParserPlugin: two-pass ranking.

``rq={!rerank reRankQuery=$rqq reRankDocs=N reRankWeight=W}`` rescores
the top N first-pass results: each gets ``first + W * second`` when it
also matches the rerank query (``first`` alone otherwise), the N-block
re-sorts by the combined score, and everything below the block keeps
its original first-pass order AFTER the block — Lucene's
ReRankCollector contract: a doc outside the top N can never jump above
the reranked block, and a negatively-weighted rerank can demote a doc
within the block but not out of it. This is THE standard pattern for
putting an expensive query (learned model proxy, phrase proximity,
business boost) over a cheap recall query — the production Solr cores
the reference loads into use it for LTR-style reordering.

Spark plan shape (``rerank_search``): both passes run the existing
Lucene executor for COMPLETE match sets (the fq invariant — per-bucket
truncation before a combine is inadmissible); the top-N block is a
TakeOrderedAndProject (N is protocol-small, ≤ a few thousand), the
second-pass join touches only those N rows (broadcast), and the tail
contributes only when k > N via one more bounded TakeOrdered — no
global window, no single-partition shuffle, no unbounded collect.

Serving twin: ``LocalSearcher.rerank`` (dict merge over
``_lucene_scores`` complete sets). Sharded twin:
``ShardedSearcher.rerank`` scatter-gathers complete per-shard match
sets for both passes (doc spaces are disjoint, scores globally
comparable — same argument as the top-k merge) and applies the same
block logic coordinator-side.

Oracle: engine_rerank / SQL_Q61 replays both scored passes and the
block ordering in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import InvertedIndex
from golr_loader_spark.plans.lucene import _match, parse_lucene


def rerank_search(
    index: InvertedIndex,
    query: str,
    rerank_query: str,
    k: int = 10,
    rerank_docs: int = 200,
    rerank_weight: float = 2.0,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """Two-pass ReRank → top-k (doc_id, score).

    ``score`` is the combined score inside the reranked block and the
    first-pass score below it; ordering is block-then-tail as in
    Lucene's ReRankCollector (see module docstring)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    first = _match(
        index, parse_lucene(query), cfg, exclude_ids, max_expansions, None
    )
    if first is None:
        return empty
    topn = (
        first.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(rerank_docs)
        .withColumnRenamed("score", "s1")
    )
    second = _match(
        index, parse_lucene(rerank_query), cfg, exclude_ids, max_expansions,
        None,
    )
    if second is None:
        boosted = topn.select("doc_id", F.col("s1").alias("score"))
    else:
        boosted = topn.join(
            F.broadcast(second.withColumnRenamed("score", "s2")),
            on="doc_id",
            how="left",
        ).select(
            "doc_id",
            (
                F.col("s1")
                + F.lit(float(rerank_weight)) * F.coalesce(F.col("s2"), F.lit(0.0))
            ).alias("score"),
        )
    block = boosted.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if k <= rerank_docs:
        # the tail can never rise above the block — the block alone
        # already contains the global top-k
        return block
    tail = (
        first.join(
            F.broadcast(topn.select("doc_id")), on="doc_id", how="left_anti"
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k - rerank_docs)
    )
    # block rows first (position 0), tail rows after, each side already
    # in its own final order; the union preserves it via the sort keys
    b = block.withColumn("_blk", F.lit(0))
    t = tail.withColumn("_blk", F.lit(1))
    return (
        b.unionByName(t)
        .orderBy("_blk", F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "score")
        .limit(k)
    )


def rerank_lists(
    first: dict[int, float],
    second: dict[int, float],
    k: int,
    rerank_docs: int,
    rerank_weight: float,
) -> list[tuple[int, float]]:
    """The serving/shard-coordinator kernel: ReRankCollector block
    logic over complete {doc_id: score} match sets. Shared by
    ``LocalSearcher.rerank`` and ``ShardedSearcher.rerank`` so the
    twins cannot drift."""
    ranked = sorted(first.items(), key=lambda x: (-x[1], x[0]))
    block = ranked[:rerank_docs]
    tail = ranked[rerank_docs:]
    combined = [
        (d, s + rerank_weight * second.get(d, 0.0)) for d, s in block
    ]
    combined.sort(key=lambda x: (-x[1], x[0]))
    return (combined + tail)[:k]
