"""Block join: Solr {!parent}/{!child} (Lucene ToParent/ToChild
BlockJoinQuery) over parent/child document blocks.

Solr indexes nested documents as contiguous blocks and joins WITHIN a
block: ``{!parent which=type:parent score=total}child_query`` returns
parent docs scored by an aggregate of their children's scores;
``{!child of=type:parent}parent_query`` returns the children of
matching parents. The reference's golr documents are flat, but the
production cores that surround them use nested docs for
evidence-grouping — this module gives the engine the same surface
without Lucene's physical-contiguity requirement: the block key is an
ordinary facet field carried by parents AND children (a doc-values
join key, not an index position), so blocks survive re-sharding,
compaction, and doc-range bucketing.

* ``block_join_parent(index, facets, child_query, which, block_field,
  score_mode)`` — children matching ``child_query`` (complete match
  set — the fq invariant), grouped per block key with the Lucene
  ScoreMode aggregate (``none`` → 1.0, ``max`` / ``total`` / ``avg``),
  joined to the parent docs identified by ``which`` (any Lucene query
  string). Parents never score as children (anti-join on the which
  set, Lucene's own rule).
* ``block_join_child(...)`` — the inverse: all children whose block's
  parent matches ``parent_query`` (non-scoring, like Solr's default).

Plan shape: two decode/score passes + two co-located (bucket, doc_id)
facet joins + one groupBy(block) whose output cardinality is the
number of blocks — map-side combinable, no windows, no collects
beyond the final top-k.

Sharded twin: per-shard COMPLETE per-block partials (sum, count, max)
merge exactly coordinator-side — this engine does NOT require blocks
to be co-located on one shard, unlike Lucene's block join (which
physically cannot span segments); the doc-values join key makes the
cross-shard merge exact.

Oracle: engine_blockjoin / SQL_Q63 replays child scoring, the
ScoreMode aggregate, and the parent join in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import InvertedIndex
from golr_loader_spark.plans.lucene import _match, fq_doc_ids, parse_lucene

SCORE_MODES = ("none", "max", "total", "avg")


def _block_values(facets: DataFrame, block_field: str) -> DataFrame:
    return facets.filter(F.col("facet") == block_field).select(
        "bucket", "doc_id", F.col("value").alias("_blk")
    )


def block_join_parent(
    index: InvertedIndex,
    facets: DataFrame,
    child_query: str,
    which: str,
    block_field: str,
    score_mode: str = "none",
    k: int = 10,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """{!parent which=... score=...}child_query → top-k parent
    (doc_id, score)."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    empty = spark.createDataFrame([], "doc_id long, score double")
    parents = fq_doc_ids(
        index, which, cfg=cfg, exclude_ids=exclude_ids,
        max_expansions=max_expansions,
    )
    kids = _match(
        index, parse_lucene(child_query), cfg, exclude_ids, max_expansions,
        None,
    )
    if kids is None:
        return empty
    # Lucene's rule: a doc matching `which` is a parent, never a child
    kids = kids.join(
        parents.select("doc_id"), on="doc_id", how="left_anti"
    )
    bv = _block_values(facets, block_field)
    kid_blocks = kids.join(bv.select("doc_id", "_blk"), on="doc_id")
    # the total fold runs in doc_id order (array_sort on the struct
    # sorts by the leading doc_id) — deterministic float addition, the
    # same order the serving twin and the SQL oracle
    # (sum(... ORDER BY doc_id)) use, so totals are bit-identical
    # across all three. Blocks are protocol-small (children of one
    # parent), so the collect_list is bounded.
    per_block = kid_blocks.groupBy("_blk").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("doc_id", "score"))),
            F.lit(0.0),
            lambda acc, x: acc + x["score"],
        ).alias("_sum"),
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max("score").alias("_max"),
    )
    score = {
        "none": F.lit(1.0),
        "total": F.col("_sum"),
        "avg": F.col("_sum") / F.col("_n"),
        "max": F.col("_max"),
    }[score_mode]
    parent_blocks = parents.join(bv, on=["bucket", "doc_id"])
    out = parent_blocks.join(
        F.broadcast(per_block), on="_blk"
    ).select("doc_id", score.alias("score"))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def block_join_child(
    index: InvertedIndex,
    facets: DataFrame,
    parent_query: str,
    of: str,
    block_field: str,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
    max_expansions: int = 1024,
) -> DataFrame:
    """{!child of=...}parent_query → the (doc_id) children of matching
    parents, non-scoring (Solr's ScoreMode.None default for {!child});
    ordered by doc_id for determinism."""
    cfg = cfg or index.cfg
    parents_all = fq_doc_ids(
        index, of, cfg=cfg, exclude_ids=exclude_ids,
        max_expansions=max_expansions,
    )
    matched = fq_doc_ids(
        index, parent_query, cfg=cfg, exclude_ids=exclude_ids,
        max_expansions=max_expansions,
    ).join(parents_all.select("doc_id"), on="doc_id", how="left_semi")
    bv = _block_values(facets, block_field)
    blocks = matched.join(bv, on=["bucket", "doc_id"]).select("_blk").distinct()
    members = bv.join(F.broadcast(blocks), on="_blk").select("bucket", "doc_id")
    return (
        members.join(parents_all.select("doc_id"), on="doc_id", how="left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


# --------------------------------------------------------- serving twins


def _local_blocks(searcher, block_field: str) -> dict[int, str]:
    """doc_id → block value from the searcher's facet arrays."""
    arrays = searcher._load_facets()
    if arrays is False:
        raise ValueError("index was written without a facets table")
    a_ids, a_facets, a_vals = arrays
    mask = a_facets == block_field
    return {
        int(d): v
        for d, v in zip(a_ids[mask].tolist(), a_vals[mask].tolist())
    }


def _local_parent_partials(
    searcher, child_query: str, which: str, block_field: str,
    max_expansions: int = 1024,
):
    """Per-shard mergeable partials: ({block: (sum, n, max)},
    {parent_doc_id: block})."""
    from golr_loader_spark.plans.lucene import parse_lucene as _p

    parents = searcher._fq_ids_local(which, max_expansions)
    kid_scores = searcher._lucene_scores(
        _p(child_query), max_expansions, None
    ) or {}
    blocks = _local_blocks(searcher, block_field)
    agg: dict[str, list] = {}
    # doc_id-ordered fold — bit-identical to the distributed path's
    # array_sort fold and the oracle's sum(... ORDER BY doc_id)
    for d in sorted(kid_scores):
        if d in parents:
            continue
        b = blocks.get(int(d))
        if b is None:
            continue
        s = kid_scores[d]
        cur = agg.setdefault(b, [0.0, 0, float("-inf")])
        cur[0] += s
        cur[1] += 1
        cur[2] = max(cur[2], s)
    pmap = {int(d): blocks[int(d)] for d in parents if int(d) in blocks}
    return agg, pmap


def _finalize_parent(agg, pmap, score_mode: str, k: int):
    out = []
    for d, b in pmap.items():
        if b not in agg:
            continue
        sm, n, mx = agg[b]
        score = {
            "none": 1.0, "total": sm, "avg": sm / n, "max": mx,
        }[score_mode]
        out.append((d, float(score)))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def block_join_parent_local(
    searcher, child_query: str, which: str, block_field: str,
    score_mode: str = "none", k: int = 10, max_expansions: int = 1024,
):
    """Serving twin of ``block_join_parent`` (one LocalSearcher)."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    agg, pmap = _local_parent_partials(
        searcher, child_query, which, block_field, max_expansions
    )
    return _finalize_parent(agg, pmap, score_mode, k)


def block_join_parent_sharded(
    shards, child_query: str, which: str, block_field: str,
    score_mode: str = "none", k: int = 10, max_expansions: int = 1024,
):
    """Sharded twin: blocks may SPAN shards (doc-range routing) — each
    shard returns complete per-block (sum, n, max) partials and its
    parent→block map; the coordinator merges exactly and finalizes."""
    if score_mode not in SCORE_MODES:
        raise ValueError(f"score_mode must be one of {SCORE_MODES}")
    agg: dict[str, list] = {}
    pmap: dict[int, str] = {}
    for s in shards:
        a, p = _local_parent_partials(
            s, child_query, which, block_field, max_expansions
        )
        for b, (sm, n, mx) in a.items():
            cur = agg.setdefault(b, [0.0, 0, float("-inf")])
            cur[0] += sm
            cur[1] += n
            cur[2] = max(cur[2], mx)
        pmap.update(p)
    return _finalize_parent(agg, pmap, score_mode, k)


def block_join_child_local(
    searcher, parent_query: str, of: str, block_field: str,
    max_expansions: int = 1024,
) -> list[int]:
    """Serving twin of ``block_join_child``."""
    from golr_loader_spark.plans.lucene import parse_lucene as _p

    parents = searcher._fq_ids_local(of, max_expansions)
    matched = searcher._fq_ids_local(parent_query, max_expansions) & parents
    blocks = _local_blocks(searcher, block_field)
    keep = {blocks[int(d)] for d in matched if int(d) in blocks}
    return sorted(
        int(d)
        for d, b in blocks.items()
        if b in keep and int(d) not in parents
    )


def block_join_child_sharded(
    shards, parent_query: str, of: str, block_field: str,
    max_expansions: int = 1024,
) -> list[int]:
    """Sharded {!child}: a matched parent's children may live on OTHER
    shards (blocks span shards under doc-range routing) — gather the
    matched block keys from every shard first, then collect members
    everywhere."""
    keep: set = set()
    parents_all: set = set()
    blocks_by_shard = []
    for s in shards:
        p = s._fq_ids_local(of, max_expansions)
        m = s._fq_ids_local(parent_query, max_expansions) & p
        blocks = _local_blocks(s, block_field)
        keep |= {blocks[int(d)] for d in m if int(d) in blocks}
        parents_all |= {int(d) for d in p}
        blocks_by_shard.append(blocks)
    out: list[int] = []
    for blocks in blocks_by_shard:
        out.extend(
            int(d)
            for d, b in blocks.items()
            if b in keep and int(d) not in parents_all
        )
    return sorted(out)
