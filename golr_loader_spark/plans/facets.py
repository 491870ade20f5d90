"""Faceted search over the compressed inverted index.

Facet counting is THE serving operation the reference builds its Solr
core for: golr-loader flattens graph rows into documents precisely so
Solr can answer "top facet values among docs matching q" over closure
fields (the reference's loader POSTs docs and leaves faceting to Solr
— GolrLoader.java:498-515; every *_closure / category field in
SolrDocUtil.java exists to be faceted on). This module re-expresses
that query as a Spark plan over the engine-owned index:

1. ``matching_doc_ids`` — decode ONLY the doc_id streams of the query
   terms' posting blocks, per doc-range bucket (no scores, no tf/dl
   decode). Disjunctive = union of term membership; conjunctive
   (Lucene MUST, ``mode="and"``) = intersection. Numpy set ops inside
   ``applyInPandas``; per-bucket work is bounded by the range salt
   exactly as scoring is.
2. ``facet_counts`` — equi-join the matched ids against the facet
   table on (bucket, doc_id) — both sides carry the same monotone
   range bucket, so a bucket-partitioned layout co-locates the join —
   then one map-side-combinable groupBy(facet, value) count and a
   per-facet top-N window over the (tiny) distinct-value set.

Solr semantics reproduced: counts are over ALL matching docs (not the
top-k page), one count per (doc, facet, value) even for multi-valued
fields (``build_facets`` explodes arrays and dedupes), values ordered
by (count desc, value asc), ``min_count`` / ``top`` knobs =
facet.mincount / facet.limit. Deleted docs (tombstones) vanish from
counts immediately via ``exclude_ids``, matching the liveDocs
semantics of the scoring path.

At 100 TB: the only wide operations are the (bucket, doc_id) join —
co-partitioned when both tables are bucket-partitioned, and AQE
broadcast when the match set is small — and a groupBy whose output
cardinality is the number of distinct facet values, with map-side
partial aggregation doing the heavy lifting.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.functions.codec import decode_doc_ids
from golr_loader_spark.functions.tokenize import analyze_query
from golr_loader_spark.plans.bm25 import query_analyzer
from golr_loader_spark.plans.build_index import InvertedIndex, block_scan, bucket_of

# instrumentation for the O(limit)-collect contract test: row count of
# the last facet_counts_multiselect per-field collect (must be ≤ top,
# never the distinct-value count)
LAST_COLLECTED_MSELECT_ROWS: int | None = None


def build_facets(
    documents: DataFrame,
    facet_cols: list[str],
    cfg: IndexConfig | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """documents → facet table (doc_id, bucket, facet, value).

    Array columns explode (Solr multiValued fields — the closure-id
    lists of the reference's docs); scalars pass through. Values are
    cast to string (Solr facet values are strings) and deduped so a
    doc counts once per (facet, value). NULL values are dropped
    (Solr's facet.missing=false default)."""
    cfg = cfg or IndexConfig()
    dtypes = dict(documents.dtypes)
    parts = []
    for c in facet_cols:
        base = documents.select(
            F.col(id_col).alias("doc_id"),
            F.lit(c).alias("facet"),
            (F.explode(F.col(c)) if dtypes[c].startswith("array") else F.col(c)).alias(
                "_v"
            ),
        )
        parts.append(base.select("doc_id", "facet", F.col("_v").cast("string").alias("value")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.filter(F.col("value").isNotNull())
        .distinct()
        .withColumn(
            "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
        )
    )


def _match_bucket_factory(
    term_fields: dict[str, list[str]],
    required: set[str] | None,
    exclude_ids,
):
    """Per-bucket matcher: decode doc_id streams only. pdf columns
    used: term, n, doc_id_first, doc_ids (+ segment). Membership of a
    term = union over its configured fields (a MUST term is satisfied
    by any field, mirroring the scorer's conjunctive filter); with no
    ``term_fields`` every block's term counts. ``exclude_ids`` takes
    either exclusion shape (bm25._norm_excl) — per-segment liveDocs
    mask each posting by ITS block's segment, so a fast-upserted doc
    matches through its newest copy only. The bucket group decodes in
    one ``decode_doc_ids`` call under one liveDocs mask."""
    from golr_loader_spark.plans.bm25 import _live_of, _norm_excl

    excl = _norm_excl(exclude_ids)

    def match_group(pdf: pd.DataFrame) -> pd.DataFrame:
        if term_fields is not None:
            pdf = pdf[pdf["term"].isin(list(term_fields))]
        n = pdf["n"].to_numpy(np.int64)
        ids = decode_doc_ids(
            n, pdf["doc_id_first"].to_numpy(np.int64),
            b"".join(pdf["doc_ids"].to_numpy()),
        )
        terms = np.repeat(pdf["term"].to_numpy(), n)
        if excl is not None:
            segs = (pdf["segment"].to_numpy(np.int64) if "segment" in pdf.columns
                    else np.zeros(len(n), dtype=np.int64))
            live = _live_of(ids, np.repeat(segs, n), excl)
            ids, terms = ids[live], terms[live]
        if required is None:
            out = np.unique(ids)
        elif not required <= set(terms):
            out = np.empty(0, dtype=np.int64)
        else:
            out = None
            for t in sorted(required):
                t_ids = np.unique(ids[terms == t])
                out = t_ids if out is None else np.intersect1d(out, t_ids, assume_unique=True)
                if not len(out):
                    break
        return pd.DataFrame({"doc_id": out.astype(np.int64)})

    return match_group


def matching_doc_ids(
    index: InvertedIndex,
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    exclude_ids=None,
) -> DataFrame:
    """All doc_ids matching ``query`` → (bucket, doc_id). Disjunctive
    by default; ``mode="and"`` = Lucene MUST (empty when a query term
    has no postings at all, same strictness as ``bm25.search``)."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    terms = analyze_query(query, query_analyzer(cfg), cfg.chain)
    if not terms:
        return spark.createDataFrame([], "bucket int, doc_id long")
    required = set(terms) if mode == "and" else None
    if required is not None:
        present = {
            r["term"]
            for r in index.term_stats.filter(
                F.col("term").isin(terms) & F.col("field").isin(list(cfg.fields))
            )
            .select("term")
            .distinct()
            .collect()
        }
        if not required <= present:
            return spark.createDataFrame([], "bucket int, doc_id long")
    return _doc_ids(
        index,
        F.col("term").isin(terms) & F.col("field").isin(list(cfg.fields)),
        cfg,
        _match_bucket_factory(
            {t: list(cfg.fields) for t in terms}, required, exclude_ids
        ),
    )


def _doc_ids(index: InvertedIndex, cond, cfg: IndexConfig, fn) -> DataFrame:
    """(bucket, doc_id) of the blocks under ``cond``, matched per bucket
    by ``fn`` (``_match_bucket_factory``): doc_id streams only."""
    sel = ["bucket", "term", "n", "doc_id_first", "doc_ids"]
    if "segment" in index.postings.columns:
        sel.append("segment")
    return (
        index.postings.filter(cond).select(*sel)
        .groupBy("bucket")
        .applyInPandas(fn, schema="doc_id long")
        .withColumn(
            "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
        )
        .select("bucket", "doc_id")
    )


def all_doc_ids(
    index: InvertedIndex,
    cfg: IndexConfig | None = None,
    exclude_ids=None,
) -> DataFrame:
    """The live doc universe → (bucket, doc_id): Lucene's
    MatchAllDocsQuery over this index. The norms lists hold one posting
    per doc with tokens in the field, so the universe is the per-bucket
    union of the fields' norms doc-id streams (tombstones masked per
    segment). A doc whose content analyzed to zero tokens is absent —
    it can never match any query, so pure-negative fq excluding it is a
    no-op either way. Cost: one decode of n_docs ids per field."""
    cfg = cfg or index.cfg
    return _doc_ids(
        index, block_scan([], cfg.fields), cfg,
        _match_bucket_factory(None, None, exclude_ids),
    )


def facet_counts(
    index: InvertedIndex,
    facets: DataFrame,
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    top: int = 10,
    min_count: int = 1,
    exclude_ids=None,
    fq=None,
) -> DataFrame:
    """Solr-style facet counts over all docs matching ``query`` →
    (facet, value, n, rank), top-``top`` values per facet by
    (n desc, value asc), n ≥ ``min_count``. ``fq``: optional Solr
    filter query (any ``plans.lucene`` query string) restricting the
    match set before counting — the standard q + fq + facet
    drill-down; a bare-term fq stays decode-only."""
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    counts = (
        m.join(facets, on=["bucket", "doc_id"])
        .groupBy("facet", "value")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    # per-facet top-N: the window input is the distinct-value set
    # (facet cardinality, not corpus cardinality) — small by definition
    w = Window.partitionBy("facet").orderBy(F.desc("n"), F.asc("value"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select("facet", "value", "n", "rank")
    )


def join_query(
    index: InvertedIndex,
    facets: DataFrame,
    query: str,
    from_field: str,
    to_field: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    exclude_ids=None,
) -> DataFrame:
    """Solr JoinQParserPlugin (``{!join from=F to=T}subquery``) — the
    cross-document join Solr serves when cores relate entities by a
    shared key (the golr cores join bioentities to associations this
    way): docs matching ``subquery`` contribute their ``from_field``
    values; the result is every doc whose ``to_field`` carries one of
    those values → (doc_id), doc_id asc. Scores are NOT propagated
    (Lucene JoinUtil ScoreMode.None — Solr's default): the join is a
    match-set transform, composable as a q or an fq.

    Plan shape at scale: decode-only match (no scoring) → semi-join
    the facet table on the co-located (bucket, doc_id) key → distinct
    from-values (bounded by the value DOMAIN, not the match set) →
    equi-join back to the to-field facet rows, which AQE broadcasts
    when the value set is small (the common case: join fields are
    low-cardinality keys). No driver collect anywhere — the value set
    stays a DataFrame however large the match set is."""
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    vals = (
        facets.filter(F.col("facet") == from_field)
        .join(m.select("bucket", "doc_id"), on=["bucket", "doc_id"], how="left_semi")
        .select("value")
        .distinct()
    )
    return (
        facets.filter(F.col("facet") == to_field)
        .join(vals, on="value", how="left_semi")
        .select("doc_id")
        .distinct()
        .orderBy(F.asc("doc_id"))
    )


def range_facet_counts(
    index: InvertedIndex,
    values: DataFrame,
    query: str,
    width: float,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    min_count: int = 1,
    exclude_ids=None,
) -> DataFrame:
    """Solr range facets (facet.range): histogram of a numeric doc
    value over ALL docs matching ``query`` → (lo, n) ordered by lo,
    where lo = floor(value / width) * width is the bucket's inclusive
    lower bound. ``values``: (doc_id, value). Same plan shape as
    field facets — decode-only matching, (bucket, doc_id) equi-join,
    map-side-combinable count over the (tiny) distinct-bin set."""
    cfg = cfg or index.cfg
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    v = values.select(
        F.col("doc_id"),
        (F.floor(F.col("value") / F.lit(width)) * F.lit(width)).alias("lo"),
    ).withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    return (
        m.join(v, on=["bucket", "doc_id"])
        .groupBy("lo")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy("lo")
    )


def facet_query_counts(
    index: InvertedIndex,
    facet_queries: dict[str, str],
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    exclude_ids=None,
) -> DataFrame:
    """Solr ``facet.query``: the count of docs matching each arbitrary
    subquery WITHIN the q (+fq) match set → (label, n) ordered by
    label, one row per requested facet.query INCLUDING zero counts
    (Solr returns every requested facet.query unconditionally —
    facet.mincount does not apply to query facets). Each subquery is
    any ``plans.lucene`` query string, run through the same
    non-scoring filter executor as fq (``fq_doc_ids``), so boolean /
    phrase / wildcard facet queries all work.

    Plan shape at scale: one decode-only match for q, one per facet
    query (bounded by the REQUEST size — a handful of labels), each a
    semi-join + map-side-combinable count; the label column is a
    literal so the union of per-label single-row aggregates never
    shuffles more than len(facet_queries) rows."""
    from golr_loader_spark.plans.lucene import fq_doc_ids

    cfg = cfg or index.cfg
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    parts = []
    for label in sorted(facet_queries):
        sub = facet_queries[label]
        hit = m.join(
            fq_doc_ids(index, sub, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
        parts.append(
            hit.agg(F.count("*").cast("long").alias("n")).select(
                F.lit(label).alias("label"), "n"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("label")


def parse_interval(spec: str) -> tuple[float | None, float | None, bool, bool]:
    """Parse one Solr ``facet.interval.set`` spec — ``[0,100)``,
    ``(100,500]``, ``[500,*]`` — into (lo, hi, lo_incl, hi_incl);
    ``*`` = unbounded (None). Raises ValueError on malformed specs,
    mirroring Solr's IntervalFacets syntax errors."""
    s = spec.strip()
    if len(s) < 5 or s[0] not in "[(" or s[-1] not in ")]":
        raise ValueError(f"bad interval spec: {spec!r}")
    lo_incl, hi_incl = s[0] == "[", s[-1] == "]"
    body = s[1:-1].split(",")
    if len(body) != 2:
        raise ValueError(f"bad interval spec: {spec!r}")
    lo = None if body[0].strip() == "*" else float(body[0])
    hi = None if body[1].strip() == "*" else float(body[1])
    return lo, hi, lo_incl, hi_incl


def _interval_cond(col, spec: str):
    """Catalyst predicate for one interval spec over ``col``."""
    lo, hi, lo_incl, hi_incl = parse_interval(spec)
    cond = col.isNotNull()
    if lo is not None:
        cond = cond & ((col >= lo) if lo_incl else (col > lo))
    if hi is not None:
        cond = cond & ((col <= hi) if hi_incl else (col < hi))
    return cond


def interval_facet_counts(
    index: InvertedIndex,
    values: DataFrame,
    intervals: list[str],
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    exclude_ids=None,
) -> DataFrame:
    """Solr interval facets (``facet.interval`` +
    ``facet.interval.set``): count of matching docs whose numeric doc
    value falls in each REQUESTED interval → (pos, interval, n) in
    request order, zero counts included (Solr returns every requested
    interval; intervals may overlap — a doc counts in each interval
    it satisfies, exactly Solr's DocValues single-pass semantics).
    ``values``: (doc_id, value) doc-values table; bound syntax per
    ``parse_interval`` ([incl] / (excl) / ``*`` unbounded).

    Plan shape at scale: decode-only matching, ONE (bucket, doc_id)
    equi-join, then a single aggregate row of conditional sums — one
    pass over the matched values however many intervals are requested
    (the request size bounds the aggregate width, not the data); the
    driver receives exactly one row."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    v = values.select("doc_id", "value").withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    j = m.join(v, on=["bucket", "doc_id"])
    aggs = [
        F.coalesce(
            F.sum(F.when(_interval_cond(F.col("value"), spec), 1)), F.lit(0)
        ).cast("long").alias(f"_i{i}")
        for i, spec in enumerate(intervals)
    ]
    row = j.agg(*aggs).collect()[0]  # bounded: exactly one row
    return spark.createDataFrame(
        [(i + 1, spec, int(row[f"_i{i}"])) for i, spec in enumerate(intervals)],
        "pos int, interval string, n long",
    )


def pivot_facet_counts(
    index: InvertedIndex,
    documents: DataFrame,
    query: str,
    outer: str,
    inner: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    top_outer: int = 10,
    top_inner: int = 5,
    min_count: int = 1,
    fq=None,
    id_col: str = "doc_id",
    exclude_ids=None,
) -> DataFrame:
    """Solr pivot facets (``facet.pivot=outer,inner``): two-level
    drill-down counts over ALL docs matching ``query`` → one row per
    (outer value, inner value) with both levels' counts and ranks:
    (outer_value, outer_n, outer_rank, inner_value, inner_n,
    inner_rank). Outer values ranked by (count desc, value asc), the
    top ``top_outer`` kept; within each, inner values likewise with
    ``top_inner``. Same decode-only matching and (bucket, doc_id)
    join shape as ``facet_counts``; both windows partition over the
    (tiny) distinct-value sets, never the corpus."""
    cfg = cfg or index.cfg
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    d = documents.select(
        F.col(id_col).alias("doc_id"),
        F.col(outer).cast("string").alias("outer_value"),
        F.col(inner).cast("string").alias("inner_value"),
    ).withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    pairs = (
        m.join(d, on=["bucket", "doc_id"])
        .filter(F.col("outer_value").isNotNull() & F.col("inner_value").isNotNull())
        .groupBy("outer_value", "inner_value")
        .agg(F.count("*").cast("long").alias("inner_n"))
        .filter(F.col("inner_n") >= min_count)
    )
    # outer ranking: TakeOrderedAndProject over the distinct outer
    # values, rank attached driver-side to ≤ top_outer rows (the q24
    # pattern — no partitionless window anywhere in the plan)
    heads = (
        pairs.groupBy("outer_value")
        .agg(F.sum("inner_n").cast("long").alias("outer_n"))
        .orderBy(F.desc("outer_n"), F.asc("outer_value"))
        .limit(top_outer)
        .collect()
    )
    if not heads:
        return pairs.sparkSession.createDataFrame(
            [],
            "outer_value string, outer_n long, outer_rank int, "
            "inner_value string, inner_n long, inner_rank int",
        )
    heads_df = pairs.sparkSession.createDataFrame(
        [(r["outer_value"], r["outer_n"], i + 1) for i, r in enumerate(heads)],
        "outer_value string, outer_n long, outer_rank int",
    )
    w_in = Window.partitionBy("outer_value").orderBy(
        F.desc("inner_n"), F.asc("inner_value")
    )
    return (
        pairs.join(F.broadcast(heads_df), on="outer_value")
        .withColumn("inner_rank", F.row_number().over(w_in))
        .filter(F.col("inner_rank") <= top_inner)
        .select(
            "outer_value", "outer_n", "outer_rank",
            "inner_value", "inner_n", "inner_rank",
        )
        .orderBy("outer_rank", "inner_rank")
    )


def stats_field(
    index: InvertedIndex,
    values: DataFrame,
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    exclude_ids=None,
    round_to: int | None = 4,
    percentiles: list[float] | None = None,
) -> DataFrame:
    """Solr StatsComponent (stats.field over a numeric doc value):
    one row (n, min, max, sum, mean, stddev) over ALL docs matching
    ``query`` (decode-only matching — same plan shape and liveDocs
    discipline as ``facet_counts``), optionally restricted by a
    non-scoring ``fq``. ``values``: (doc_id, value). ``stddev`` is
    the sample standard deviation (Solr's). ``round_to`` rounds the
    float outputs for cross-engine comparison (the module's
    round-then-compare float discipline); None keeps raw floats.
    ``percentiles`` adds Solr's stats.percentiles columns (named
    ``p<pct>``) — EXACT linear-interpolated (F.percentile ==
    quantile_cont) instead of Solr's t-digest approximation."""
    cfg = cfg or index.cfg
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    v = values.select("doc_id", "value").withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    def _pc(p):
        e = F.percentile("value", F.lit(p / 100.0)).cast("double")
        if round_to is not None:
            e = F.round(e, round_to)
        # rounded at agg time: names like p99.9 contain '.', which
        # F.col would parse as a struct path
        return e.alias(f"p{p:g}")

    pcols = [_pc(p) for p in (percentiles or [])]
    agg = m.join(v, on=["bucket", "doc_id"]).agg(
        F.count("value").cast("long").alias("n"),
        F.min("value").alias("min"),
        F.max("value").alias("max"),
        F.sum("value").cast("double").alias("sum"),
        F.avg("value").alias("mean"),
        F.stddev_samp("value").alias("stddev"),
        *pcols,
    )
    if round_to is not None:
        for c in ("sum", "mean", "stddev"):
            agg = agg.withColumn(c, F.round(F.col(c), round_to))
    return agg


def search_fetch(
    index: InvertedIndex,
    documents: DataFrame,
    query: str,
    k: int = 10,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fields: list[str] | None = None,
    highlight_field: str | None = None,
    frag_size: int = 80,
    exclude_ids=None,
) -> DataFrame:
    """Distributed Solr response assembly — top-k + stored fields +
    token-exact highlighting as ONE DataFrame, the batch-export twin
    of ``serve.LocalSearcher.search_fetch`` (hl=on): (doc_id, score,
    rank, <fields…>[, highlight]). ``documents``: the stored-fields
    table (doc_id + requested columns).

    Plan shape: the hit list is a BOUNDED ≤k-row collect (the vetted
    driver-collect discipline — every collect in plans/ is ≤k or
    ≤max_expansions), so ranks need no partitionless window and the
    doc_id set pushes down into the stored scan as an isin predicate
    (parquet row-group pruning — a page of k hits costs O(k)
    row-group reads, same as the serving path). The highlighter is
    the SAME function the serving path uses (``serve.highlight``),
    applied through an Arrow-batched pandas UDF over the fragment
    column — snippet generation is pure string work Catalyst cannot
    express, and the UDF touches only the ≤k joined rows. Parity with
    the serving twin is pytest-pinned row for row."""
    from pyspark.sql.functions import pandas_udf

    from golr_loader_spark.plans.bm25 import search

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    hit_rows = search(
        index, query, k=k, cfg=cfg, mode=mode, exclude_ids=exclude_ids
    ).collect()  # bounded: ≤ k rows
    if not hit_rows:
        return spark.createDataFrame(
            [], "doc_id long, score double, rank int"
        )
    ranked = spark.createDataFrame(
        [
            (int(r["doc_id"]), float(r["score"]), i + 1)
            for i, r in enumerate(hit_rows)
        ],
        "doc_id long, score double, rank int",
    )
    ids = [int(r["doc_id"]) for r in hit_rows]
    want = list(fields or [c for c in documents.columns if c != "doc_id"])
    need = list(dict.fromkeys(
        want + ([highlight_field] if highlight_field else [])
    ))
    out = F.broadcast(ranked).join(
        documents.select("doc_id", *need).filter(F.col("doc_id").isin(ids)),
        on="doc_id",
        how="left",
    )
    if highlight_field:
        terms = analyze_query(query, query_analyzer(cfg), cfg.chain)
        fsz = int(frag_size)

        @pandas_udf("string")
        def _hl(col: pd.Series) -> pd.Series:
            from golr_loader_spark.plans.serve import highlight

            return col.map(
                lambda t: None if t is None
                else highlight(str(t), terms, frag_size=fsz)
            )

        out = out.withColumn("highlight", _hl(F.col(highlight_field)))
    return out.orderBy(F.asc("rank"))


def search_sorted(
    index: InvertedIndex,
    documents: DataFrame,
    query: str,
    sort_field: str,
    ascending: bool = True,
    start: int = 0,
    rows: int = 10,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    id_col: str = "doc_id",
    exclude_ids=None,
) -> DataFrame:
    """Solr ``sort=<field> asc|desc`` with ``start``/``rows`` offset
    pagination → (pos, doc_id, <sort_field>), pos = 1-based absolute
    position (start + page rank).

    Matching is DECODE-ONLY (``matching_doc_ids`` — scores are never
    computed when ranking by a stored field, exactly Solr's sort-by-
    field path), optionally restricted by a non-scoring ``fq``. The
    matched ids join the documents table for the sort key; ordering is
    (field asc|desc NULLS LAST, doc_id asc) — Solr's sortMissingLast
    default — planned as a single TakeOrdered with offset (the page,
    never the full match set, reaches the driver; pos attaches to the
    ≤``rows`` surviving rows there). The serving twin is
    ``serve.LocalSearcher.search_sorted``."""
    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    vals = documents.select(
        F.col(id_col).alias("doc_id"), F.col(sort_field)
    ).withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    j = m.join(vals, on=["bucket", "doc_id"]).select("doc_id", sort_field)
    c = F.col(sort_field)
    page = (
        j.orderBy(
            c.asc_nulls_last() if ascending else c.desc_nulls_last(),
            F.asc("doc_id"),
        )
        .offset(start)
        .limit(rows)
        .collect()
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType(
        [
            StructField("pos", IntegerType(), False),
            StructField("doc_id", j.schema["doc_id"].dataType, True),
            StructField(sort_field, j.schema[sort_field].dataType, True),
        ]
    )
    return spark.createDataFrame(
        [(start + i + 1, r["doc_id"], r[sort_field]) for i, r in enumerate(page)],
        schema,
    )


def search_after(
    index: InvertedIndex,
    documents: DataFrame,
    query: str,
    sort_field: str,
    after_value=None,
    after_doc_id: int | None = None,
    ascending: bool = True,
    rows: int = 10,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    id_col: str = "doc_id",
    exclude_ids=None,
) -> DataFrame:
    """Solr cursorMark / ES search_after: KEYSET deep paging over the
    (sort_field, doc_id) order → (doc_id, <sort_field>), the ``rows``
    docs strictly after the cursor ``(after_value, after_doc_id)``
    (None/None = first page).

    This is the scale-correct deep-paging operator: unlike
    ``search_sorted``'s offset (which must order the skipped prefix),
    the cursor predicate — ``v < after`` OR ``(v = after AND doc_id >
    after_doc_id)`` for desc, mirrored for asc — is a plain filter
    that Catalyst pushes into the scan, so page N costs the same as
    page 1 at any depth. The caller threads the cursor by reading the
    last returned row (exactly Solr's nextCursorMark contract). Docs
    with NULL sort values are excluded (Solr cursorMark requires a
    non-null unique tiebreak; our tiebreak is doc_id, but a NULL sort
    key has no position in the keyset order)."""
    cfg = cfg or index.cfg
    m = matching_doc_ids(index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids)
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    c = F.col(sort_field)
    vals = documents.select(
        F.col(id_col).alias("doc_id"), c
    ).filter(c.isNotNull())
    if after_value is not None:
        lt = c < F.lit(after_value)
        gt = c > F.lit(after_value)
        tie = (c == F.lit(after_value)) & (
            F.col("doc_id") > F.lit(int(after_doc_id))
            if after_doc_id is not None
            else F.lit(False)
        )
        vals = vals.filter((gt if ascending else lt) | tie)
    vals = vals.withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    j = m.join(vals, on=["bucket", "doc_id"]).select("doc_id", sort_field)
    return j.orderBy(
        c.asc() if ascending else c.desc(), F.asc("doc_id")
    ).limit(rows)


def grouped_topk(
    index: InvertedIndex,
    facets: DataFrame,
    facet: str,
    query: str,
    cfg: IndexConfig | None = None,
    docs_per_group: int = 2,
    k_groups: int = 10,
    mode: str = "or",
    exclude_ids=None,
    round_scores: int | None = None,
) -> DataFrame:
    """Solr field collapsing (group.field): BM25-score every matching
    doc, keep the top ``docs_per_group`` per facet value, return the
    top ``k_groups`` groups ordered by their best doc → (group_rank,
    value, rank, doc_id, score). ``round_scores``: rank by the
    ROUNDED score (the module's cross-engine float discipline — set
    it when comparing against an external oracle).

    Plan: the bucket scorer runs UNtruncated (the scored set is
    bounded by the query terms' postings, not the corpus), a window
    per facet value takes the in-group top-N (partitioned by value —
    group cardinality ≫ 1, no single-partition funnel), and the group
    ordering is a TakeOrderedAndProject over the ≤|values| group
    heads with the ≤ k_groups winners broadcast back."""
    import sys

    from golr_loader_spark.plans.bm25 import (
        _avgdl,
        _idf_table,
        _score_bucket_factory,
    )
    from golr_loader_spark.functions.tokenize import analyze_query
    from golr_loader_spark.plans.bm25 import query_analyzer

    cfg = cfg or index.cfg
    spark = index.postings.sparkSession
    terms = analyze_query(query, query_analyzer(cfg), cfg.chain)
    out_schema = "group_rank int, value string, rank int, doc_id long, score double"
    if not terms:
        return spark.createDataFrame([], out_schema)
    idf = _idf_table(index, terms)
    weights = {
        (t, f): (cfg.fields[f][1] * i) * (cfg.k1 + 1.0)
        for (t, f), i in idf.items()
        if f in cfg.fields
    }
    required = set(terms) if mode == "and" else None
    if required and not required <= {t for (t, _f) in weights}:
        return spark.createDataFrame([], out_schema)
    cand = index.postings.filter(block_scan(terms, cfg.fields))
    fn = _score_bucket_factory(
        weights, _avgdl(index), cfg, sys.maxsize,
        required_terms=required, exclude_ids=exclude_ids,
    )
    scored = (
        cand.groupBy("bucket")
        .applyInPandas(fn, schema="doc_id long, score double")
        .withColumn(
            "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
        )
    )
    if round_scores is not None:
        scored = scored.withColumn("score", F.round("score", round_scores))
    j = scored.join(
        facets.filter(F.col("facet") == facet), on=["bucket", "doc_id"]
    ).select("value", "doc_id", "score")
    w_in = Window.partitionBy("value").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = j.withColumn("rank", F.row_number().over(w_in)).filter(
        F.col("rank") <= docs_per_group
    )
    heads = (
        ranked.filter(F.col("rank") == 1)
        .orderBy(F.desc("score"), F.asc("value"))
        .limit(k_groups)
        .collect()
    )
    if not heads:
        return spark.createDataFrame([], out_schema)
    head_rows = [(i + 1, r["value"]) for i, r in enumerate(heads)]
    heads_df = spark.createDataFrame(head_rows, "group_rank int, value string")
    return (
        ranked.join(F.broadcast(heads_df), on="value")
        .select("group_rank", "value", "rank", "doc_id", "score")
        .orderBy("group_rank", "rank")
    )


def export_matches(
    index: InvertedIndex,
    values: DataFrame,
    query: str,
    cfg: IndexConfig | None = None,
    mode: str = "or",
    fq=None,
    exclude_ids=None,
    ascending: bool = False,
) -> DataFrame:
    """Solr /export handler: the COMPLETE match set in (value, doc_id)
    order — no top-k, no pagination. Solr built /export because deep
    paging collapses at scale (every page N re-ranks N·rows docs) and
    bulk consumers (joins, analytics, reindexers) want the whole
    sorted stream off docValues; this is the same operation as a
    distributed sort — Spark's home turf. ``values``: (doc_id, value)
    doc values to sort by (Solr /export requires docValues for exactly
    this reason — the corpus text is never read).

    Plan: decode-only match (no scoring), one co-located
    (bucket, doc_id) join against the doc-values table, one
    range-partitioned sort — the shuffle Spark is built around.
    Callers stream it out with ``.write.parquet(...)`` / ``toLocalIterator``;
    ordering is (value, doc_id asc) with Solr's sortMissingLast
    (missing doc values sort after present ones in either
    direction)."""
    cfg = cfg or index.cfg
    m = matching_doc_ids(
        index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids
    )
    if fq is not None:
        from golr_loader_spark.plans.lucene import fq_doc_ids

        m = m.join(
            fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
            .select("doc_id"),
            on="doc_id",
            how="left_semi",
        )
    v = values.select("doc_id", "value").withColumn(
        "bucket", bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    )
    out = m.join(v, on=["bucket", "doc_id"], how="left").select(
        "doc_id", "value"
    )
    vcol = F.col("value").asc_nulls_last() if ascending else (
        F.col("value").desc_nulls_last()
    )
    return out.orderBy(vcol, F.asc("doc_id"))


def facet_counts_multiselect(
    index: InvertedIndex,
    facets: DataFrame,
    query: str,
    fqs: dict[str, str],
    facet_fields: dict[str, list[str]],
    cfg: IndexConfig | None = None,
    mode: str = "or",
    top: int = 10,
    min_count: int = 1,
    exclude_ids=None,
) -> dict[str, list[tuple[str, int]]]:
    """Multi-select faceting — Solr's ``fq={!tag=T}...`` +
    ``facet.field={!ex=T}field``: each facet's counts are computed
    over the match set WITH THAT FACET'S OWN FILTERS EXCLUDED, so a
    user who picked lang=en still sees the other languages' counts
    (the standard e-commerce refinement pattern; without exclusion a
    selected facet collapses to its own value).

    ``fqs``: {tag: fq query string}. ``facet_fields``: {facet field:
    [tags to exclude for this facet]} (empty list = plain drill-down).

    Plan: the base match set and each tagged fq's match set decode
    ONCE (persisted across the per-facet jobs); each facet is then the
    same co-located join + map-side groupBy as ``facet_counts``, over
    base ∩ (every fq except its excluded tags). Work grows with the
    number of DISTINCT exclusion sets, not facets × fqs."""
    from golr_loader_spark.plans.lucene import fq_doc_ids

    cfg = cfg or index.cfg
    base = matching_doc_ids(
        index, query, cfg=cfg, mode=mode, exclude_ids=exclude_ids
    ).persist()
    tag_sets = {
        tag: fq_doc_ids(index, fq, cfg=cfg, exclude_ids=exclude_ids)
        .select("doc_id")
        .persist()
        for tag, fq in fqs.items()
    }
    try:
        out: dict[str, list[tuple[str, int]]] = {}
        for field, excl_tags in facet_fields.items():
            m = base
            for tag, ids in tag_sets.items():
                if tag in excl_tags:
                    continue
                m = m.join(ids, on="doc_id", how="left_semi")
            fx = facets.filter(F.col("facet") == field).select(
                "bucket", "doc_id", "value"
            )
            # rank + truncate DISTRIBUTED-side: the match set is
            # complete (single index, no shard partials), so
            # orderBy(count desc, value asc).limit(top) is exact and the
            # driver collects O(top) rows, not O(distinct values)
            rows = (
                fx.join(m.select("bucket", "doc_id"), on=["bucket", "doc_id"])
                .groupBy("value")
                .agg(F.count(F.lit(1)).cast("long").alias("n"))
                .filter(F.col("n") >= min_count)
                .orderBy(F.desc("n"), F.asc("value"))
                .limit(top)
                .collect()
            )
            global LAST_COLLECTED_MSELECT_ROWS
            LAST_COLLECTED_MSELECT_ROWS = len(rows)
            out[field] = [(r["value"], int(r["n"])) for r in rows]
        return out
    finally:
        base.unpersist()
        for ids in tag_sets.values():
            ids.unpersist()
