"""Checkpointed, manifest-tracked resumable index build.

The scale-out replacement for the reference's batch-commit protocol:
golr-loader flushed every 10,000 docs to Solr under a global lock
with one manual retry (GolrLoader.java:117,401-404,498-515 and
Pipeline.java:55) — a serialized, non-resumable sink. Here the build
is decomposed into idempotent partition-grain commits recorded in a
lineage manifest table, so a killed build resumes exactly where it
stopped (north rule: "resumable from checkpoint with per-partition
lineage + metrics").

The unit of commit is a **bucket group**: a contiguous range of the
monotone doc-id buckets (``_bucket_groups``). Each group's commit
filters ``documents`` to its bucket range, builds that subset's
compressed block-max postings with the one packed build
(``build_postings_packed``), writes ``postings/group=G`` plus its term
stats, and appends a manifest row with the group's lineage: rows in,
a checksum rolling up the per-row ``content_sha256`` invariant, blocks
out and wall ms. Every (term, field, bucket) list lives in exactly one
group, so the groups' block tables together are the one-shot build's.
Corpus stats and the merged term stats are two more commits, derived
from the written block tables.

A crash between a group's data write and its manifest append simply
re-runs that group; the data write is a directory overwrite, so the
commit is idempotent (the optimistic-commit analog of an Iceberg
snapshot, which this layout stands in for — the sandbox lacks the
Iceberg jars).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import (
    InvertedIndex,
    _write_config,
    _write_postings,
    _writer,
    bucket_of,
    build_postings_packed,
    derived_stats,
    derived_term_stats,
)

MANIFEST_SCHEMA = (
    "phase string, split_id int, status string, rows_in long, rows_out long, "
    "checksum long, wall_ms long"
)


class StopBuild(Exception):
    """Raised by the failure injector in kill-and-resume tests."""


@dataclass
class BuildProgress:
    completed: set[tuple[str, int]]

    def done(self, phase: str, split: int) -> bool:
        return (phase, split) in self.completed


def _read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    path = f"{root}/manifest"
    try:
        return spark.read.parquet(path)
    except Exception:
        return None


def _progress(spark: SparkSession, root: str) -> BuildProgress:
    m = _read_manifest(spark, root)
    if m is None:
        return BuildProgress(set())
    rows = m.filter(F.col("status") == "done").select("phase", "split_id").collect()
    return BuildProgress({(r["phase"], r["split_id"]) for r in rows})


def _append_manifest(
    spark: SparkSession,
    root: str,
    phase: str,
    split: int,
    rows_in: int,
    rows_out: int,
    checksum: int,
    wall_ms: int,
) -> None:
    row = spark.createDataFrame(
        [(phase, split, "done", rows_in, rows_out, checksum, wall_ms)],
        MANIFEST_SCHEMA,
    )
    _writer(row.coalesce(1), "append").parquet(f"{root}/manifest")


def _bucket_groups(cfg: IndexConfig, n_groups: int) -> list[list[int]]:
    """Contiguous bucket ranges → groups; each (term, bucket) pair
    lives in exactly one group, so per-group posting builds never
    interleave doc ranges (global doc_id order is preserved)."""
    n_b = cfg.n_buckets
    # signed hash ids span [-n_b/2, n_b/2); dense ids span [0, n_b)
    lo = -(n_b // 2) if cfg.id_space_bits == 64 else 0
    buckets = list(range(lo, lo + n_b))
    n_groups = min(n_groups, n_b)
    out: list[list[int]] = []
    per = n_b / n_groups
    for g in range(n_groups):
        out.append(buckets[int(g * per) : int((g + 1) * per)])
    return out


def _lineage_aggs() -> list:
    """(n, ck): the row count and Σ crc32(content_sha256) of a document
    set — the per-row content-sha invariant rolled up."""
    return [
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.crc32(F.col("content_sha256"))), F.lit(0)).alias("ck"),
    ]


def build_index_checkpointed(
    documents: DataFrame,
    root: str,
    cfg: IndexConfig | None = None,
    n_bucket_groups: int = 4,
    stop_after_commits: int | None = None,
) -> InvertedIndex:
    """Build (or resume building) a persistent index at ``root``.

    ``stop_after_commits`` kills the build after that many commits
    (testing hook for kill-and-resume). Re-invoking with the same
    arguments resumes from the manifest and completes.
    """
    cfg = cfg or IndexConfig()
    spark = documents.sparkSession
    prog = _progress(spark, root)
    # first: serving restores the exact analyzer from it, and
    # verify_lineage re-derives the bucket groups from it
    _write_config(cfg, root)
    commits = 0

    def commit_gate() -> None:
        nonlocal commits
        commits += 1
        if stop_after_commits is not None and commits >= stop_after_commits:
            raise StopBuild(f"injected stop after {commits} commits")

    # ---- Postings per bucket group ---------------------------------------
    bucket = bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits)
    for g, buckets in enumerate(_bucket_groups(cfg, n_bucket_groups)):
        if prog.done("postings", g):
            continue
        t0 = time.perf_counter()
        sub = documents.filter(bucket.between(buckets[0], buckets[-1]))
        lineage = sub.agg(*_lineage_aggs()).collect()[0]
        out = f"{root}/postings/group={g}"
        _write_postings(build_postings_packed(sub, cfg), out, 4)
        written = spark.read.parquet(out)
        _writer(derived_term_stats(written)).parquet(
            f"{root}/term_stats_partial/group={g}"
        )
        _append_manifest(
            spark, root, "postings", g, int(lineage["n"]), written.count(),
            int(lineage["ck"]),
            int((time.perf_counter() - t0) * 1000),
        )
        commit_gate()

    # ---- Corpus stats: derived from the block table ----------------------
    if not prog.done("stats", 0):
        t0 = time.perf_counter()
        n_docs = documents.count()  # ids unique by construction
        post_all = spark.read.option("basePath", f"{root}/postings").parquet(
            f"{root}/postings/group=*"
        )
        stats = derived_stats(post_all.drop("group"), n_docs)
        _writer(stats.coalesce(1)).parquet(f"{root}/stats")
        _append_manifest(
            spark, root, "stats", 0, n_docs, stats.count(), 0,
            int((time.perf_counter() - t0) * 1000),
        )
        commit_gate()

    # ---- Finalize: merge per-group term stats ----------------------------
    if not prog.done("finalize", 0):
        t0 = time.perf_counter()
        partials = spark.read.option(
            "basePath", f"{root}/term_stats_partial"
        ).parquet(f"{root}/term_stats_partial/group=*")
        merged = partials.groupBy("term", "field").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        _writer(
            merged.repartitionByRange(2, "term").sortWithinPartitions("term", "field")
        ).parquet(f"{root}/term_stats")
        _append_manifest(
            spark, root, "finalize", 0, -1, merged.count(), 0,
            int((time.perf_counter() - t0) * 1000),
        )
        commit_gate()

    return load_checkpointed_index(spark, root, cfg)


def load_checkpointed_index(
    spark: SparkSession, root: str, cfg: IndexConfig | None = None
) -> InvertedIndex:
    return InvertedIndex(
        postings=spark.read.option("basePath", f"{root}/postings").parquet(
            f"{root}/postings/group=*"
        ).drop("group"),
        term_stats=spark.read.parquet(f"{root}/term_stats"),
        stats=spark.read.parquet(f"{root}/stats"),
        cfg=cfg or IndexConfig(),
    )


def build_metrics(spark: SparkSession, root: str) -> DataFrame:
    """The per-partition lineage/metrics view (north rule)."""
    m = _read_manifest(spark, root)
    if m is None:
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return m.orderBy("phase", "split_id")


def verify_lineage(documents: DataFrame, spark: SparkSession, root: str) -> bool:
    """Re-derive each bucket group's content checksum from the source
    and compare with the manifest — the per-row sha256 invariant of
    BASELINE.json surfaced as an auditable index property. The bucket
    groups come from the build's own ``{root}/config.json``."""
    from golr_loader_spark.plans.serve import _load_config

    m = _read_manifest(spark, root)
    cfg = _load_config(root)
    if m is None or cfg is None:
        return False
    recorded = {
        r["split_id"]: (r["rows_in"], r["checksum"])
        for r in m.filter(F.col("phase") == "postings").collect()
    }
    if not recorded:
        return False
    group_of = {
        b: g
        for g, buckets in enumerate(_bucket_groups(cfg, len(recorded)))
        for b in buckets
    }
    actual = {g: (0, 0) for g in range(len(recorded))}
    per_bucket = (
        documents.groupBy(
            bucket_of(F.col("doc_id"), cfg.bucket_bits, cfg.id_space_bits).alias("b")
        )
        .agg(*_lineage_aggs())
        .collect()
    )
    for r in per_bucket:
        g = group_of.get(int(r["b"]))
        if g is None:
            return False
        n, ck = actual[g]
        actual[g] = (n + int(r["n"]), ck + int(r["ck"]))
    return actual == recorded


__all__ = [
    "StopBuild",
    "build_index_checkpointed",
    "load_checkpointed_index",
    "build_metrics",
    "verify_lineage",
]
