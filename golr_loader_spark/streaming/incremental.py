"""Incremental indexing via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); its only
incremental behavior is the 10k-doc Solr commit loop
(GolrLoader.java:401-404). The Spark-native upgrade: treat newly
arriving corpus files as a stream and fold each micro-batch into the
persistent index with ``foreachBatch``. Every micro-batch runs the
one batch build (``build_postings_packed``) over its own documents and
appends the resulting blocks as segment ``epoch_id``; micro-batches
hold disjoint documents, so reads merge by (term, field, bucket)
across commits.

Query-time semantics over an incrementally-built index: posting
blocks for one (term, field, bucket) may arrive from several commits
with interleaved doc ranges. Each commit is its own segment, so every
list has a total (bucket, segment, block_id) order
(``bm25._decode_lists``), and the scoring core accumulates per doc
(``bm25._score_lists``, per bucket on Spark and over whole-index lists
in ``LocalSearcher``) — it never assumes doc order across blocks.

Also provided: the windowed streaming aggregation demo
(watermark + tumbling window) over the events table, the Structured
Streaming counterpart of q13_hourly_events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.corpus import CORPUS_SCHEMA
from golr_loader_spark.functions.tokenize import tokenize
from golr_loader_spark.plans.build_index import (
    _write_postings,
    _writer,
    build_postings_packed,
    doc_lengths,
)
from golr_loader_spark.plans.documents import flatten_documents


def incremental_index_stream(
    spark: SparkSession,
    corpus_dir: str,
    index_root: str,
    cfg: IndexConfig | None = None,
    checkpoint_dir: str | None = None,
):
    """Watch ``corpus_dir`` for new corpus parquet files; fold each
    micro-batch into ``index_root``. Returns the StreamingQuery.

    Since the single-pass encoder needs no corpus statistic, each
    micro-batch is self-contained; global BM25 stats (field, n_docs,
    avgdl) enter only at READ time — ``merged_incremental_index``
    takes them from the caller's periodic stats job.
    Exactly-once: foreachBatch writes are idempotent per epoch via
    commit subdirs keyed by batch id.
    """
    cfg = cfg or IndexConfig()

    stream = (
        spark.readStream.schema(CORPUS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(corpus_dir)
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        from golr_loader_spark.plans.build_index import derived_term_stats

        # each micro-batch IS a segment (epoch id): lists spanning
        # commits then have a total (segment, block_id) order, so the
        # scorer's float accumulation is deterministic across epochs
        postings = build_postings_packed(
            flatten_documents(batch_df), cfg
        ).withColumn("segment", F.lit(int(epoch_id)))
        out = f"{index_root}/postings/epoch={epoch_id}"
        _write_postings(postings, out, 2)
        # derive from the written block table, not a token re-scan
        tstats = derived_term_stats(spark.read.parquet(out))
        _writer(tstats).parquet(f"{index_root}/term_stats_partial/epoch={epoch_id}")

    writer = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def merged_incremental_index(
    spark: SparkSession, index_root: str, stats_df: DataFrame, cfg: IndexConfig | None = None
):
    """Load an incrementally-built index: term stats are re-merged
    across epochs (sum of partials is exact for df/cf)."""
    from golr_loader_spark.plans.build_index import InvertedIndex

    partials = spark.read.option(
        "basePath", f"{index_root}/term_stats_partial"
    ).parquet(f"{index_root}/term_stats_partial/epoch=*")
    merged = partials.groupBy("term", "field").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    postings = spark.read.option("basePath", f"{index_root}/postings").parquet(
        f"{index_root}/postings/epoch=*"
    ).drop("epoch")
    return InvertedIndex(
        postings=postings, term_stats=merged, stats=stats_df, cfg=cfg or IndexConfig()
    )


def streaming_hourly_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over a parquet-file
    stream of events (the Structured Streaming counterpart of
    q13_hourly_events; late rows beyond 1h are dropped by the
    watermark). Returns the streaming DataFrame; callers attach a
    sink (tests use the memory sink + availableNow trigger)."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = spark.readStream.schema(schema).parquet(events_dir)
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def streaming_sessionize(
    spark: SparkSession,
    events_dir: str,
    gap_s: float = 1800.0,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``
    — the streaming twin of q12_sessionize. Per-user GroupState carries
    (n_sessions, n_events, last event epoch); each micro-batch extends
    it, starting a new session when the gap to the previous event
    exceeds ``gap_s``. Emits the running (user_id, n_sessions,
    n_events) in update mode — after the final batch the latest row
    per user equals the batch sessionization exactly (assuming per-user
    time-ordered arrival, the standard sessionization-stream contract;
    out-of-order feeds would add a watermark + in-state buffer).

    The per-batch work is numpy (one diff + comparison over the
    user's rows) — no per-row Python even inside the stateful UDF.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
    )

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        n_s, n_e, last = state.get if state.exists else (0, 0, None)
        rows = pd.concat(list(pdfs))
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            eps = rows["ts"].astype("int64").to_numpy() / 1e9  # ns → s
            prev = np.concatenate(
                [[last if last is not None else -np.inf], eps[:-1]]
            )
            n_s += int((eps - prev > gap_s).sum())
            n_e += len(eps)
            last = float(eps[-1])
        state.update((n_s, n_e, last))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_s], "n_events": [n_e]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_sessions long, n_events long",
        stateStructType="n_sessions long, n_events long, last_epoch double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def compute_global_stats(documents: DataFrame, cfg: IndexConfig | None = None) -> DataFrame:
    """Corpus-level BM25 stats job for the incremental pipeline."""
    from golr_loader_spark.plans.build_index import corpus_stats

    cfg = cfg or IndexConfig()
    toks = tokenize(documents, cfg)
    return corpus_stats(documents, doc_lengths(toks))
