"""Metric registry: names, units, and the layer → end-to-end map.

Three tiers:

* ``E2E`` — printed by every workload with ``--trace 0`` on the last
  stdout line, with the bound ``BENCHMARK.json`` gives each. Every
  workload's run must print every one of them: ``setup_s``, the median
  ``LocalSearcher.search`` latency (both workloads serve queries),
  ``cycle_ms``, one turn of the workload's loop (see ``CYCLE``), and the
  bytes on disk per document of the root the workload writes.
* ``NAMED`` — each workload's own figures, under the names later perf
  issues cite. Printed on the workload's ``record`` line, each with its
  unit and sample count.
* ``PER_LAYER`` — printed with ``--trace 1``; one entry per module
  metric, with the named metric and workload it should move.

``BENCHMARK.json`` repeats ``E2E`` and ``PER_LAYER``; the smoke test
checks the two agree.
"""

from __future__ import annotations

WORKLOADS = ("serve", "lifecycle")

# name, unit, better, bound (share of the parent's median)
E2E = [
    ("setup_s", "s", "lower", 0.25),
    ("serve_bm25_p50_ms", "ms", "lower", 0.25),
    ("cycle_ms", "ms", "lower", 0.25),
    ("index_bytes_per_doc", "bytes/doc", "lower", 0.1),
]

# cycle_ms: median wall of one turn of the workload's loop, so a
# regression in any call of the turn shows; the lifecycle's reads run
# for a set time, so serve_bm25_p50_ms covers them instead
CYCLE = {
    "serve": "ten consecutive stream items (nine search, one search_phrase) "
    "answered by the LocalSearcher",
    "lifecycle": "build → search_batch/search/phrase round → "
    "upsert → refresh → delete → compact → refresh",
}

# workload → [(name, unit)]; a tail percentile falls back to a lower one
# (and the record says which) when a run has too few samples
NAMED = {
    "serve": [
        ("serve_bm25_p50_ms", "ms"),
        ("serve_bm25_p99_ms", "ms"),
        ("serve_phrase_p50_ms", "ms"),
        ("serve_phrase_p95_ms", "ms"),
        ("serve_sharded_p50_ms", "ms"),
        ("serve_qps", "1/s"),
    ],
    "lifecycle": [
        ("build_docs_per_s", "docs/s"),
        ("index_bytes_per_doc", "bytes/doc"),
        ("spark_batch20_p50_s", "s"),
        ("spark_search_p50_s", "s"),
        ("spark_phrase_p50_s", "s"),
        ("serve_bm25_p50_ms", "ms"),
        ("serve_bm25_p99_ms", "ms"),
        ("upsert_docs_per_s", "docs/s"),
        ("compact_s", "s"),
    ],
}

# name, unit, module, (named metric it moves, workload); prep_s is the
# untimed preparation before set-up, on the record line
PER_LAYER = [
    ("documents.assign_dense_ids_s", "s", "plans.documents", ("build_docs_per_s", "lifecycle")),
    ("build_index.build_s", "s", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.write_index_s", "s", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.shuffle_write_bytes", "bytes", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.executor_cpu_s", "s", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.executor_run_s", "s", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.spill_bytes", "bytes", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.tasks", "count", "plans.build_index", ("build_docs_per_s", "lifecycle")),
    ("build_index.blocks", "count", "plans.build_index", ("index_bytes_per_doc", "lifecycle")),
    ("build_index.id_bytes_per_posting", "bytes/posting", "plans.build_index", ("index_bytes_per_doc", "lifecycle")),
    ("build_index.pos_bytes_per_posting", "bytes/posting", "plans.build_index", ("index_bytes_per_doc", "lifecycle")),
    ("tokenize.analyze_query_us", "us", "functions.tokenize", ("serve_bm25_p50_ms", "serve")),
    ("serve.open_ms", "ms", "plans.serve", ("setup_s", "serve")),
    ("serve.search_ms", "ms", "plans.serve", ("serve_bm25_p50_ms", "serve")),
    ("serve.search_phrase_ms", "ms", "plans.serve", ("serve_phrase_p50_ms", "serve")),
    ("serve.decoded_cache_hits", "count", "plans.serve", ("serve_bm25_p50_ms", "serve")),
    ("serve.decoded_cache_misses", "count", "plans.serve", ("serve_bm25_p50_ms", "serve")),
    ("serve.decoded_cache_hit_ratio", "ratio", "plans.serve", ("serve_bm25_p99_ms", "serve")),
    ("serve.block_cache_hits", "count", "plans.serve", ("serve_bm25_p50_ms", "serve")),
    ("serve.block_cache_misses", "count", "plans.serve", ("serve_bm25_p50_ms", "serve")),
    ("serve.block_cache_hit_ratio", "ratio", "plans.serve", ("serve_bm25_p99_ms", "serve")),
    ("serve.refresh_ms", "ms", "plans.serve", ("cycle_ms", "lifecycle")),
    ("shard.shard_index_s", "s", "plans.shard", ("prep_s", "serve")),
    ("shard.search_ms", "ms", "plans.shard", ("serve_sharded_p50_ms", "serve")),
    ("bm25.search_batch_s", "s", "plans.bm25", ("spark_batch20_p50_s", "lifecycle")),
    ("bm25.search_batch.shuffle_read_bytes", "bytes", "plans.bm25", ("spark_batch20_p50_s", "lifecycle")),
    ("bm25.search_batch.tasks", "count", "plans.bm25", ("spark_batch20_p50_s", "lifecycle")),
    ("bm25.search_batch.executor_cpu_s", "s", "plans.bm25", ("spark_batch20_p50_s", "lifecycle")),
    ("bm25.search_s", "s", "plans.bm25", ("spark_search_p50_s", "lifecycle")),
    ("bm25.search.shuffle_read_bytes", "bytes", "plans.bm25", ("spark_search_p50_s", "lifecycle")),
    ("bm25.search.tasks", "count", "plans.bm25", ("spark_search_p50_s", "lifecycle")),
    ("bm25.search.executor_cpu_s", "s", "plans.bm25", ("spark_search_p50_s", "lifecycle")),
    ("phrase.phrase_search_positional_s", "s", "plans.phrase", ("spark_phrase_p50_s", "lifecycle")),
    ("phrase.shuffle_read_bytes", "bytes", "plans.phrase", ("spark_phrase_p50_s", "lifecycle")),
    ("phrase.tasks", "count", "plans.phrase", ("spark_phrase_p50_s", "lifecycle")),
    ("maintenance.upsert_docs_fast_s", "s", "plans.maintenance", ("upsert_docs_per_s", "lifecycle")),
    ("maintenance.upsert_bytes_written_per_doc", "bytes/doc", "plans.maintenance", ("upsert_docs_per_s", "lifecycle")),
    ("maintenance.segments", "count", "plans.maintenance", ("serve_bm25_p50_ms", "lifecycle")),
    ("maintenance.compact_root_s", "s", "plans.maintenance", ("compact_s", "lifecycle")),
    ("maintenance.compact_groups", "count", "plans.maintenance", ("compact_s", "lifecycle")),
    ("maintenance.compact_executor_cpu_s", "s", "plans.maintenance", ("compact_s", "lifecycle")),
    ("maintenance.compact_executor_run_s", "s", "plans.maintenance", ("compact_s", "lifecycle")),
    ("maintenance.compact_shuffle_bytes", "bytes", "plans.maintenance", ("compact_s", "lifecycle")),
    # the E2E metrics as measured with tracing on: the tracing overhead
    # is each of these minus the same metric from a --trace 0 run
    ("trace.setup_s", "s", "perfbench", ("setup_s", "all")),
    ("trace.serve_bm25_p50_ms", "ms", "perfbench", ("serve_bm25_p50_ms", "all")),
    ("trace.cycle_ms", "ms", "perfbench", ("cycle_ms", "all")),
]

E2E_UNITS = {n: u for n, u, _b, _x in E2E}
PER_LAYER_UNITS = {n: u for n, u, _m, _t in PER_LAYER}
