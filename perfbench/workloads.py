"""The two workloads: ``serve`` and ``lifecycle``.

Each workload function takes a ``Ctx`` and returns a ``Run``: the
set-up walls, the latency of every timed call by class, the wall of
every turn of its loop, and the workload's exact counts. The engine is
driven only through its public functions, by one client in a closed
loop (the next call is sent when the previous one returns). Result
checks run with tracing paused and outside the timed calls; a wrong
result counts as a failed operation.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.compute as pc

from perfbench.inputs import PHRASE_EVERY, make_corpus, phrase_pool, query_stream, vocabulary
from perfbench.tracing import CacheCounters, Tracer


BATCH = 20  # lifecycle: queries per search_batch call
SHARDS = 2  # serve: shards of the ShardedSearcher
CHECK_WINDOW = 50  # serve: timed stream items the checks sample from
CHECKS = 2  # sampled queries per result check


@dataclass(frozen=True)
class Sizes:
    serve_docs: int
    lifecycle_docs: int
    serve_bucket_bits: int
    lifecycle_bucket_bits: int  # compaction's cost grows with the buckets
    setup_reps: int
    stream: int  # generated query stream length
    warm: int  # serve: untimed stream items each set-up warms with
    steady: int  # serve: stream items answered untimed before timing
    sharded: int  # serve: timed items replayed on the sharded searcher
    burst_warm: int  # lifecycle: untimed queries before each burst
    upsert_share: float  # lifecycle: docs per upsert / corpus
    deletes: int


# the warm-ups are long enough for the searchers' caches to settle:
# at 3k docs, LocalSearcher.search latency stops falling after about
# 300 stream items
FULL = Sizes(
    serve_docs=3000,
    lifecycle_docs=2000,
    serve_bucket_bits=3,
    lifecycle_bucket_bits=1,
    setup_reps=3,
    stream=20000,
    warm=40,
    steady=400,
    sharded=100,
    burst_warm=300,
    upsert_share=0.01,
    deletes=5,
)

SMOKE = Sizes(
    serve_docs=300,
    lifecycle_docs=300,
    serve_bucket_bits=2,
    lifecycle_bucket_bits=0,
    setup_reps=2,
    stream=400,
    warm=20,
    steady=40,
    sharded=CHECK_WINDOW,
    burst_warm=20,
    upsert_share=0.04,
    deletes=2,
)


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    sizes: Sizes
    workdir: str  # this run's scratch space, removed at exit
    cores: int
    stop_spark: Callable[[], None]  # for a workload done with Spark early
    t0: float = field(default_factory=time.perf_counter)


@dataclass
class Run:
    setup_s: list[float] = field(default_factory=list)
    lat_ms: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    cycle_ms: list[float] = field(default_factory=list)  # one per loop turn
    attempted: int = 0
    failed: int = 0
    docs: int = 0  # corpus size the workload indexes
    detail: dict = field(default_factory=dict)  # exact workload figures
    layer: dict = field(default_factory=dict)  # exact per-layer counts
    analyze_us: list[float] = field(default_factory=list)
    cache: CacheCounters = field(default_factory=CacheCounters)

    def fail(self, why: str) -> None:
        self.failed += 1
        print(f"perfbench: wrong result: {why}", file=sys.stderr)


def _call(ctx: Ctx, run: Run, cls: str, span: str, fn, *args, searcher=None, **kw):
    """One timed operation: wall clock around the span and the call.
    Returns the call's result, or None when it raised (a failure)."""
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(span), run.cache.around(
            searcher, ctx.tracer.enabled and searcher is not None
        ):
            out = fn(*args, **kw)
    except Exception:
        run.failed += 1
        traceback.print_exc(file=sys.stderr)
        return None
    run.lat_ms[cls].append((time.perf_counter() - t0) * 1e3)
    return out


def _log(ctx: Ctx, what: str) -> None:
    """Progress on stderr, in seconds since the workload started."""
    print(f"perfbench: {what} at {time.perf_counter() - ctx.t0:.1f} s", file=sys.stderr, flush=True)


def _setup(ctx: Ctx, run: Run, fn):
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        out = fn()
    run.setup_s.append(time.perf_counter() - t0)
    return out


def _id_bits(n: int) -> int:
    return max(2, (n - 1).bit_length())


def _same(a, b) -> bool:
    """Ranked (doc_id, score) lists agree: same ids in the same order,
    scores equal to 1e-9 relative."""
    if len(a) != len(b):
        return False
    for (da, sa), (db, sb) in zip(a, b):
        if int(da) != int(db) or abs(sa - sb) > 1e-9 * max(1.0, abs(sa)):
            return False
    return True


def _rows(df) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(path)
        for f in files
    )


def _analyze_timed(run: Run, cfg, text: str) -> None:
    from golr_loader_spark.functions.tokenize import analyze_query
    from golr_loader_spark.plans.bm25 import query_analyzer

    t0 = time.perf_counter()
    analyze_query(text, query_analyzer(cfg), cfg.chain)
    run.analyze_us.append((time.perf_counter() - t0) * 1e6)


def _block_counts(ix) -> dict:
    """Exact block-table figures plus an order-independent fingerprint."""
    from pyspark.sql import functions as F

    cols = sorted(ix.postings.columns)
    has_pos = "poss" in cols
    r = ix.postings.agg(
        F.count("*").alias("blocks"),
        F.sum("n").alias("postings"),
        F.sum(F.length("doc_ids")).alias("id_bytes"),
        (F.sum(F.length("poss")) if has_pos else F.lit(0)).alias("pos_bytes"),
        F.bit_xor(F.xxhash64(*cols)).alias("fp"),
    ).collect()[0]
    postings = int(r["postings"])
    return {
        "blocks": int(r["blocks"]),
        "postings": postings,
        "id_bytes_per_posting": int(r["id_bytes"]) / postings,
        "pos_bytes_per_posting": int(r["pos_bytes"] or 0) / postings,
        "fingerprint": f"{int(r['fp']) & 0xFFFFFFFFFFFFFFFF:016x}",
    }


def _record_layer_counts(run: Run, counts: dict) -> None:
    for k in ("blocks", "id_bytes_per_posting", "pos_bytes_per_posting"):
        run.layer[f"build_index.{k}"] = counts[k]


def _build_in_memory(ctx: Ctx, docs, cfg, n_docs: int):
    """build_index plus the term_stats action that materializes it."""
    from golr_loader_spark.plans.build_index import build_index

    with ctx.tracer.span("build_index.build"):
        ix = build_index(docs, cfg, n_docs=n_docs)
        ix.term_stats = ix.term_stats.persist()
        ix.term_stats.count()
    return ix


def _drop(ix) -> None:
    ix.postings.unpersist(blocking=True)
    ix.term_stats.unpersist(blocking=True)


def _dense_docs(ctx: Ctx, n_docs: int, seed: int):
    from golr_loader_spark.plans.documents import assign_dense_ids

    docs = make_corpus(ctx.spark, n_docs, seed, ctx.cores)
    with ctx.tracer.span("documents.assign_dense_ids"):
        dense = assign_dense_ids(docs).persist()
        dense.count()
    docs.unpersist()
    return dense


def _check_written(run: Run, counts: dict, root: str) -> None:
    """The persisted block table holds exactly the in-memory one's blocks
    and postings; a mismatch counts as a failed operation. The record
    carries the fingerprint, so runs of one seed compare offline."""
    import pyarrow.dataset as pads

    tbl = pads.dataset(f"{root}/postings", format="parquet").to_table(columns=["n"])
    got = (tbl.num_rows, int(pc.sum(tbl["n"]).as_py()))
    run.attempted += 1
    if got != (counts["blocks"], counts["postings"]):
        run.fail(f"written root has (blocks, postings) {got}, in memory {counts}")


# ------------------------------------------------------------------ serve


def serve(ctx: Ctx) -> Run:
    """Prep (once): a persisted positional root and its shard_index into
    2 shards; the expected results of the sampled check queries; then
    the Spark session stops, so nothing else runs beside the searchers.
    Set-up: open a LocalSearcher and a process-transport ShardedSearcher
    and warm both on the search items among the stream's first ``warm``.
    The local searcher then answers the untimed prefix up to ``steady``,
    so its caches settle, and the timed stream after it; sampled results
    must equal search_batch's (or phrase_search_positional's). Last, the
    sharded searcher answers the same prefix untimed and the first
    ``sharded`` timed items, each of which must equal the local result.
    The two searchers run apart: the shard worker processes would
    otherwise disturb the local timings."""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.bm25 import search_batch
    from golr_loader_spark.plans.build_index import write_index
    from golr_loader_spark.plans.phrase import phrase_search_positional
    from golr_loader_spark.plans.serve import LocalSearcher
    from golr_loader_spark.plans.shard import ShardedSearcher, shard_index

    S, run, tr = ctx.sizes, Run(), ctx.tracer
    n = run.docs = S.serve_docs
    cfg = IndexConfig(bucket_bits=S.serve_bucket_bits, id_space_bits=_id_bits(n), positions=True)
    root = os.path.join(ctx.workdir, "root")
    t0 = time.perf_counter()
    with tr.span("prep"):
        dense = _dense_docs(ctx, n, ctx.seed)
        ix = _build_in_memory(ctx, dense, cfg, n)
        with tr.span("build_index.write_index"):
            write_index(ix, root, documents=dense)
        with tr.span("shard.shard_index"):
            roots = shard_index(
                ctx.spark, root, os.path.join(ctx.workdir, "shards"), SHARDS, cfg=cfg
            )
    run.detail["prep_s"] = time.perf_counter() - t0
    run.detail["index_bytes_per_doc"] = _dir_bytes(root) / n
    _log(ctx, "prep done")
    traced = tr.enabled
    with tr.paused():
        if traced:  # the counts are per-layer metrics only
            _record_layer_counts(run, _block_counts(ix))
        stream = query_stream(
            vocabulary(ix), phrase_pool(dense, ctx.seed, n), ctx.seed, S.stream
        )
        timed = stream[S.steady :]
        # checks: sampled OR items and the first phrase among the first
        # CHECK_WINDOW timed items, which every run reaches
        window = list(enumerate(timed[:CHECK_WINDOW]))
        ors = [j for j, q in window if q.kind == "bm25" and q.mode == "or"]
        picks = np.random.RandomState(ctx.seed).choice(ors, size=CHECKS, replace=False)
        qs = {int(j): timed[j].text for j in picks}
        got = defaultdict(list)
        for r in search_batch(ix, qs, k=10, cfg=cfg).collect():
            got[r["query_id"]].append((r["rank"], int(r["doc_id"]), float(r["score"])))
        expect = {j: ("search_batch", [(d, s) for _r, d, s in sorted(got[j])]) for j in qs}
        j = next(j for j, q in window if q.kind == "phrase")
        expect[j] = (
            "phrase_search_positional",
            _rows(phrase_search_positional(ix, timed[j].text, k=10, cfg=cfg)),
        )
    _drop(ix)
    dense.unpersist()
    ctx.stop_spark()
    _log(ctx, "spark stopped")

    def answer(searcher, q):
        if q.kind == "bm25":
            return searcher.search(q.text, k=10, mode=q.mode)
        return searcher.search_phrase(q.text, k=10)

    def open_and_warm():
        with tr.span("serve.open"):
            local = LocalSearcher(root)
        with tr.span("shard.open"):
            sharded = ShardedSearcher(roots, cfg, parallel=True)
        with tr.paused():
            # phrases are left out: on cold caches their cost varies
            # with the seed more than anything else in the set-up
            for q in stream[: S.warm]:
                if q.kind == "bm25":
                    answer(local, q)
                    answer(sharded, q)
        return local, sharded

    ls = ss = None
    for _ in range(S.setup_reps):
        if ss is not None:
            ss.close()
        ls, ss = _setup(ctx, run, open_and_warm)
    try:
        _log(ctx, "set-up done")
        with tr.paused():
            for q in stream[S.warm : S.steady]:
                answer(ls, q)
        # the local searcher alone: every stream item, for the run's
        # seconds and at least through the items the checks need
        local_got = []
        block_ms = 0.0
        t_start = time.perf_counter()
        i = 0
        while i < S.sharded or time.perf_counter() - t_start < ctx.seconds:
            q = timed[i % len(timed)]
            t_item = time.perf_counter()
            if q.kind == "bm25":
                if tr.enabled:
                    _analyze_timed(run, cfg, q.text)
                a = _call(ctx, run, "bm25", "serve.search", ls.search, q.text,
                          k=10, mode=q.mode, searcher=ls)
            else:
                a = _call(ctx, run, "phrase", "serve.search_phrase", ls.search_phrase,
                          q.text, k=10, searcher=ls)
            block_ms += (time.perf_counter() - t_item) * 1e3
            if (S.steady + i) % PHRASE_EVERY == PHRASE_EVERY - 1:
                # a turn: PHRASE_EVERY items, the last one a phrase
                if i >= PHRASE_EVERY - 1:
                    run.cycle_ms.append(block_ms)
                block_ms = 0.0
            if i < S.sharded:
                local_got.append(a)
            if a is not None and i in expect:
                plan, want = expect.pop(i)
                run.attempted += 1
                if not _same(a, want):
                    run.fail(f"{q}: LocalSearcher {a[:3]}, {plan} {want[:3]}")
            i += 1
        run.detail["items"] = i
        run.detail["loop_s"] = time.perf_counter() - t_start
        _log(ctx, "local run done")
        # then the sharded searcher, warmed on the same prefix, on the
        # first timed items; each result must equal the local one
        with tr.paused():
            for q in stream[S.warm : S.steady]:
                answer(ss, q)
        for q, a in zip(timed, local_got):
            if q.kind == "bm25":
                b = _call(ctx, run, "sharded", "shard.search", ss.search, q.text,
                          k=10, mode=q.mode)
            else:
                b = _call(ctx, run, "sharded_phrase", "shard.search_phrase",
                          ss.search_phrase, q.text, k=10)
            if a is not None and b is not None and not _same(a, b):
                run.fail(f"sharded {q} gave {b[:3]}, unsharded {a[:3]}")
    finally:
        ss.close()
    _log(ctx, "sharded run done")
    return run


# -------------------------------------------------------------- lifecycle


def lifecycle(ctx: Ctx) -> Run:
    """Set-up: synth_corpus → flatten_documents, persisted. One turn:

    1. build: assign_dense_ids → build_index(IndexConfig(positions=True))
       → term_stats → write_index(documents=…) → open a LocalSearcher;
    2. one query round over the in-memory index just built:
       search_batch on a fixed 20-query set, bm25.search on one query,
       phrase_search_positional on one phrase;
    3. writes to the root, each followed by a refresh: upsert_docs_fast
       of 1% of the docs (half updates, half new ids), then delete_docs
       and compact_root;
    4. reads, once Spark has stopped: LocalSearcher.search on the
       upserted (multi-segment, tombstoned) root, then on the compacted
       root, each for half the run's seconds after an untimed warm-up.

    Checks: the written root holds the in-memory block table; sampled
    Spark results equal LocalSearcher's over that root; after compaction,
    sampled results rank like bm25.score_exact over the final corpus."""
    from pyspark.sql import functions as F

    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.functions.tokenize import analyze_query, tokenize
    from golr_loader_spark.plans.bm25 import query_analyzer, score_exact, search, search_batch
    from golr_loader_spark.plans.build_index import corpus_stats, doc_lengths, write_index
    from golr_loader_spark.plans.documents import assign_dense_ids
    from golr_loader_spark.plans.maintenance import compact_root, delete_docs, upsert_docs_fast
    from golr_loader_spark.plans.phrase import phrase_search_positional
    from golr_loader_spark.plans.serve import LocalSearcher

    S, run, tr = ctx.sizes, Run(), ctx.tracer
    n = run.docs = S.lifecycle_docs
    per_round = max(2, round(n * S.upsert_share))
    n_upd = per_round // 2
    cfg = IndexConfig(
        bucket_bits=S.lifecycle_bucket_bits,
        id_space_bits=_id_bits(n + per_round - n_upd),
        positions=True,
    )
    root = os.path.join(ctx.workdir, "root")
    # one corpus: the first n dense ids are indexed, the rest are the
    # content the upserts bring
    corpus = None
    for _ in range(S.setup_reps):
        if corpus is not None:
            corpus.unpersist(blocking=True)
        corpus = _setup(
            ctx, run, lambda: make_corpus(ctx.spark, n + per_round, ctx.seed, ctx.cores)
        )

    def build_once():
        with tr.span("documents.assign_dense_ids"):
            everything = assign_dense_ids(corpus).persist()
            everything.count()
        dense = everything.filter(F.col("doc_id") < n)
        ix = _build_in_memory(ctx, dense, cfg, n)
        with tr.span("build_index.write_index"):
            write_index(ix, root, documents=dense)
        with tr.span("serve.open"):
            ls = LocalSearcher(root)
        return everything, dense, ix, ls

    _log(ctx, "set-up done")
    out = _call(ctx, run, "build", "build", build_once)
    if out is None:
        return run
    everything, dense, ix, ls = out
    with tr.paused():
        counts = _block_counts(ix)
        _check_written(run, counts, root)
        stream = query_stream(vocabulary(ix), phrase_pool(dense, ctx.seed, n), ctx.seed, S.stream)
        # upsert rows: the first n_upd take the id of an existing doc (an
        # update), the rest new ids
        rng = np.random.RandomState(ctx.seed)
        chosen = rng.choice(n, size=n_upd + S.deletes, replace=False)
        upd_ids, del_ids = chosen[:n_upd], [int(i) for i in chosen[n_upd:]]
        ids = {n + j: int(upd_ids[j]) if j < n_upd else n + j - n_upd for j in range(per_round)}
        remap = F.create_map(*[F.lit(x) for kv in ids.items() for x in kv])
        batch_docs = (
            everything.filter(F.col("doc_id") >= n)
            .withColumn("doc_id", F.element_at(remap, F.col("doc_id")))
            .persist()
        )
        batch_docs.count()
    _record_layer_counts(run, counts)
    run.detail["fingerprint"] = counts["fingerprint"]
    run.detail["index_bytes_per_doc"] = _dir_bytes(root) / n
    terms = [q for q in stream if q.kind == "bm25"]
    phrases = [q for q in stream if q.kind == "phrase"]
    bm25_stream = terms[BATCH:]
    batch = {j: q.text for j, q in enumerate(terms[:BATCH])}

    def run_batch():
        return search_batch(ix, batch, k=10, cfg=cfg).collect()

    def run_search(q):
        return _rows(search(ix, q.text, k=10, cfg=cfg, mode=q.mode))

    def run_phrase(q):
        return _rows(phrase_search_positional(ix, q.text, k=10, cfg=cfg))

    # one round of the Spark plans: each takes seconds, so more do not
    # fit the run budget
    batch_rows = _call(ctx, run, "batch", "bm25.search_batch", run_batch)
    q = bm25_stream[0]
    if tr.enabled:
        _analyze_timed(run, cfg, q.text)
    got = _call(ctx, run, "search", "bm25.search", run_search, q)
    _call(ctx, run, "phrase", "phrase.phrase_search_positional", run_phrase, phrases[0])
    _log(ctx, "queries done")
    # the Spark plans agree with LocalSearcher over the root just written
    checked = [] if got is None else [(q.text, q.mode, got)]
    if batch_rows is not None:  # search_batch runs every query as OR
        q0 = [(r["rank"], int(r["doc_id"]), float(r["score"])) for r in batch_rows
              if r["query_id"] == 0]
        checked.append((batch[0], "or", [(d, s) for _r, d, s in sorted(q0)]))
    for text, mode, got in checked:
        run.attempted += 1
        want = ls.search(text, k=10, mode=mode)
        if not _same(got, want):
            run.fail(f"{text!r} ({mode}): Spark plan {got[:3]}, LocalSearcher {want[:3]}")

    def burst(searcher, start: int) -> int:
        """Untimed warm-up on the bm25 items from ``start``, then the
        next ones timed for half the run's seconds; returns the index
        after the last item sent."""
        for q in bm25_stream[start : start + S.burst_warm]:
            searcher.search(q.text, k=10, mode=q.mode)
        i = start + S.burst_warm
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < ctx.seconds / 2:
            q = bm25_stream[i % len(bm25_stream)]
            if tr.enabled:
                _analyze_timed(run, cfg, q.text)
            _call(ctx, run, "bm25", "serve.search", searcher.search, q.text, k=10,
                  mode=q.mode, searcher=searcher)
            i += 1
        return i

    # the writes, each followed by the refresh that shows it to readers;
    # a copy of the upserted root keeps that state for the reads below
    before = _dir_bytes(root)
    if _call(ctx, run, "upsert", "maintenance.upsert_docs_fast",
             upsert_docs_fast, ctx.spark, root, batch_docs, cfg) is not None:
        run.detail["upserted_docs"] = per_round
        run.layer["maintenance.upsert_bytes_written_per_doc"] = (
            (_dir_bytes(root) - before) / per_round
        )
    _call(ctx, run, "refresh", "serve.refresh", ls.refresh)
    upserted = os.path.join(ctx.workdir, "upserted")
    shutil.copytree(root, upserted)
    run.layer["maintenance.segments"] = _distinct(root, ["segment"])
    run.layer["maintenance.compact_groups"] = _distinct(root, ["term", "field", "bucket"])
    _call(ctx, run, "delete", "maintenance.delete_docs", delete_docs, ctx.spark, root, del_ids)
    _call(ctx, run, "compact", "maintenance.compact_root", compact_root, ctx.spark, root, cfg)
    _call(ctx, run, "refresh", "serve.refresh", ls.refresh)
    _log(ctx, "writes done")

    # the compacted root ranks like exact BM25 over the final corpus
    with tr.paused():
        gone = [int(i) for i in upd_ids] + del_ids
        final = dense.filter(~F.col("doc_id").isin(gone)).unionByName(batch_docs)
        tokens = tokenize(final, cfg).persist()
        dls = doc_lengths(tokens)
        stats = corpus_stats(final, dls).collect()
        n_final = max(int(r["n_docs"]) for r in stats)
        avgdl = {r["field"]: float(r["avgdl"]) for r in stats}
        qan = query_analyzer(cfg)
        ors = [q for q in bm25_stream if q.mode == "or"]
        for j in sorted(rng.permutation(len(ors))[: CHECKS]):
            q = ors[int(j)]
            run.attempted += 1
            got = ls.search(q.text, k=10)
            exact = _rows(score_exact(
                tokens, dls, n_final, avgdl, analyze_query(q.text, qan, cfg.chain), cfg, k=10,
            ))
            if [d for d, _s in got] != [d for d, _s in exact]:
                run.fail(f"{q}: compacted root {got[:3]}, score_exact {exact[:3]}")
        tokens.unpersist()
    # the reads: with Spark stopped, nothing runs beside the searcher
    ctx.stop_spark()
    burst(ls, burst(LocalSearcher(upserted), 0))
    _log(ctx, "reads done")

    # the turn's Spark-side calls back to back: docs → searchable index →
    # first answers → upsert → delete → compaction, with the refreshes;
    # the reads are timed by the clock, so serve_bm25_p50_ms covers them
    if not run.failed:
        run.cycle_ms.append(sum(sum(v) for c, v in run.lat_ms.items() if c != "bm25"))
    return run


def _distinct(root: str, cols: list[str]) -> int:
    """Distinct values of ``cols`` over the root's postings files."""
    import pyarrow.dataset as pads

    tbl = pads.dataset(f"{root}/postings", format="parquet").to_table(columns=cols)
    return tbl.group_by(cols).aggregate([]).num_rows


WORKLOAD_FNS = {
    "serve": serve,
    "lifecycle": lifecycle,
}
