"""Sharded serving: SolrCloud's shards + scatter-gather top-k merge.

The reference POSTs its documents into production Solr, which is
SolrCloud in every real deployment: documents hash-route to shards,
each shard is an independent Lucene core, and a coordinator
scatter-gathers per-shard top-k lists into the global page
(GolrLoader.java:498-515 is the loader half; this module is the
serving half a golr user actually queries). At 100× corpus scale a
single mmap view cannot hold the postings; sharding by doc range is
how the low-latency path keeps working.

* ``shard_index(spark, root, out_root, n_shards)`` — split a
  persisted index root (``write_index`` layout) into ``n_shards``
  independent, individually ``LocalSearcher``-able directories.
  Routing is ``bucket % n_shards`` over the existing monotone
  doc-range buckets, so every doc's postings, stored fields, and
  facet rows land on exactly one shard. **Corpus-level statistics
  (stats, term_stats) are copied whole to every shard** — BM25
  weights are computed from GLOBAL df/n_docs/avgdl, which is what
  makes per-shard scores globally comparable and the merged ranking
  bit-identical to the unsharded searcher (Solr gets the same effect
  with distributed IDF; we get it for free because the dictionary is
  vocabulary-sized metadata). Tombstones are copied whole (a mask
  only affects docs the shard actually holds).

* ``ShardedSearcher(roots)`` — the coordinator: holds one
  ``LocalSearcher`` per shard and reproduces the full serving
  surface. Ranked queries run on every shard with the same ``k`` and
  k-way merge on (score desc, doc_id asc) — each shard's contribution
  to the global top-k is within its local top-k because scores are
  globally weighted, so merging truncated lists is EXACT, not
  approximate. Facet operations use Solr's two-phase design since
  round 5: phase 1 overrequests ``int(top*1.5)+10`` values per shard
  (coordinator traffic O(top), not O(distinct values)); phase 2
  refines candidates a shard truncated away with exact targeted
  counts, so every RETURNED count is exact (``top >= _BIG`` keeps the
  single-round untruncated merge). Stats and json-facet partials
  still merge complete mergeable partials. Point operations (explain,
  fetch) route by the same ``bucket % n_shards`` rule.

Parity contract (pytest ``test_shard.py``): every query type returns
results identical to a ``LocalSearcher`` over the unsharded root.
"""

from __future__ import annotations

import glob
import heapq
import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import _write_postings, _writer
from golr_loader_spark.plans.serve import LocalSearcher

_BIG = 1 << 60  # "untruncated" top for per-shard facet requests


def _shard_worker_loop(root: str, cfg, conn) -> None:
    """One shard's worker process: a persistent LocalSearcher behind a
    pickle pipe. Requests are ("attr"|method_name, args, kwargs);
    responses (ok, result | formatted traceback). The searcher is
    built lazily on first request so fork stays instant; page-cache
    warmth is shared with the coordinator through the OS (same files,
    same mmaps)."""
    searcher = None
    while True:
        try:
            req = conn.recv()
        except (EOFError, KeyboardInterrupt):
            break
        if req is None:
            break
        name, args, kwargs = req
        try:
            if searcher is None:
                searcher = LocalSearcher(root, cfg)
            if name == "__attr__":
                res = getattr(searcher, args[0])
            else:
                res = getattr(searcher, name)(*args, **kwargs)
            if res is searcher:  # fluent methods (refresh) return self
                res = None
            conn.send((True, res))
        except BaseException as exc:  # noqa: BLE001 — ship it to the caller
            import traceback

            conn.send(
                (False, f"{type(exc).__name__}: {exc}\n{traceback.format_exc()}")
            )
    conn.close()


class _ShardProxy:
    """Coordinator-side stub for one shard worker process. Method
    calls are blocking RPCs over a pipe; the GIL is RELEASED while the
    coordinator thread waits on the pipe read, which is what makes a
    thread-per-shard scatter actually parallel (the measured in-process
    thread transport loses because the per-shard WORK holds the GIL;
    here the work runs in the worker process). The attribute names in
    ``_ATTRS`` are fetched by value; everything else resolves to an
    RPC callable."""

    _ATTRS = frozenset({"cfg", "n_docs", "avgdl"})

    def __init__(self, root: str, cfg) -> None:
        import multiprocessing as mp
        import threading

        ctx = mp.get_context("fork")
        parent, child = ctx.Pipe()
        self._conn = parent
        self._lock = threading.Lock()
        self._proc = ctx.Process(
            target=_shard_worker_loop, args=(root, cfg, child), daemon=True
        )
        self._proc.start()
        child.close()

    def _rpc(self, name: str, args: tuple, kwargs: dict):
        with self._lock:
            self._conn.send((name, args, kwargs))
            ok, res = self._conn.recv()
        if not ok:
            raise RuntimeError(f"shard worker call {name!r} failed:\n{res}")
        return res

    def __getattr__(self, name: str):
        if name.startswith("_") and name != "__attr__":
            # private LocalSearcher helpers are still legitimate RPCs
            # (_fq_ids_local, _join_from_values, …) but dunder lookups
            # from pickle/copy machinery must fail fast
            if name.startswith("__"):
                raise AttributeError(name)
        if name in self._ATTRS:
            return self._rpc("__attr__", (name,), {})
        def call(*args, **kwargs):
            return self._rpc(name, args, kwargs)
        return call

    def close(self) -> None:
        try:
            with self._lock:
                self._conn.send(None)
                self._conn.close()
        except (BrokenPipeError, OSError):
            pass
        self._proc.join(timeout=5)
        if self._proc.is_alive():
            self._proc.terminate()


def shard_of_doc(doc_id: int, cfg: IndexConfig, n_shards: int) -> int:
    """doc_id → owning shard: the arithmetic-shift bucket (same as
    build_index.bucket_of) mod n_shards. Python's ``>>`` and ``%``
    match Spark's shiftright/pmod on negative ids."""
    shift = max(0, cfg.id_space_bits - cfg.bucket_bits)
    return (int(doc_id) >> shift) % n_shards


def shard_index(
    spark: SparkSession,
    root: str,
    out_root: str,
    n_shards: int,
    cfg: IndexConfig | None = None,
    term_partitions: int = 4,
) -> list[str]:
    """Split a persisted index root into ``n_shards`` independent
    shard directories (each a complete ``write_index`` layout) and
    return their paths.

    Table handling:
    * ``postings`` — filtered by ``bucket % n_shards``, rewritten by
      ``write_index``'s block-table writer (``_write_postings``) so
      per-shard row-group pruning and the ``_RowGroupIndex`` fast path
      keep working;
    * ``stored`` / ``facets`` / ``docs`` — filtered by the owning
      shard of ``doc_id``, keeping their doc_id sort;
    * ``stats`` / ``term_stats`` / ``tombstones`` — copied whole
      (global statistics; see module docstring), as is ``config.json``.
    """
    cfg = cfg or IndexConfig()
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    roots = [f"{out_root}/shard{s}" for s in range(n_shards)]
    postings = spark.read.parquet(f"{root}/postings")
    shard_col = F.pmod(F.col("bucket"), F.lit(n_shards))
    shift = max(0, cfg.id_space_bits - cfg.bucket_bits)

    for s, sroot in enumerate(roots):
        _write_postings(
            postings.filter(shard_col == s),
            f"{sroot}/postings",
            max(1, term_partitions),
        )
        for tbl in ("stats", "term_stats"):
            shutil.copytree(
                f"{root}/{tbl}", f"{sroot}/{tbl}", dirs_exist_ok=True
            )
        if os.path.exists(f"{root}/config.json"):
            # the analyzer chain and the block-format marker
            shutil.copy2(f"{root}/config.json", f"{sroot}/config.json")
        if os.path.isdir(f"{root}/tombstones"):
            shutil.copytree(
                f"{root}/tombstones", f"{sroot}/tombstones", dirs_exist_ok=True
            )
        if os.path.isdir(f"{root}/vectors"):
            vdf = spark.read.parquet(f"{root}/vectors")
            _writer(
                vdf.filter(
                    F.pmod(
                        F.shiftright(F.col("vec_id"), shift), F.lit(n_shards)
                    )
                    == s
                )
                .repartitionByRange(max(1, term_partitions // 2), "vec_id")
                .sortWithinPartitions("vec_id")
            ).parquet(f"{sroot}/vectors")
        for tbl in ("stored", "facets", "docs"):
            if not os.path.isdir(f"{root}/{tbl}"):
                continue
            # mergeSchema: upserted roots mix base files (no _seg)
            # and appended segment files — keep the _seg column so the
            # per-shard searchers resolve latest-segment rows exactly
            # like the unsharded one
            df = spark.read.option("mergeSchema", "true").parquet(
                f"{root}/{tbl}"
            )
            owned = df.filter(
                F.pmod(F.shiftright(F.col("doc_id"), shift), F.lit(n_shards))
                == s
            )
            _writer(
                owned.repartitionByRange(
                    max(1, term_partitions // 2), "doc_id"
                ).sortWithinPartitions("doc_id")
            ).parquet(f"{sroot}/{tbl}")
    return roots


def _merge_ranked(
    parts: list[list[tuple[int, float]]], k: int
) -> list[tuple[int, float]]:
    """k-way merge of per-shard (doc_id, score) lists, each already in
    (score desc, doc_id asc) order — the global order under the same
    key because scores are globally weighted."""
    merged = heapq.merge(*parts, key=lambda x: (-x[1], x[0]))
    out = []
    for item in merged:
        out.append((int(item[0]), float(item[1])))
        if len(out) == k:
            break
    return out


class ShardedSearcher:
    """Scatter-gather coordinator over per-shard ``LocalSearcher``s —
    the SolrCloud-coordinator analog. Same API surface and IDENTICAL
    results as one ``LocalSearcher`` over the unsharded root (see the
    module docstring for why the merges are exact)."""

    def __init__(
        self,
        roots: list[str],
        cfg: IndexConfig | None = None,
        parallel: bool = False,
    ):
        if not roots:
            raise ValueError("need at least one shard root")
        if parallel not in (False, True):
            raise ValueError(f"parallel must be a bool, got {parallel!r}")
        # Transport choice — SolrCloud scatters to shards concurrently,
        # but there each shard is a separate PROCESS on (usually) a
        # separate node, so the coordinator's threads merely wait on
        # sockets.
        #
        # * parallel=False (default): sequential scatter over in-process
        #   LocalSearchers. In-process thread-per-shard CONTENDS on the
        #   GIL instead of overlapping (measured, 60k docs, 20-query
        #   p95, min-of-4 interleaved: 2 shards 276 ms sequential vs
        #   367 ms threaded; 4 shards 279 ms vs 754 ms), so there is no
        #   thread transport.
        # * parallel=True: one worker PROCESS per shard (fork;
        #   persistent LocalSearcher each) + a thread-per-shard scatter
        #   whose threads only wait on pipe reads — the GIL is released
        #   during the wait, so per-shard work genuinely overlaps. This
        #   is the SolrCloud topology.
        self._pool = None
        self._proxies: list[_ShardProxy] | None = None
        if parallel and len(roots) > 1:
            from concurrent.futures import ThreadPoolExecutor

            self._proxies = [_ShardProxy(r, cfg) for r in roots]
            self.shards = list(self._proxies)
            self._pool = ThreadPoolExecutor(max_workers=len(roots))
            # stats are global (copied whole to every shard): fetch
            # by value from worker 0
            self.cfg = self.shards[0].cfg
            self.n_docs = self.shards[0].n_docs
            self.avgdl = self.shards[0].avgdl
            return
        self.shards = [LocalSearcher(r, cfg) for r in roots]
        self.cfg = self.shards[0].cfg
        self.n_docs = self.shards[0].n_docs
        self.avgdl = self.shards[0].avgdl

    def _fanout(self, fns: list) -> list:
        """Run per-shard thunks concurrently, results in shard order
        (order preserved — merges rely on deterministic part order)."""
        if self._pool is None:
            return [fn() for fn in fns]
        return list(self._pool.map(lambda fn: fn(), fns))

    def close(self) -> None:
        """Shut down the scatter pool and any shard worker processes.
        Idempotent; the sequential default has nothing to release."""
        if self._pool is not None:
            self._pool.shutdown(wait=False)
            self._pool = None
        if self._proxies:
            for p in self._proxies:
                p.close()
            self._proxies = None

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    @classmethod
    def open(cls, out_root: str, cfg: IndexConfig | None = None):
        roots = sorted(
            glob.glob(f"{out_root}/shard*"),
            key=lambda p: int(p.rsplit("shard", 1)[1]),
        )
        return cls(roots, cfg)

    # ------------------------------------------------ ranked queries

    def _scatter_topk(self, _fn_name: str, _merge_k: int, *args, **kwargs):
        parts = self._fanout(
            [
                (lambda s=s: getattr(s, _fn_name)(*args, **kwargs))
                for s in self.shards
            ]
        )
        return _merge_ranked(parts, _merge_k)

    def search(self, query: str, k: int = 10, mode: str = "or"):
        return self._scatter_topk("search", k, query, k, mode=mode)

    def search_many(self, queries: dict, k: int = 10, mode: str = "or"):
        return {q: self.search(s, k, mode=mode) for q, s in queries.items()}

    def search_boolean(self, must=None, should=None, must_not=None, k: int = 10):
        return self._scatter_topk(
            "search_boolean", k, must=must, should=should, must_not=must_not, k=k
        )

    def search_prefix(self, prefix: str, k: int = 10, max_expansions: int = 1024):
        return self._scatter_topk(
            "search_prefix", k, prefix, k, max_expansions=max_expansions
        )

    def search_wildcard(
        self, pattern: str, k: int = 10, max_expansions: int = 1024
    ):
        return self._scatter_topk(
            "search_wildcard", k, pattern, k, max_expansions=max_expansions
        )

    def search_fuzzy(
        self, query_term: str, max_edits: int = 1, prefix_length: int = 0,
        k: int = 10, max_expansions: int = 64,
    ):
        return self._scatter_topk(
            "search_fuzzy", k, query_term, max_edits=max_edits,
            prefix_length=prefix_length, k=k, max_expansions=max_expansions,
        )

    def search_phrase(
        self, phrase: str, k: int = 10, slop: int = 0,
        field: str | None = None, scoring: str = "phrase",
    ):
        return self._scatter_topk(
            "search_phrase", k, phrase, k=k, slop=slop, field=field,
            scoring=scoring,
        )

    def search_span_near(
        self, terms: list[str], window: int, k: int = 10,
        field: str | None = None,
    ):
        return self._scatter_topk(
            "search_span_near", k, terms, window, k=k, field=field
        )

    def search_dismax(
        self, query: str, qf, k: int = 10, tie: float = 0.0, mm=0,
        pf=None, pf2=None, pf3=None, ps: int = 0, ps2=None, ps3=None,
    ):
        return self._scatter_topk(
            "search_dismax", k, query, qf, k=k, tie=tie, mm=mm,
            pf=pf, pf2=pf2, pf3=pf3, ps=ps, ps2=ps2, ps3=ps3,
        )

    def search_edismax(
        self, query: str, qf, k: int = 10, tie: float = 0.0, mm=0,
        pf=None, pf2=None, pf3=None, ps: int = 0, ps2=None, ps3=None,
    ):
        return self._scatter_topk(
            "search_edismax", k, query, qf, k=k, tie=tie, mm=mm,
            pf=pf, pf2=pf2, pf3=pf3, ps=ps, ps2=ps2, ps3=ps3,
        )

    def search_boosted(
        self, query: str, boosts: dict, k: int = 10,
        boost_mode: str = "sum", missing: float | None = None,
    ):
        return self._scatter_topk(
            "search_boosted", k, query, boosts, k=k, boost_mode=boost_mode,
            missing=missing,
        )

    def more_like_this(
        self,
        doc_id: int | None = None,
        text: str | None = None,
        field: str | None = None,
        k: int = 10,
        **selection,
    ):
        """Sharded MoreLikeThis: the seed text is fetched from its
        OWNER shard, interesting-term selection runs once against the
        global term stats (every shard carries the whole-corpus
        copy — see ``shard_index``), and the resulting weighted query
        scatter-gathers like any other ranked query."""
        from golr_loader_spark.plans.mlt import (
            mlt_query_string,
            seed_term_freqs,
            select_interesting_terms,
        )

        s0 = self.shards[0]
        cfg = s0.cfg
        field = field or next(iter(cfg.fields))
        if field not in cfg.fields:
            raise ValueError(f"field {field!r} not in config ({list(cfg.fields)})")
        if text is None:
            if doc_id is None:
                raise ValueError("pass doc_id or text")
            stored = self.fetch([int(doc_id)], [field])
            if int(doc_id) not in stored:
                raise ValueError(f"doc_id {doc_id} not found in stored")
            text = stored[int(doc_id)].get(field) or ""
        tf_map = seed_term_freqs(text, cfg.fields[field][0], cfg.min_term_len, cfg.chain)
        df_map: dict[str, int] = {}
        for r in s0._term_rows(sorted(tf_map)):
            if r["field"] == field:
                df_map[r["term"]] = df_map.get(r["term"], 0) + int(r["df"])
        selected = select_interesting_terms(
            tf_map, df_map, s0.n_docs, **selection
        )
        qs = mlt_query_string(selected, field)
        if qs is None:
            return []
        fetch = k if doc_id is None else k + 1
        hits = self.query(qs, k=fetch)
        if doc_id is not None:
            hits = [(d, s) for d, s in hits if d != int(doc_id)][:k]
        return hits

    def query(
        self, querystring: str, k: int = 10, max_expansions: int = 1024,
        fq: str | None = None,
    ):
        return self._scatter_topk(
            "query", k, querystring, k=k, max_expansions=max_expansions, fq=fq
        )

    # --------------------------------------------- match-set reads

    def matching_ids(self, query: str, mode: str = "or"):
        import numpy as np

        parts = self._fanout(
            [(lambda s=s: s.matching_ids(query, mode=mode)) for s in self.shards]
        )
        parts = [p for p in parts if len(p)]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.sort(np.concatenate(parts))

    # ------------------------------------------------ facets / stats

    def facet_counts(
        self, query: str, mode: str = "or", top: int = 10, min_count: int = 1
    ):
        """Two-phase distributed faceting (Solr FacetComponent's
        overrequest + refinement design, restated):

        * phase 1 — every shard returns its top ``top*1.5 + 10``
          values (Solr's default overrequest formula), NOT the full
          distinct-value set, so coordinator traffic is O(top) per
          shard instead of O(distinct values);
        * phase 2 — candidate values some shard truncated away are
          re-requested from exactly the shards that didn't report
          them (``values=`` targeted counts), so every RETURNED count
          is exact.

        Same caveat as Solr: a value below the overrequest rank on
        EVERY shard can miss the candidate set; ``top >= _BIG``
        requests the old single-round untruncated-exact merge."""
        sums, missing = self._facet_phase1(
            lambda s, t: s.facet_counts(query, mode=mode, top=t, min_count=1),
            top,
        )
        if missing:
            refined = self._fanout(
                [
                    (lambda s=s, m=m: s.facet_counts(query, mode=mode, values=m))
                    for s, m in missing
                ]
            )
            for part in refined:
                for facet, vals in part.items():
                    agg = sums.setdefault(facet, {})
                    for v, n in vals:
                        agg[v] = agg.get(v, 0) + n
        return self._facet_finalize(sums, top, min_count)

    def _facet_phase1(self, call, top):
        """Scatter phase-1 facet requests at the overrequest depth,
        merge sums, and compute each shard's refinement need.
        ``call(shard, req_top)`` → {facet: [(value, n), …]}. Returns
        (sums, [(shard, {facet: [values to refine]}), …])."""
        req = _BIG if top >= _BIG else int(top * 1.5) + 10
        shard_parts = self._fanout(
            [(lambda s=s: call(s, req)) for s in self.shards]
        )
        sums: dict[str, dict[str, int]] = {}
        for part in shard_parts:
            for facet, vals in part.items():
                agg = sums.setdefault(facet, {})
                for v, n in vals:
                    agg[v] = agg.get(v, 0) + n
        missing: list = []
        if req < _BIG:
            for s, part in zip(self.shards, shard_parts):
                need: dict[str, list[str]] = {}
                for facet, agg in sums.items():
                    seen = {v for v, _n in part.get(facet, [])}
                    gaps = [v for v in agg if v not in seen]
                    if gaps:
                        need[facet] = gaps
                if need:
                    missing.append((s, need))
        return sums, missing

    @staticmethod
    def _facet_finalize(sums, top, min_count):
        out: dict[str, list[tuple[str, int]]] = {}
        for facet, agg in sums.items():
            vals = sorted(
                ((n, v) for v, n in agg.items() if n >= min_count),
                key=lambda x: (-x[0], x[1]),
            )[:top]
            out[facet] = [(v, n) for n, v in vals]
        return out

    def range_facet_counts(
        self, query: str, field: str, width: float, mode: str = "or",
        min_count: int = 1,
    ):
        bins: dict[float, int] = {}
        shard_parts = self._fanout(
            [
                (lambda s=s: s.range_facet_counts(
                    query, field, width, mode=mode, min_count=1))
                for s in self.shards
            ]
        )
        for part in shard_parts:
            for lo, n in part:
                bins[lo] = bins.get(lo, 0) + n
        return sorted((lo, n) for lo, n in bins.items() if n >= min_count)

    def pivot_facet_counts(
        self, query: str, outer: str, inner: str, mode: str = "or",
        top_outer: int = 10, top_inner: int = 5, min_count: int = 1,
    ):
        """Two-phase sharded pivot (Solr PivotFacet refinement,
        simplified): phase 1 overrequests ``int(top_outer*1.5)+10``
        outer heads per shard (inner lists equally capped) ONLY to
        pick the candidate outer set; phase 2 re-requests, from every
        shard, the COMPLETE inner counts for exactly those outer
        values (``outer_values=`` targeted mode) and REPLACES the
        phase-1 data — so every returned (outer, inner) count is
        exact. Same candidate-set caveat as ``facet_counts``; inner
        traffic is bounded by O(candidate outers × that outer's inner
        cardinality) instead of the whole pivot table. ``top_outer >=
        _BIG`` keeps the single-round untruncated merge."""
        if top_outer >= _BIG:
            req_o = req_i = _BIG
        else:
            req_o = int(top_outer * 1.5) + 10
            req_i = int(top_inner * 1.5) + 10
        shard_parts = self._fanout(
            [
                (lambda s=s: s.pivot_facet_counts(
                    query, outer, inner, mode=mode,
                    top_outer=req_o, top_inner=req_i, min_count=1))
                for s in self.shards
            ]
        )
        if req_o < _BIG:
            cand_mass: dict[str, int] = {}
            for part in shard_parts:
                for ov, _on, _orank, _iv, inn, _irank in part:
                    cand_mass[ov] = cand_mass.get(ov, 0) + inn
            cands = [
                v for _n, v in sorted(
                    ((n, v) for v, n in cand_mass.items()),
                    key=lambda x: (-x[0], x[1]),
                )[:req_o]
            ]
            if not cands:
                return []
            shard_parts = self._fanout(
                [
                    (lambda s=s: s.pivot_facet_counts(
                        query, outer, inner, mode=mode, min_count=1,
                        outer_values=cands))
                    for s in self.shards
                ]
            )
        pairs: dict[tuple[str, str], int] = {}
        for part in shard_parts:
            for ov, _on, _orank, iv, inn, _irank in part:
                pairs[(ov, iv)] = pairs.get((ov, iv), 0) + inn
        pairs = {k: n for k, n in pairs.items() if n >= min_count}
        if not pairs:
            return []
        outer_n: dict[str, int] = {}
        for (ov, _iv), n in pairs.items():
            outer_n[ov] = outer_n.get(ov, 0) + n
        heads = sorted(
            ((n, v) for v, n in outer_n.items()), key=lambda x: (-x[0], x[1])
        )[:top_outer]
        out = []
        for orank, (on, ov) in enumerate(heads, 1):
            inner_sorted = sorted(
                ((n, iv) for (o, iv), n in pairs.items() if o == ov),
                key=lambda x: (-x[0], x[1]),
            )[:top_inner]
            for irank, (inn, iv) in enumerate(inner_sorted, 1):
                out.append((str(ov), on, orank, str(iv), inn, irank))
        return out

    def stats_field(
        self,
        query: str,
        field: str,
        mode: str = "or",
        fq: str | None = None,
        percentiles: list[float] | None = None,
    ) -> dict:
        """Exact merged StatsComponent: gather the raw field values
        from every shard's match set (each shard only holds its own
        docs) and run the identical reduction — per-shard pre-rounded
        moments would not merge exactly. ``percentiles``: exact over
        the merged values (Solr merges t-digests; the exact analog is
        the value multiset)."""
        import statistics

        from golr_loader_spark.plans.jsonfacet import exact_percentile

        pkeys = [f"p{p:g}" for p in (percentiles or [])]

        def _one(s):
            ids = {int(d) for d in s.matching_ids(query, mode)}
            if fq is not None:
                ids &= s._fq_ids_local(fq)
            if not ids:
                return []
            stored = s.fetch(sorted(ids), [field])
            return [
                v[field] for v in stored.values() if v.get(field) is not None
            ]

        xs: list = []
        for part in self._fanout([(lambda s=s: _one(s)) for s in self.shards]):
            xs.extend(part)
        if not xs:
            return {
                "n": 0, "min": None, "max": None,
                "sum": None, "mean": None, "stddev": None,
                **{k: None for k in pkeys},
            }
        return {
            "n": len(xs),
            "min": min(xs),
            "max": max(xs),
            "sum": round(float(sum(xs)), 4),
            "mean": round(float(sum(xs)) / len(xs), 4),
            "stddev": round(statistics.stdev(xs), 4) if len(xs) > 1 else None,
            **{
                k: round(float(exact_percentile(xs, p)), 4)
                for k, p in zip(pkeys, percentiles or [])
            },
        }

    def vector_topk(
        self, qvec, k: int = 10, exclude_id: int | None = None
    ) -> list[tuple[int, int, float]]:
        """Scatter-gather cosine top-k: each shard answers over its
        own vectors partition; cosine is an absolute (query, doc)
        score, so concatenating per-shard top-k lists and re-ranking
        by (cos desc, id asc) is EXACT — same merge argument as the
        BM25 scatter."""
        parts = self._fanout(
            [
                (lambda s=s: s.vector_topk(qvec, k, exclude_id=exclude_id))
                for s in self.shards
            ]
        )
        flat = [t for p in parts for t in p]
        flat.sort(key=lambda t: (-t[2], t[0]))
        return [
            (int(i), r + 1, float(c))
            for r, (i, _rk, c) in enumerate(flat[:k])
        ]

    def hybrid_rrf(
        self,
        q: str,
        qvec,
        k_arms: int = 50,
        top: int = 10,
        k_rrf: int = 60,
        exclude_id: int | None = None,
    ) -> list[tuple]:
        """Hybrid lexical+vector RRF over the shard set: both arms are
        exact global top-k merges, so the fusion is identical to the
        unsharded LocalSearcher.hybrid_rrf."""
        from golr_loader_spark.plans.vectors import rrf_fuse_lists

        lex = [d for d, _s in self.search(q, k=k_arms)]
        vec = [
            i for i, _r, _c in self.vector_topk(
                qvec, k=k_arms, exclude_id=exclude_id
            )
        ]
        return rrf_fuse_lists([lex, vec], k=k_rrf, top=top)

    def suggest(self, text: str, k: int = 5, **kwargs):
        # the term dictionary is global metadata copied to every shard
        return self.shards[0].suggest(text, k=k, **kwargs)

    def terms(self, *args, **kwargs):
        # same: terms enumeration reads only the global dictionary
        return self.shards[0].terms(*args, **kwargs)

    def refresh(self) -> "ShardedSearcher":
        """Reopen every shard against its current on-disk state (the
        SolrCloud searcher-reopen fanout)."""
        self._fanout([(lambda s=s: s.refresh()) for s in self.shards])
        self.n_docs = self.shards[0].n_docs
        self.avgdl = self.shards[0].avgdl
        return self

    def join_query(
        self, query: str, from_field: str, to_field: str,
        mode: str = "or", fq: str | None = None,
    ) -> list[int]:
        """Distributed {!join}: TWO scatter rounds, exactly SolrCloud's
        join topology — round 1 gathers each shard's from-values for
        the subquery match set (facet rows are doc-routed, so every
        shard only knows its own docs' values), the coordinator unions
        them; round 2 scatters the merged value set and unions the
        per-shard to-field membership. Identical to the unsharded
        ``LocalSearcher.join_query`` by construction."""
        vals: set = set()
        for part in self._fanout(
            [
                (lambda s=s: s._join_from_values(
                    query, from_field, mode=mode, fq=fq))
                for s in self.shards
            ]
        ):
            vals |= part
        docs: set = set()
        for part in self._fanout(
            [(lambda s=s: s._join_to_docs(vals, to_field)) for s in self.shards]
        ):
            docs |= part
        return sorted(docs)

    # -------------------------------------------------- sort / paging

    def facet_counts_multiselect(
        self,
        query: str,
        fqs: dict[str, str],
        facet_fields: dict[str, list[str]],
        mode: str = "or",
        top: int = 10,
        min_count: int = 1,
    ) -> dict[str, list[tuple[str, int]]]:
        """Sharded multi-select faceting with the same two-phase
        overrequest + refinement as ``facet_counts`` (disjoint doc
        spaces merge by summation; refined candidates get exact
        targeted counts, so every returned count is exact)."""
        sums, missing = self._facet_phase1(
            lambda s, t: s.facet_counts_multiselect(
                query, fqs, facet_fields, mode=mode, top=t, min_count=1
            ),
            top,
        )
        if missing:
            refined = self._fanout(
                [
                    (lambda s=s, m=m: s.facet_counts_multiselect(
                        query, fqs, facet_fields, mode=mode, values=m
                    ))
                    for s, m in missing
                ]
            )
            for part in refined:
                for field, vals in part.items():
                    agg = sums.setdefault(field, {})
                    for v, n in vals:
                        agg[v] = agg.get(v, 0) + n
        out = self._facet_finalize(sums, top, min_count)
        for field in facet_fields:
            out.setdefault(field, [])
        return out

    def collate(
        self,
        query: str,
        max_collations: int = 3,
        max_tries: int = 10,
        k_suggestions: int = 3,
        max_edits: int = 2,
        prefix_length: int = 1,
    ) -> list[tuple[str, int]]:
        """Sharded spellcheck.collate: the term dictionary is GLOBAL
        metadata copied to every shard, so corrections come from shard
        0; verification hit counts sum per-shard conjunctive matches
        (disjoint doc spaces)."""
        from golr_loader_spark.plans.bm25 import (
            _collation_candidates,
            _collation_combos,
        )
        from golr_loader_spark.functions.tokenize import analyze_query
        from golr_loader_spark.plans.bm25 import query_analyzer

        s0 = self.shards[0]
        words = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        if not words:
            return []
        present = {
            w
            for w in words
            if any(r["field"] in self.cfg.fields for r in s0._term_rows([w]))
        }
        cands = _collation_candidates(
            words,
            present,
            lambda w: [
                t
                for t, _df in s0.suggest(
                    w, k=k_suggestions, max_edits=max_edits,
                    prefix_length=prefix_length,
                )
            ],
            k_suggestions,
        )
        if cands is None:
            return []
        out: list[tuple[str, int]] = []
        for phrase, _rank in _collation_combos(cands, max_tries):
            counts = self._fanout(
                [
                    (lambda s=s, p=phrase: len(s.matching_ids(p, mode="and")))
                    for s in self.shards
                ]
            )
            hits = sum(counts)
            if hits:
                out.append((phrase, int(hits)))
            if len(out) == max_collations:
                break
        return out

    def search_elevated(
        self,
        query: str,
        elevate: list[int] | None = None,
        exclude: list[int] | None = None,
        k: int = 10,
        max_expansions: int = 1024,
    ):
        """Sharded QueryElevation: pinned ids may live on any shard —
        merge the complete per-shard match sets (disjoint doc spaces),
        then the shared page-assembly kernel."""
        from golr_loader_spark.plans.lucene import (
            elevate_lists,
            parse_lucene,
        )

        clauses = parse_lucene(query)
        parts = self._fanout(
            [
                (lambda s=s: s._lucene_scores(
                    clauses, max_expansions, None
                ))
                for s in self.shards
            ]
        )
        base: dict[int, float] = {}
        for p_ in parts:
            if p_:
                base.update(p_)
        return elevate_lists(base, elevate, exclude, k)

    def json_facet(
        self, query: str, spec: dict, mode: str = "or", fq: str | None = None
    ) -> dict:
        """Sharded Solr JSON Facet API: exact merge of untruncated
        per-shard partials (``jsonfacet.json_facet_sharded``)."""
        from golr_loader_spark.plans.jsonfacet import json_facet_sharded

        return json_facet_sharded(
            self.shards, query, spec, mode=mode, fq=fq, fanout=self._fanout
        )

    def block_join_parent(
        self, child_query: str, which: str, block_field: str,
        score_mode: str = "none", k: int = 10, max_expansions: int = 1024,
    ):
        """Sharded {!parent}: exact cross-shard per-block partial
        merge — blocks need NOT be co-located (unlike Lucene)."""
        from golr_loader_spark.plans.blockjoin import (
            block_join_parent_sharded,
        )

        return block_join_parent_sharded(
            self.shards, child_query, which, block_field, score_mode, k,
            max_expansions,
        )

    def block_join_child(
        self, parent_query: str, of: str, block_field: str,
        max_expansions: int = 1024,
    ):
        """Sharded {!child}: matched block keys gathered from every
        shard, members collected everywhere."""
        from golr_loader_spark.plans.blockjoin import (
            block_join_child_sharded,
        )

        return block_join_child_sharded(
            self.shards, parent_query, of, block_field, max_expansions
        )

    def rerank(
        self,
        querystring: str,
        rerank_query: str,
        k: int = 10,
        rerank_docs: int = 200,
        rerank_weight: float = 2.0,
        max_expansions: int = 1024,
    ):
        """Sharded Solr ReRank: the first-pass top-N block is GLOBAL,
        so per-shard truncated reranks cannot merge — instead each
        shard returns its complete match sets for both passes (doc
        spaces disjoint, scores globally comparable) and the shared
        ReRankCollector kernel runs coordinator-side. Exactly how
        SolrCloud executes rq= (the coordinator reranks the merged
        first-pass page)."""
        from golr_loader_spark.plans.lucene import parse_lucene
        from golr_loader_spark.plans.rerank import rerank_lists

        c1 = parse_lucene(querystring)
        c2 = parse_lucene(rerank_query)
        if not c1:
            return []
        parts = self._fanout(
            [
                (lambda s=s: (
                    s._lucene_scores(c1, max_expansions, None),
                    s._lucene_scores(c2, max_expansions, None),
                ))
                for s in self.shards
            ]
        )
        first: dict[int, float] = {}
        second: dict[int, float] = {}
        for f, sec in parts:
            if f:
                first.update(f)
            if sec:
                second.update(sec)
        if not first:
            return []
        out = rerank_lists(first, second, k, rerank_docs, rerank_weight)
        return [(int(d), float(s)) for d, s in out]

    def search_sorted(
        self, query: str, sort_field: str, ascending: bool = True,
        start: int = 0, rows: int = 10, mode: str = "or",
        fq: str | None = None, max_expansions: int = 1024,
    ):
        """Merged Solr sort= + start/rows: each shard serves its first
        ``start + rows`` rows (a superset of its contribution to the
        global page), merged on (value with NULLS LAST, doc_id asc)
        and re-sliced."""
        need = start + rows
        present: list[tuple[object, int]] = []
        missing: list[int] = []
        shard_parts = self._fanout(
            [
                (lambda s=s: s.search_sorted(
                    query, sort_field, ascending=ascending, start=0, rows=need,
                    mode=mode, fq=fq, max_expansions=max_expansions))
                for s in self.shards
            ]
        )
        for part in shard_parts:
            for _pos, d, v in part:
                if v is None:
                    missing.append(d)
                else:
                    present.append((v, d))
        present.sort(key=lambda x: x[1])
        present.sort(key=lambda x: x[0], reverse=not ascending)
        ordered = [(d, v) for v, d in present] + [
            (d, None) for d in sorted(missing)
        ]
        page = ordered[start : start + rows]
        return [(start + i + 1, int(d), v) for i, (d, v) in enumerate(page)]

    def search_after(
        self, query: str, sort_field: str, after_value=None,
        after_doc_id: int | None = None, ascending: bool = True,
        rows: int = 10, mode: str = "or", fq: str | None = None,
    ):
        pairs: list[tuple[object, int]] = []
        shard_parts = self._fanout(
            [
                (lambda s=s: s.search_after(
                    query, sort_field, after_value=after_value,
                    after_doc_id=after_doc_id, ascending=ascending, rows=rows,
                    mode=mode, fq=fq))
                for s in self.shards
            ]
        )
        for part in shard_parts:
            for d, v in part:
                pairs.append((v, d))
        pairs.sort(key=lambda x: x[1])
        pairs.sort(key=lambda x: x[0], reverse=not ascending)
        return [(int(d), v) for v, d in pairs[:rows]]

    def grouped_topk(
        self, facet: str, query: str, docs_per_group: int = 2,
        k_groups: int = 10, mode: str = "or",
        round_scores: int | None = None,
    ):
        per_value: dict[str, list[tuple[float, int]]] = {}
        shard_parts = self._fanout(
            [
                (lambda s=s: s.grouped_topk(
                    facet, query, docs_per_group=docs_per_group,
                    k_groups=k_groups, mode=mode, round_scores=round_scores))
                for s in self.shards
            ]
        )
        for part in shard_parts:
            for _grank, v, _r, d, sc in part:
                per_value.setdefault(v, []).append((sc, d))
        if not per_value:
            return []
        ranked: dict[str, list[tuple[int, float]]] = {}
        heads: list[tuple[float, str]] = []
        for v, lst in per_value.items():
            lst.sort(key=lambda x: (-x[0], x[1]))
            ranked[v] = [(d, sc) for sc, d in lst[:docs_per_group]]
            heads.append((lst[0][0], v))
        heads.sort(key=lambda x: (-x[0], x[1]))
        out = []
        for grank, (_s, v) in enumerate(heads[:k_groups], 1):
            for r, (d, sc) in enumerate(ranked[v], 1):
                out.append((grank, v, r, d, float(sc)))
        return out

    # --------------------------------------------- point operations

    def _owner(self, doc_id: int) -> LocalSearcher:
        return self.shards[shard_of_doc(doc_id, self.cfg, len(self.shards))]

    def fetch(self, doc_ids: list[int], fields: list[str] | None = None):
        by_shard: dict[int, list[int]] = {}
        for d in doc_ids:
            by_shard.setdefault(
                shard_of_doc(d, self.cfg, len(self.shards)), []
            ).append(d)
        out: dict[int, dict] = {}
        for s, ids in by_shard.items():
            out.update(self.shards[s].fetch(ids, fields))
        return out

    def search_fetch(
        self, query: str, k: int = 10, mode: str = "or",
        fields: list[str] | None = None, highlight_field: str | None = None,
        frag_size: int = 80,
    ):
        from golr_loader_spark.functions.tokenize import analyze_query
        from golr_loader_spark.plans.bm25 import query_analyzer
        from golr_loader_spark.plans.serve import highlight

        hits = self.search(query, k=k, mode=mode)
        if not hits:
            return []
        stored = self.fetch(
            [d for d, _s in hits],
            list(
                {*(fields or []),
                 *([highlight_field] if highlight_field else [])}
            ) or None,
        )
        terms = analyze_query(query, query_analyzer(self.cfg), self.cfg.chain)
        out = []
        for doc_id, score in hits:
            row = {"doc_id": doc_id, "score": score}
            row.update(stored.get(doc_id, {}))
            if (
                highlight_field
                and highlight_field in row
                and row[highlight_field]
            ):
                row["highlight"] = highlight(
                    str(row[highlight_field]), terms, frag_size=frag_size
                )
            out.append(row)
        return out

    def explain(self, query: str, doc_id: int) -> dict:
        return self._owner(doc_id).explain(query, doc_id)

    def explain_query(self, querystring: str, doc_id: int, **kwargs) -> dict:
        return self._owner(doc_id).explain_query(querystring, doc_id, **kwargs)
