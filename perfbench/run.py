"""Benchmark entry point for the fulltext engine.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload
    python3 perfbench/run.py --smoke [--trace 1]          # all, tiny corpora

Run from the root of a checkout: the engine package ``golr_loader_spark``
must sit next to ``perfbench/``. Everything the run writes goes under
``.perfbench_work/`` in that root. Stdout ends with one ``record`` line
per workload (host, sizes, the workload's named figures) and, last, one
JSON object ``{correct, attempted, failed, metrics}`` whose metrics are
the end-to-end set with ``--trace 0`` and the per-layer set with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _host() -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # driver + executors share one JVM in local mode: a fifth of RAM,
    # capped at 3 GB, leaves room for the Python workers beside it
    driver_gb = max(1, min(3, mem // (5 << 30)))
    return {"cores": cores, "mem_gb": round(mem / (1 << 30), 1), "driver_mem": f"{driver_gb}g"}


def _start_spark(host: dict, workdir: str, event_dir: str | None):
    from golr_loader_spark.session import get_spark

    local = os.path.join(workdir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # the environment variable wins over spark.local.dir in local mode;
    # TMPDIR keeps the launcher's and the Python workers' temp files in
    # the checkout too
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    tempfile.tempdir = local
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
    }
    if event_dir is not None:
        from perfbench.tracing import spark_trace_conf

        os.makedirs(event_dir, exist_ok=True)
        conf.update(spark_trace_conf(event_dir))
    return get_spark(
        cores=host["cores"],
        app_name="perfbench",
        shuffle_partitions=host["cores"],
        extra_conf=conf,
        driver_mem=host["driver_mem"],
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _pctl(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def _tail_q(n: int, want: int) -> int | None:
    """``want``, or the highest lower percentile of (95, 90, 75) with at
    least ten of ``n`` samples beyond it; None when none has."""
    for q in (want, 95, 90, 75):
        if q <= want and n * (100 - q) / 100 >= 10:
            return q
    return None


def _named(workload: str, run) -> dict:
    """The workload's named end-to-end figures, with sample counts."""
    from perfbench.metrics import NAMED

    lat, d = run.lat_ms, {}
    units = dict(NAMED[workload])

    def put(name, value, xs=None, key=None, **extra):
        d[key or name] = {"value": value, "unit": units[name], **extra}
        if xs is not None:
            d[key or name]["samples"] = len(xs)

    def p50(name, xs, scale=1.0):
        put(name, _pctl(xs, 50) * scale, xs)

    def tail(name, xs, want):
        q = _tail_q(len(xs), want)
        if q is None:  # too few samples for any tail: report none
            put(name, None, xs, wanted=f"p{want}")
            return
        key = name.replace(f"_p{want}_", f"_p{q}_")
        put(name, _pctl(xs, q), xs, key=key, wanted=f"p{want}")

    p50("serve_bm25_p50_ms", lat["bm25"])
    tail("serve_bm25_p99_ms", lat["bm25"], 99)
    if workload == "serve":
        p50("serve_phrase_p50_ms", lat["phrase"])
        tail("serve_phrase_p95_ms", lat["phrase"], 95)
        p50("serve_sharded_p50_ms", lat["sharded"])
        # each stream item counts once, though both searchers answer it
        put("serve_qps", run.detail["items"] / run.detail["loop_s"], run.cycle_ms)
    else:
        builds = lat["build"]
        put("build_docs_per_s", run.docs / (_pctl(builds, 50) / 1e3), builds)
        put("index_bytes_per_doc", run.detail["index_bytes_per_doc"])
        p50("spark_batch20_p50_s", lat["batch"], 1e-3)
        p50("spark_search_p50_s", lat["search"], 1e-3)
        p50("spark_phrase_p50_s", lat["phrase"], 1e-3)
        ups = lat["upsert"]
        put("upsert_docs_per_s",
            run.detail.get("upserted_docs", 0) / (sum(ups) / 1e3) if ups else 0.0, ups)
        p50("compact_s", lat["compact"], 1e-3)
    return d


def _e2e(run) -> dict:
    from perfbench.tracing import median

    return {
        "setup_s": median(run.setup_s),
        "serve_bm25_p50_ms": _pctl(run.lat_ms["bm25"], 50),
        "cycle_ms": _pctl(run.cycle_ms, 50),
        "index_bytes_per_doc": run.detail.get("index_bytes_per_doc", 0.0),
    }


def _per_layer(run, tracer, folded: dict, e2e: dict) -> dict:
    from perfbench.tracing import median

    def span_med(name, scale=1.0):
        return median(tracer.durations(name)) * scale

    def spark(labels, key, per):
        total = sum(folded.get(lb, {}).get(key, 0) for lb in labels)
        calls = len(tracer.durations(per))
        return total / calls if calls else 0.0

    build_labels = ("build_index.build", "build_index.write_index")
    out = {
        "documents.assign_dense_ids_s": span_med("documents.assign_dense_ids"),
        "build_index.build_s": span_med("build_index.build"),
        "build_index.write_index_s": span_med("build_index.write_index"),
        "tokenize.analyze_query_us": median(run.analyze_us),
        "serve.open_ms": span_med("serve.open", 1e3),
        "serve.search_ms": span_med("serve.search", 1e3),
        "serve.search_phrase_ms": span_med("serve.search_phrase", 1e3),
        "serve.refresh_ms": span_med("serve.refresh", 1e3),
        "shard.shard_index_s": span_med("shard.shard_index"),
        "shard.search_ms": span_med("shard.search", 1e3),
        "bm25.search_batch_s": span_med("bm25.search_batch"),
        "bm25.search_s": span_med("bm25.search"),
        "phrase.phrase_search_positional_s": span_med("phrase.phrase_search_positional"),
        "maintenance.upsert_docs_fast_s": span_med("maintenance.upsert_docs_fast"),
        "maintenance.compact_root_s": span_med("maintenance.compact_root"),
    }
    for key in ("shuffle_write_bytes", "executor_cpu_s", "executor_run_s", "spill_bytes", "tasks"):
        out[f"build_index.{key}"] = spark(build_labels, key, "build_index.build")
    for name in ("search_batch", "search"):
        label = f"bm25.{name}"
        for key in ("shuffle_read_bytes", "tasks", "executor_cpu_s"):
            out[f"{label}.{key}"] = spark((label,), key, label)
    ph = "phrase.phrase_search_positional"
    out["phrase.shuffle_read_bytes"] = spark((ph,), "shuffle_read_bytes", ph)
    out["phrase.tasks"] = spark((ph,), "tasks", ph)
    cp = "maintenance.compact_root"
    out["maintenance.compact_executor_cpu_s"] = spark((cp,), "executor_cpu_s", cp)
    out["maintenance.compact_executor_run_s"] = spark((cp,), "executor_run_s", cp)
    out["maintenance.compact_shuffle_bytes"] = spark(
        (cp,), "shuffle_read_bytes", cp
    ) + spark((cp,), "shuffle_write_bytes", cp)
    for key, v in run.cache.metrics().items():
        out[f"serve.{key}"] = v
    for key in (
        "build_index.blocks", "build_index.id_bytes_per_posting",
        "build_index.pos_bytes_per_posting", "maintenance.upsert_bytes_written_per_doc",
        "maintenance.segments", "maintenance.compact_groups",
    ):
        out[key] = run.layer.get(key, 0)
    for key, v in e2e.items():
        out[f"trace.{key}"] = v
    return out


def run_workload(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    """Run one workload in its own Spark session; returns the record."""
    from perfbench import metrics
    from perfbench.tracing import Tracer, fold_event_log
    from perfbench.workloads import FULL, SMOKE, WORKLOAD_FNS, Ctx

    t_run = time.perf_counter()
    host = _host()
    base = os.path.join(ROOT, ".perfbench_work")
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    workdir = os.path.join(base, "runs", run_id)
    os.makedirs(workdir)
    event_dir = os.path.join(workdir, "eventlog") if trace else None
    spark = _start_spark(host, workdir, event_dir)
    tracer = Tracer(spark, run_id, trace)
    sizes = SMOKE if smoke else FULL

    stopped = False

    def stop_spark():
        nonlocal stopped
        if not stopped:
            stopped = True
            tracer.detach()
            _stop_spark(spark)
            # finalize the session's py4j handles and write back its files
            # now, not during a timed call
            gc.collect()
            os.sync()

    try:
        ctx = Ctx(spark, tracer, seed, seconds, sizes, workdir, host["cores"], stop_spark)
        run = WORKLOAD_FNS[workload](ctx)
    finally:
        stop_spark()
    e2e = _e2e(run)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "smoke": smoke,
        "host": host,
        "corpus_docs": run.docs,
        "setup_reps": len(run.setup_s),
        "prep_s": run.detail.get("prep_s"),
        "e2e": {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()},
        "samples": {**{k: len(v) for k, v in run.lat_ms.items()}, "cycle": len(run.cycle_ms)},
        "calls_s": {k: sum(v) / 1e3 for k, v in run.lat_ms.items()},
        "fingerprint": run.detail.get("fingerprint"),
        "named": _named(workload, run),
        "attempted": run.attempted,
        "failed": run.failed,
        "wall_s": time.perf_counter() - t_run,
    }
    if trace:
        folded = fold_event_log(event_dir, tracer)
        layer = _per_layer(run, tracer, folded, e2e)
        record["per_layer"] = {
            k: {"value": layer[k], "unit": metrics.PER_LAYER_UNITS[k]}
            for k, *_ in metrics.PER_LAYER
        }
        record["spark_by_label"] = folded
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{run_id}.spans.jsonl"))
    shutil.rmtree(workdir, ignore_errors=True)
    return record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("serve", "lifecycle", "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny corpora; all workloads unless --workload")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    if args.workload == "all":
        args.workload = None
    if not os.path.isfile(os.path.join(ROOT, "golr_loader_spark", "__init__.py")):
        print(f"perfbench: no golr_loader_spark package in {ROOT}", file=sys.stderr)
        return 2
    # import this directory's modules as the perfbench package only, so
    # none of them shadows a top-level module of the same name
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench import metrics

    names = [args.workload] if args.workload else list(metrics.WORKLOADS)
    seconds = min(args.seconds, 1.0) if args.smoke else args.seconds
    records = []
    for w in names:
        rec = run_workload(w, args.seed, seconds, bool(args.trace), args.smoke)
        print("record " + json.dumps(rec), flush=True)
        records.append(rec)
    key = "per_layer" if args.trace else "e2e"
    last = records[-1]
    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": last[key],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
