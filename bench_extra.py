"""Per-stage isolation benchmarks (guide §1.4): times the expensive
pipeline stages separately with the noop sink so plan changes can be
attributed, without touching the FROZEN driver harness (bench.py).

Phases (each labeled via setJobDescription):
  tokenize_base / tokenize_pos     — mapInArrow tokenizer only, noop
  postings_base / postings_pos     — build_postings_packed (tokenize+pack →
                                     exchange → unpack+sort+encode), noop
  build_base / build_pos           — the full bench.py build_index arm
                                     (persist + term_stats), same shape

Env mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_DOCS. Prints one JSON line per run.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "240000"))
    args = sys.argv[1:]
    reps = 2
    if "-r" in args:
        i = args.index("-r")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    phases = args or [
        "tokenize_base", "tokenize_pos", "postings_base", "postings_pos",
        "build_base", "build_pos",
    ]

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.corpus import synth_corpus
    from golr_loader_spark.functions.tokenize import tokenize
    from golr_loader_spark.plans.build_index import (
        build_index,
        build_postings_packed,
    )
    from golr_loader_spark.plans.documents import (
        assign_dense_ids,
        flatten_documents,
    )
    from golr_loader_spark.session import get_spark

    spark = get_spark(cores=cpus, app_name="bench_extra", shuffle_partitions=cpus)
    sc = spark.sparkContext
    cfg = IndexConfig(bucket_bits=5, id_space_bits=max(2, (n_docs - 1).bit_length()))
    cfgp = IndexConfig(
        bucket_bits=5,
        id_space_bits=max(2, (n_docs - 1).bit_length()),
        positions=True,
    )
    n_parts = cpus * 4

    def fresh_docs():
        d = flatten_documents(
            synth_corpus(spark, n_docs, seed=42, partitions=n_parts)
        ).persist()
        d.count()
        return d

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    def timed(name: str, fn) -> None:
        spark.catalog.clearCache()
        docs = fresh_docs()
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        fn(docs)
        wall = round(time.perf_counter() - t0, 3)
        samples.setdefault(name, []).append(wall)
        timings[name] = min(timings.get(name, wall), wall)
        sc.setJobDescription(None)
        docs.unpersist()

    def run_phase(ph: str) -> None:
        if ph == "tokenize_base":
            timed(ph, lambda d: noop(tokenize(assign_dense_ids(d), cfg)))
        elif ph == "tokenize_pos":
            timed(ph, lambda d: noop(tokenize(assign_dense_ids(d), cfgp)))
        elif ph == "postings_base":
            timed(ph, lambda d: noop(build_postings_packed(assign_dense_ids(d), cfg)))
        elif ph == "postings_pos":
            timed(ph, lambda d: noop(build_postings_packed(assign_dense_ids(d), cfgp)))
        elif ph in ("build_base", "build_pos"):
            c = cfg if ph == "build_base" else cfgp

            def full(d, c=c):
                ix = build_index(assign_dense_ids(d), c, n_docs=n_docs)
                ix.term_stats = ix.term_stats.persist()
                ix.term_stats.count()
                ix.postings.unpersist()
                ix.term_stats.unpersist()

            timed(ph, full)
        else:
            raise SystemExit(f"unknown phase {ph}")

    # interleaved reps (the repo's noise-storm discipline): A/B/A/B so
    # a host-steal burst cannot bias one phase; report min per phase
    for _rep in range(reps):
        for ph in phases:
            run_phase(ph)

    print(
        json.dumps(
            {
                "bench_docs": n_docs,
                "cpus": cpus,
                "phases": timings,
                "samples": samples,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
