"""spark-submit entrypoint.

Usage (cluster):
  zip -r golr_loader_spark.zip golr_loader_spark
  spark-submit --py-files golr_loader_spark.zip \\
      golr_loader_spark/__main__.py build --corpus <path> --out <index_root>
  spark-submit ... __main__.py query --index <index_root> --q "user_data scan" -k 10
  spark-submit ... __main__.py synth --out <path> --docs 1000000
  python -m golr_loader_spark du <index_root>   (no Spark: parquet footers)

In cluster mode the SparkSession comes from spark-submit's conf
(master/executors set on the command line, N vs 4N by
--num-executors); locally this falls back to local[*].
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(app: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cmd_synth(args) -> None:
    from golr_loader_spark.corpus import synth_corpus

    spark = _spark("golr-synth")
    synth_corpus(spark, args.docs, seed=args.seed, partitions=args.partitions).write.mode(
        "overwrite"
    ).parquet(args.out)
    print(json.dumps({"wrote": args.out, "docs": args.docs}))


def cmd_build(args) -> None:
    import math

    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.documents import assign_dense_ids, flatten_documents
    from golr_loader_spark.plans.manifest import build_index_checkpointed, build_metrics

    spark = _spark("golr-build")
    corpus = spark.read.parquet(args.corpus)
    docs = flatten_documents(corpus)
    id_space_bits = 64
    if not args.hash_ids:  # dense ids are the default (7.5x smaller id streams)
        docs = assign_dense_ids(docs).cache()
        id_space_bits = max(1, math.ceil(math.log2(max(2, docs.count()))))
    cfg = IndexConfig(
        bucket_bits=args.bucket_bits,
        block_size=args.block_size,
        id_space_bits=id_space_bits,
        positions=args.positions,
    )
    t0 = time.perf_counter()
    build_index_checkpointed(docs, args.out, cfg, n_bucket_groups=args.bucket_groups)
    wall = time.perf_counter() - t0
    n = corpus.count()
    print(json.dumps({"index": args.out, "docs": n, "wall_s": round(wall, 1),
                      "docs_per_sec": round(n / wall, 1)}))
    build_metrics(spark, args.out).show(50, truncate=False)


def cmd_query(args) -> None:
    import dataclasses

    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.plans.bm25 import search
    from golr_loader_spark.plans.manifest import load_checkpointed_index
    from golr_loader_spark.plans.serve import _load_config

    spark = _spark("golr-query")
    # the root's own config.json (analyzers, chain, layout); a root
    # without one gets the build command's defaults. Layout flags
    # override it only when given.
    cfg = _load_config(args.index) or IndexConfig(bucket_bits=5)
    given = {"bucket_bits": args.bucket_bits, "block_size": args.block_size}
    cfg = dataclasses.replace(cfg, **{k: v for k, v in given.items() if v is not None})
    ix = load_checkpointed_index(spark, args.index, cfg)
    t0 = time.perf_counter()
    if args.phrase:
        from golr_loader_spark.plans.phrase import phrase_search_positional

        rows = phrase_search_positional(
            ix, args.q, k=args.k, slop=args.slop, cfg=cfg
        ).collect()
    elif args.lucene:
        from golr_loader_spark.plans.lucene import search_lucene

        rows = search_lucene(
            ix, args.q, k=args.k, cfg=cfg, fq=args.fq
        ).collect()
    elif args.dismax:
        from golr_loader_spark.plans.dismax import search_edismax

        rows = search_edismax(
            ix, args.q, args.dismax, k=args.k, tie=args.tie, mm=args.mm,
            cfg=cfg, pf=args.pf, pf2=args.pf2, pf3=args.pf3, ps=args.ps,
        ).collect()
    else:
        rows = search(ix, args.q, k=args.k, cfg=cfg, fq=args.fq).collect()
    wall = time.perf_counter() - t0
    print(json.dumps({
        "query": args.q, "k": args.k, "wall_ms": round(wall * 1000, 1),
        "hits": [{"doc_id": r["doc_id"], "score": round(r["score"], 6)} for r in rows],
    }))


def root_usage(root: str) -> dict:
    """Compressed bytes of an index root, read from parquet footers:
    ``{"docs", "bytes", "tables": [{"table", "files", "row_groups",
    "codecs", "bytes", "columns": {column: bytes}}]}``. ``bytes`` counts
    every file under the root (as perfbench's ``index_bytes_per_doc``
    does) or under the table, footers and checksums included; a
    column's bytes are its column chunks' compressed sizes. ``docs`` is
    the stats table's n_docs."""
    import glob
    import os

    import pyarrow.parquet as pq

    def tree_bytes(path: str) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _s, files in os.walk(path)
            for f in files
        )

    stats = pq.read_table(f"{root}/stats", columns=["n_docs"])["n_docs"].to_pylist()
    tables = []
    for tdir in sorted(glob.glob(f"{root}/*/")):
        files = sorted(glob.glob(f"{tdir}**/*.parquet", recursive=True))
        if not files:
            continue
        row_groups, codecs, columns = 0, set(), {}
        for f in files:
            md = pq.ParquetFile(f).metadata
            row_groups += md.num_row_groups
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    ch = rg.column(c)
                    codecs.add(ch.compression)
                    columns[ch.path_in_schema] = (
                        columns.get(ch.path_in_schema, 0) + ch.total_compressed_size
                    )
        tables.append({
            "table": os.path.basename(os.path.normpath(tdir)),
            "files": len(files),
            "row_groups": row_groups,
            "codecs": sorted(codecs),
            "bytes": tree_bytes(tdir),
            "columns": columns,
        })
    return {"docs": max(stats, default=0), "bytes": tree_bytes(root), "tables": tables}


def cmd_du(args) -> None:
    u = root_usage(args.root)
    per = max(1, u["docs"])
    print(f"{args.root}: {u['docs']} docs, {u['bytes']} bytes, "
          f"{u['bytes'] / per:.1f} B/doc")
    print(f"{'table / column':<24}{'files':>7}{'row groups':>12}  {'codec':<14}{'B/doc':>10}")
    for t in u["tables"]:
        print(f"{t['table']:<24}{t['files']:>7}{t['row_groups']:>12}  "
              f"{','.join(t['codecs']):<14}{t['bytes'] / per:>10.1f}")
        for c, b in sorted(t["columns"].items(), key=lambda kv: -kv[1]):
            print(f"  {c:<22}{'':>7}{'':>12}  {'':<14}{b / per:>10.1f}")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="golr_loader_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth", help="write a deterministic synthetic corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--docs", type=int, default=100_000)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--partitions", type=int, default=None)
    s.set_defaults(fn=cmd_synth)

    b = sub.add_parser("build", help="checkpointed index build (resumable)")
    b.add_argument("--corpus", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--bucket-groups", type=int, default=4)
    b.add_argument("--bucket-bits", type=int, default=5)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument(
        "--hash-ids",
        action="store_true",
        help="keep raw xxhash64 doc_ids instead of the default dense "
        "remap (dense ids give 3-8x smaller posting id streams; "
        "query-side needs no flag either way — buckets are stored)",
    )
    b.add_argument(
        "--positions",
        action="store_true",
        help="index token positions (Lucene DOCS_AND_FREQS_AND_POSITIONS "
        "analog) — enables `query --phrase` on any analyzer",
    )
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k over a built index")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--bucket-bits", type=int, default=None,
                   help="default: the index's config.json")
    q.add_argument("--block-size", type=int, default=None,
                   help="default: the index's config.json")
    q.add_argument(
        "--phrase",
        action="store_true",
        help="treat --q as a phrase (needs an index built with --positions)",
    )
    q.add_argument("--slop", type=int, default=0, help="phrase slop (Lucene)")
    q.add_argument(
        "--lucene",
        action="store_true",
        help='treat --q as a Lucene query string (+must -not AND/OR '
        '"phrase"~N prefix* fuzzy~N field:term (groups) [a TO b])',
    )
    q.add_argument(
        "--dismax",
        metavar="QF",
        default=None,
        help="run --q through eDisMax with this qf spec "
        "(e.g. 'title^2 body'); supports +/- occurs and phrases",
    )
    q.add_argument("--tie", type=float, default=0.0, help="dismax tie breaker")
    q.add_argument("--mm", default=0, help="dismax minimum-should-match")
    q.add_argument(
        "--pf",
        default=None,
        help="dismax phrase-boost fields (Solr pf, e.g. 'title^5 text'; "
        "needs an index built with --positions)",
    )
    q.add_argument("--pf2", default=None, help="word-pair phrase-boost fields")
    q.add_argument("--pf3", default=None, help="word-triple phrase-boost fields")
    q.add_argument("--ps", type=int, default=0, help="phrase-boost slop (Solr ps)")
    q.add_argument(
        "--fq",
        default=None,
        help="Solr filter query: non-scoring match-set restriction",
    )
    q.set_defaults(fn=cmd_query)

    d = sub.add_parser(
        "du", help="compressed bytes per doc of an index root, by table and column"
    )
    d.add_argument("root")
    d.set_defaults(fn=cmd_du)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main(sys.argv[1:])
