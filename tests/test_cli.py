"""The spark-submit entrypoint (``python -m golr_loader_spark``):
synth → checkpointed build → query, end to end on the test session."""

from __future__ import annotations

import json

import pytest

from golr_loader_spark.__main__ import main
from golr_loader_spark.plans.bm25 import search
from golr_loader_spark.plans.manifest import load_checkpointed_index
from golr_loader_spark.plans.serve import _load_config


def _json_lines(out: str) -> list[dict]:
    return [json.loads(line) for line in out.splitlines() if line.startswith("{")]


def test_synth_build_query_matches_library(spark, tmp_path, capsys):
    corpus, root = str(tmp_path / "corpus"), str(tmp_path / "index")
    main(["synth", "--out", corpus, "--docs", "200", "--partitions", "2"])
    main(["build", "--corpus", corpus, "--out", root, "--bucket-groups", "2"])
    built = _json_lines(capsys.readouterr().out)
    assert built[-1]["index"] == root and built[-1]["docs"] == 200

    q = "def return"
    main(["query", "--index", root, "--q", q, "-k", "10"])
    (got,) = _json_lines(capsys.readouterr().out)
    assert got["hits"]

    cfg = _load_config(root)
    ix = load_checkpointed_index(spark, root, cfg)
    want = [
        {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
        for r in search(ix, q, k=10, cfg=cfg).collect()
    ]
    assert got["hits"] == want


def test_build_has_no_doc_splits_flag(tmp_path):
    with pytest.raises(SystemExit):
        main(["build", "--corpus", str(tmp_path), "--out", str(tmp_path / "x"),
              "--doc-splits", "2"])


def test_query_uses_the_index_config(spark, tmp_path, capsys):
    """``query`` restores the IndexConfig persisted in the root's
    config.json: a positional root with a one-analyzer field set and a
    stopword chain answers ``query --phrase`` like the library handed
    that config. (Analyzed with the CLI's own defaults instead, the
    phrase keeps the stopword, which has no postings, and matches
    nothing.)"""
    from golr_loader_spark.config import IndexConfig
    from golr_loader_spark.corpus import synth_corpus
    from golr_loader_spark.plans.documents import flatten_documents
    from golr_loader_spark.plans.manifest import build_index_checkpointed
    from golr_loader_spark.plans.phrase import phrase_search_positional

    root = str(tmp_path / "index")
    cfg = IndexConfig(
        fields={"content": ("simple", 1.0)}, bucket_bits=3, positions=True,
        stopwords=("the",),
    )
    docs = flatten_documents(synth_corpus(spark, 200, seed=5, partitions=2))
    build_index_checkpointed(docs, root, cfg, n_bucket_groups=2)
    assert _load_config(root) == cfg
    ix = load_checkpointed_index(spark, root, cfg)

    # a phrase with the stopword inside: "<w> the <w>"
    phrase, want = None, []
    for row in docs.select("content").limit(20).collect():
        words = row["content"].split()
        for i in range(1, len(words) - 1):
            if words[i] != "the" or "the" in (words[i - 1], words[i + 1]):
                continue
            phrase = " ".join(words[i - 1 : i + 2])
            want = [
                {"doc_id": r["doc_id"], "score": round(r["score"], 6)}
                for r in phrase_search_positional(ix, phrase, k=5, cfg=cfg).collect()
            ]
            break
        if want:
            break
    assert want, "no '<w> the <w>' window in the first documents"

    main(["query", "--index", root, "--q", phrase, "--phrase", "-k", "5"])
    (got,) = _json_lines(capsys.readouterr().out)
    assert got["hits"] == want


def test_du_reports_bytes_by_table_and_column(spark, tmp_path, capsys):
    """``du ROOT`` reads the parquet footers of a root: bytes per doc by
    table and by column, with each table's files, row groups and codecs
    (``root_usage`` holds the same figures)."""
    from golr_loader_spark.__main__ import root_usage
    from golr_loader_spark.config import PARQUET_CODEC, IndexConfig
    from golr_loader_spark.plans.build_index import build_index, write_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma{i % 5} delta{i}") for i in range(40)],
        "doc_id long, text string",
    )
    cfg = IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=1, id_space_bits=6)
    root = str(tmp_path / "root")
    write_index(build_index(docs, cfg), root, term_partitions=2, documents=docs)

    u = root_usage(root)
    assert u["docs"] == 40
    tables = {t["table"]: t for t in u["tables"]}
    assert set(tables) == {"postings", "term_stats", "stats", "docs"}
    post = tables["postings"]
    assert post["codecs"] == [PARQUET_CODEC.upper()]
    assert post["row_groups"] >= post["files"] >= 1
    assert {"term", "doc_ids", "tfs", "dls"} <= set(post["columns"])
    assert 0 < sum(post["columns"].values()) < post["bytes"]
    assert sum(t["bytes"] for t in u["tables"]) < u["bytes"]

    main(["du", root])
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith(f"{root}: 40 docs, {u['bytes']} bytes")
    post_line = next(ln for ln in out if ln.startswith("postings "))
    assert post_line.split()[1:4] == [
        str(post["files"]), str(post["row_groups"]), PARQUET_CODEC.upper()
    ]
    assert float(post_line.split()[-1]) == pytest.approx(post["bytes"] / 40, abs=0.05)
    assert any(ln.split()[0] == "doc_ids" for ln in out)
