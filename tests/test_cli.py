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
