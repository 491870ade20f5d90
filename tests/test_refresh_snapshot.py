"""LocalSearcher.refresh() (Lucene openIfChanged analog) and
maintenance.snapshot_index (ReplicationHandler / commit-point
snapshot): a live searcher picks up deletes/upserts on refresh; a
snapshot is a consistent, independently-servable commit point that
survives source mutation."""

from __future__ import annotations

import os

import pytest

from golr_loader_spark.config import IndexConfig
from golr_loader_spark.plans.build_index import build_index, write_index
from golr_loader_spark.plans.maintenance import (
    delete_docs,
    snapshot_index,
    upsert_docs_fast,
)
from golr_loader_spark.plans.serve import LocalSearcher


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def cfg():
    return IndexConfig(fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6)


@pytest.fixture()
def root(spark, cfg, tmp_path):
    rows = [(i, f"common filler uid{i} words here") for i in range(16)]
    r = str(tmp_path / "ix")
    d = _docs(spark, rows)
    write_index(build_index(d, cfg), r, term_partitions=2, documents=d)
    return r


def _hits(ls, q):
    return {d for d, _s in ls.search(q, k=50)}


def test_refresh_picks_up_delete_and_fast_upsert(spark, cfg, root):
    ls = LocalSearcher(root, cfg)
    assert 3 in _hits(ls, "uid3")
    delete_docs(spark, root, [3])
    # stale view until refresh (an open searcher is a fixed commit point)
    assert 3 in _hits(ls, "uid3")
    assert ls.refresh() is ls
    assert 3 not in _hits(ls, "uid3")
    # fast upsert appends a segment: refresh must see the new postings
    # dataset files AND the new tombstone masks
    upsert_docs_fast(spark, root, _docs(spark, [(5, "changed replacement")]), cfg)
    assert 5 in _hits(ls, "uid5")  # stale pre-refresh
    ls.refresh()
    assert 5 not in _hits(ls, "uid5")
    assert 5 in _hits(ls, "replacement")


def test_refresh_renews_the_live_universe(spark, cfg, root):
    """A pure-negative fq keeps the live universe minus its matches;
    the universe is read once per open, so refresh() must renew it."""
    ls = LocalSearcher(root, cfg)
    assert 3 not in {d for d, _s in ls.query("common", k=50, fq="-uid3")}
    upsert_docs_fast(spark, root, _docs(spark, [(40, "common newcomer")]), cfg)
    ls.refresh()
    assert 40 in _hits(ls, "common")
    got = ls.query("common", k=50, fq="-uid3")
    assert 40 in {d for d, _s in got}
    assert got == LocalSearcher(root, cfg).query("common", k=50, fq="-uid3")


def test_refresh_noop_keeps_results(spark, cfg, root):
    ls = LocalSearcher(root, cfg)
    before = ls.search("common", k=10)
    ls.refresh()
    assert ls.search("common", k=10) == before


def test_snapshot_is_consistent_and_survives_mutation(spark, cfg, root, tmp_path):
    snap = str(tmp_path / "snap")
    meta = snapshot_index(root, snap)
    assert meta["files"] > 0 and meta["bytes"] > 0
    # snapshot serves identically to the source at the commit point
    src = LocalSearcher(root, cfg)
    before = src.search("common", k=20)
    ls = LocalSearcher(snap, cfg)
    assert ls.search("common", k=20) == before
    # mutate the SOURCE: the snapshot must keep the old view
    delete_docs(spark, root, [1])
    upsert_docs_fast(spark, root, _docs(spark, [(2, "mutated body")]), cfg)
    src.refresh()
    assert 1 not in _hits(src, "uid1") and 2 in _hits(src, "mutated")
    ls.refresh()  # refresh against the SNAPSHOT root: unchanged
    assert ls.search("common", k=20) == before
    assert 1 in _hits(ls, "uid1")
    # in-flight staging dirs are not part of the commit point
    assert not os.path.isdir(f"{snap}/.gc")


def test_snapshot_refuses_nonempty_dest(spark, cfg, root, tmp_path):
    dest = tmp_path / "occupied"
    dest.mkdir()
    (dest / "junk").write_text("x")
    with pytest.raises(ValueError):
        snapshot_index(root, str(dest))


def test_snapshot_restores_config(spark, tmp_path):
    ccfg = IndexConfig(
        fields={"text": ("simple", 1.0)}, bucket_bits=2, id_space_bits=6,
        stopwords=("the",),
    )
    r = str(tmp_path / "cix")
    write_index(
        build_index(_docs(spark, [(0, "the data table")]), ccfg), r,
        term_partitions=1,
    )
    snap = str(tmp_path / "csnap")
    snapshot_index(r, snap)
    ls = LocalSearcher(snap)  # cfg from the snapshotted config.json
    assert ls.cfg == ccfg
    assert _hits(ls, "the") == set()
    assert _hits(ls, "data") == {0}
