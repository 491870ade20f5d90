"""Parquet layout of the engine's tables.

* Every table a build, a fast upsert, a delete, a shard split, a
  compaction or a checkpointed build writes is zstd-compressed
  (``config.PARQUET_CODEC``), and the block table's row groups keep to
  ``build_index.POSTINGS_ROW_GROUP_BYTES``.
* A root written with snappy (the codec before zstd) still opens,
  upserts and compacts, with both codecs in one table on the way, and
  serves what the same root written with zstd serves.
* ``_RowGroupIndex.select`` (bisection over each term-sorted file's
  bounds) picks every row group whose [min, max] holds a query term; a
  file whose bounds do not ascend sends ``read`` to the dataset scan.
* The preloaded term dictionary (``_TermDict``) holds the df summed per
  (term, field), on an upserted root too, and a searcher serves with it
  what a searcher reading term_stats per query serves.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import golr_loader_spark.plans.build_index as build_index_module
from golr_loader_spark.config import PARQUET_CODEC, IndexConfig
from golr_loader_spark.plans.build_index import (
    POSTINGS_ROW_GROUP_BYTES,
    build_index,
    write_index,
)
from golr_loader_spark.plans.facets import build_facets
from golr_loader_spark.plans.maintenance import (
    compact_root,
    delete_docs,
    upsert_docs_fast,
)
from golr_loader_spark.plans.manifest import build_index_checkpointed
from golr_loader_spark.plans.serve import LocalSearcher, _RowGroupIndex, _TermDict
from golr_loader_spark.plans.shard import shard_index

SCHEMA = "doc_id long, title string, text string, lang string, views long"
N = 600
WORDS = [f"w{i:04d}" for i in range(1500)]


def _rows(ids, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (
            i,
            " ".join(rng.choices(WORDS[:200], k=4)),
            " ".join(rng.choices(WORDS, k=80)),
            rng.choice(["en", "de", "fr"]),
            rng.randrange(1000),
        )
        for i in ids
    ]


CFG = IndexConfig(
    fields={"title": ("simple", 2.0), "text": ("simple", 1.0)},
    bucket_bits=2,
    id_space_bits=10,
    positions=True,
)
STORED = ["title", "text", "lang", "views"]
QUERIES = ["w0007 w0100", "w0150", "w0003 w1400 w0777", "w0042 w0043"]


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """A positional two-field root of N docs with stored fields and
    facets, its postings in ONE file (several row groups)."""
    docs = spark.createDataFrame(_rows(range(N), seed=1), SCHEMA)
    root = str(tmp_path_factory.mktemp("layout") / "root")
    write_index(
        build_index(docs.select("doc_id", "title", "text"), CFG),
        root,
        term_partitions=1,
        documents=docs,
        facets=build_facets(docs, ["lang"], CFG),
        store_fields=STORED,
    )
    return root


def _batch(spark):
    """10 updates of existing docs and 10 new docs."""
    return spark.createDataFrame(
        _rows(list(range(0, 100, 10)) + list(range(N, N + 10)), seed=2), SCHEMA
    )


def _parquet_files(root: str) -> list[str]:
    return sorted(glob.glob(f"{root}/**/*.parquet", recursive=True))


def _codecs(path: str) -> set[str]:
    md = pq.ParquetFile(path).metadata
    return {
        md.row_group(g).column(c).compression
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    }


def _assert_all_zstd(root: str) -> None:
    files = _parquet_files(root)
    assert files
    want = PARQUET_CODEC.upper()
    bad = {f: _codecs(f) for f in files if _codecs(f) - {want}}
    assert not bad, bad


def _row_group_sizes(path: str) -> list[int]:
    (md,) = [pq.ParquetFile(f).metadata for f in glob.glob(f"{path}/*.parquet")]
    return [md.row_group(g).total_byte_size for g in range(md.num_row_groups)]


def test_every_table_is_zstd_and_postings_row_groups_keep_the_size(
    spark, base, tmp_path, monkeypatch
):
    assert max(_row_group_sizes(f"{base}/postings")) <= POSTINGS_ROW_GROUP_BYTES
    # the one file (~200 KB) is one row group at the constant; written
    # again under a 64 KB constant it spans several groups, each within
    # it: the writer closes a group once its buffered size reaches the
    # constant (checking at least every 100 rows; this root's rows are
    # small enough that no group passes it)
    small = 64 << 10
    monkeypatch.setattr(build_index_module, "POSTINGS_ROW_GROUP_BYTES", small)
    build_index_module._write_postings(
        spark.read.parquet(f"{base}/postings"), str(tmp_path / "small"), 1
    )
    sizes = _row_group_sizes(str(tmp_path / "small"))
    assert len(sizes) >= 2 and max(sizes) <= small, sizes
    _assert_all_zstd(str(tmp_path / "small"))
    monkeypatch.undo()
    _assert_all_zstd(base)

    root = str(tmp_path / "root")
    shutil.copytree(base, root)
    upsert_docs_fast(spark, root, _batch(spark), CFG)
    _assert_all_zstd(root)
    delete_docs(spark, root, [1, 2, 3])
    _assert_all_zstd(root)
    shards = shard_index(spark, root, str(tmp_path / "shards"), 2, cfg=CFG)
    for s in shards:
        _assert_all_zstd(s)
    assert compact_root(spark, root, CFG) == 3
    _assert_all_zstd(root)

    ck = str(tmp_path / "checkpointed")
    docs = spark.createDataFrame(_rows(range(40), seed=3), SCHEMA).select(
        "doc_id", "title", "text", F.sha2("text", 256).alias("content_sha256")
    )
    build_index_checkpointed(docs, ck, CFG, n_bucket_groups=2)
    assert os.path.isdir(f"{ck}/manifest")
    _assert_all_zstd(ck)


def test_bm25_reads_skip_positions(base):
    """A BM25 cache miss reads the block rows without ``poss``; a phrase
    query on the same terms then reads them with it and serves what a
    fresh searcher serves."""
    ls = LocalSearcher(base)
    ls.search("w0007 w0100", k=10)
    bm25_rows = ls._term_blocks.get(("w0007", False))
    assert bm25_rows and "poss" not in bm25_rows
    assert ls._term_blocks.get(("w0007", True)) is None
    got = ls.search_phrase("w0007 w0100", k=10)
    assert "poss" in ls._term_blocks.get(("w0007", True))
    assert got == LocalSearcher(base).search_phrase("w0007 w0100", k=10)


def _rewrite_snappy(root: str) -> None:
    """Rewrite every parquet file under ``root`` with snappy, row group
    by row group, dropping the Hadoop checksum file beside it."""
    for f in _parquet_files(root):
        pf = pq.ParquetFile(f)
        tmp = f + ".tmp"
        with pq.ParquetWriter(tmp, pf.schema_arrow, compression="snappy") as w:
            for g in range(pf.num_row_groups):
                w.write_table(pf.read_row_group(g))
        os.replace(tmp, f)
        d, name = os.path.split(f)
        crc = os.path.join(d, f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)


def _served(root: str) -> dict:
    ls = LocalSearcher(root)
    return {
        "bm25": [ls.search(q, k=10) for q in QUERIES],
        "and": [ls.search(q, k=10, mode="and") for q in QUERIES],
        "phrase": ls.search_phrase("w0007 w0100", k=10),
        "fetch": ls.fetch([0, 10, 11, N + 1]),
        "facets": ls.facet_counts("w0007 w0150", "lang"),
        "terms": ls.terms(prefix="w00", limit=20),
    }


def test_snappy_root_upserts_and_compacts_like_a_zstd_root(spark, base, tmp_path):
    z, s = str(tmp_path / "zstd"), str(tmp_path / "snappy")
    shutil.copytree(base, z)
    shutil.copytree(base, s)
    _rewrite_snappy(s)
    assert all(_codecs(f) == {"SNAPPY"} for f in _parquet_files(s))
    assert _served(s) == _served(z)

    for r in (z, s):
        upsert_docs_fast(spark, r, _batch(spark), CFG)
        delete_docs(spark, r, [4, 5])
    # both codecs in one table: the base files and the appended segment
    mixed = {c for f in _parquet_files(f"{s}/postings") for c in _codecs(f)}
    assert mixed == {"SNAPPY", "ZSTD"}
    assert _served(s) == _served(z)

    for r in (z, s):
        assert compact_root(spark, r, CFG) == 2
    assert _served(s) == _served(z)
    _assert_all_zstd(f"{s}/postings")


def _summed(rows) -> dict[tuple[str, str], int]:
    """{(term, field): df summed over ``rows``}, one row at a time."""
    out: dict[tuple[str, str], int] = {}
    for t, f, d in rows:
        out[(t, f)] = out.get((t, f), 0) + int(d)
    return out


def _as_summed(term_rows: list[dict]) -> dict[tuple[str, str], int]:
    pairs = [(r["term"], r["field"]) for r in term_rows]
    assert len(pairs) == len(set(pairs))
    return {(r["term"], r["field"]): r["df"] for r in term_rows}


def test_term_dictionary_sums_df_on_an_upserted_root(spark, base, tmp_path):
    root = str(tmp_path / "root")
    shutil.copytree(base, root)
    upsert_docs_fast(spark, root, _batch(spark), CFG)
    tbl = pq.read_table(f"{root}/term_stats", columns=["term", "field", "df"])
    want = _summed(
        zip(tbl["term"].to_pylist(), tbl["field"].to_pylist(), tbl["df"].to_pylist())
    )
    # two segments' rows: df is summed across them
    assert tbl.num_rows > len(want)
    ls = LocalSearcher(root)
    vocab = ls._vocab_terms()
    assert vocab == sorted({t for t, _f in want})
    terms = list(dict.fromkeys(vocab + ["absent", WORDS[-1]]))
    random.Random(5).shuffle(terms)
    rows = ls._term_rows(terms)
    assert _as_summed(rows) == want
    assert all(type(r["df"]) is int for r in rows)

    # what the serving faces built on the dictionary return equals what
    # a searcher reading term_stats per query returns
    scan = LocalSearcher(root, preload_term_stats=False)
    assert scan._ts is None
    for s in (ls, scan):
        s.got = {
            "bm25": [s.search(q, k=10) for q in QUERIES],
            "and": [s.search(q, k=10, mode="and") for q in QUERIES],
            "terms": s.terms(prefix="w00", limit=20),
            "prefix": s.search_prefix("w01", k=10),
            "wildcard": s.search_wildcard("w0?5*", k=10),
            "fuzzy": s.search_fuzzy("w0150", max_edits=1),
            "mlt": s.more_like_this(doc_id=11),
        }
    assert ls.got == scan.got


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.text(alphabet="abcdef", max_size=3), st.sampled_from("xyz"),
                  st.integers(1, 9)),
        max_size=40,
    ),
    st.lists(st.text(alphabet="abcdefg", max_size=3), max_size=8),
)
def test_term_dict_sums_df_per_term_and_field(rows, query):
    tbl = pa.table({
        "term": pa.array([r[0] for r in rows], pa.string()),
        "field": pa.array([r[1] for r in rows], pa.string()),
        "df": pa.array([r[2] for r in rows], pa.int64()),
    })
    want = _summed(rows)
    td = _TermDict(tbl)
    assert td.vocab == sorted({t for t, _f in want})
    asked = list(dict.fromkeys(query))
    assert _as_summed(td.rows(asked)) == {
        k: d for k, d in want.items() if k[0] in asked
    }
    # one row per (query term, field) pair, in query order
    assert [r["term"] for r in td.rows(query)] == [
        t for t in query for f in "xyz" if (t, f) in want
    ]


_TERM = st.text(alphabet="abcd", max_size=3)


def _write_row_groups(path: str, groups: list[list[str]]) -> None:
    schema = pa.schema([("term", pa.string())])
    with pq.ParquetWriter(path, schema) as w:
        for g in groups:
            w.write_table(pa.table({"term": pa.array(g, pa.string())}))


def _linear(ix: _RowGroupIndex, terms: list[str]) -> dict[int, list[int]]:
    """The rule ``select`` implements, group by group."""
    hits: dict[int, list[int]] = {}
    for fi, (rgs, lo, hi) in enumerate(ix._bounds):
        for rg, a, b in zip(rgs, lo, hi):
            if any(a <= t <= b for t in terms):
                hits.setdefault(fi, []).append(rg)
    return hits


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.lists(st.lists(_TERM, min_size=1, max_size=4), max_size=5), max_size=4),
    st.lists(_TERM, max_size=5),
    st.data(),
)
def test_row_group_select_matches_the_linear_rule(files, extra, data):
    with tempfile.TemporaryDirectory() as d:
        every: list[str] = []
        for i, groups in enumerate(files):
            # a term-sorted file: the sorted terms cut at the same sizes
            flat = iter(sorted(t for g in groups for t in g))
            groups = [[next(flat) for _ in g] for g in groups]
            every += [t for g in groups for t in g]
            _write_row_groups(f"{d}/part-{i:05d}.parquet", groups)
        ix = _RowGroupIndex(d)
        assert ix.complete
        # bounds themselves, terms between them and terms outside all
        pool = sorted(set(every + extra + ["", "zzz"]))
        terms = data.draw(st.lists(st.sampled_from(pool), max_size=6))
        assert ix.select(terms) == _linear(ix, terms)
        got = ix.read(terms)
        if not files:
            assert got is None
        else:
            want = sum(
                ix.files[fi].metadata.row_group(rg).num_rows
                for fi, rgs in _linear(ix, terms).items()
                for rg in rgs
            )
            assert got.num_rows == want


def test_a_file_not_sorted_by_term_falls_back_to_the_scan(tmp_path):
    _write_row_groups(str(tmp_path / "part-00000.parquet"), [["a", "b"], ["c"]])
    _write_row_groups(str(tmp_path / "part-00001.parquet"), [["m", "n"], ["c", "d"]])
    ix = _RowGroupIndex(str(tmp_path))
    assert not ix.complete
    assert ix.read(["c"]) is None


def test_row_group_index_over_no_postings(tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _RowGroupIndex(str(empty)).read(["w0001"]) is None
    zero = tmp_path / "zero"
    zero.mkdir()
    _write_row_groups(str(zero / "part-00000.parquet"), [])
    ix = _RowGroupIndex(str(zero))
    assert ix.select(["w0001"]) == {}
    got = ix.read(["w0001"], columns=["term"])
    assert got.num_rows == 0 and got.column_names == ["term"]
