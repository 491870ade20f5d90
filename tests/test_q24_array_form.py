"""q24 restructure (round-6 batch 3): the explode-free array-expression
form must stay row-identical to SQL_Q24 — same tf/df/dl integers, same
idf/contrib expression tree, same term-sorted fold order (absent terms
add exactly +0.0). Guards the internals change of the optimization."""

from __future__ import annotations

import duckdb
import pytest

from golr_loader_spark.operators.relational import SQL_Q24, q24_bm25_topk

SF = "/root/testdata/sf0.001"


def _oracle_rows(sf: str = SF):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    rows = con.execute(SQL_Q24).fetchall()
    con.close()
    return [tuple(r) for r in rows]


def test_q24_matches_duckdb_oracle(spark):
    got = [tuple(r) for r in q24_bm25_topk(spark, SF).collect()]
    assert got == _oracle_rows()


def test_q24_plan_has_no_explode(spark):
    from golr_loader_spark.operators.relational import _q24_scored

    base, scored = _q24_scored(spark, SF)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    base.unpersist()
    # the whole point of the restructure: no Generate (explode) node
    # and no groupBy(doc_id, term) exchange of token rows
    assert "Generate" not in plan


@pytest.fixture(scope="module")
def null_text_sf(tmp_path_factory):
    """A small sf directory whose documents table holds one NULL-text
    row (small, so a wrong Σdl moves scores past the 4th decimal)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{SF}/documents.parquet").slice(0, 40)
    null_row = pa.table(
        {
            "doc_id": pa.array([10_000], pa.int64()),
            "text": pa.array([None], pa.string()),
            "lang": ["en"],
            "source": ["src0"],
            "n_chars": pa.array([0], pa.int64()),
        },
        schema=docs.schema,
    )
    sf = tmp_path_factory.mktemp("q24_null_text")
    pq.write_table(pa.concat_tables([docs, null_row]), sf / "documents.parquet")
    return str(sf)


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_q24_null_text_matches_duckdb_oracle(spark, null_text_sf, ansi):
    """A NULL-text doc counts in n_docs with dl = 0, as in SQL_Q24
    (unnest of a NULL split yields no tokens). Non-ANSI Spark sizes a
    NULL array as -1 (legacy sizeOfNull), which would lower Σdl."""
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        got = [tuple(r) for r in q24_bm25_topk(spark, null_text_sf).collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert got == _oracle_rows(null_text_sf)
