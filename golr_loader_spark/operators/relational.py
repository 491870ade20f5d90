"""Driver-facing operator inventory: every implemented operator from
SURVEY.md §2 (+ the training-data operator families) as a named query
over the /root/testdata tables, each paired with the ANSI-SQL oracle
the driver runs in DuckDB.

Float discipline (so Spark and DuckDB value-hashes agree):
* money aggregates go through DECIMAL(18,2/4) so sums are exact, then
  cast to double (deterministic) and rounded;
* ratios of integers are single double divisions (bit-identical);
* multi-term float sums (BM25, cosine) are rounded to 4-6 digits and
  ranked BY the rounded value with an integer tie-break.

Registry shape: QUERIES[name] = (fn(spark, sf_dir) -> DataFrame,
oracle_sql | None).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from golr_loader_spark.functions.analysis import STEM_SQL as _STEM_SQL
from golr_loader_spark.operators import dedup as dd
from golr_loader_spark.operators import similarity as sim
from golr_loader_spark.operators import textstats as ts
from golr_loader_spark.operators.closures import bfs_closure, closure_fields
from golr_loader_spark.sources.testdata import load


def _dec(c, scale: int = 2):
    return F.col(c).cast(f"decimal(18,{scale})")


# --------------------------------------------------------------------- #
# TPC-H-style relational operators (SURVEY.md §2.2/2.3/2.5/2.6/2.7)
# --------------------------------------------------------------------- #


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """A1-analog streaming aggregation (GolrLoader.java:376-463's
    group-merge, restated as groupBy+agg)."""
    l = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)") + _dec("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / F.count("*"), 6).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_Q01 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q02_top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """W4 ranking window: top-3 orders by value per customer."""
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_Q02 = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 3
"""


def q03_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """J1-analog 3-way equi-join + agg + top-k (TPC-H Q3 shape)."""
    c = load(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-03-15"))
    )
    l = load(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-03-15"))
    )
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_Q03 = """
SELECT l_orderkey, o_orderpriority,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q04_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """J6 existence probe decorrelated: orders having a returned line
    (left_semi), counted per priority — the set-oriented form of
    SimpleLoader.isPhenotypeConnected's per-row LIMIT 1 probe
    (SimpleLoader.java:259-273)."""
    o = load(spark, sf, "orders")
    l = load(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


SQL_Q04 = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def q05_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """5-way join with broadcast dims + agg (TPC-H Q5 shape)."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    l = load(spark, sf, "lineitem")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, (l["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]))
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


SQL_Q05 = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q06_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """P3-style pushdown filter + single global agg (TPC-H Q6)."""
    l = load(spark, sf, "lineitem")
    rev = _dec("l_extendedprice") * _dec("l_discount")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


SQL_Q06 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q07_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """NOT EXISTS via left_anti: customers with no orders, per nation."""
    c = load(spark, sf, "customer")
    o = load(spark, sf, "orders")
    n = load(spark, sf, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").alias("n_lonely_customers"))
    )


SQL_Q07 = """
SELECT n_name, count(*) AS n_lonely_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""


def q08_union_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """U1/U2: UNION-distinct across branches (disease.cypher:4,8)."""
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    a = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select("n_name")
    b = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("n_name")
    return a.union(b).distinct()


SQL_Q08 = """
SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
UNION
SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""


def q09_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """Set intersection at table level (SURVEY.md §2.7)."""
    c = load(spark, sf, "customer")
    s = load(spark, sf, "supplier")
    n = load(spark, sf, "nation")
    big_c = (
        c.groupBy("c_nationkey").count().filter(F.col("count") >= 30)
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .select("n_name")
    )
    any_s = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("n_name")
    return big_c.intersect(any_s)


SQL_Q09 = """
SELECT n_name FROM (
  SELECT c_nationkey FROM customer GROUP BY c_nationkey HAVING count(*) >= 30) t
JOIN nation ON t.c_nationkey = n_nationkey
INTERSECT
SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""


def q10_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP grouping sets (beyond-reference aggregation coverage)."""
    o = load(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total"),
        )
    )


SQL_Q10 = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


def q11_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: linestatus columns per returnflag."""
    l = load(spark, sf, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec("l_quantity")).cast("double"))
        .withColumnRenamed("O", "qty_o")
        .withColumnRenamed("F", "qty_f")
    )


SQL_Q11 = """
SELECT l_returnflag,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus='O') AS DOUBLE) AS qty_o,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) FILTER (WHERE l_linestatus='F') AS DOUBLE) AS qty_f
FROM lineitem GROUP BY l_returnflag
"""


def q12_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: lag + running-sum windows (gap > 30 min)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    flagged = ev.withColumn(
        "new_s", F.when(gap.isNull() | (gap > 1800.0), F.lit(1)).otherwise(F.lit(0))
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


SQL_Q12 = """
WITH flagged AS (
  SELECT user_id, event_id,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""


def q13_hourly_events(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window agg (batch analog of the streaming window)."""
    ev = load(spark, sf, "events")
    return (
        ev.withColumn(
            "hour", F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
        )
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


SQL_Q13 = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------- #
# Closure operators (SURVEY.md §2.4, T1/A7 analogs)
# --------------------------------------------------------------------- #


def _hierarchy_edges(spark: SparkSession, sf: str):
    c = load(spark, sf, "customer").filter(F.col("c_custkey") <= 50)
    n = load(spark, sf, "nation")
    e1 = c.select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    e2 = n.select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("dst"),
    )
    seeds = c.select(F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("id"))
    return e1.union(e2), seeds


def q14_closure_bfs(spark: SparkSession, sf: str) -> DataFrame:
    """T1 generic BFS closure (ClosureUtil.java:88-114) as an
    iterative frontier join over a derived hierarchy."""
    edges, seeds = _hierarchy_edges(spark, sf)
    return bfs_closure(edges, seeds)


SQL_Q14 = """
WITH RECURSIVE edges AS (
  SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst
  FROM customer WHERE c_custkey <= 50
  UNION ALL
  SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
), r AS (
  SELECT 'C' || c_custkey AS start, 'C' || c_custkey AS node, 0 AS depth
  FROM customer WHERE c_custkey <= 50
  UNION ALL
  SELECT r.start, e.dst, r.depth + 1 FROM r JOIN edges e ON r.node = e.src
)
SELECT start, node, depth FROM r
"""


def q15_closure_fields(spark: SparkSession, sf: str) -> DataFrame:
    """A7 closure collectors (ClosureUtil.java:116-161): per-seed
    id-closure and label-closure in BFS order, as joined strings."""
    edges, seeds = _hierarchy_edges(spark, sf)
    c = load(spark, sf, "customer")
    n = load(spark, sf, "nation")
    r = load(spark, sf, "region")
    labels = (
        c.select(
            F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("id"),
            F.col("c_name").alias("label"),
        )
        .union(
            n.select(
                F.concat(F.lit("N"), F.col("n_nationkey").cast("string")),
                F.col("n_name"),
            )
        )
        .union(
            r.select(
                F.concat(F.lit("R"), F.col("r_regionkey").cast("string")),
                F.col("r_name"),
            )
        )
    )
    cl = closure_fields(bfs_closure(edges, seeds), labels)
    return cl.select(
        "start",
        F.array_join("closure_ids", ",").alias("closure_ids_str"),
        F.array_join("closure_labels", ",").alias("closure_labels_str"),
    )


SQL_Q15 = """
WITH RECURSIVE edges AS (
  SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst
  FROM customer WHERE c_custkey <= 50
  UNION ALL
  SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
), labels AS (
  SELECT 'C' || c_custkey AS id, c_name AS label FROM customer
  UNION ALL SELECT 'N' || n_nationkey, n_name FROM nation
  UNION ALL SELECT 'R' || r_regionkey, r_name FROM region
), r AS (
  SELECT 'C' || c_custkey AS start, 'C' || c_custkey AS node, 0 AS depth
  FROM customer WHERE c_custkey <= 50
  UNION ALL
  SELECT r.start, e.dst, r.depth + 1 FROM r JOIN edges e ON r.node = e.src
)
SELECT r.start,
       string_agg(r.node, ',' ORDER BY r.depth, r.node) AS closure_ids_str,
       string_agg(l.label, ',' ORDER BY r.depth, r.node) AS closure_labels_str
FROM r JOIN labels l ON r.node = l.id
GROUP BY r.start
"""


# --------------------------------------------------------------------- #
# Dedup / similarity / text-analysis (training-data operator families)
# --------------------------------------------------------------------- #


def q16_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return dd.exact_dedup(d, "doc_id", "text")


SQL_Q16 = """
SELECT md5(text) AS fingerprint, count(*) AS n_copies, min(doc_id) AS canonical_id
FROM documents GROUP BY md5(text)
"""


def q17_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return dd.ngram_jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.12, max_shingle_df=100
    )


SQL_Q17 = """
WITH sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(lower(text),' ')) - 2, 0)),
             i -> array_to_string(string_split(lower(text),' ')[i:i+2], ' '))) AS shingle
    FROM documents)
), cold AS (
  SELECT id, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > 100)
), sz AS (SELECT id, count(*) AS sz FROM cold GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM cold a JOIN cold b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter JOIN sz sa ON sa.id = id_a JOIN sz sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.12
"""


def q18_minhash(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return dd.minhash_signatures(d, "doc_id", "text")


SQL_Q18 = """
WITH params AS (
  SELECT * FROM (VALUES
    (0, 1299721, 104729), (1, 15485863, 32452843), (2, 49979687, 86028121),
    (3, 67867967, 2038074743), (4, 122949823, 141650939), (5, 198491317, 256203161),
    (6, 295075147, 314606869), (7, 370248451, 404188577)) AS p(h, a, b)
), sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(lower(text),' ')) - 2, 0)),
             i -> array_to_string(string_split(lower(text),' ')[i:i+2], ' '))) AS shingle
    FROM documents WHERE doc_id < 100)
), hashed AS (
  SELECT id, CAST(CONCAT('0x', SUBSTR(md5(shingle),1,15)) AS BIGINT) % 4294967296 AS x
  FROM sh)
SELECT id, h, min((a * x + b) % 2305843009213693951) AS minhash
FROM hashed CROSS JOIN params
GROUP BY id, h
"""


def q19_simhash(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return dd.simhash(d, "doc_id", "text")


SQL_Q19 = """
WITH toks AS (
  SELECT doc_id AS id, t.tok, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)
  WHERE doc_id < 100 GROUP BY doc_id, t.tok
), hashed AS (
  SELECT id, tf, CAST(CONCAT('0x', SUBSTR(md5(tok),1,15)) AS BIGINT) AS x FROM toks
), bits AS (
  SELECT id, b, sum((((x >> b) % 2) * 2 - 1) * tf) AS s
  FROM hashed CROSS JOIN generate_series(0, 31) AS g(b)
  GROUP BY id, b)
SELECT id, CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY id
"""


def q20_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.cosine_topk(e, [0, 1, 2, 3, 4], k=10)


# The oracle folds the dot product SEQUENTIALLY (list_reduce with a
# prepended 0.0 accumulator) over double-cast vectors — the same
# left-to-right float-addition order as Spark's F.aggregate, so the
# cosine values are bit-identical, not merely close.
_SQL_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "[{a}[i] * {b}[i] for i in generate_series(1, len({a}))]), (x,y) -> x+y)"
)
SQL_Q20 = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qvec FROM emb WHERE vec_id IN (0,1,2,3,4)
), scored AS (
  SELECT q.query_id, emb.vec_id AS neighbor_id,
         round({_SQL_DOT.format(a='emb.e', b='q.qvec')} /
               (sqrt({_SQL_DOT.format(a='emb.e', b='emb.e')}) *
                sqrt({_SQL_DOT.format(a='q.qvec', b='q.qvec')})), 6) AS cos_sim
  FROM emb CROSS JOIN q WHERE emb.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 10
"""


def q21_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return ts.quality_score(d, "doc_id", "text")


_STOP_SQL = ",".join(f"'{s}'" for s in ts.STOPWORDS)
SQL_Q21 = f"""
WITH base AS (
  SELECT doc_id AS id, text, string_split(lower(text), ' ') AS toks FROM documents
), feat AS (
  SELECT id,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks) AS sr,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS ar,
         CASE WHEN length(text) >= 100 AND length(text) <= 4000 THEN 1.0 ELSE 0.0 END AS len_ok
  FROM base)
SELECT id, round(sr, 6) AS stopword_ratio, round(ar, 6) AS alpha_ratio, len_ok,
       round(0.5 * sr + 0.3 * ar + 0.2 * len_ok, 6) AS quality
FROM feat
"""


def q22_token_stats_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    st = ts.token_stats(d, "doc_id", "text").join(
        d.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    return st.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.count("*"), 6).alias("avg_tokens"),
        F.countDistinct("n_chars").alias("distinct_lengths"),
    )


SQL_Q22 = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*), 6) AS avg_tokens,
       count(DISTINCT length(text)) AS distinct_lengths
FROM documents GROUP BY lang
"""


def q23_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return ts.lang_id(d, "doc_id", "text")


_MARKER_VALUES = ",".join(
    f"('{w}','{lang}')" for lang, ws in ts.LANG_MARKERS.items() for w in ws
)
SQL_Q23 = f"""
WITH markers(tok, cand) AS (VALUES {_MARKER_VALUES}),
toks AS (
  SELECT doc_id AS id, t.tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(tok)),
counts AS (
  SELECT id, cand, count(*) AS hits
  FROM toks JOIN markers USING (tok) GROUP BY id, cand),
best AS (
  SELECT id, cand AS lang_guess,
         row_number() OVER (PARTITION BY id ORDER BY hits DESC, cand ASC) AS rn
  FROM counts)
SELECT d.doc_id AS id, coalesce(b.lang_guess, 'und') AS lang_guess
FROM documents d LEFT JOIN (SELECT id, lang_guess FROM best WHERE rn = 1) b
  ON d.doc_id = b.id
"""


def _eq_term(term: str):
    """Single-arg HOF predicate for F.filter (a 2-param function would
    be called with (element, index) by the higher-order-function API)."""
    return lambda t: t == F.lit(term)


def _q24_scored(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """(base, scored) internals of q24 — the pre-collect distributed
    plan, exposed so plan dumps can show the real shape (the public
    function returns a driver-built LocalTableScan of ≤50 rows)."""
    d = load(spark, sf, "documents")
    terms = ["data", "query", "spark"]  # sorted: replay fold order
    # a NULL text is a doc with no tokens (dl = 0), as in SQL_Q24:
    # non-ANSI Spark sizes a NULL array as -1 (legacy sizeOfNull)
    toks = F.coalesce(
        F.split(F.lower(F.col("text")), " "), F.array().cast("array<string>")
    )
    # materialize the split once per row (the q17 codegen trap:
    # inlining it into each filter would re-split per term)
    base = (
        d.select(F.col("doc_id"), toks.alias("_toks"))
        .select(
            "doc_id",
            F.size("_toks").alias("dl"),
            *[
                F.size(F.filter("_toks", _eq_term(t))).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        )
        .persist()
    )
    st = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    idf_row = st.select(
        "avgdl",
        *[
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
                / (F.col(f"df_{i}") + F.lit(0.5))
            ).alias(f"idf_{i}")
            for i in range(len(terms))
        ],
    )

    def contrib(i: int):
        tf = F.col(f"tf_{i}")
        return (
            F.col(f"idf_{i}")
            * F.lit(2.2)
            * tf
            / (
                tf
                + F.lit(1.2)
                * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
            )
        )

    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.when(
            F.col(f"tf_{i}") > 0, contrib(i)
        ).otherwise(F.lit(0.0))
    scored = (
        base.filter(sum(F.col(f"tf_{i}") for i in range(len(terms))) > 0)
        .join(F.broadcast(idf_row))
        .select("doc_id", F.round(score, 4).alias("score"))
    )
    return base, scored


def q24_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship relational restatement of the fulltext engine: BM25
    (k1=1.2, b=0.75) top-50 over documents.text with the simple
    analyzer — the oracle-checkable twin of the compressed-index path
    (scores rounded to 4, ranked by the rounded value).

    Plan shape (guide §2.4: remove the shuffle outright): with a FIXED
    3-term query, per-doc term frequencies are array expressions over
    one `split` — `tf_i = size(filter(toks, t = term_i))`, `dl =
    size(toks)` — so the corpus is never exploded and the former
    groupBy(doc_id, term) exchange of every token row does not exist.
    One narrow per-doc projection feeds (a) a single-row global agg
    (n_docs, avgdl, per-term df via count_if) that broadcast-joins
    back, and (b) the scored TakeOrdered. Arithmetic is bit-identical
    to the explode form: tf/df/dl are the same integers, idf/contrib
    use the same expression tree, and the score sum replays the
    sort_array(term) fold order — contributions added in term-sorted
    order from 0.0, absent terms adding exactly +0.0 (IEEE x+0.0 == x
    for the non-negative partial sums here). Verified row-identical
    against SQL_Q24 in DuckDB at sf0.01 AND sf0.1."""
    base, scored = _q24_scored(spark, sf)
    # Distributed top-k: TakeOrderedAndProject (no single-partition
    # WindowExec — every scored doc stayed in its partition); rank then
    # attaches to the ≤50 surviving rows driver-side.
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(50).collect()
    base.unpersist()
    return spark.createDataFrame(
        [(i + 1, r["doc_id"], r["score"]) for i, r in enumerate(top)],
        "rank int, doc_id long, score double",
    )


SQL_Q24 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 50
"""


# conjunctive (Lucene MUST) twin of SQL_Q24: a doc must match all 3
# query terms — qt has one row per (doc, term), so the per-doc row
# count IS the distinct-term match count
SQL_Q31 = SQL_Q24.replace(
    "FROM contribs GROUP BY doc_id)",
    "FROM contribs GROUP BY doc_id HAVING count(*) = 3)",
)


def q25_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    return ts.fingerprint(d, "doc_id", "text")


SQL_Q25 = """
SELECT doc_id AS id, md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q26_lsh_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH banding: candidate pairs sharing any 2-hash band."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    sigs = dd.minhash_signatures(d, "doc_id", "text")
    return dd.lsh_candidate_pairs(sigs, band_size=2)


# shared CTE chain: documents(doc_id<200) → shingles → 32-bit hashes →
# 8 minhashes → 2-hash bands → distinct candidate pairs
_SQL_LSH_PAIR_CTES = """params AS (
  SELECT * FROM (VALUES
    (0, 1299721, 104729), (1, 15485863, 32452843), (2, 49979687, 86028121),
    (3, 67867967, 2038074743), (4, 122949823, 141650939), (5, 198491317, 256203161),
    (6, 295075147, 314606869), (7, 370248451, 404188577)) AS p(h, a, b)
), sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(lower(text),' ')) - 2, 0)),
             i -> array_to_string(string_split(lower(text),' ')[i:i+2], ' '))) AS shingle
    FROM documents WHERE doc_id < 200)
), hashed AS (
  SELECT id, CAST(CONCAT('0x', SUBSTR(md5(shingle),1,15)) AS BIGINT) % 4294967296 AS x
  FROM sh),
sigs AS (
  SELECT id, h, min((a * x + b) % 2305843009213693951) AS minhash
  FROM hashed CROSS JOIN params GROUP BY id, h),
bands AS (
  SELECT id, h // 2 AS band,
         string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h) AS sig
  FROM sigs GROUP BY id, h // 2),
cand_pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.id < b.id)"""

SQL_Q26 = f"""
WITH {_SQL_LSH_PAIR_CTES}
SELECT id_a, id_b FROM cand_pairs
"""


def q28_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate CLUSTERS from the LSH candidate pairs — connected
    components by alternating large-star/small-star (the step a real
    dedup pipeline runs after q26's candidate generation; every
    alternation is equi-joins + groupBy-mins over the canonical edge
    list, no driver-side graph state, O(log) rounds even on
    adversarial chains)."""
    d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    sigs = dd.minhash_signatures(d, "doc_id", "text")
    pairs = dd.lsh_candidate_pairs(sigs, band_size=2)
    return dd.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


# min-id closure via recursive CTE (UNION dedup terminates the cycle)
SQL_Q28 = f"""
WITH RECURSIVE {_SQL_LSH_PAIR_CTES},
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cand_pairs
  UNION ALL
  SELECT id_b, id_a FROM cand_pairs),
reach AS (
  SELECT src AS id, src AS node FROM edges
  UNION
  SELECT r.id, e.dst FROM reach r JOIN edges e ON r.node = e.src)
SELECT id AS doc_id, CAST(min(node) AS BIGINT) AS cluster_id
FROM reach GROUP BY id
"""


def q27_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact embedding near-duplicate pairs (cos ≥ 0.3) — the brute
    baseline of the LSH-blocked operator (similarity.embedding_
    neardup_pairs); double-cast vectors + sequential fold keep the
    values bit-identical to the SQL oracle."""
    e = (
        load(spark, sf, "embeddings")
        .filter(F.col("vec_id") < 300)
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    from golr_loader_spark.operators.similarity import _dot, _norm

    l, r = e.alias("l"), e.alias("r")
    return (
        l.crossJoin(r)
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .withColumn(
            "cos_sim",
            F.round(
                _dot(F.col("l.embedding"), F.col("r.embedding"))
                / (_norm(F.col("l.embedding")) * _norm(F.col("r.embedding"))),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= 0.3)
        .select(
            F.col("l.vec_id").alias("id_a"),
            F.col("r.vec_id").alias("id_b"),
            "cos_sim",
        )
    )


SQL_Q27 = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 300
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_SQL_DOT.format(a='a.e', b='b.e')} /
               (sqrt({_SQL_DOT.format(a='a.e', b='a.e')}) *
                sqrt({_SQL_DOT.format(a='b.e', b='b.e')})), 6) AS cos_sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
"""


def q29_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the latest
    view event (same user, view.ts <= purchase.ts, larger event_id
    breaks ts ties) — the union-marker single-sort-shuffle plan
    (operators/temporal.asof_join), not a range-join explosion."""
    from golr_loader_spark.operators.temporal import asof_join

    ev = load(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purchases,
        views,
        keys=["user_id"],
        ts="ts",
        payload=["event_id", "value"],
        right_tiebreak="event_id",
        prefix="asof_view_",
    )


SQL_Q29 = """
WITH u AS (
  SELECT user_id, ts, 0 AS side, event_id AS tb,
         event_id AS v_id, value AS v_val,
         CAST(NULL AS BIGINT) AS l_id, CAST(NULL AS DOUBLE) AS l_val
  FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT user_id, ts, 1, NULL, NULL, NULL, event_id, value
  FROM events WHERE event_type = 'purchase'
), w AS (
  SELECT *,
    last_value(v_id IGNORE NULLS) OVER win AS asof_view_event_id,
    last_value(v_val IGNORE NULLS) OVER win AS asof_view_value
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, coalesce(tb, 0)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id, ts, l_id AS event_id, l_val AS value,
       asof_view_event_id, asof_view_value
FROM w WHERE side = 1
"""


def q30_stratified_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash-based train/val/test split, reported as
    per-(lang, split) counts — the reproducible-sampling primitive of
    a training-data pipeline (pure projection + agg: no shuffle of
    the corpus beyond the final tiny groupBy)."""
    d = load(spark, sf, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
                    ).cast("long") % 10
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket < 9, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
    )


SQL_Q30 = """
WITH tagged AS (
  SELECT lang, text,
         CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)),1,15)) AS BIGINT) % 10 AS b
  FROM documents)
SELECT lang,
       CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars
FROM tagged GROUP BY 1, 2
"""


def q32_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-flat ANN: Voronoi-cell coarse quantizer (deterministic
    strided-sample centroids) + n_probe cell probing + exact rescoring
    of candidates — the FAISS-style scale path next to q20's exact
    brute force. Fully SQL-expressible, so the DuckDB oracle replays
    the index itself, not just the final ranking."""
    e = load(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.ivf_cosine_topk(e, [0, 1, 2, 3, 4], k=10, n_cells=16, n_probe=4)


SQL_Q32 = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cents AS (
  SELECT vec_id AS cell, e AS cvec FROM emb
  WHERE vec_id % (SELECT CAST(ceil(count(*) / 16.0) AS BIGINT) FROM emb) = 0
  ORDER BY vec_id LIMIT 16
), acell AS (
  SELECT vec_id, e, cell FROM (
    SELECT emb.vec_id, emb.e, c.cell,
           row_number() OVER (
             PARTITION BY emb.vec_id
             ORDER BY round({_SQL_DOT.format(a='emb.e', b='c.cvec')} /
                            (sqrt({_SQL_DOT.format(a='emb.e', b='emb.e')}) *
                             sqrt({_SQL_DOT.format(a='c.cvec', b='c.cvec')})), 6) DESC,
                      c.cell ASC) AS rn
    FROM emb CROSS JOIN cents c) WHERE rn = 1
), q AS (
  SELECT vec_id AS query_id, e AS qvec FROM emb WHERE vec_id IN (0,1,2,3,4)
), probes AS (
  SELECT query_id, qvec, cell FROM (
    SELECT q.query_id, q.qvec, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round({_SQL_DOT.format(a='q.qvec', b='c.cvec')} /
                            (sqrt({_SQL_DOT.format(a='q.qvec', b='q.qvec')}) *
                             sqrt({_SQL_DOT.format(a='c.cvec', b='c.cvec')})), 6) DESC,
                      c.cell ASC) AS rn
    FROM q CROSS JOIN cents c) WHERE rn <= 4
), scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round({_SQL_DOT.format(a='a.e', b='p.qvec')} /
               (sqrt({_SQL_DOT.format(a='a.e', b='a.e')}) *
                sqrt({_SQL_DOT.format(a='p.qvec', b='p.qvec')})), 6) AS cos_sim
  FROM acell a JOIN probes p USING (cell)
  WHERE a.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked WHERE rank <= 10
"""


def q33_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any 4-gram
    with the held-out set (doc_id % 50 == 0 plays the benchmark).
    4-grams give meaningful overlap density on the short test texts;
    published recipes use 8-13-grams on web-scale documents."""
    d = load(spark, sf, "documents")
    train = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return dd.decontaminate(train, bench, "doc_id", "text", n=4)


SQL_Q33 = """
WITH sh AS (
  SELECT DISTINCT doc_id AS id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(
             generate_series(1, greatest(len(string_split(lower(text),' ')) - 3, 0)),
             i -> array_to_string(string_split(lower(text),' ')[i:i+3], ' '))) AS shingle
    FROM documents)
), bench AS (
  SELECT id AS bench_id, shingle FROM sh WHERE id % 50 = 0
), train AS (
  SELECT id, shingle FROM sh WHERE id % 50 <> 0
)
SELECT train.id AS doc_id,
       count(DISTINCT train.shingle) AS n_shared_shingles,
       count(DISTINCT bench.bench_id) AS n_bench_docs
FROM train JOIN bench USING (shingle)
GROUP BY train.id
"""


def q34_repetition_score(spark: SparkSession, sf: str) -> DataFrame:
    """Intra-document repetition ratio (dup-3-gram fraction) — pure
    map-side projection, zero shuffles at any scale."""
    return ts.repetition_score(load(spark, sf, "documents"), "doc_id", "text", n=3)


SQL_Q34 = """
WITH g AS (
  SELECT doc_id,
         CASE WHEN len(string_split(lower(text),' ')) >= 3
              THEN list_transform(
                     generate_series(1, len(string_split(lower(text),' ')) - 2),
                     i -> array_to_string(string_split(lower(text),' ')[i:i+2], ' '))
              ELSE [] END AS grams
  FROM documents)
SELECT doc_id, len(grams) AS n_grams, len(list_distinct(grams)) AS n_distinct,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
            ELSE 0.0 END AS rep_ratio
FROM g
"""


def q35_json_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured column handling: parse the events JSON props
    payload and aggregate the extracted field per event type —
    projection + one partial-agg groupBy (get_json_object stays
    JVM-side; no Python in the path)."""
    ev = load(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum("k").cast("double") / F.count("*"), 6).alias("avg_k"),
        )
    )


SQL_Q35 = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / count(*), 6) AS avg_k
FROM events GROUP BY event_type
"""


# Oracle for the engine's faceted search (plans/facets.py —
# engine_facets in __spark_entry__.py): top facet values by count over
# ALL docs matching any of the simple-analyzed query terms, the Solr
# facet semantics the reference's loader targets. Same tokenizer twin
# as SQL_Q24 (string_split on lowered text).
SQL_Q36 = """
WITH matched AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term IN ('data','query','spark')
), fv AS (
  SELECT 'lang' AS facet, lang AS value
  FROM documents JOIN matched USING (doc_id)
  UNION ALL
  SELECT 'source' AS facet, source AS value
  FROM documents JOIN matched USING (doc_id)
), counts AS (
  SELECT facet, value, CAST(count(*) AS BIGINT) AS n
  FROM fv GROUP BY facet, value
), ranked AS (
  SELECT facet, value, n,
         row_number() OVER (PARTITION BY facet ORDER BY n DESC, value ASC) AS rank
  FROM counts)
SELECT facet, value, n, rank FROM ranked WHERE rank <= 10
"""


# Oracle for the engine's phrase search (plans/phrase.py —
# engine_phrase in __spark_entry__.py): conjunctive BM25 of the
# phrase terms restricted to docs containing the CONSECUTIVE token
# sequence. With the simple analyzer the token stream is lower(text)
# split on single spaces, so the phrase test is a literal substring
# match on ' '||lower(text)||' ' — bit-identical on both sides.
SQL_Q37 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
matched AS (
  SELECT doc_id FROM documents
  WHERE contains(' ' || lower(text) || ' ', ' data query ')),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id) JOIN matched USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's prefix query (bm25.search_prefix —
# engine_prefix in __spark_entry__.py): Lucene PrefixQuery under the
# SCORING_BOOLEAN rewrite — every term matching the prefix joins the
# disjunction with its own idf weight; per-doc score folds in term
# order (single field ⇒ the module's (field, term) order).
SQL_Q38 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term LIKE 's%'),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's fuzzy query (bm25.search_fuzzy —
# engine_fuzzy in __spark_entry__.py): Lucene FuzzyQuery under the
# SCORING_BOOLEAN rewrite — every vocabulary term within 2 Levenshtein
# edits of 'sart' joins the disjunction with its own idf weight
# (expands to {fast, part, sort, spark} on this corpus).
SQL_Q39 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE levenshtein(term, 'sart') <= 2),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's More-Like-This (bm25.more_like_this —
# engine_mlt in __spark_entry__.py): Lucene MLT term selection — each
# source-doc term scored by tf(source) × idf, rounded to 1e-6 with
# term-asc tie-break, top 10 kept — then a disjunctive BM25 over the
# selected terms excluding the source doc itself.
SQL_Q40 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
tdf AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
src AS (SELECT term, tf FROM toks WHERE doc_id = 7 AND term <> ''),
interest AS (
  SELECT s.term,
         round(s.tf * ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - d.df + 0.5) / (d.df + 0.5)), 6) AS sc
  FROM src s JOIN tdf d USING (term)),
sel AS (SELECT term FROM interest ORDER BY sc DESC, term ASC LIMIT 10),
qt AS (SELECT * FROM toks WHERE term IN (SELECT term FROM sel)),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)
  WHERE qt.doc_id <> 7),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's boolean query (bm25.search_boolean —
# engine_bool in __spark_entry__.py): Lucene BooleanQuery with
# MUST data, SHOULD spark, MUST_NOT agg — required terms gate AND
# score, should terms score when present, prohibited terms
# disqualify.
SQL_Q41 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
must_docs AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'data'),
neg_docs AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'agg'),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)
  WHERE qt.doc_id IN (SELECT doc_id FROM must_docs)
    AND qt.doc_id NOT IN (SELECT doc_id FROM neg_docs)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's range facets (facets.range_facet_counts —
# engine_rfacet in __spark_entry__.py): Solr facet.range — histogram
# of n_chars in width-50 bins over ALL docs matching any query term.
SQL_Q42 = """
WITH matched AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term IN ('data','query','spark'))
SELECT CAST(floor(n_chars / 50.0) * 50.0 AS DOUBLE) AS lo,
       CAST(count(*) AS BIGINT) AS n
FROM documents JOIN matched USING (doc_id)
GROUP BY lo ORDER BY lo
"""


# Oracle for the engine's field collapsing (facets.grouped_topk —
# engine_collapse in __spark_entry__.py): Solr group.field — BM25
# over the query terms, top-2 docs per lang, top-5 langs ordered by
# their best doc; scores rounded to 4 BEFORE every ranking (the
# module's cross-engine float discipline).
SQL_Q43 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
fv AS (
  SELECT s.doc_id, s.score, d.lang AS value
  FROM scored s JOIN documents d USING (doc_id)),
ranked AS (
  SELECT value, doc_id, score,
         row_number() OVER (PARTITION BY value ORDER BY score DESC, doc_id ASC) AS rank
  FROM fv),
kept AS (SELECT * FROM ranked WHERE rank <= 2),
heads AS (
  SELECT value,
         row_number() OVER (ORDER BY score DESC, value ASC) AS group_rank
  FROM kept WHERE rank = 1)
SELECT h.group_rank, k.value, k.rank, k.doc_id, k.score
FROM kept k JOIN heads h USING (value)
WHERE h.group_rank <= 5
"""


# --------------------------------------------------------------------- #
# Registry
# --------------------------------------------------------------------- #

# Unordered span-near oracle (the engine twin runs the REAL positional
# index — engine_span in __spark_entry__.py): a doc matches when some
# width-6 token window holds 'data', 'query' AND 'spark'; tf = number
# of anchor ('data', the sorted-first term — fixed so this SQL can
# replicate the engine's count) positions whose minimal covering
# window fits; score = BM25 with idf summed over the distinct terms,
# rounded to 4 BEFORE ranking (the module's float discipline).
SQL_Q44 = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), tf_tab AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM tf_tab GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM tf_tab WHERE term IN ('data','query','spark') GROUP BY term),
wt AS (SELECT sum(idf) * 2.2 AS w FROM idf),
anchors AS (SELECT doc_id, pos FROM toks WHERE term = 'data'),
matched AS (
  SELECT DISTINCT a.doc_id, a.pos
  FROM anchors a
  JOIN toks b ON b.doc_id = a.doc_id AND b.term = 'query'
  JOIN toks c ON c.doc_id = a.doc_id AND c.term = 'spark'
  WHERE greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos) <= 5),
tfq AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS f FROM matched GROUP BY doc_id),
scored AS (
  SELECT tfq.doc_id,
         round((SELECT w FROM wt) * f / (f + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))), 4) AS score
  FROM tfq JOIN dl USING (doc_id)),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Lucene query-string oracle (engine twin parses and executes
# '+data s* "data query"' through plans.lucene.search_lucene —
# engine_lucene in __spark_entry__.py). Semantics under test: MUST
# term filter, prefix expansion scoring (SCORING_BOOLEAN — every
# s-term a doc contains scores), and a SHOULD phrase adding its
# PhraseWeight (tf = exact positional occurrence count, idf summed
# over the phrase's terms). Scores round to 4 BEFORE ranking.
SQL_Q45 = """
WITH tokp AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), tf_tab AS (
  SELECT doc_id, term, count(*) AS tf FROM tokp GROUP BY doc_id, term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM tf_tab GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM tf_tab WHERE term = 'data' OR term = 'query' OR term LIKE 's%'
  GROUP BY term),
must_docs AS (SELECT DISTINCT doc_id FROM tf_tab WHERE term = 'data'),
contribs AS (
  SELECT q.doc_id, q.term,
         idf.idf * 2.2 * q.tf / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM tf_tab q
  JOIN idf USING (term) JOIN dl USING (doc_id)
  JOIN must_docs USING (doc_id)
  WHERE q.term = 'data' OR q.term LIKE 's%'),
boolscore AS (
  SELECT doc_id, sum(contrib ORDER BY term) AS bscore
  FROM contribs GROUP BY doc_id),
pmatch AS (
  SELECT a.doc_id, a.pos
  FROM tokp a JOIN tokp b
    ON b.doc_id = a.doc_id AND b.term = 'query' AND b.pos = a.pos + 1
  WHERE a.term = 'data'),
ptf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS f FROM pmatch GROUP BY doc_id),
pscore AS (
  SELECT ptf.doc_id,
         (SELECT sum(idf) FROM idf WHERE term IN ('data','query')) * 2.2
           * f / (f + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS ps
  FROM ptf JOIN dl USING (doc_id)),
scored AS (
  SELECT b.doc_id, round(b.bscore + coalesce(p.ps, 0.0), 4) AS score
  FROM boolscore b LEFT JOIN pscore p USING (doc_id)),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Query-time synonym expansion oracle (engine twin: search_lucene
# with cfg.query_synonyms=(query→scan, stream→'data stream') —
# engine_synonym in __spark_entry__.py). The expansion rewrites
# 'query stream' into (query OR scan) (stream OR "data stream");
# SHOULD-only boolean scoring sums flat, so the replay is: BM25 term
# contributions for query/scan/stream + the positional-phrase score
# of the data→stream bigram (idf(data)+idf(stream), phrase tf =
# adjacency count), folded in sorted term order, rounded to 4 then
# ranked — identical float discipline to SQL_Q45.
SQL_Q68 = """
WITH tokp AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), tf_tab AS (
  SELECT doc_id, term, count(*) AS tf FROM tokp GROUP BY doc_id, term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM tf_tab GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM tf_tab WHERE term IN ('query', 'scan', 'stream', 'data')
  GROUP BY term),
contribs AS (
  SELECT q.doc_id, q.term,
         idf.idf * 2.2 * q.tf / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM tf_tab q
  JOIN idf USING (term) JOIN dl USING (doc_id)
  WHERE q.term IN ('query', 'scan', 'stream')),
boolscore AS (
  SELECT doc_id, sum(contrib ORDER BY term) AS bscore
  FROM contribs GROUP BY doc_id),
pmatch AS (
  SELECT a.doc_id, a.pos
  FROM tokp a JOIN tokp b
    ON b.doc_id = a.doc_id AND b.term = 'stream' AND b.pos = a.pos + 1
  WHERE a.term = 'data'),
ptf AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS f FROM pmatch GROUP BY doc_id),
pscore AS (
  SELECT ptf.doc_id,
         (SELECT sum(idf) FROM idf WHERE term IN ('data','stream')) * 2.2
           * f / (f + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS ps
  FROM ptf JOIN dl USING (doc_id)),
scored AS (
  SELECT b.doc_id, round(b.bscore + coalesce(p.ps, 0.0), 4) AS score
  FROM boolscore b LEFT JOIN pscore p USING (doc_id)),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# JSON Facet range + numBuckets/allBuckets oracle (engine twin:
# jsonfacet type:"range" over n_chars with sum(n_chars), plus
# numBuckets (distinct lang values with count >= 1 among matched
# docs, before limit) and allBuckets under the union reading
# (distinct matched docs having a lang value) — engine_rangefacet in
# __spark_entry__.py). Empty range buckets ride a generate_series
# LEFT JOIN; values outside [0, 800) are dropped like the engine.
SQL_Q69 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), vals AS (
  SELECT d.doc_id, d.n_chars, d.lang
  FROM documents d JOIN matched USING (doc_id)
), lens AS (
  SELECT 'lens' AS facet, CAST(gs.lo AS BIGINT) AS lo,
         CAST(count(v.doc_id) AS BIGINT) AS n,
         round(CAST(sum(v.n_chars) AS DOUBLE), 4) AS sum_chars
  FROM generate_series(0, 700, 100) AS gs(lo)
  LEFT JOIN vals v
    ON v.n_chars >= gs.lo AND v.n_chars < gs.lo + 100
   AND v.n_chars >= 0 AND v.n_chars < 800
  GROUP BY gs.lo
), extras AS (
  SELECT 'numBuckets' AS facet, CAST(-1 AS BIGINT) AS lo,
         CAST(count(DISTINCT lang) AS BIGINT) AS n,
         CAST(NULL AS DOUBLE) AS sum_chars
  FROM vals WHERE lang IS NOT NULL
  UNION ALL
  SELECT 'allBuckets', -1,
         CAST(count(DISTINCT doc_id) AS BIGINT),
         CAST(NULL AS DOUBLE)
  FROM vals WHERE lang IS NOT NULL
)
SELECT facet, lo, n, sum_chars FROM lens
UNION ALL
SELECT facet, lo, n, sum_chars FROM extras
ORDER BY facet, lo
"""


# Solr drill-down oracle (engine twin: facets.facet_counts with a
# NON-SCORING fq — engine_drilldown in __spark_entry__.py). The
# standard Solr workflow: q selects ('data' OR 'query'), fq filters
# ('+spark -engine' — a boolean filter query through the Lucene
# executor, not the bare-term fast path), facets count lang/source
# values over the intersection. fq affects matching only (facet
# counts carry no scores, so the non-scoring property is exercised
# by the match set itself).
SQL_Q47 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data','query')
  INTERSECT
  (SELECT doc_id FROM toks WHERE term = 'spark'
   EXCEPT
   SELECT doc_id FROM toks WHERE term = 'engine')
), fv AS (
  SELECT 'lang' AS facet, lang AS value
  FROM documents JOIN matched USING (doc_id)
  UNION ALL
  SELECT 'source' AS facet, source AS value
  FROM documents JOIN matched USING (doc_id)
), counts AS (
  SELECT facet, value, CAST(count(*) AS BIGINT) AS n
  FROM fv GROUP BY facet, value
), ranked AS (
  SELECT facet, value, n,
         row_number() OVER (PARTITION BY facet ORDER BY n DESC, value ASC) AS rank
  FROM counts)
SELECT facet, value, n, rank FROM ranked WHERE rank <= 10
"""


# Sort-by-stored-field + offset pagination oracle (engine twin:
# facets.search_sorted — engine_sortpage in __spark_entry__.py).
# Solr sort=n_chars desc + start=10&rows=10: decode-only matching of
# ('data' OR 'query'), order by (n_chars DESC, doc_id ASC), absolute
# 1-based positions on the second page.
SQL_Q48 = """
WITH matched AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term IN ('data','query')
), ordered AS (
  SELECT d.doc_id, d.n_chars,
         row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id ASC) AS pos
  FROM documents d JOIN matched USING (doc_id))
SELECT CAST(pos AS INTEGER) AS pos, doc_id, n_chars
FROM ordered WHERE pos > 10 AND pos <= 20 ORDER BY pos
"""


# CursorMark/keyset deep-paging oracle (engine twin:
# facets.search_after — engine_cursor in __spark_entry__.py). Solr
# cursorMark: the 10 docs strictly after the cursor
# (n_chars=300, doc_id=100) in (n_chars DESC, doc_id ASC) order over
# docs matching ('data' OR 'query') — a pushed-down keyset filter,
# never an offset sort of the skipped prefix.
SQL_Q52 = """
WITH matched AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term IN ('data','query')
), sel AS (
  SELECT d.doc_id, d.n_chars
  FROM documents d JOIN matched USING (doc_id)
  WHERE d.n_chars IS NOT NULL
    AND (d.n_chars < 300 OR (d.n_chars = 300 AND d.doc_id > 100)))
SELECT doc_id, n_chars FROM sel
ORDER BY n_chars DESC, doc_id ASC LIMIT 10
"""


# Pivot-facet oracle (engine twin: facets.pivot_facet_counts —
# engine_pivot in __spark_entry__.py). Solr facet.pivot=lang,source
# over docs matching ('data' OR 'query'): two-level counts with both
# levels ranked (count desc, value asc), top 10 outer × top 5 inner.
SQL_Q53 = """
WITH matched AS (
  SELECT DISTINCT doc_id
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term IN ('data','query')
), pairs AS (
  SELECT lang AS outer_value, source AS inner_value,
         CAST(count(*) AS BIGINT) AS inner_n
  FROM documents JOIN matched USING (doc_id)
  GROUP BY lang, source
), outer_r AS (
  SELECT outer_value, outer_n,
         CAST(row_number() OVER (ORDER BY outer_n DESC, outer_value ASC) AS INTEGER) AS outer_rank
  FROM (SELECT outer_value, CAST(sum(inner_n) AS BIGINT) AS outer_n
        FROM pairs GROUP BY outer_value)
), inner_r AS (
  SELECT p.outer_value, o.outer_n, o.outer_rank, p.inner_value, p.inner_n,
         CAST(row_number() OVER (PARTITION BY p.outer_value ORDER BY p.inner_n DESC, p.inner_value ASC) AS INTEGER) AS inner_rank
  FROM pairs p JOIN outer_r o USING (outer_value)
  WHERE o.outer_rank <= 10)
SELECT outer_value, outer_n, outer_rank, inner_value, inner_n, inner_rank
FROM inner_r WHERE inner_rank <= 5
"""


# Search-then-fetch oracle (engine twin: facets.search_fetch —
# engine_fetchpage in __spark_entry__.py): the full Solr response
# page — ranked BM25 top-50 joined back to the stored fields
# (fl=lang,source). Same scoring CTEs as SQL_Q24; the highlight
# column is snippet assembly with no SQL analog and is covered by the
# serving-parity pytest instead.
SQL_Q54 = SQL_Q24.replace(
    "SELECT rank, doc_id, score FROM ranked WHERE rank <= 50",
    """SELECT r.rank, r.doc_id, r.score, d.lang, d.source
FROM ranked r JOIN documents d USING (doc_id) WHERE r.rank <= 50""",
)


# MoreLikeThis oracle (engine twin: plans/mlt.more_like_this_doc —
# engine_mlt in __spark_entry__.py). Lucene MLT in two stages, both
# replayed in SQL: (1) interesting-term selection over the seed doc
# (doc_id=3): terms passing min_tf=1 / min_df=2 ranked by
# tf_seed×idf (idf = the engine's BM25 idf), top-10 by
# (score desc, term asc), each kept term boosted by score/best;
# (2) execution: the boosted SHOULD query scored BM25 over the whole
# corpus — contrib = boost × idf × (k1+1)tf / (tf + k1(1-b+b·dl/avgdl))
# summed in sorted-term order — seed doc excluded, round 4, rank.
SQL_Q55 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
idf AS (
  SELECT term, df,
         ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - df + 0.5)
                  / (df + 0.5)) AS idf
  FROM dfreq),
seed AS (
  SELECT t.term, i.idf, CAST(t.tf AS DOUBLE) * i.idf AS sel_score
  FROM toks t JOIN idf i USING (term)
  WHERE t.doc_id = 3 AND t.tf >= 1 AND i.df >= 2),
picked AS (
  SELECT term, idf, sel_score,
         row_number() OVER (ORDER BY sel_score DESC, term ASC) AS sel_rank
  FROM seed),
boosted AS (
  SELECT term, idf,
         sel_score / (SELECT max(sel_score) FROM picked WHERE sel_rank <= 10)
           AS boost
  FROM picked WHERE sel_rank <= 10),
contribs AS (
  SELECT t.doc_id, t.term,
         b.boost * b.idf * 2.2 * t.tf
           / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats)))
           AS contrib
  FROM toks t JOIN boosted b USING (term) JOIN dl USING (doc_id)
  WHERE t.doc_id <> 3),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Boost/function-query oracle (engine twin: bm25.search_boosted —
# engine_boost in __spark_entry__.py). Solr edismax bf= additive
# boost: BM25('data query spark') + ln(1 + n_chars) per doc, rounded
# to 4 then ranked — a below-top-k doc can rise after boosting, so
# the engine must score untruncated before combining.
SQL_Q51 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT c.doc_id,
         round(sum(c.contrib ORDER BY c.term) + ln(1.0 + any_value(d.n_chars)), 4) AS score
  FROM contribs c JOIN documents d USING (doc_id)
  GROUP BY c.doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Spellcheck/suggester oracle (engine twin: bm25.suggest_terms —
# engine_suggest in __spark_entry__.py). Solr DirectSolrSpellChecker:
# vocabulary terms within 2 edits of the misspelled 'sot' sharing
# its first char, ranked by document frequency (popularity) then
# term; df = distinct docs containing the term.
SQL_Q49 = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY term
)
SELECT term, df FROM df
WHERE term LIKE 's%' AND term <> 'sot'
  AND length(term) BETWEEN 1 AND 5
  AND levenshtein(term, 'sot') <= 2
ORDER BY df DESC, term ASC LIMIT 5
"""


# StatsComponent oracle (engine twin: facets.stats_field —
# engine_stats in __spark_entry__.py). Solr stats.field=n_chars over
# docs matching ('data' OR 'query') restricted by fq='spark':
# count/min/max/sum/mean/sample-stddev, floats rounded to 4 (the
# cross-engine float discipline).
SQL_Q50 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), m AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data','query')
  INTERSECT
  SELECT doc_id FROM toks WHERE term = 'spark'
), j AS (
  SELECT d.n_chars AS value FROM documents d JOIN m USING (doc_id))
SELECT CAST(count(value) AS BIGINT) AS n,
       min(value) AS min, max(value) AS max,
       round(CAST(sum(value) AS DOUBLE), 4) AS sum,
       round(avg(value), 4) AS mean,
       round(stddev_samp(value), 4) AS stddev
FROM j
"""


# eDisMax oracle (engine twin: plans.dismax.search_dismax over a
# two-field index — 'text' plus a derived 'title' = the first 8
# tokens — with qf title^2 text, tie=0.3, mm=2; engine_dismax in
# __spark_entry__.py). Semantics under test: per-word
# DisjunctionMaxQuery across fields (max + tie×rest, per-field idf,
# dl and avgdl), qf boosts, and minimum-should-match gating.
# Scores round to 4 BEFORE ranking.
SQL_Q46 = """
WITH tf AS (
  SELECT 'text' AS field, doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
  UNION ALL
  SELECT 'title', doc_id, t.term, count(*)
  FROM documents,
       unnest(list_slice(string_split(lower(text), ' '), 1, 8)) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT field, doc_id, sum(tf) AS dl FROM tf GROUP BY field, doc_id),
stats AS (
  SELECT field, CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl GROUP BY field),
qt AS (SELECT * FROM tf WHERE term IN ('data','query','spark')),
idf AS (
  SELECT field, term,
         ln(1.0 + (CAST((SELECT count(*) FROM documents) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY field, term),
contrib AS (
  SELECT qt.doc_id, qt.term,
         (CASE qt.field WHEN 'title' THEN 2.0 ELSE 1.0 END)
           * idf.idf * 2.2 * qt.tf
           / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS c
  FROM qt
  JOIN idf ON idf.field = qt.field AND idf.term = qt.term
  JOIN dl ON dl.field = qt.field AND dl.doc_id = qt.doc_id
  JOIN stats s ON s.field = qt.field),
word AS (
  SELECT doc_id, term, max(c) + 0.3 * (sum(c) - max(c)) AS ws
  FROM contrib GROUP BY doc_id, term),
scored AS (
  SELECT doc_id, round(sum(ws ORDER BY term), 4) AS score
  FROM word GROUP BY doc_id HAVING count(*) >= 2),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


def q36_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): deterministic
    token-budget pack assignment for every document, contiguous in
    doc_id order within each source shard — the dataset-assembly step
    of an LLM pretraining pipeline. One shard-partitioned window
    (cumulative token sum), no global ordering."""
    from golr_loader_spark.operators.textstats import pack_sequences

    d = load(spark, sf, "documents")
    return pack_sequences(d, budget=2000, shard_col="source")


SQL_Q36B = """
WITH toks AS (
  SELECT doc_id, source AS shard,
         CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS c
  FROM toks)
SELECT doc_id, shard, n_tokens,
       shard || '/' || CAST(CAST(floor((c - n_tokens) / 2000.0) AS BIGINT) AS VARCHAR) AS pack_id
FROM cum
"""



def q38_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII scrubbing (the pre-training privacy pass): per-doc counts
    of email / IPv4 / phone spans + typed-token redaction. The corpus
    is synthetic and PII-free, so the query deterministically injects
    doc_id-derived PII into every third doc first — the oracle builds
    the identical text, so the regex semantics (Java vs RE2 common
    subset) are what's actually under test. Zero-shuffle scan→project
    plan (operators/textstats.pii_scrub)."""
    from golr_loader_spark.operators.textstats import pii_scrub

    d = load(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 call 555-123-4567 end"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = pii_scrub(injected, "doc_id", "text")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        "redacted",
    )


SQL_Q38B = """
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com at 10.0.'
                   || CAST(doc_id % 256 AS VARCHAR)
                   || '.7 call 555-123-4567 end'
              ELSE text END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS BIGINT) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS redacted
FROM inj
"""


def q39_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-weighted subsampling (the CCNet/RefinedWeb curation
    pass): long docs keep at 0.8, short at 0.3, membership decided by
    a deterministic multiplicative hash of doc_id — reproducible
    across runs/engines/partitionings, zero shuffles
    (textstats.weighted_sample)."""
    from golr_loader_spark.operators.textstats import weighted_sample

    d = load(spark, sf, "documents").select("doc_id", "n_chars")
    rate = F.when(F.col("n_chars") >= 500, F.lit(0.8)).otherwise(F.lit(0.3))
    out = weighted_sample(d.withColumn("rate", rate), "doc_id", F.col("rate"))
    return out.select("doc_id", "n_chars", "rate")


SQL_Q39B = """
SELECT doc_id, n_chars,
       CAST(CASE WHEN n_chars >= 500 THEN 0.8 ELSE 0.3 END AS DOUBLE) AS rate
FROM documents
WHERE (doc_id * 2654435761) % 4294967296 / 4294967296.0
      < CASE WHEN n_chars >= 500 THEN 0.8 ELSE 0.3 END
"""


def q40_significant_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Significant terms (Solr SignificantTermsQParser / ES
    significant_terms): the terms overrepresented in the docs matching
    'data AND query' relative to the whole corpus, ranked by lift
    (fg rate / bg rate); the query's own terms excluded
    (textstats.significant_terms)."""
    from golr_loader_spark.operators.textstats import significant_terms

    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).distinct()
    fg = (
        toks.filter(F.col("t").isin(["data", "query"]))
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") == 2)
        .select("doc_id")
    )
    return significant_terms(
        d, fg, "doc_id", "text", k=20, min_fg=3,
        exclude=["data", "query"],
    )


SQL_Q40B = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
fg AS (
  SELECT doc_id FROM toks WHERE term IN ('data','query')
  GROUP BY doc_id HAVING count(*) = 2),
n AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT count(*) FROM fg) AS DOUBLE) AS fg_n),
bg AS (SELECT term, count(*) AS bg_df FROM toks GROUP BY term),
fgc AS (
  SELECT term, count(*) AS fg_df
  FROM toks JOIN fg USING (doc_id) GROUP BY term),
scored AS (
  SELECT f.term, CAST(f.fg_df AS BIGINT) AS fg_df,
         CAST(b.bg_df AS BIGINT) AS bg_df,
         round((f.fg_df / (SELECT fg_n FROM n))
               / (b.bg_df / (SELECT n_docs FROM n)), 4) AS lift
  FROM fgc f JOIN bg b USING (term)
  WHERE f.fg_df >= 3 AND f.term NOT IN ('data','query'))
SELECT term, fg_df, bg_df, lift FROM scored
ORDER BY lift DESC, fg_df DESC, term ASC
LIMIT 20
"""


def q37_exact_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021 EXACTSUBSTR
    dedup): every 10-token window occurring >= 2x in the corpus marks
    its non-canonical occurrences; per-doc overlapping windows merge
    into maximal spans. Keep-first policy; hash groupBy replaces the
    paper's global suffix array (SURVEY.md training-data ops)."""
    from golr_loader_spark.operators.dedup import exact_substring_spans

    d = load(spark, sf, "documents")
    return exact_substring_spans(d, "doc_id", "text", k=10)


SQL_Q37B = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
win AS (
  SELECT doc_id, i - 1 AS pos,
         CAST(CONCAT('0x', SUBSTR(md5(array_to_string(ts[i:i+9], ' ')),1,15))
           AS BIGINT) AS whash
  FROM toks, unnest(generate_series(1, len(ts) - 9)) AS g(i)),
duph AS (
  SELECT whash, min(struct_pack(id := doc_id, pos := pos)) AS fo
  FROM win GROUP BY whash HAVING count(*) >= 2),
dup AS (
  SELECT doc_id, pos FROM win JOIN duph USING (whash)
  WHERE NOT (doc_id = fo.id AND pos = fo.pos)),
marked AS (
  SELECT doc_id, pos, pos + 10 AS e,
         max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_end
  FROM dup),
grp AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN prev_max_end IS NULL OR pos > prev_max_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS span_id
  FROM marked)
SELECT doc_id, min(pos) AS span_start, max(e) AS span_end,
       max(e) - min(pos) AS span_tokens
FROM grp GROUP BY doc_id, span_id
"""

# Analysis-chain oracle (engine twin: engine_chain in
# __spark_entry__.py). Replays the whole Solr-style chain in SQL, in
# the engine's exact filter order (functions/analysis.py): tokenize →
# stopwords('the','a') on the RAW token → minimal-english stem
# (STEM_SQL, the rule-for-rule twin of stem_minimal_english) →
# index-time synonym injection (big≡large, fast≡quick — each kept
# occurrence also emits its group-mates, and the injected rows COUNT
# toward dl, the documented divergence from Lucene discountOverlaps)
# → the SQL_Q24 BM25 discipline for the analyzed query
# {query, large, fast} ('queries large the fast' after the chain).
_STEM_T = _STEM_SQL.format(t="t.term")

SQL_Q56 = f"""
WITH filt AS (
  SELECT doc_id, {_STEM_T} AS term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term NOT IN ('the', 'a')),
syn AS (
  SELECT doc_id, term FROM filt
  UNION ALL
  SELECT f.doc_id, s.mate
  FROM filt f JOIN (VALUES ('big','large'), ('large','big'),
                           ('fast','quick'), ('quick','fast'))
       AS s(term, mate) ON f.term = s.term),
toks AS (SELECT doc_id, term, count(*) AS tf FROM syn GROUP BY doc_id, term),
dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('query', 'large', 'fast')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE)
                         - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl
           / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 50
"""


# TermsComponent oracle (engine twin: bm25.terms_enum — engine_terms
# in __spark_entry__.py). df = number of docs containing the term
# (the term dictionary's df), prefix 's', Solr count sort.
SQL_Q57 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term)
SELECT term, CAST(df AS BIGINT) AS df
FROM dfreq WHERE term LIKE 's%'
ORDER BY df DESC, term ASC LIMIT 10
"""


# TermVectorComponent oracle (engine twin: bm25.term_vector —
# engine_tvec in __spark_entry__.py): (term, tf, df) of doc 3,
# term-sorted; df over the whole corpus.
SQL_Q58 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term),
dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term)
SELECT t.term, CAST(t.tf AS INT) AS tf, CAST(d.df AS BIGINT) AS df
FROM toks t JOIN dfreq d USING (term)
WHERE t.doc_id = 3
ORDER BY t.term ASC
"""


# Solr {!join} oracle (engine twin: facets.join_query — engine_join
# in __spark_entry__.py): docs matching ALL 8 subquery terms
# contribute their n_chars value; result = every doc sharing one of
# those values (from=n_chars to=n_chars, ScoreMode.None).
SQL_Q59 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
m AS (
  SELECT doc_id FROM toks
  WHERE term IN ('agg','merge','scan','spark','stream','value',
                 'vector','window')
  GROUP BY doc_id HAVING count(*) = 8),
v AS (SELECT DISTINCT n_chars FROM documents JOIN m USING (doc_id))
SELECT d.doc_id FROM documents d JOIN v USING (n_chars)
ORDER BY d.doc_id
"""


# Oracle for the engine's wildcard query (bm25.search_wildcard —
# engine_wildcard in __spark_entry__.py): Lucene WildcardQuery under
# the SCORING_BOOLEAN rewrite — every vocabulary term matching the
# pattern 's?a*' (SQL LIKE 's_a%': ? = _, * = %) joins the
# disjunction with its own idf weight; per-doc score folds in term
# order (single field ⇒ the module's (field, term) order).
SQL_Q60 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term LIKE 's_a%'),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
scored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's ReRank query (rerank.rerank_search —
# engine_rerank in __spark_entry__.py): Solr ReRankQParserPlugin /
# Lucene ReRankCollector — first pass scores 'data query spark'
# disjunctively, the top-15 block re-sorts by s1 + 2*s2 (second pass:
# 'sort scan'), the tail keeps first-pass order after the block.
# Scores on both sides are the bit-identical term-ordered BM25 sums,
# so the combine (one multiply + add) is bit-identical too;
# round-to-4 is display-only, rank comes from the block ordering.
SQL_Q61 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt1 AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf1 AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt1 GROUP BY term),
s1 AS (
  SELECT qt1.doc_id,
         sum(idf1.idf * 2.2 * qt1.tf / (qt1.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt1.term) AS s1
  FROM qt1 JOIN idf1 USING (term) JOIN dl USING (doc_id)
  GROUP BY qt1.doc_id),
qt2 AS (SELECT * FROM toks WHERE term IN ('sort','scan')),
idf2 AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt2 GROUP BY term),
s2 AS (
  SELECT qt2.doc_id,
         sum(idf2.idf * 2.2 * qt2.tf / (qt2.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt2.term) AS s2
  FROM qt2 JOIN idf2 USING (term) JOIN dl USING (doc_id)
  GROUP BY qt2.doc_id),
ranked1 AS (
  SELECT doc_id, s1, row_number() OVER (ORDER BY s1 DESC, doc_id ASC) AS r1
  FROM s1),
blk AS (
  SELECT r.doc_id, r.s1 + 2.0 * coalesce(s2.s2, 0.0) AS comb
  FROM ranked1 r LEFT JOIN s2 USING (doc_id) WHERE r.r1 <= 15),
ordered AS (
  SELECT doc_id, comb, 0 AS blk,
         row_number() OVER (ORDER BY comb DESC, doc_id ASC) AS pos
  FROM blk
  UNION ALL
  SELECT doc_id, s1 AS comb, 1 AS blk, r1 AS pos
  FROM ranked1 WHERE r1 > 15),
final AS (
  SELECT doc_id, round(comb, 4) AS score,
         row_number() OVER (ORDER BY blk, pos) AS rank
  FROM ordered)
SELECT rank, doc_id, score FROM final WHERE rank <= 25
"""


# Oracle for the engine's JSON Facet API request (jsonfacet.json_facet
# — engine_jsonfacet in __spark_entry__.py): terms facet over lang
# (top-5 by count desc, value asc) carrying sum(n_chars) and
# unique(source) aggregations plus a nested top-3 source terms
# sub-facet, over the decode-only match set of 'data query spark'.
# Flattened to one row per (lang, nested source).
SQL_Q62 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ('data','query','spark')),
d AS (
  SELECT doc_id, lang, source, n_chars
  FROM documents JOIN m USING (doc_id)),
lb AS (
  SELECT lang, count(*) AS lang_count,
         CAST(sum(n_chars) AS DOUBLE) AS sum_chars,
         count(DISTINCT source) AS sources
  FROM d GROUP BY lang),
lt AS (
  SELECT *, row_number() OVER (ORDER BY lang_count DESC, lang ASC) AS lr
  FROM lb),
sb AS (
  SELECT lang, source, count(*) AS source_count
  FROM d GROUP BY lang, source),
st AS (
  SELECT *, row_number() OVER (
    PARTITION BY lang ORDER BY source_count DESC, source ASC) AS sr
  FROM sb)
SELECT t.lang, t.lang_count, t.sum_chars, t.sources,
       s.source, s.source_count
FROM lt t JOIN st s USING (lang)
WHERE t.lr <= 5 AND s.sr <= 3
ORDER BY t.lr, s.sr
"""


# Oracle for the engine's block join (blockjoin.block_join_parent —
# engine_blockjoin in __spark_entry__.py): Solr {!parent
# which=parentdoc score=total}'data query spark' over a corpus where
# one synthesized parent doc per source carries the marker token
# 'parentdoc' and block = source. Child BM25 scores fold per block in
# doc_id order (bit-identical to the engine's array_sort fold);
# parents are excluded from child scoring by Lucene's rule.
SQL_Q63 = """
WITH base AS (SELECT doc_id, lower(text) AS text, source FROM documents),
parents AS (
  SELECT (SELECT max(doc_id) FROM documents)
         + row_number() OVER (ORDER BY source) AS doc_id,
         'parentdoc' AS text, source
  FROM (SELECT DISTINCT source FROM documents)),
uni AS (SELECT * FROM base UNION ALL SELECT * FROM parents),
toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM uni, unnest(string_split(text, ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM uni) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM uni) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
scored AS (
  SELECT qt.doc_id,
         sum(idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt.term) AS score
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)
  GROUP BY qt.doc_id),
pdocs AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'parentdoc'),
kids AS (
  SELECT s.doc_id, s.score, u.source
  FROM scored s JOIN uni u USING (doc_id)
  WHERE s.doc_id NOT IN (SELECT doc_id FROM pdocs)),
per_block AS (
  SELECT source, sum(score ORDER BY doc_id) AS total
  FROM kids GROUP BY source),
out AS (
  SELECT p.doc_id, round(pb.total, 4) AS score
  FROM parents p JOIN per_block pb USING (source)),
ranked AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM out)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 10
"""


# Oracle for the engine's spellcheck collation (bm25.collate —
# engine_collate in __spark_entry__.py): Solr SpellCheckCollator for
# q='datx quary spark' — per-word corrections (kept at rank 0 when
# the word is in the dictionary; else top-3 by df desc, term asc,
# levenshtein<=2, first char shared), collations tried in
# (rank-sum, string) order capped at 10, each verified with a
# conjunctive hit count, first 3 hit-producing returned.
SQL_Q64 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
dict AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
c1 AS (
  SELECT 'datx' AS term, 0 AS rnk
  WHERE EXISTS (SELECT 1 FROM dict WHERE term = 'datx')
  UNION ALL
  SELECT term, rnk FROM (
    SELECT d.term, row_number() OVER (ORDER BY d.df DESC, d.term ASC) AS rnk
    FROM dict d
    WHERE NOT EXISTS (SELECT 1 FROM dict WHERE term = 'datx')
      AND d.term <> 'datx' AND substr(d.term, 1, 1) = 'd'
      AND levenshtein(d.term, 'datx') <= 2) WHERE rnk <= 3),
c2 AS (
  SELECT 'quary' AS term, 0 AS rnk
  WHERE EXISTS (SELECT 1 FROM dict WHERE term = 'quary')
  UNION ALL
  SELECT term, rnk FROM (
    SELECT d.term, row_number() OVER (ORDER BY d.df DESC, d.term ASC) AS rnk
    FROM dict d
    WHERE NOT EXISTS (SELECT 1 FROM dict WHERE term = 'quary')
      AND d.term <> 'quary' AND substr(d.term, 1, 1) = 'q'
      AND levenshtein(d.term, 'quary') <= 2) WHERE rnk <= 3),
c3 AS (
  SELECT 'spark' AS term, 0 AS rnk
  WHERE EXISTS (SELECT 1 FROM dict WHERE term = 'spark')
  UNION ALL
  SELECT term, rnk FROM (
    SELECT d.term, row_number() OVER (ORDER BY d.df DESC, d.term ASC) AS rnk
    FROM dict d
    WHERE NOT EXISTS (SELECT 1 FROM dict WHERE term = 'spark')
      AND d.term <> 'spark' AND substr(d.term, 1, 1) = 's'
      AND levenshtein(d.term, 'spark') <= 2) WHERE rnk <= 3),
combos AS (
  SELECT c1.term AS t1, c2.term AS t2, c3.term AS t3,
         c1.rnk + c2.rnk + c3.rnk AS trank,
         c1.term || ' ' || c2.term || ' ' || c3.term AS coll
  FROM c1, c2, c3),
tries AS (
  SELECT *, row_number() OVER (ORDER BY trank, coll) AS tord
  FROM combos),
verified AS (
  SELECT l.coll, l.tord, count(*) AS hits
  FROM (SELECT * FROM tries WHERE tord <= 10) l
  JOIN toks a ON a.term = l.t1
  JOIN toks b ON b.term = l.t2 AND b.doc_id = a.doc_id
  JOIN toks c ON c.term = l.t3 AND c.doc_id = a.doc_id
  GROUP BY l.coll, l.tord),
fin AS (
  SELECT coll, hits, row_number() OVER (ORDER BY tord) AS k
  FROM verified WHERE hits > 0)
SELECT coll AS collation, CAST(hits AS BIGINT) AS hits FROM fin WHERE k <= 3
"""


# Oracle for the engine's query elevation (lucene.search_elevated —
# engine_elevate in __spark_entry__.py): Solr QueryElevationComponent
# for q='data query spark' with elevate=[7, 3], exclude=[1] — pinned
# docs first in elevation order (organic score when they match, 0.0
# otherwise), excluded gone, organic (score desc, doc_id) tail.
SQL_Q65 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
scored AS (
  SELECT qt.doc_id,
         sum(idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt.term) AS score
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)
  GROUP BY qt.doc_id),
pinned AS (
  SELECT 1 AS ord, CAST(7 AS BIGINT) AS doc_id
  UNION ALL SELECT 2, CAST(3 AS BIGINT)),
pinned_scored AS (
  SELECT p.ord, p.doc_id, round(coalesce(s.score, 0.0), 4) AS score
  FROM pinned p LEFT JOIN scored s USING (doc_id)),
tail AS (
  SELECT doc_id, round(score, 4) AS score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS tord
  FROM scored WHERE doc_id NOT IN (7, 3, 1)),
final AS (
  SELECT doc_id, score, ord AS pos, 0 AS blk FROM pinned_scored
  UNION ALL
  SELECT doc_id, score, tord AS pos, 1 AS blk FROM tail),
ranked AS (
  SELECT doc_id, score, row_number() OVER (ORDER BY blk, pos) AS rank
  FROM final)
SELECT rank, doc_id, score FROM ranked WHERE rank <= 20
"""


# Oracle for the engine's /export handler (facets.export_matches —
# engine_export in __spark_entry__.py): the COMPLETE 'data query'
# conjunctive match set sorted by (n_chars desc, doc_id asc) — no
# top-k; rank proves the full-stream ordering.
SQL_Q66 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
m AS (
  SELECT doc_id FROM toks WHERE term IN ('data','query')
  GROUP BY doc_id HAVING count(*) = 2),
j AS (
  SELECT d.doc_id, d.n_chars
  FROM documents d JOIN m USING (doc_id))
SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rank,
       doc_id, n_chars
FROM j
"""


# Oracle for the engine's multi-select faceting
# (facets.facet_counts_multiselect — engine_mselect in
# __spark_entry__.py): Solr {!tag}/{!ex} — q='data query spark' with
# tagged fqs {scanfq: 'scan', sortfq: 'sort'}; the lang facet
# excludes scanfq (counts over base ∩ sort-matches), the source facet
# excludes sortfq (base ∩ scan-matches). Counts (n desc, value asc),
# top 10, mincount 1, flattened to (facet, value, n).
SQL_Q67 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
base AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ('data','query','spark')),
s_scan AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'scan'),
s_sort AS (SELECT DISTINCT doc_id FROM toks WHERE term = 'sort'),
lang_counts AS (
  SELECT 'lang' AS facet, d.lang AS value, count(*) AS n
  FROM documents d
  JOIN base USING (doc_id) JOIN s_sort USING (doc_id)
  GROUP BY d.lang),
src_counts AS (
  SELECT 'source' AS facet, d.source AS value, count(*) AS n
  FROM documents d
  JOIN base USING (doc_id) JOIN s_scan USING (doc_id)
  GROUP BY d.source),
uni AS (
  SELECT *, row_number() OVER (
    PARTITION BY facet ORDER BY n DESC, value ASC) AS r
  FROM (SELECT * FROM lang_counts UNION ALL SELECT * FROM src_counts)
  WHERE n >= 1)
SELECT facet, value, CAST(n AS BIGINT) AS n FROM uni WHERE r <= 10
"""


def q41_semdedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup over the
    embeddings table — cluster by argmax cosine against the first-8
    centroid vectors, then mark within-cluster near-duplicates
    (cosine ≥ 0.97, keep-lowest-id). The cluster blocks the pair
    join; assignment is zero-shuffle (operators.similarity.semdedup)."""
    e = load(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return sim.semdedup(e, n_clusters=8, tau=0.97)


# SemDeDup oracle: same centroid choice (first 8 vectors by vec_id,
# cid = vec_id rank - 1), same round-to-4-then-compare discipline on
# BOTH the argmax assignment (ties to lowest cid) and the tau
# threshold, same keep-lowest-id dup rule.
SQL_Q41B = f"""
WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, e AS c
  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT 8)
), assign0 AS (
  SELECT emb.vec_id, cent.cid,
         round({_SQL_DOT.format(a='emb.e', b='cent.c')} /
               (sqrt({_SQL_DOT.format(a='emb.e', b='emb.e')}) *
                sqrt({_SQL_DOT.format(a='cent.c', b='cent.c')})), 4) AS cos
  FROM emb CROSS JOIN cent
), assign AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
    FROM assign0)
  WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM assign a
  JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN emb ea ON ea.vec_id = a.vec_id
  JOIN emb eb ON eb.vec_id = b.vec_id
  WHERE round({_SQL_DOT.format(a='ea.e', b='eb.e')} /
              (sqrt({_SQL_DOT.format(a='ea.e', b='ea.e')}) *
               sqrt({_SQL_DOT.format(a='eb.e', b='eb.e')})), 4) >= 0.97
)
SELECT emb.vec_id, assign.cluster,
       (emb.vec_id IN (SELECT vec_id FROM dups)) AS is_dup
FROM emb JOIN assign USING (vec_id)
ORDER BY vec_id
"""


def q42_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Perplexity-proxy quality scoring (CCNet pattern): avg bigram
    log-probability of each doc under a corpus-level additive-smoothed
    bigram LM (textstats.bigram_logprob) — the low tail is the
    unusual/garbled text a CCNet-style filter cuts."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    return ts.bigram_logprob(d)


# Bigram-LM oracle: identical counts (bigram, first-element, vocab),
# identical smoothing arithmetic, round-to-6 on the avg natural log.
SQL_Q42B = """
WITH tokp AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), bg AS (
  SELECT a.doc_id AS id, a.term AS w1, b.term AS w2
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM bg GROUP BY w1
), v AS (SELECT count(DISTINCT term) AS v FROM tokp)
SELECT id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((c12.c12 + 0.5) / (c1.c1 + 0.5 * (SELECT v FROM v)))), 6)
         AS avg_logprob
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
GROUP BY id ORDER BY id
"""


def q43_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher + C4 heuristic quality-rule features (Rae et al. 2021
    A1.1; Raffel et al. 2020 §2.2) — word/line-shape features and the
    combined pass flags, one pure-Catalyst projection over documents
    (textstats.gopher_rules). Zero shuffles; used as a predicate the
    flags push to the scan."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    return ts.gopher_rules(d, "doc_id", "text").orderBy("id")


# Gopher/C4 oracle: same splits (tokens on ' ', lines on \n), same
# occurrence counting via replace()/regexp, same thresholds; list
# lambdas replay the Catalyst filter() predicates verbatim.
SQL_Q43B = """
WITH f AS (
  SELECT doc_id AS id, text,
         len(string_split(text, ' ')) AS n_words,
         len(string_split(text, chr(10))) AS n_lines,
         length(text) - length(replace(text, '#', '')) AS hash_n,
         (length(text) - length(replace(text, '...', ''))) / 3 AS ell_n,
         len(list_filter(string_split(text, chr(10)),
             x -> x LIKE '- %' OR x LIKE '* %' OR x LIKE '• %')) AS bullet_n,
         len(list_filter(string_split(text, chr(10)),
             x -> x LIKE '%...')) AS ell_line_n,
         len(list_filter(string_split(text, chr(10)),
             x -> x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?'
               OR x LIKE '%"')) AS tp_n,
         len(list_filter(string_split(text, ' '),
             t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha_n,
         len(list_filter(
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
             s -> list_contains(string_split(lower(text), ' '), s)))
           AS n_stop,
         length(text)
           - length(regexp_replace(text, '[.!?]', '', 'g')) AS sent_n,
         CAST(lower(text) LIKE '%lorem ipsum%' AS INT) AS has_lorem
  FROM documents
), g AS (
  SELECT id, n_words,
         (length(text) - n_words + 1) / n_words AS mean_wl,
         (hash_n + ell_n) / n_words AS symbol_ratio,
         bullet_n / n_lines AS bullet_frac,
         ell_line_n / n_lines AS ell_line_frac,
         alpha_n / n_words AS alpha_frac,
         n_stop, tp_n / n_lines AS tp_frac, sent_n, has_lorem
  FROM f
)
SELECT id, CAST(n_words AS BIGINT) AS n_words,
       round(mean_wl, 6) AS mean_word_len,
       round(symbol_ratio, 6) AS symbol_ratio,
       round(bullet_frac, 6) AS bullet_line_frac,
       round(ell_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_frac, 6) AS alpha_word_frac,
       CAST(n_stop AS BIGINT) AS n_stop_hits,
       round(tp_frac, 6) AS term_punct_line_frac,
       CAST(sent_n AS BIGINT) AS n_sentences,
       has_lorem,
       CAST(n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3 AND mean_wl <= 10
            AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
            AND ell_line_frac <= 0.3 AND alpha_frac >= 0.8
            AND n_stop >= 2 AS INT) AS gopher_pass,
       CAST(sent_n >= 3 AND has_lorem = 0 AS INT) AS c4_pass
FROM g ORDER BY id
"""


def q44_dsir_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-doc log ratio
    of target-domain vs raw-corpus n-gram LM likelihood
    (textstats.dsir_weights) — the published data-selection pattern;
    target domain here = the English slice of the corpus."""
    d = load(spark, sf, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_target")
    )
    return ts.dsir_weights(d)


# DSIR oracle: identical unigram+bigram features, identical raw/
# target count tables and smoothing arithmetic, round-to-6 on the
# summed log ratio.
SQL_Q44B = """
WITH base AS (
  SELECT doc_id, lower(text) AS txt, CAST(lang = 'en' AS INT) AS t
  FROM documents
), tokp AS (
  SELECT doc_id, t, unnest(string_split(txt, ' ')) AS f,
         generate_subscripts(string_split(txt, ' '), 1) AS pos
  FROM base
), bg AS (
  SELECT a.doc_id, a.t, a.f || ' ' || b.f AS f
  FROM tokp a JOIN tokp b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), fx AS (
  SELECT doc_id, t, f FROM tokp
  UNION ALL
  SELECT doc_id, t, f FROM bg
), doc_c AS (
  SELECT doc_id AS id, f, count(*) AS cdoc FROM fx GROUP BY 1, 2
), raw_c AS (
  SELECT f, count(*) AS cr FROM fx GROUP BY f
), tgt_c AS (
  SELECT f, count(*) AS ct FROM fx WHERE t = 1 GROUP BY f
), dims AS (
  SELECT (SELECT sum(cr) FROM raw_c) AS nr,
         (SELECT count(*) FROM raw_c) AS v,
         (SELECT count(*) FROM fx WHERE t = 1) AS nt
)
SELECT id, CAST(sum(cdoc) AS BIGINT) AS n_feats,
       round(sum(cdoc * (ln((coalesce(ct, 0) + 0.5) / (nt + 0.5 * v))
                         - ln((cr + 0.5) / (nr + 0.5 * v)))), 6)
         AS log_weight
FROM doc_c JOIN raw_c USING (f) LEFT JOIN tgt_c USING (f), dims
GROUP BY id ORDER BY id
"""


def q45_hybrid_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.
    2009): the BM25 lexical top-50 (q24 arm) fused with the exact
    cosine top-50 around query vector 0 (q20 arm) by
    similarity.rrf_fuse — the standard lexical+vector combiner;
    fusion cost is O(k), independent of corpus size."""
    lex = q24_bm25_topk(spark, sf).select("doc_id", "rank")
    e = load(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    vec = sim.cosine_topk(e, [0], k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return sim.rrf_fuse([lex, vec], top=10).select(
        F.col("id").alias("doc_id"),
        F.col("r0").alias("lex_rank"),
        F.col("r1").alias("vec_rank"),
        "rrf_score",
    )


# RRF oracle: the SQL_Q24 BM25 CTEs + the SQL_Q20 cosine CTEs (query
# vector 0, k=50 each), full-outer joined; score = sum of 1/(60+rank)
# per present arm (binary add, same order as the Spark expression);
# top-10 by unrounded score desc, doc_id asc; round-to-6 on output.
SQL_Q45B = f"""
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt GROUP BY term),
contribs AS (
  SELECT qt.doc_id, qt.term,
         idf.idf * 2.2 * qt.tf / (qt.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) AS contrib
  FROM qt JOIN idf USING (term) JOIN dl USING (doc_id)),
lscored AS (
  SELECT doc_id, round(sum(contrib ORDER BY term), 4) AS score
  FROM contribs GROUP BY doc_id),
lranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM lscored),
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), q AS (
  SELECT e AS qvec FROM emb WHERE vec_id = 0
), vscored AS (
  SELECT emb.vec_id AS doc_id,
         round({_SQL_DOT.format(a='emb.e', b='q.qvec')} /
               (sqrt({_SQL_DOT.format(a='emb.e', b='emb.e')}) *
                sqrt({_SQL_DOT.format(a='q.qvec', b='q.qvec')})), 6) AS cos_sim
  FROM emb CROSS JOIN q WHERE emb.vec_id <> 0
), vranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank
  FROM vscored),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.rank AS lex_rank, v.rank AS vec_rank,
         coalesce(1.0 / (60 + l.rank), 0.0)
           + coalesce(1.0 / (60 + v.rank), 0.0) AS s
  FROM (SELECT * FROM lranked WHERE rank <= 50) l
  FULL OUTER JOIN (SELECT * FROM vranked WHERE rank <= 50) v
    ON v.doc_id = l.doc_id
)
SELECT doc_id, lex_rank, vec_rank, round(s, 6) AS rrf_score
FROM fused ORDER BY s DESC, doc_id ASC LIMIT 10
"""


# Solr facet.query oracle (engine twin: facets.facet_query_counts —
# engine_qfacet in __spark_entry__.py). q = 'data' OR 'query'; three
# facet queries counted within the match set: a bare term ('spark'),
# a boolean ('+spark -engine'), and a positional phrase
# ('"data stream"' — adjacency replayed with the tokp self-join).
# Labels returned sorted, zero counts included.
SQL_Q70 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), tokp AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
), phrase_d AS (
  SELECT DISTINCT a.doc_id
  FROM tokp a JOIN tokp b
    ON b.doc_id = a.doc_id AND b.term = 'stream' AND b.pos = a.pos + 1
  WHERE a.term = 'data'
), spark_d AS (SELECT doc_id FROM toks WHERE term = 'spark'),
engine_d AS (SELECT doc_id FROM toks WHERE term = 'engine')
SELECT label, n FROM (
  SELECT 'has_spark' AS label, CAST(count(*) AS BIGINT) AS n
  FROM matched WHERE doc_id IN (SELECT doc_id FROM spark_d)
  UNION ALL
  SELECT 'phrase_ds', CAST(count(*) AS BIGINT)
  FROM matched WHERE doc_id IN (SELECT doc_id FROM phrase_d)
  UNION ALL
  SELECT 'spark_not_engine', CAST(count(*) AS BIGINT)
  FROM matched WHERE doc_id IN (SELECT doc_id FROM spark_d)
    AND doc_id NOT IN (SELECT doc_id FROM engine_d)
) ORDER BY label
"""


# Solr interval facets oracle (engine twin:
# facets.interval_facet_counts — engine_ifacet in __spark_entry__.py).
# q = 'data' OR 'query'; four REQUESTED intervals over n_chars, in
# request order, zero counts included, the last interval OVERLAPPING
# the first two (a doc counts in every interval it satisfies — Solr
# IntervalFacets semantics, unlike range buckets).
SQL_Q71 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), v AS (
  SELECT d.n_chars AS value
  FROM documents d JOIN matched USING (doc_id)
  WHERE d.n_chars IS NOT NULL
)
SELECT pos, "interval", n FROM (
  SELECT 1 AS pos, '[0,200)' AS "interval",
         (SELECT CAST(count(*) AS BIGINT) FROM v
          WHERE value >= 0 AND value < 200) AS n
  UNION ALL
  SELECT 2, '[200,500)',
         (SELECT CAST(count(*) AS BIGINT) FROM v
          WHERE value >= 200 AND value < 500)
  UNION ALL
  SELECT 3, '[500,*]',
         (SELECT CAST(count(*) AS BIGINT) FROM v WHERE value >= 500)
  UNION ALL
  SELECT 4, '(100,300]',
         (SELECT CAST(count(*) AS BIGINT) FROM v
          WHERE value > 100 AND value <= 300)
) ORDER BY pos
"""


# Spatial oracle (engine twin: spatial.geodist_topk — engine_geo in
# __spark_entry__.py). Locations are derived DETERMINISTICALLY from
# doc_id (same modular arithmetic both engines); distance is the
# haversine on Lucene's mean earth radius (6371.0087714 km), rounded
# to 4 BEFORE ranking; ties break by doc_id asc.
SQL_Q72 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), loc AS (
  SELECT doc_id,
         CAST(doc_id * 7919 % 18000 AS DOUBLE) / 100.0 - 90.0 AS lat,
         CAST(doc_id * 104729 % 36000 AS DOUBLE) / 100.0 - 180.0 AS lon
  FROM matched
), dist AS (
  SELECT doc_id,
         round(2.0 * 6371.0087714 * asin(sqrt(
           pow(sin(radians(37.77 - lat) / 2.0), 2)
           + cos(radians(lat)) * cos(radians(37.77))
             * pow(sin(radians(-122.42 - lon) / 2.0), 2)
         )), 4) AS dist_km
  FROM loc
), ranked AS (
  SELECT doc_id, dist_km,
         row_number() OVER (ORDER BY dist_km ASC, doc_id ASC) AS rank
  FROM dist)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, dist_km
FROM ranked WHERE rank <= 20
"""


# Streaming-expression rollup oracle (engine twin:
# stream_expr.compile_stream over a real engine index — engine_stream
# in __spark_entry__.py). rollup(search(q='data query' OR-matched,
# /export semantics), over=lang, count(*), sum(n_chars)) — Solr's
# literal metric field names, buckets in over-field order.
SQL_Q73 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), j AS (
  SELECT d.lang, d.n_chars FROM documents d JOIN matched USING (doc_id)
)
SELECT lang, CAST(count(*) AS BIGINT) AS "count(*)",
       CAST(sum(n_chars) AS DOUBLE) AS "sum(n_chars)"
FROM j GROUP BY lang ORDER BY lang
"""


# Streaming-expression join oracle (engine twin: engine_stream_join):
# top(innerJoin(search(q=data), search(q=spark), on=doc_id), sort=
# doc_id asc, n=20) — the equi-join of two /export match streams,
# right-side duplicate key dropped, bounded by the top decorator.
SQL_Q74 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), m_data AS (
  SELECT DISTINCT doc_id FROM toks WHERE term = 'data'
), m_spark AS (
  SELECT DISTINCT doc_id FROM toks WHERE term = 'spark'
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN m_data USING (doc_id)
JOIN m_spark USING (doc_id)
ORDER BY d.doc_id ASC
LIMIT 20
"""


# Solr LTR oracle (engine twin: ltr.ltr_rerank with a LinearModel —
# engine_ltr in __spark_entry__.py). First pass BM25('data query
# spark'); top-15 block rescored by round(1.0·orig + 0.8·score('sort
# scan') + 0.001·n_chars + 0.5·1.0, 4) — score REPLACED in the block
# (LTR semantics, not {!rerank}'s additive combine) — tail keeps
# first-pass order/score below the block; k=25 exercises both.
SQL_Q75 = """
WITH toks AS (
  SELECT doc_id, t.term, count(*) AS tf
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  GROUP BY doc_id, t.term
), dl AS (SELECT doc_id, sum(tf) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / (SELECT count(*) FROM documents) AS avgdl
  FROM dl),
qt1 AS (SELECT * FROM toks WHERE term IN ('data','query','spark')),
idf1 AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt1 GROUP BY term),
s1 AS (
  SELECT qt1.doc_id,
         sum(idf1.idf * 2.2 * qt1.tf / (qt1.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt1.term) AS s1
  FROM qt1 JOIN idf1 USING (term) JOIN dl USING (doc_id)
  GROUP BY qt1.doc_id),
qt2 AS (SELECT * FROM toks WHERE term IN ('sort','scan')),
idf2 AS (
  SELECT term, ln(1.0 + (CAST((SELECT n_docs FROM stats) AS DOUBLE) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
  FROM qt2 GROUP BY term),
s2 AS (
  SELECT qt2.doc_id,
         sum(idf2.idf * 2.2 * qt2.tf / (qt2.tf + 1.2 * (0.25 + 0.75 * dl.dl / (SELECT avgdl FROM stats))) ORDER BY qt2.term) AS s2
  FROM qt2 JOIN idf2 USING (term) JOIN dl USING (doc_id)
  GROUP BY qt2.doc_id),
ranked1 AS (
  SELECT doc_id, s1, row_number() OVER (ORDER BY s1 DESC, doc_id ASC) AS r1
  FROM s1),
blk AS (
  SELECT r.doc_id,
         round(1.0 * r.s1 + 0.8 * coalesce(s2.s2, 0.0)
               + 0.001 * d.n_chars + 0.5 * 1.0, 4) AS model
  FROM ranked1 r
  LEFT JOIN s2 USING (doc_id)
  JOIN documents d USING (doc_id)
  WHERE r.r1 <= 15),
ordered AS (
  SELECT doc_id, model AS score, 0 AS grp,
         row_number() OVER (ORDER BY model DESC, doc_id ASC) AS pos
  FROM blk
  UNION ALL
  SELECT doc_id, round(s1, 4) AS score, 1 AS grp, r1 AS pos
  FROM ranked1 WHERE r1 > 15),
final AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY grp, pos) AS rank
  FROM ordered)
SELECT CAST(rank AS INTEGER) AS rank, doc_id, score
FROM final WHERE rank <= 25
"""


# Solr graph-traversal streaming expression oracle (engine twin:
# stream_expr nodes()/gatherNodes — engine_nodes in
# __spark_entry__.py). Two-level walk: the 20 lowest custkeys →
# their orders (level 1) → those orders' parts (level 2, leaves
# only). Node ids compare as strings (Solr node ids are strings);
# each hop is DISTINCT (BFS frontier, not paths).
SQL_Q76 = """
WITH roots AS (
  SELECT CAST(c_custkey AS VARCHAR) AS node
  FROM customer ORDER BY c_custkey LIMIT 20
), lvl1 AS (
  SELECT DISTINCT CAST(o_orderkey AS VARCHAR) AS node
  FROM orders JOIN roots ON CAST(o_custkey AS VARCHAR) = roots.node
), lvl2 AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS node
  FROM lineitem JOIN lvl1 ON CAST(l_orderkey AS VARCHAR) = lvl1.node
)
SELECT node, 'l_partkey' AS field, 2 AS level FROM lvl2 ORDER BY node
"""


# Solr JSON Facet percentile agg oracle (engine twin: jsonfacet
# percentile(field,p) — engine_pctl in __spark_entry__.py). Exact
# linear-interpolated percentile (Spark F.percentile == DuckDB
# quantile_cont) instead of Solr's t-digest approximation — the
# deterministic, replayable choice; round-to-4 like sum/avg.
SQL_Q77 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
m AS (
  SELECT DISTINCT doc_id FROM toks
  WHERE term IN ('data','query','spark')),
d AS (
  SELECT doc_id, lang, n_chars FROM documents JOIN m USING (doc_id)),
lb AS (
  SELECT lang, count(*) AS lang_count,
         round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
         round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
         round(avg(n_chars), 4) AS avg_chars
  FROM d GROUP BY lang),
lt AS (
  SELECT *, row_number() OVER (ORDER BY lang_count DESC, lang ASC) AS lr
  FROM lb)
SELECT lang, lang_count, p50_chars, p90_chars, avg_chars
FROM lt WHERE lr <= 5 ORDER BY lr
"""


# Solr timeseries() streaming-expression oracle (engine twin:
# stream_expr._c_timeseries — engine_timeseries in __spark_entry__
# .py): 30 one-day buckets over events.ts, count + sum(value); every
# bucket in range order, empty buckets count 0; epoch arithmetic
# replayed (1704067200 = 2024-01-01T00:00:00Z), make_timestamp keeps
# the label formatting timezone-free.
SQL_Q78 = """
WITH g AS (
  SELECT CAST(t.i AS BIGINT) AS i FROM generate_series(0, 29) AS t(i)
), b AS (
  SELECT CAST(floor((epoch(ts) - 1704067200) / 86400) AS BIGINT) AS i,
         value
  FROM events
  WHERE epoch(ts) >= 1704067200 AND epoch(ts) < 1704067200 + 30 * 86400
), a AS (
  SELECT i, count(*) AS n, sum(value) AS sv FROM b GROUP BY i
)
SELECT strftime(make_timestamp((1704067200 + g.i * 86400) * 1000000),
                '%Y-%m-%dT%H:%M:%SZ') AS dt,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_events,
       round(a.sv, 4) AS sum_value
FROM g LEFT JOIN a ON a.i = g.i ORDER BY g.i
"""


# Solr Parallel SQL oracle (engine twin: plans.sql_handler /
# engine_sql in __spark_entry__.py): the handler's SQL replayed
# directly — WHERE text = 'data query' is the default-OR fielded
# match (term IN (data, query) after the simple-analyzer lowercase
# split), the rest is the same relational algebra DuckDB runs native.
SQL_Q79 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data', 'query')
), j AS (
  SELECT d.lang, d.source, d.n_chars
  FROM documents d JOIN matched USING (doc_id)
  WHERE d.n_chars > 200
)
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS DOUBLE) AS sum_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM j GROUP BY lang, source HAVING count(*) > 2
ORDER BY n_docs DESC, lang ASC, source ASC LIMIT 25
"""


# significantTerms() stream oracle (engine twin: stream_expr
# ._c_significant_terms / engine_sigterms): foreground = OR match of
# (data, query); lift = (fg_df/fg_n)/(bg_df/n_docs), min fg_df 3, no
# query-term exclusion (the stream keeps them; q40's operator form
# excludes them).
SQL_Q83 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)),
fg AS (
  SELECT DISTINCT doc_id FROM toks WHERE term IN ('data','query')),
n AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
         CAST((SELECT count(*) FROM fg) AS DOUBLE) AS fg_n),
bg AS (SELECT term, count(*) AS bg_df FROM toks GROUP BY term),
fgc AS (
  SELECT term, count(*) AS fg_df
  FROM toks JOIN fg USING (doc_id) GROUP BY term),
scored AS (
  SELECT f.term, CAST(f.fg_df AS BIGINT) AS fg_df,
         CAST(b.bg_df AS BIGINT) AS bg_df,
         round((f.fg_df / (SELECT fg_n FROM n))
               / (b.bg_df / (SELECT n_docs FROM n)), 4) AS lift
  FROM fgc f JOIN bg b USING (term)
  WHERE f.fg_df >= 3)
SELECT term, fg_df, bg_df, lift FROM scored
ORDER BY lift DESC, fg_df DESC, term ASC
LIMIT 15
"""


# random() stream oracle (engine twin: stream_expr._c_random /
# engine_random): deterministic Knuth multiplicative hash of
# (doc_id + seed) ranks the q="data" match set; integer arithmetic
# replays exactly (values fit in BIGINT at these id magnitudes).
SQL_Q84 = """
WITH toks AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT DISTINCT doc_id FROM toks WHERE term = 'data'
)
SELECT d.doc_id, d.lang
FROM documents d JOIN matched USING (doc_id)
ORDER BY ((d.doc_id + 7) * 2654435761) % 4294967296 ASC, d.doc_id ASC
LIMIT 30
"""


# Solr highlighting oracle (engine twin: serve.highlight_field_col /
# engine_highlight): AND match of both terms (each term must appear
# as a whole lowercased token), whole-field markup — every matching
# token wrapped in <em></em> — replayed with list_transform.
SQL_Q82 = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), matched AS (
  SELECT doc_id FROM toks WHERE term IN ('data', 'query')
  GROUP BY doc_id HAVING count(DISTINCT term) = 2
)
SELECT d.doc_id,
       array_to_string(
         list_transform(
           string_split(d.text, ' '),
           w -> CASE WHEN lower(w) IN ('data', 'query')
                     THEN '<em>' || w || '</em>' ELSE w END
         ), ' ') AS snippet
FROM documents d JOIN matched USING (doc_id)
ORDER BY d.doc_id LIMIT 20
"""


# Solr Math Expressions oracle (engine twin: stream_expr._c_regress /
# engine_mathx): OLS of extendedprice on quantity; n counts the rows
# the regression sees. Both engines round to 4 dp because parallel
# float-sum order differs.
SQL_Q81 = """
SELECT CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
       round(corr(l_extendedprice, l_quantity) ^ 2, 4) AS r2
FROM lineitem
"""


# Solr shortestPath() oracle (engine twin: stream_expr
# ._c_shortest_path / engine_spath): all simple paths from C1 capped
# at depth 4 via a recursive CTE over the same edge union, then keep
# exactly the minimum-depth paths to S1 — identical to BFS shortest
# paths (a shortest path never revisits a node, so visited-pruning
# changes nothing at the minimum depth).
SQL_Q80 = """
WITH RECURSIVE e AS (
  SELECT 'C' || o_custkey AS src, 'O' || o_orderkey AS dst FROM orders
  UNION SELECT 'O' || l_orderkey, 'P' || l_partkey FROM lineitem
  UNION SELECT 'P' || l_partkey, 'S' || l_suppkey FROM lineitem
), walk AS (
  SELECT 'C1' AS node, 'C1' AS path, 0 AS depth
  UNION ALL
  SELECT e.dst, w.path || '->' || e.dst, w.depth + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < 4 AND w.node <> 'S1'
    AND NOT contains('->' || w.path || '->', '->' || e.dst || '->')
), hit AS (
  SELECT path, depth FROM walk WHERE node = 'S1'
)
SELECT DISTINCT path FROM hit
WHERE depth = (SELECT min(depth) FROM hit)
ORDER BY path
"""


def q46_ccnet_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): exact
    per-language quality thirds via ONE groupBy(lang, quality) count
    + a cumulative window over the tiny distinct-value table +
    broadcast map-side assignment (textstats.ccnet_buckets) — never a
    per-document window, integer rank cutoffs instead of float
    percentile interpolation."""
    d = load(spark, sf, "documents").select("doc_id", "text", "lang")
    return ts.ccnet_buckets(d, "doc_id", "text", "lang").orderBy("id")



# CCNet bucketing oracle (engine twin: textstats.ccnet_buckets /
# q46_ccnet_buckets): same quality formula as SQL_Q21, same integer
# rank arithmetic — a distinct score value's first document rank vs
# floor(n/3) / floor(2n/3) decides the whole tie group's bucket.
SQL_Q46B = f"""
WITH base AS (
  SELECT doc_id AS id, text, lang, string_split(lower(text), ' ') AS toks
  FROM documents
), feat AS (
  SELECT id, lang,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL}))) AS DOUBLE) / len(toks) AS sr,
         CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) AS ar,
         CASE WHEN length(text) >= 100 AND length(text) <= 4000 THEN 1.0 ELSE 0.0 END AS len_ok
  FROM base
), q AS (
  SELECT id, lang, round(0.5 * sr + 0.3 * ar + 0.2 * len_ok, 6) AS quality FROM feat
), v AS (
  SELECT lang, quality, count(*) AS cnt FROM q GROUP BY lang, quality
), r AS (
  SELECT lang, quality,
         sum(cnt) OVER (PARTITION BY lang ORDER BY quality) - cnt AS start,
         sum(cnt) OVER (PARTITION BY lang) AS n
  FROM v
), b AS (
  SELECT lang, quality,
         CASE WHEN start < floor(n / 3) THEN 'tail'
              WHEN start < floor(2 * n / 3) THEN 'middle'
              ELSE 'head' END AS bucket
  FROM r
)
SELECT q.id, q.lang, q.quality, b.bucket
FROM q JOIN b USING (lang, quality) ORDER BY q.id
"""


def q47_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate vs the corpus top-100 TF
    vocabulary (textstats.oov_rate): one explode+groupBy(term) count,
    vocabulary rank-and-cut in the plan (request-bounded), broadcast
    join back, one groupBy(doc)."""
    d = load(spark, sf, "documents").select("doc_id", "text")
    return ts.oov_rate(d, "doc_id", "text", vocab_size=100).orderBy("id")



# OOV-rate oracle (engine twin: textstats.oov_rate / q47_oov_rate):
# top-100 corpus vocabulary by (tf desc, term asc) — the same
# deterministic tie-break — then per-doc miss counting.
SQL_Q47B = """
WITH toks AS (
  SELECT doc_id AS id, t.term AS tok
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
), vocab AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS tf FROM toks GROUP BY tok
    ORDER BY tf DESC, tok ASC LIMIT 100
  )
)
SELECT id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.tok IS NULL THEN 1.0 ELSE 0.0 END) / count(*), 6) AS oov_rate
FROM toks LEFT JOIN vocab v USING (tok)
GROUP BY id ORDER BY id
"""


QUERIES: dict[str, tuple] = {
    "q01_pricing_summary": (q01_pricing_summary, SQL_Q01),
    "q02_top_orders_per_customer": (q02_top_orders_per_customer, SQL_Q02),
    "q03_shipping_priority": (q03_shipping_priority, SQL_Q03),
    "q04_semi_join": (q04_semi_join, SQL_Q04),
    "q05_region_revenue": (q05_region_revenue, SQL_Q05),
    "q06_forecast_revenue": (q06_forecast_revenue, SQL_Q06),
    "q07_anti_join": (q07_anti_join, SQL_Q07),
    "q08_union_distinct": (q08_union_distinct, SQL_Q08),
    "q09_intersect": (q09_intersect, SQL_Q09),
    "q10_rollup": (q10_rollup, SQL_Q10),
    "q11_pivot": (q11_pivot, SQL_Q11),
    "q12_sessionize": (q12_sessionize, SQL_Q12),
    "q13_hourly_events": (q13_hourly_events, SQL_Q13),
    "q14_closure_bfs": (q14_closure_bfs, SQL_Q14),
    "q15_closure_fields": (q15_closure_fields, SQL_Q15),
    "q16_dedup_exact": (q16_dedup_exact, SQL_Q16),
    "q17_ngram_jaccard": (q17_ngram_jaccard, SQL_Q17),
    "q18_minhash": (q18_minhash, SQL_Q18),
    "q19_simhash": (q19_simhash, SQL_Q19),
    "q20_ann_cosine_topk": (q20_ann_cosine_topk, SQL_Q20),
    "q21_quality_score": (q21_quality_score, SQL_Q21),
    "q22_token_stats_by_lang": (q22_token_stats_by_lang, SQL_Q22),
    "q23_lang_id": (q23_lang_id, SQL_Q23),
    "q24_bm25_topk": (q24_bm25_topk, SQL_Q24),
    "q25_fingerprint": (q25_fingerprint, SQL_Q25),
    "q26_lsh_candidates": (q26_lsh_candidates, SQL_Q26),
    "q27_embedding_neardup": (q27_embedding_neardup, SQL_Q27),
    "q28_dedup_clusters": (q28_dedup_clusters, SQL_Q28),
    "q29_asof_join": (q29_asof_join, SQL_Q29),
    "q30_stratified_split": (q30_stratified_split, SQL_Q30),
    "q32_ivf_ann": (q32_ivf_ann, SQL_Q32),
    "q33_decontaminate": (q33_decontaminate, SQL_Q33),
    "q34_repetition_score": (q34_repetition_score, SQL_Q34),
    "q35_json_props_stats": (q35_json_props_stats, SQL_Q35),
    "q36_pack_sequences": (q36_pack_sequences, SQL_Q36B),
    "q37_exact_substring": (q37_exact_substring, SQL_Q37B),
    "q38_pii_scrub": (q38_pii_scrub, SQL_Q38B),
    "q39_weighted_sample": (q39_weighted_sample, SQL_Q39B),
    "q40_significant_terms": (q40_significant_terms, SQL_Q40B),
    "q41_semdedup": (q41_semdedup, SQL_Q41B),
    "q42_bigram_logprob": (q42_bigram_logprob, SQL_Q42B),
    "q43_gopher_rules": (q43_gopher_rules, SQL_Q43B),
    "q44_dsir_weights": (q44_dsir_weights, SQL_Q44B),
    "q45_hybrid_rrf": (q45_hybrid_rrf, SQL_Q45B),
    "q46_ccnet_buckets": (q46_ccnet_buckets, SQL_Q46B),
    "q47_oov_rate": (q47_oov_rate, SQL_Q47B),
}
