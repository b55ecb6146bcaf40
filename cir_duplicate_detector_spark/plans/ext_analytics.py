"""Analytics extension queries: TPC-H(-like) suite,
rollup/cube/pivot, sketches (KMV, CMS), the ORC round-trip.

Split out of the monolithic ``extension_queries.py`` (round-10
modularity; VERDICT r9 item 6) with NO behavior change: same
callables, same oracle strings, same registry names.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from ..functions.text import hash60_sql
from ..operators import sketches
from ..sources.tables import load_table

from .ext_common import _DUCK_WORDS


DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


SQL_DOCS_ORC_ROUNDTRIP = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def q_docs_orc_roundtrip(spark, sf_dir):
    """Columnar interchange format end-to-end: stage the documents
    table as ORC (Spark-native, predicate-pushdown-capable like parquet
    — the format a warehouse-adjacent pipeline exchanges with Hive/Trino
    estates), read it back with the declared schema, return the rows.
    Schema is DECLARED on read — inference never runs. Oracle = the
    documents table; equality IS the round-trip guarantee."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    stage = "/tmp/docs_orc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    docs.write.mode("overwrite").orc(stage)
    return spark.read.schema(DOCS_SCHEMA).orc(stage)


# Synthetic varied-domain URL over doc_id — ONE dialect-shared SQL
# expression (Spark `F.expr` and the DuckDB oracle use the identical
# string, so the fixture cannot drift): scheme variants, optional
# `www.`, 11 domains, optional `:8080` port, path, optional fragment.
_SYN_URL = (
    "(CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN 'https://' "
    "ELSE 'http://' END) "
    "|| (CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END) "
    "|| 'site' || cast(doc_id % 11 as string) || '.org' "
    "|| (CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END) "
    "|| '/p/' || cast(doc_id % 23 as string) "
    "|| (CASE WHEN doc_id % 2 = 1 THEN '#f' || cast(doc_id as string) "
    "ELSE '' END)"
)


def q_url_domain_stats(spark, sf_dir):
    """Per-domain crawl-curation stats: how many URLs land on each
    registrable domain and how much intra-domain duplication
    (normalized-URL collisions) there is — the aggregation that drives
    per-domain sampling / blocking decisions in a crawl pipeline.
    One grouped aggregate; the count-distinct expands map-side."""
    from ..functions.url import normalize_url, url_domain

    docs = load_table(spark, sf_dir, "documents")
    u = F.expr(_SYN_URL)
    rows = docs.select(
        url_domain(u).alias("domain"),
        normalize_url(u).alias("base_url"),
    )
    return rows.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("base_url").alias("n_distinct"),
        (
            (F.count("*") - F.countDistinct("base_url")) / F.count("*")
        ).alias("dup_ratio"),
    )


def _sql_url_domain_stats() -> str:
    from ..functions.url import normalize_url_sql, url_domain_sql

    return f"""
WITH rows_u AS (
  SELECT {url_domain_sql(_SYN_URL)} AS domain,
         {normalize_url_sql(_SYN_URL)} AS base_url
  FROM documents
)
SELECT domain, count(*) AS n_urls,
       count(DISTINCT base_url) AS n_distinct,
       (count(*) - count(DISTINCT base_url)) / count(*) AS dup_ratio
FROM rows_u GROUP BY domain
"""


def q_tpch_q1(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    disc_price = dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - dec("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(12,2)") + dec("l_tax"))
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-06-30").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )
    return out.withColumn(
        "avg_qty", F.col("sum_qty") / F.col("count_order")
    ).withColumn("avg_price", F.col("sum_base_price") / F.col("count_order"))


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       cast(sum(l_quantity::DECIMAL(12,2)) as double) AS sum_qty,
       cast(sum(l_extendedprice::DECIMAL(12,2)) as double) AS sum_base_price,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS sum_disc_price,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))
                * (1::DECIMAL(12,2) + l_tax::DECIMAL(12,2))) as double)
         AS sum_charge,
       count(*) AS count_order,
       cast(sum(l_quantity::DECIMAL(12,2)) as double) / count(*) AS avg_qty,
       cast(sum(l_extendedprice::DECIMAL(12,2)) as double) / count(*) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-06-30'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    revenue = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    cutoff = F.lit("1998-06-30").cast("timestamp_ntz")
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .where(F.col("o_orderdate") < cutoff)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", F.col("o_orderdate").alias("o_orderdate_d"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate AS o_orderdate_d,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q_tpch_q6(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


SQL_TPCH_Q6 = """
SELECT cast(sum(l_extendedprice::DECIMAL(12,2) * l_discount::DECIMAL(12,2))
            as double) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_tpch_q5(spark, sf_dir):
    t = {n: load_table(spark, sf_dir, n) for n in
         ("customer", "orders", "lineitem", "supplier", "nation", "region")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    revenue = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        # The c_nationkey = s_nationkey equality makes this the classic
        # "local supplier" join; supplier/nation/region are dimension
        # tables — Catalyst broadcasts them under the default threshold.
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"], F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_TPCH_Q5 = """
SELECT n_name,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


TPCH_Q18_QTY = 160


def q_tpch_q18(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .where(F.col("qty") > TPCH_Q18_QTY)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("o_orderdate_d"),
            "o_totalprice",
            F.col("qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


SQL_TPCH_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate AS o_orderdate_d,
       o_totalprice, qty::DOUBLE AS sum_qty
FROM (
  SELECT l_orderkey, sum(l_quantity::DECIMAL(12,2)) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING qty > {TPCH_Q18_QTY}
)
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q_rollup_orders(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_totalprice"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
    )


def q_corpus_stats_cube(spark, sf_dir):
    """Corpus composition report with CUBE(lang, source): doc counts,
    total characters, and mean doc length for every (lang, source)
    combination plus all three marginal groupings in ONE aggregate pass
    — the per-slice inventory a curation run reports before and after
    filtering. Mean = exact bigint sum / count, one double division, so
    both engines emit identical bits."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") / F.count("*")).alias("mean_chars"),
        F.grouping_id().cast("bigint").alias("gid"),
    )


SQL_CORPUS_STATS_CUBE = """
SELECT lang, source,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS total_chars,
       sum(n_chars) / count(*) AS mean_chars,
       GROUPING(lang, source)::BIGINT AS gid
FROM documents
GROUP BY CUBE (lang, source)
"""


SQL_ROLLUP_ORDERS = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       cast(sum(o_totalprice::DECIMAL(18,2)) as double) AS sum_totalprice,
       GROUPING(o_orderstatus, o_orderpriority)::BIGINT AS gid
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_tpch_q10(spark, sf_dir):
    """Returned-item revenue ranking: 4-way join, quarter filter on
    orders, returnflag filter on lineitem, top 20 by revenue."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    revenue = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_returnflag") == "R")
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


SQL_TPCH_Q10 = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_tpch_q13(spark, sf_dir):
    """Order-count histogram (left outer join keeps zero-order
    customers) — double aggregation, the classic q13 shape."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def q_tpch_q14(spark, sf_dir):
    """Promo revenue share — conditional aggregate ratio over a
    broadcast part join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    ).join(part, F.col("l_partkey") == F.col("p_partkey"))
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(
                    F.lit(0).cast("decimal(12,2)")
                )
            ).cast("double")
            / F.sum(rev).cast("double")
        ).alias("promo_revenue_pct")
    )


SQL_TPCH_Q14 = """
SELECT 100.0 * cast(sum(CASE WHEN p_type = 'PROMO'
                             THEN l_extendedprice::DECIMAL(12,2)
                                  * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))
                             ELSE 0::DECIMAL(12,2) END) as double)
       / cast(sum(l_extendedprice::DECIMAL(12,2)
                  * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_tpch_q22_like(spark, sf_dir):
    """Lapsed wealthy customers: above-average balance, no order since
    2000 — scalar aggregate subquery + anti join, grouped by nation.
    The threshold is an exact decimal sum divided once in double, so
    the boundary comparison is bit-identical across engines.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    stats = cust.agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    wealthy = cust.crossJoin(F.broadcast(stats)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    lapsed = wealthy.join(
        orders, wealthy.c_custkey == orders.o_custkey, "anti"
    )
    return lapsed.groupBy("c_nationkey").agg(
        F.count("*").alias("n_custs"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_bal"),
    )


SQL_TPCH_Q22_LIKE = """
SELECT c_nationkey, count(*) AS n_custs,
       cast(sum(c_acctbal::DECIMAL(18,2)) as double) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT cast(sum(c_acctbal::DECIMAL(18,2)) as double)
                          / count(*) FROM customer)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
"""


def q_window_topn(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


SQL_WINDOW_TOPN = """
SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
         )::BIGINT AS rnk
  FROM orders
) WHERE rnk <= 3
"""


def q_tpch_q4_like(spark, sf_dir):
    """Q4 shape: EXISTS semi-join with a correlated non-equi condition
    (late-shipped proxy for commitdate<receiptdate), priority counts."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    windowed = orders.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    late = windowed.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


SQL_TPCH_Q4_LIKE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def q_tpch_q7_like(spark, sf_dir):
    """Q7 shape: two-sided nation-pair predicate across supplier and
    customer nations, revenue by (supp_nation, cust_nation, year)."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("supplier", "lineitem", "orders", "customer", "nation")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    revenue = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_TPCH_Q7_LIKE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate)::BIGINT AS l_year,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


def q_tpch_q8_like(spark, sf_dir):
    """Q8 shape: market share of one supplier nation within a customer
    region for one part type — conditional-sum ratio per year."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("part", "supplier", "lineitem", "orders", "customer", "nation",
          "region")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    n_cust = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key")
    )
    n_supp = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    volume = (
        dec("l_extendedprice")
        * (F.lit(1).cast("decimal(12,2)") - dec("l_discount"))
    )
    base = (
        t["part"].where(F.col("p_type") == "ECONOMY")
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .join(t["region"], F.col("cr_key") == F.col("r_regionkey"))
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
        .where(F.col("r_name") == "ASIA")
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(
            F.lit(0).cast("decimal(12,2)")
        )
    )
    return (
        base.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (nation_vol.cast("double") / F.sum(volume).cast("double")).alias(
                "mkt_share"
            )
        )
    )


SQL_TPCH_Q8_LIKE = """
SELECT year(o_orderdate)::BIGINT AS o_year,
       cast(sum(CASE WHEN ns.n_name = 'NATION_3'
                     THEN l_extendedprice::DECIMAL(12,2)
                          * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))
                     ELSE 0::DECIMAL(12,2) END) as double)
       / cast(sum(l_extendedprice::DECIMAL(12,2)
                  * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS mkt_share
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_tpch_q12_like(spark, sf_dir):
    """Q12 shape: join + two conditional counts split by order priority
    (l_returnflag stands in for the missing l_shipmode group key)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


SQL_TPCH_Q12_LIKE = """
SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""


def q_tpch_q17_like(spark, sf_dir):
    """Q17 shape: correlated scalar aggregate — lineitems under 20% of
    their part's average quantity. The correlated subquery becomes a
    per-part aggregate joined back (broadcast: one row per part)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    # Per-part avg over EXACT integer-valued doubles: sum and count are
    # exact, so the division (and the 0.2 scale) is bit-identical on
    # both engines.
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        part.where(F.col("p_brand") == "Brand#23")
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(avg_qty), F.col("p_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


SQL_TPCH_Q17_LIKE = """
SELECT cast(sum(l_extendedprice::DECIMAL(12,2)) as double) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


def q_tpch_q19_like(spark, sf_dir):
    """Q19 shape: disjunction of conjunctive brand/size/quantity bands —
    the classic test that OR-of-ANDs predicates still prune and the
    part join broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    bands = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    revenue = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .where(bands)
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


SQL_TPCH_Q19_LIKE = """
SELECT cast(sum(l_extendedprice::DECIMAL(12,2)
               * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


TPCH_Q21_LATE_DAYS = 60


def q_tpch_q21_like(spark, sf_dir):
    """Q21 shape: EXISTS + NOT EXISTS self-joins with non-equi
    correlated conditions — suppliers who were the SOLE late shipper
    (ship > order date + 60d) on multi-supplier orders."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("supplier", "lineitem", "orders", "nation")}
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {TPCH_Q21_LATE_DAYS} DAYS"
    )
    l1 = (
        t["lineitem"]
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .where(late)
    )
    other = t["lineitem"].select(
        F.col("l_orderkey").alias("x_orderkey"),
        F.col("l_suppkey").alias("x_suppkey"),
        F.col("l_shipdate").alias("x_shipdate"),
    )
    exists_other = (F.col("x_orderkey") == F.col("l_orderkey")) & (
        F.col("x_suppkey") != F.col("l_suppkey")
    )
    late_other = exists_other & (
        F.col("x_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {TPCH_Q21_LATE_DAYS} DAYS")
    )
    return (
        l1.join(other, exists_other, "semi")
        .join(other, late_other, "anti")
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .where(F.col("n_name") == "NATION_5")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


SQL_TPCH_Q21_LIKE = f"""
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name = 'NATION_5'
  AND l1.l_shipdate > o_orderdate + INTERVAL {TPCH_Q21_LATE_DAYS} DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL {TPCH_Q21_LATE_DAYS} DAY
  )
GROUP BY s_name
"""


def q_tpch_q2_like(spark, sf_dir):
    """Q2 shape: minimum-cost supplier per part — a correlated scalar
    MIN decorrelated into an aggregate + equality join. The testdata
    has no partsupp table, so supplier offers derive from lineitem
    (min extended price per part/supplier). Dimension chain
    supplier-nation-region broadcasts; the price-equality join keys on
    exact DECIMAL so both engines agree bit-for-bit."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("part", "supplier", "nation", "region", "lineitem")}
    asia = (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t["region"], F.col("r_regionkey") == F.col("n_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        t["lineitem"]
        .join(F.broadcast(asia.select("s_suppkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(12,2)")).alias("price"))
    )
    best = offers.groupBy("l_partkey").agg(F.min("price").alias("best_price"))
    return (
        t["part"]
        .where(F.col("p_type") == "LARGE")
        .join(offers, F.col("l_partkey") == F.col("p_partkey"))
        .join(best, "l_partkey")
        .where(F.col("price") == F.col("best_price"))
        .join(F.broadcast(asia), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name", "s_acctbal",
            F.col("price").cast("double").alias("best_price"),
        )
    )


SQL_TPCH_Q2_LIKE = """
WITH asia AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'ASIA'
),
offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice::DECIMAL(12,2)) AS price
  FROM lineitem JOIN asia ON s_suppkey = l_suppkey
  GROUP BY l_partkey, l_suppkey
),
best AS (SELECT l_partkey, min(price) AS best_price FROM offers GROUP BY l_partkey)
SELECT p_partkey, p_name, s_name, n_name, s_acctbal,
       cast(o.price as double) AS best_price
FROM part
JOIN offers o ON o.l_partkey = p_partkey
JOIN best b ON b.l_partkey = o.l_partkey AND o.price = b.best_price
JOIN asia ON s_suppkey = o.l_suppkey
WHERE p_type = 'LARGE'
"""


def q_tpch_q9_like(spark, sf_dir):
    """Q9 shape: product-line profit by nation and order year — a
    five-way star join with a LIKE filter on the part dimension and a
    two-key aggregate. Profit drops the ps_supplycost term (no
    partsupp table)."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "part", "supplier", "orders", "nation")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    profit = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(12,2)") - dec("l_discount")
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .where(F.col("p_name").contains("gear"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


SQL_TPCH_Q9_LIKE = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       cast(sum(l_extendedprice::DECIMAL(12,2)
                * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2))) as double)
         AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
"""


def q_tpch_q11_like(spark, sf_dir):
    """Q11 shape: HAVING over a global scalar subquery — per-part
    inventory value for one nation's suppliers, kept only when above
    a fraction of the total. The fraction compare stays in exact
    DECIMAL (``value * 1000 > total``) so no float tie-break can
    diverge between engines; the scalar total rides a broadcast."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "supplier", "nation")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    nat_supp = (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .where(F.col("n_name") == "NATION_3")
        .select("s_suppkey")
    )
    val = (
        t["lineitem"]
        .join(F.broadcast(nat_supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice") * dec("l_quantity")).alias("value"))
    )
    total = val.agg(F.sum("value").alias("total"))
    return (
        val.join(F.broadcast(total))
        .where(F.col("value") * 1000 > F.col("total"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("value").cast("double").alias("value"),
        )
    )


SQL_TPCH_Q11_LIKE = """
WITH val AS (
  SELECT l_partkey,
         sum(l_extendedprice::DECIMAL(12,2) * l_quantity::DECIMAL(12,2))
           AS value
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY l_partkey
)
SELECT l_partkey AS ps_partkey, cast(value as double) AS value
FROM val WHERE value * 1000 > (SELECT sum(value) FROM val)
"""


def q_tpch_q15_like(spark, sf_dir):
    """Q15 shape: top supplier by quarterly revenue — MAX over a
    derived view, matched back by exact-DECIMAL equality (the classic
    argmax-without-window formulation)."""
    t = {n: load_table(spark, sf_dir, n) for n in ("lineitem", "supplier")}
    dec = lambda c: F.col(c).cast("decimal(12,2)")
    revenue = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(12,2)") - dec("l_discount"))
            ).alias("total_revenue")
        )
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


SQL_TPCH_Q15_LIKE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(l_extendedprice::DECIMAL(12,2)
             * (1::DECIMAL(12,2) - l_discount::DECIMAL(12,2)))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, cast(total_revenue as double) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q_tpch_q16_like(spark, sf_dir):
    """Q16 shape: distinct-supplier counts per part attribute triple
    with a NOT IN exclusion list (suppliers in arrears stand in for
    the reference's complaint pattern; s_suppkey is non-null so the
    anti-join is NOT IN-equivalent). Exclusion list broadcasts."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "part", "supplier")}
    bad = t["supplier"].where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .where(
            (F.col("p_brand") != "Brand#1")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin([1, 5, 9, 13, 17, 21, 25, 29])
        )
        .join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_TPCH_Q16_LIKE = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q20_like(spark, sf_dir):
    """Q20 shape: nested semi-join chain — ASIA suppliers who shipped
    a meaningful volume (HAVING sum(qty) > 40) of any 'small%' part
    during 1997. l_quantity is integral, so the double sum is
    order-independent-exact. (Thresholds chosen non-vacuous at every
    test scale: 1 row at sf0.001, 17 at sf0.01.)"""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "part", "supplier", "nation", "region")}
    shipped = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    small = t["part"].where(F.col("p_name").startswith("small")).select("p_partkey")
    qualifying = (
        shipped.join(F.broadcast(small), F.col("p_partkey") == F.col("l_partkey"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t["region"], F.col("r_regionkey") == F.col("n_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "semi")
        .select("s_suppkey", "s_name")
    )


SQL_TPCH_Q20_LIKE = """
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_suppkey, l_partkey
    HAVING sum(l_quantity) > 40
  )
"""


def q_distinct_kmv(spark, sf_dir):
    return sketches.kmv_distinct_tokens(load_table(spark, sf_dir, "documents"))


SQL_DISTINCT_KMV = f"""
WITH toks AS (
  SELECT DISTINCT lang, {hash60_sql('tok', "'kmv'")} AS h FROM (
    SELECT lang, unnest({_DUCK_WORDS}) AS tok FROM documents
  )
),
bottom AS (
  SELECT lang, h,
         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM toks
)
SELECT lang, count(*) AS n_kept, max(h) AS kth_hash,
       CASE WHEN count(*) < {sketches.KMV_K} THEN count(*)::DOUBLE
            ELSE {float(sketches.KMV_K - 1) * sketches.HASH_SPACE!r}::DOUBLE
                 / max(h)::DOUBLE END AS est_distinct
FROM bottom WHERE rn <= {sketches.KMV_K} GROUP BY lang
"""


def q_cms_heavy_hitters(spark, sf_dir):
    return sketches.cms_topk_diagnostic(load_table(spark, sf_dir, "documents"))


SQL_CMS_HEAVY_HITTERS = f"""
WITH toks AS (SELECT unnest({_DUCK_WORDS}) AS tok FROM documents),
tc AS (SELECT tok, count(*)::BIGINT AS true_cnt FROM toks GROUP BY tok),
top AS (
  SELECT tok, true_cnt,
         row_number() OVER (ORDER BY true_cnt DESC, tok)::BIGINT AS rank
  FROM tc QUALIFY rank <= 20
),
rows_ AS (SELECT unnest([0, 1, 2, 3]) AS row),
sketch AS (
  SELECT row,
         ('0x' || substr(md5('cms' || row || ':' || tok), 1, 15))::BIGINT
           % 512 AS col,
         count(*)::BIGINT AS cnt
  FROM toks, rows_ GROUP BY row, col
),
probe_cells AS (
  SELECT top.tok, top.rank, top.true_cnt, r.row,
         ('0x' || substr(md5('cms' || r.row || ':' || top.tok), 1, 15))::BIGINT
           % 512 AS col
  FROM top CROSS JOIN rows_ r
)
SELECT p.tok, p.rank, p.true_cnt, min(s.cnt)::BIGINT AS est_cnt
FROM probe_cells p JOIN sketch s USING (row, col)
GROUP BY p.tok, p.rank, p.true_cnt
"""


ANALYTICS_QUERIES: dict[str, tuple] = {
    "url_domain_stats": (q_url_domain_stats, _sql_url_domain_stats()),
    "tpch_q1": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q5": (q_tpch_q5, SQL_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, SQL_TPCH_Q6),
    "tpch_q18": (q_tpch_q18, SQL_TPCH_Q18),
    "tpch_q10": (q_tpch_q10, SQL_TPCH_Q10),
    "tpch_q13": (q_tpch_q13, SQL_TPCH_Q13),
    "tpch_q14": (q_tpch_q14, SQL_TPCH_Q14),
    "tpch_q22_like": (q_tpch_q22_like, SQL_TPCH_Q22_LIKE),
    "tpch_q4_like": (q_tpch_q4_like, SQL_TPCH_Q4_LIKE),
    "tpch_q7_like": (q_tpch_q7_like, SQL_TPCH_Q7_LIKE),
    "tpch_q8_like": (q_tpch_q8_like, SQL_TPCH_Q8_LIKE),
    "tpch_q12_like": (q_tpch_q12_like, SQL_TPCH_Q12_LIKE),
    "tpch_q17_like": (q_tpch_q17_like, SQL_TPCH_Q17_LIKE),
    "tpch_q19_like": (q_tpch_q19_like, SQL_TPCH_Q19_LIKE),
    "tpch_q21_like": (q_tpch_q21_like, SQL_TPCH_Q21_LIKE),
    "tpch_q2_like": (q_tpch_q2_like, SQL_TPCH_Q2_LIKE),
    "tpch_q9_like": (q_tpch_q9_like, SQL_TPCH_Q9_LIKE),
    "tpch_q11_like": (q_tpch_q11_like, SQL_TPCH_Q11_LIKE),
    "tpch_q15_like": (q_tpch_q15_like, SQL_TPCH_Q15_LIKE),
    "tpch_q16_like": (q_tpch_q16_like, SQL_TPCH_Q16_LIKE),
    "tpch_q20_like": (q_tpch_q20_like, SQL_TPCH_Q20_LIKE),
    "distinct_kmv": (q_distinct_kmv, SQL_DISTINCT_KMV),
    "rollup_orders": (q_rollup_orders, SQL_ROLLUP_ORDERS),
    "corpus_stats_cube": (q_corpus_stats_cube, SQL_CORPUS_STATS_CUBE),
    "window_topn": (q_window_topn, SQL_WINDOW_TOPN),
    "cms_heavy_hitters": (q_cms_heavy_hitters, SQL_CMS_HEAVY_HITTERS),
    "docs_orc_roundtrip": (q_docs_orc_roundtrip, SQL_DOCS_ORC_ROUNDTRIP),
}
