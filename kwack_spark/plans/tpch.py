"""Adapted TPC-H suite over the trimmed star schema.

The reference (kwack) delegates its whole SQL surface to DuckDB
(`/root/reference/src/main/java/io/kcache/kwack/KwackEngine.java:214-230`), so
its users run exactly this class of analytic SQL.  These are the classic
TPC-H shapes — the full 22-query suite: Q1/Q3/Q5 live in relational.py as
the original flagship queries (q1_pricing_summary, q3_top_revenue,
q5_region_revenue); Q2, Q4, Q6-Q22 are here — adapted to the driver
testdata's trimmed columns: there is no ``partsupp`` table and no
``l_commitdate/l_receiptdate/l_shipmode/c_phone`` columns, so queries that
need them are re-targeted to equivalent plan shapes on the columns that
exist (each docstring notes the delta; partsupp-dependent queries derive
the part-supplier catalog from lineitem history).

Plan-quality notes (the point of the suite at 100 TB):
- every dim⋈fact join broadcasts the dim side explicitly;
- semi/anti shapes use real ``left_semi``/``left_anti`` (one-sided output,
  no dedup shuffle);
- scalar subqueries (Q15's max, Q22's avg) are computed once and either
  broadcast or cross-joined as a 1-row literal, never re-evaluated per row;
- double aggregates go through exact DECIMAL so results hash-match DuckDB
  bit-for-bit regardless of partial-aggregation order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T, _dsum, dec

# exact revenue term used across the suite (matches q3/q5 in relational.py)
_REV_SQL = """CAST(l_extendedprice AS DECIMAL(12,2))
              * (1 - CAST(l_discount AS DECIMAL(4,3)))"""


def _rev():
    return dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 3))


@register(
    "tpch_q4_priority_count",
    # Q4 adapted: no l_commitdate/l_receiptdate, so the "late lineitem"
    # EXISTS predicate becomes "some lineitem shipped > 30 days after the
    # order date" — the identical semi-join + count-by-priority shape.
    oracle="""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("tpch", "semi-join", "agg"),
)
def tpch_q4_priority_count(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS → left-semi join (no lineitem dedup shuffle),
    then a 5-group count.  The date filter prunes orders before the join."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
        SELECT {_dsum('CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,3))', 38, 5)}
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "scan", "agg"),
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 verbatim: pure scan-filter-aggregate.  All four predicates
    push to the parquet scan; the agg is a single partial+final sum with no
    grouping shuffle — the canonical 100-TB 'riding the scan' query."""
    l = T(spark, sf_dir, "lineitem")
    return l.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(dec("l_extendedprice", 12, 2) * dec("l_discount", 4, 3))
        .cast("double")
        .alias("revenue")
    )


@register(
    "tpch_q7_volume_shipping",
    # Q7 adapted: "ship year" from l_shipdate (no l_shipmode needed);
    # nation pair per the spec (synthetic nation names NATION_3/NATION_7).
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {_dsum('volume', 38, 5)} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   EXTRACT(year FROM l.l_shipdate) AS l_year,
                   {_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS volume
            FROM supplier s
            JOIN lineitem l ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: bilateral trade volume.  The nation filter broadcasts into
    both sides, pruning supplier/customer before the fact join; the only
    big shuffle is orders⋈lineitem on orderkey."""
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = n.filter(F.col("n_name").isin("NATION_3", "NATION_7"))
    s = T(spark, sf_dir, "supplier").join(
        F.broadcast(pair.withColumnRenamed("n_name", "supp_nation")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    c = T(spark, sf_dir, "customer").join(
        F.broadcast(
            pair.withColumnRenamed("n_name", "cust_nation").withColumnRenamed(
                "n_nationkey", "n_nationkey2"
            )
        ),
        F.col("c_nationkey") == F.col("n_nationkey2"),
    ).select("c_custkey", "cust_nation")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = T(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    # Q8 adapted: market share of NATION_3 suppliers within EUROPE-region
    # customer demand for PROMO-type parts, by order year.
    oracle=f"""
        SELECT o_year,
               CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM (
            SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
                   CAST({_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS DECIMAL(38,5)) AS volume,
                   n2.n_name AS nation
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
            JOIN region r ON n1.n_regionkey = r.r_regionkey
            JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
            WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8: national market share.  Six dims all broadcast; numerator
    and denominator come out of ONE conditional aggregation (no second pass
    over the join).  Decimal volume keeps the share ratio deterministic."""
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("nation")
    )
    n1 = T(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    c = (
        T(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .select("c_custkey")
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = T(spark, sf_dir, "lineitem")
    vol = _rev()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("sn_key"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("o_year")
        .agg(
            (
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(dec(F.lit(0), 12, 2)))
                .cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_product_profit",
    # Q9 adapted: no partsupp/ps_supplycost, so profit = revenue term only,
    # for parts whose name contains 'green'-analog token — we use
    # p_name LIKE '%5%' (synthetic names are numbered) to hit a subset.
    oracle=f"""
        SELECT nation, o_year, {_dsum('amount', 38, 5)} AS sum_profit
        FROM (
            SELECT n.n_name AS nation,
                   EXTRACT(year FROM o.o_orderdate) AS o_year,
                   {_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')} AS amount
            FROM part p
            JOIN lineitem l ON p.p_partkey = l.l_partkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE p.p_name LIKE '%5%'
        ) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year.  part and
    supplier⋈nation broadcast; lineitem⋈orders is the one real shuffle."""
    p = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%5%"))
        .select("p_partkey")
    )
    n = T(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    s = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "nation")
    )
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = T(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("nation", "o_year")
        .agg(F.sum(_rev()).cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {_dsum(_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount'), 38, 5)} AS revenue,
               CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-04-01'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    tags=("tpch", "join", "agg", "topk"),
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10: top customers by returned revenue.  Quarter filter prunes
    orders at the scan, returnflag prunes lineitem; orderBy+limit compiles
    to TakeOrderedAndProject (never a full sort at 100 TB)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    l = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
            SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
            FROM customer c
            LEFT JOIN orders o
              ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    tags=("tpch", "outer-join", "agg"),
)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: distribution of orders-per-customer (including zeros via
    the left join).  Double aggregation: custkey shuffle, then the c_count
    histogram is tiny.  count(o_orderkey) counts only matched rows —
    exactly the SQL NULL-skipping semantic."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q14_promo_effect",
    oracle=f"""
        SELECT CAST(100.0 AS DOUBLE) * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,3)))
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(4,3)))) AS DOUBLE)
               AS promo_revenue
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
          AND l.l_shipdate < TIMESTAMP '1997-10-01'
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q14_promo_effect(spark, sf_dir):
    """TPC-H Q14: promo revenue share for one month.  part broadcasts; the
    ratio comes from one conditional aggregation over the month's slice."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01"))
        & (F.col("l_shipdate") < F.lit("1997-10-01"))
    )
    p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = _rev()
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", vol).otherwise(
                        dec(F.lit(0), 12, 2)
                    )
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {_dsum(_REV_SQL, 38, 5)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    tags=("tpch", "cte", "scalar-subquery"),
)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with max quarterly revenue.  The revenue CTE
    is computed once; the scalar max rides a 1-row broadcast join rather
    than a driver collect, so nothing leaves the cluster."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-04-01"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).cast("double").alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_part_supplier_counts",
    # Q16 adapted: supplier relationships observed through lineitem
    # (no partsupp table); excludes one brand and a size set per the spec.
    oracle="""
        SELECT p.p_brand, p.p_type, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#21'
          AND p.p_type <> 'ECONOMY'
          AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
        GROUP BY p.p_brand, p.p_type, p.p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "distinct-agg"),
)
def tpch_q16_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier counts per (brand, type, size).
    The distinct aggregate expands to a two-phase plan (dedup on the full
    key, then count) — both shuffles on the same grouping key."""
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#21")
        & (F.col("p_type") != "ECONOMY")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    l = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN (
            SELECT l_partkey,
                   0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                          / COUNT(l_quantity)) AS qty_threshold
            FROM lineitem GROUP BY l_partkey
        ) t ON t.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23'
          AND l.l_quantity < t.qty_threshold
    """,
    tags=("tpch", "correlated-agg"),
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: revenue of below-average-quantity orders.  The correlated
    avg-per-part subquery is decorrelated into a partkey aggregation joined
    back — one extra shuffle instead of a per-row subquery.  The per-part
    average uses the exact decimal-sum/count form so both engines compute
    the identical threshold."""
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    thresh = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            F.lit(0.2)
            * (F.sum(dec("l_quantity", 18, 2)).cast("double") / F.count("l_quantity"))
        ).alias("qty_threshold")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(thresh, l.l_partkey == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(dec("l_extendedprice", 18, 2)).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 270
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    tags=("tpch", "semi-join", "having"),
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18: large-volume orders.  The HAVING subquery becomes an
    orderkey aggregation + left-semi join; the final agg reuses the same
    orderkey partitioning (AQE exchange reuse), then TakeOrdered."""
    l = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity", 18, 2)).alias("q"))
        .filter(F.col("q") > 270)
        .select("l_orderkey")
    )
    o = T(spark, sf_dir, "orders").join(
        big.withColumnRenamed("l_orderkey", "bk"),
        F.col("o_orderkey") == F.col("bk"),
        "left_semi",
    )
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec("l_quantity", 18, 2)).cast("double").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q19_discounted_revenue",
    oracle=f"""
        SELECT {_dsum(_REV_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount'), 38, 5)} AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "disjunctive-predicates"),
)
def tpch_q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19: three disjunctive brand/size/quantity branches.  Catalyst
    extracts the common `p_partkey = l_partkey` conjunct so this stays a
    broadcast equi-join (never a cartesian with a residual OR filter)."""
    l = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    cond = (
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
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.filter(cond).agg(F.sum(_rev()).cast("double").alias("revenue"))


@register(
    "tpch_q22_global_sales_opportunity",
    # Q22 adapted: no c_phone, so the country-code grouping becomes the
    # customer's nation key modulo 7 (a deterministic synthetic "prefix"),
    # and "never ordered" becomes "no order since 2000-01-01" (every
    # synthetic customer has at least one historical order); the shape —
    # above-average balance, anti-join against orders, grouped counts — is
    # the spec's.
    oracle="""
        SELECT cntrycode,
               CAST(count(*) AS BIGINT) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM (
            SELECT CAST(c.c_nationkey % 7 AS BIGINT) AS cntrycode, c.c_acctbal
            FROM customer c
            WHERE c.c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                       / COUNT(c_acctbal)
                FROM customer WHERE c_acctbal > 0.0
            )
            AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-01-01'
            )
        ) custsale
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    tags=("tpch", "anti-join", "scalar-subquery"),
)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22: wealthy customers who never ordered.  The scalar average
    broadcasts as a 1-row cross join; NOT EXISTS is a real left-anti join
    on custkey (one shuffle, no distinct pass)."""
    c = T(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(dec("c_acctbal", 18, 2)).cast("double") / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .withColumn("cntrycode", (F.col("c_nationkey") % 7).cast("long"))
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(dec("c_acctbal", 18, 2)).cast("double").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "tpch_q2_min_cost_supplier",
    # Q2 adapted: no partsupp table, so the part-supplier catalog is
    # derived from lineitem history — ps_cost := MIN(l_extendedprice)
    # per (partkey, suppkey) (MIN over exact DECIMAL is order-independent,
    # so it hash-matches across engines, unlike a derived division).  The
    # spec's correlated "cost = MIN(cost) over EUROPE suppliers of this
    # part" survives intact as an aggregate + equality join-back.
    oracle="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS ps_cost
            FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        eu AS (
            SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
        ),
        eps AS (
            SELECT ps.l_partkey, ps.ps_cost,
                   eu.s_name, eu.s_acctbal, eu.n_name, p.p_name
            FROM ps
            JOIN eu ON ps.l_suppkey = eu.s_suppkey
            JOIN part p ON ps.l_partkey = p.p_partkey
            WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
        )
        SELECT CAST(e.s_acctbal AS DOUBLE) AS s_acctbal,
               e.s_name, e.n_name,
               e.l_partkey AS p_partkey, e.p_name,
               CAST(e.ps_cost AS DOUBLE) AS supply_cost
        FROM eps e
        JOIN (
            SELECT l_partkey, MIN(ps_cost) AS min_cost
            FROM eps GROUP BY l_partkey
        ) m ON e.l_partkey = m.l_partkey AND e.ps_cost = m.min_cost
        ORDER BY s_acctbal DESC, s_name, p_partkey
        LIMIT 100
    """,
    tags=("tpch", "correlated-min", "join"),
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2: cheapest EUROPE supplier per qualifying part.  The derived
    part-supplier catalog aggregates lineitem once on (partkey, suppkey);
    region/nation/supplier and the filtered part list all broadcast, so the
    only fact-sized shuffle is that one aggregation.  The correlated MIN
    becomes a per-part agg of the already-small qualified catalog joined
    back on (partkey, cost) — no window, no recomputation."""
    l = T(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    ps = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(dec("l_extendedprice", 12, 2)).alias("ps_cost")
    )
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        T(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20))
        .select("p_partkey", "p_name")
    )
    eps = (
        ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .select("l_partkey", "ps_cost", "s_name", "s_acctbal", "n_name", "p_name")
    )
    minc = eps.groupBy("l_partkey").agg(F.min("ps_cost").alias("min_cost"))
    return (
        eps.join(
            F.broadcast(minc.withColumnRenamed("l_partkey", "mk")),
            (eps.l_partkey == F.col("mk")) & (eps.ps_cost == F.col("min_cost")),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            F.col("ps_cost").cast("double").alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "tpch_q11_important_parts",
    # Q11 adapted: no partsupp, so "stock value" per part is the total
    # lineitem revenue shipped by NATION_3 suppliers; the HAVING threshold
    # is the spec's scalar-subquery fraction of the global total.
    oracle="""
        WITH val AS (
            SELECT l.l_partkey,
                   SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value_dec
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_3'
            GROUP BY l.l_partkey
        )
        SELECT l_partkey AS p_partkey,
               CAST(value_dec AS DOUBLE) AS part_value
        FROM val
        WHERE CAST(value_dec AS DOUBLE) >
              (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM val) * 0.001
        ORDER BY part_value DESC, p_partkey
    """,
    tags=("tpch", "scalar-subquery", "having"),
)
def tpch_q11_important_parts(spark, sf_dir):
    """TPC-H Q11: parts whose NATION_3-supplied value exceeds a fraction of
    the global total.  One partkey aggregation (supplier/nation filter
    broadcasts into the scan); the scalar total re-aggregates the SAME
    per-part result (not the base table) and broadcasts as a 1-row cross
    join — the base fact is scanned exactly once."""
    sup = (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                T(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    val = (
        T(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice", 18, 2)).alias("value_dec"))
    )
    total = val.agg(F.sum("value_dec").cast("double").alias("total_value"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double") > F.col("total_value") * F.lit(0.001)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "p_partkey")
    )


@register(
    "tpch_q12_priority_shipping",
    # Q12 adapted: no l_shipmode/l_commitdate/l_receiptdate, so the ship
    # class is l_returnflag and "late" is shipped > 60 days after the
    # order date; the high/low conditional counts are the spec's.
    oracle="""
        SELECT l.l_returnflag,
               CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
          AND datediff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) > 60
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
    """,
    tags=("tpch", "join", "conditional-agg"),
)
def tpch_q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12: late shipments by priority class.  The shipdate range
    pushes to the parquet scan; one orderkey join (the late-ship predicate
    is evaluated post-join, as it references both sides), then a 3-group
    conditional aggregation."""
    l = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            > 60
        )
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q20_part_promotion",
    # Q20 adapted: no partsupp.availqty, so "excess stock" becomes market
    # share — ASIA suppliers who shipped > 20% of some small-part's total
    # 1997 volume.  The nested semi-join chain (supplier IN ... partkey
    # IN ... correlated qty subquery) is the spec's.
    oracle="""
        WITH sq AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
            GROUP BY l_partkey, l_suppkey
        ),
        tot AS (SELECT l_partkey, SUM(qty) AS total_qty FROM sq GROUP BY l_partkey)
        SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND EXISTS (
              SELECT 1 FROM sq JOIN tot ON sq.l_partkey = tot.l_partkey
              WHERE sq.l_suppkey = s.s_suppkey
                AND CAST(sq.qty AS DOUBLE) > CAST(tot.total_qty AS DOUBLE) * 0.2
          )
        ORDER BY s.s_name
    """,
    tags=("tpch", "semi-join", "nested-agg"),
)
def tpch_q20_part_promotion(spark, sf_dir):
    """TPC-H Q20: ASIA suppliers dominating a small-part's 1997 volume.
    The part-name filter broadcasts as a semi-join into the fact scan; one
    (partkey, suppkey) aggregation, a per-part re-aggregation of that
    small result, then supplier resolves via left-semi on suppkey — the
    EXISTS never materializes more than the qualified supplier ids."""
    small = (
        T(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    sq = (
        T(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity", 18, 2)).alias("qty"))
    )
    tot = sq.groupBy("l_partkey").agg(F.sum("qty").alias("total_qty"))
    qualifying = (
        sq.join(F.broadcast(tot.withColumnRenamed("l_partkey", "tk")),
                F.col("l_partkey") == F.col("tk"))
        .filter(
            F.col("qty").cast("double")
            > F.col("total_qty").cast("double") * F.lit(0.2)
        )
        .select("l_suppkey")
    )
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        T(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.join(F.broadcast(r), n.n_regionkey == F.col("r_regionkey"))
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_suppliers",
    # Q21 adapted: no l_commitdate/l_receiptdate, so "kept the order
    # waiting" means: on a finished multi-supplier order, this supplier's
    # shipment is the order's latest ship date and no other supplier
    # shipped that late.  The spec's EXISTS / NOT-EXISTS self-join pair is
    # expressed as per-order aggregates (max shipdate, supplier count,
    # latest-shipper count) — identical semantics, one pass over the fact.
    oracle="""
        WITH l2 AS (
            SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        ),
        per_order AS (
            SELECT l_orderkey, MAX(l_shipdate) AS mx,
                   COUNT(DISTINCT l_suppkey) AS nsupp
            FROM l2 GROUP BY l_orderkey
        ),
        latest AS (
            SELECT DISTINCT l2.l_orderkey, l2.l_suppkey
            FROM l2 JOIN per_order p
              ON l2.l_orderkey = p.l_orderkey AND l2.l_shipdate = p.mx
        ),
        uniq AS (
            SELECT l_orderkey FROM latest GROUP BY l_orderkey HAVING COUNT(*) = 1
        )
        SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        FROM latest la
        JOIN uniq u ON la.l_orderkey = u.l_orderkey
        JOIN per_order p ON la.l_orderkey = p.l_orderkey AND p.nsupp >= 2
        JOIN supplier s ON la.l_suppkey = s.s_suppkey
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
    """,
    tags=("tpch", "exists", "anti-exists"),
)
def tpch_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21: suppliers who kept finished orders waiting.  Instead of
    the spec's correlated EXISTS + NOT EXISTS (two extra fact self-joins),
    one orderkey aggregation computes max shipdate and supplier count; the
    sole-latest-shipper test is a count over the tiny latest-shipper set.
    Every join after the first agg is orderkey-aligned (AQE reuses the
    exchange) and supplier broadcasts at the end."""
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l2 = (
        T(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == o.o_orderkey, "left_semi")
    )
    per_order = l2.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("mx"),
        F.countDistinct("l_suppkey").alias("nsupp"),
    )
    latest = (
        l2.join(
            per_order.withColumnRenamed("l_orderkey", "pk"),
            (l2.l_orderkey == F.col("pk")) & (l2.l_shipdate == F.col("mx")),
        )
        .select("l_orderkey", "l_suppkey", "nsupp")
        .distinct()
    )
    uniq = (
        latest.groupBy("l_orderkey")
        .agg(F.count("*").alias("n_latest"))
        .filter(F.col("n_latest") == 1)
        .select("l_orderkey")
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        latest.filter(F.col("nsupp") >= 2)
        .join(uniq.withColumnRenamed("l_orderkey", "uk"),
              F.col("l_orderkey") == F.col("uk"), "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
