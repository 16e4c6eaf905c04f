"""Core relational operator corpus (SURVEY.md §2.B).

The reference delegates this entire surface to DuckDB verbatim
(KwackEngine.java:232); here each operator class is expressed with the Spark
DataFrame API (or spark.sql for SQL-only surfaces like CTEs/subqueries) so
Catalyst picks the physical plan.  Each query has a DuckDB oracle.

Scale notes (local[32] correctness, 100 TB design):
- Dimension tables (region/nation/supplier/part/customer) are broadcast — at
  TPC-H-like scale they stay MBs while fact tables grow; `F.broadcast` makes
  the intent explicit instead of relying on size estimation.
- Fact-fact joins (orders x lineitem) shuffle on the join key; AQE handles
  skew.  Aggregations are partial+final automatically (HashAggregate).
- All aggregated doubles go through exact DECIMAL (order-independent) and are
  cast back to double at the end; see registry.py docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kwack_spark.plans.registry import register
from kwack_spark.sources.parquet import load_table, register_views


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def dec(c, p: int = 18, s: int = 2) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


def dsum(c, alias: str, p: int = 18, s: int = 2) -> Column:
    """Order-independent sum of a double column: exact decimal sum -> double."""
    return F.sum(dec(c, p, s)).cast("double").alias(alias)


def davg(c, alias: str, p: int = 18, s: int = 2) -> Column:
    """avg = exact decimal sum cast to double, / count — deterministic."""
    col = F.col(c) if isinstance(c, str) else c
    return (F.sum(dec(col, p, s)).cast("double") / F.count(col)).alias(alias)


# SQL fragments for the DuckDB side of the same trick.
def _dsum(expr: str, p: int = 18, s: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({p},{s}))) AS DOUBLE)"


def _davg(expr: str, p: int = 18, s: int = 2) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL({p},{s}))) AS DOUBLE) / COUNT({expr})"


# ---------------------------------------------------------------------------
# Scan / project / filter
# ---------------------------------------------------------------------------


@register(
    "scan_region",
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("scan",),
)
def scan_region(spark, sf_dir):
    return T(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "projection_compute",
    oracle="""
        SELECT p_partkey,
               upper(p_brand) AS brand_uc,
               p_retailprice * 0.9 AS discounted,
               p_size + 10 AS size_plus,
               CASE WHEN p_size > 25 THEN 'L' WHEN p_size > 10 THEN 'M' ELSE 'S' END AS size_class
        FROM part
    """,
    tags=("project",),
)
def projection_compute(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        (F.col("p_retailprice") * 0.9).alias("discounted"),
        (F.col("p_size") + 10).alias("size_plus"),
        F.when(F.col("p_size") > 25, "L")
        .when(F.col("p_size") > 10, "M")
        .otherwise("S")
        .alias("size_class"),
    )


@register(
    "filter_predicates",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
          AND o_totalprice BETWEEN 1000 AND 100000
          AND o_orderpriority LIKE '%URGENT%'
          AND o_custkey IS NOT NULL
    """,
    tags=("filter",),
)
def filter_predicates(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(1000, 100000)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum('l_quantity')} AS sum_qty,
               {_dsum('l_extendedprice')} AS sum_base_price,
               CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(4,3))) AS DECIMAL(38,5))), 2)
                    AS DOUBLE) AS sum_disc_price,
               CAST(ROUND(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                         * (1 - CAST(l_discount AS DECIMAL(4,3)))
                         * (1 + CAST(l_tax AS DECIMAL(4,3))) AS DECIMAL(38,8))), 2)
                    AS DOUBLE) AS sum_charge,
               {_davg('l_quantity')} AS avg_qty,
               {_davg('l_extendedprice')} AS avg_price,
               {_davg('l_discount', 18, 3)} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 flavor — the flagship aggregation (partial+final HashAgg)."""
    l = T(spark, sf_dir, "lineitem")
    disc_price = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 3))
    charge = disc_price * (F.lit(1) + dec("l_tax", 4, 3))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            # round the wide-scale sums to money scale BEFORE the double
            # cast: an 18-digit unscaled decimal exceeds 2^53, where the
            # two engines' decimal->double casts can disagree by 1 ulp
            # (caught at sf0.1); at scale 2 the unscaled value fits and
            # the cast is one identical IEEE division in both
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", 18, 3),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_having",
    oracle=f"""
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               {_dsum('o_totalprice')} AS total_spent
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 5
    """,
    tags=("agg",),
)
def agg_having(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total_spent"))
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "agg_filter_where",
    oracle=f"""
        SELECT l_returnflag,
               COUNT(*) FILTER (WHERE l_quantity > 25) AS n_big,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) FILTER (WHERE l_discount > 0.05) AS DOUBLE) AS disc_rev,
               COUNT(*) AS n_all
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def agg_filter_where(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_big"),
        F.sum(F.when(F.col("l_discount") > 0.05, dec("l_extendedprice")))
        .cast("double")
        .alias("disc_rev"),
        F.count(F.lit(1)).alias("n_all"),
    )


@register(
    "agg_minmax_by",
    oracle="""
        SELECT o_orderstatus,
               max_by(o_orderkey, o_totalprice) AS biggest_order,
               min_by(o_orderkey, o_totalprice) AS smallest_order,
               max(o_totalprice) AS max_price,
               min(o_totalprice) AS min_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("agg",),
)
def agg_minmax_by(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "agg_stats_manual",
    oracle=f"""
        SELECT c_mktsegment,
               COUNT(c_acctbal) AS n,
               {_dsum('c_acctbal', 22, 2)} AS s1,
               {_dsum('c_acctbal * c_acctbal', 30, 4)} AS s2,
               ({_dsum('c_acctbal * c_acctbal', 30, 4)}
                - {_dsum('c_acctbal', 22, 2)} * {_dsum('c_acctbal', 22, 2)} / COUNT(c_acctbal))
                / (COUNT(c_acctbal) - 1) AS variance
        FROM customer
        GROUP BY c_mktsegment
    """,
    tags=("agg", "stats"),
)
def agg_stats_manual(spark, sf_dir):
    """Variance via exact decimal moments — order-independent, unlike the
    streaming stddev/var implementations whose merge order differs per engine."""
    c = T(spark, sf_dir, "customer")
    n = F.count("c_acctbal")
    s1 = F.sum(dec("c_acctbal", 22, 2)).cast("double")
    s2 = F.sum((F.col("c_acctbal") * F.col("c_acctbal")).cast("decimal(30,4)")).cast("double")
    return c.groupBy("c_mktsegment").agg(
        n.alias("n"),
        s1.alias("s1"),
        s2.alias("s2"),
        ((s2 - s1 * s1 / n) / (n - F.lit(1))).alias("variance"),
    )


@register(
    "count_distinct",
    oracle="""
        SELECT COUNT(DISTINCT o_custkey) AS n_custs,
               COUNT(DISTINCT o_orderpriority) AS n_prios,
               COUNT(*) AS n_rows
        FROM orders
    """,
    tags=("agg",),
)
def count_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.countDistinct("o_orderpriority").alias("n_prios"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_count_distinct",
    # HLL/quantile-sketch values differ across engines, so the oracled output
    # is the *bounds check*: exact count, plus booleans asserting the approx
    # values fall within tolerance.  DuckDB's side trivially outputs TRUE for
    # the booleans — a hash match proves Spark's sketches landed in-bounds.
    oracle="""
        SELECT COUNT(DISTINCT o_custkey) AS exact_custs,
               TRUE AS approx_within_15pct,
               TRUE AS median_within_decile
        FROM orders
    """,
    tags=("agg", "approx"),
)
def approx_count_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.approx_count_distinct("o_custkey").alias("approx_custs"),
        F.expr("percentile_approx(o_totalprice, 0.5)").alias("approx_median"),
        F.expr("percentile(o_totalprice, 0.4)").alias("p40"),
        F.expr("percentile(o_totalprice, 0.6)").alias("p60"),
    )
    return agg.select(
        "exact_custs",
        (
            F.abs(F.col("approx_custs") - F.col("exact_custs"))
            <= 0.15 * F.col("exact_custs")
        ).alias("approx_within_15pct"),
        F.col("approx_median").between(F.col("p40"), F.col("p60")).alias(
            "median_within_decile"
        ),
    )


@register(
    "collect_list_sorted",
    # Array outputs are serialized to a delimited string on both sides: the
    # oracle comparison's value hash needs hashable scalars (a list column
    # fails to hash); '|'.join of sorted names is engine-agnostic.
    oracle="""
        SELECT n_regionkey,
               array_to_string(list_sort(list(n_name)), '|') AS nations
        FROM nation
        GROUP BY n_regionkey
    """,
    tags=("agg", "list"),
)
def collect_list_sorted(spark, sf_dir):
    n = T(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws("|", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube
# ---------------------------------------------------------------------------


@register(
    "rollup_orders",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, {_dsum('o_totalprice')} AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "rollup"),
)
def rollup_orders(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


@register(
    "cube_orders",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, {_dsum('o_totalprice')} AS total
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def cube_orders(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "total")
    )


@register(
    "grouping_sets",
    oracle=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n, {_dsum('o_totalprice')} AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("agg",),
)
def grouping_sets(spark, sf_dir):
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "join_inner",
    oracle="""
        SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        WHERE o.o_orderstatus = 'F'
    """,
    tags=("join",),
)
def join_inner(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    # customer is the small side at scale -> broadcast explicitly
    return F.broadcast(c).join(o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_left",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               COUNT(o.o_orderkey) AS n_orders,
               COALESCE({_dsum('o.o_totalprice')}, 0.0) AS total
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    tags=("join",),
)
def join_left(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total"
            ),
        )
    )


@register(
    "join_right",
    oracle="""
        SELECT n.n_name, c.c_custkey
        FROM customer c RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey AND c.c_acctbal < 0
    """,
    tags=("join",),
)
def join_right(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") < 0)
    n = T(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey, "right").select(
        "n_name", "c_custkey"
    )


@register(
    "join_full_outer",
    oracle="""
        SELECT COALESCE(a.k, b.k) AS k, a.n_f, b.n_o
        FROM (SELECT o_custkey AS k, COUNT(*) AS n_f FROM orders WHERE o_orderstatus='F' GROUP BY o_custkey) a
        FULL JOIN (SELECT o_custkey AS k, COUNT(*) AS n_o FROM orders WHERE o_orderstatus='O' GROUP BY o_custkey) b
        ON a.k = b.k
    """,
    tags=("join",),
)
def join_full_outer(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    b = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    return a.join(b, a.k == b.k, "full").select(
        F.coalesce(a.k, b.k).alias("k"), "n_f", "n_o"
    )


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
    """,
    tags=("join",),
)
def join_semi(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 50000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("join",),
)
def join_anti(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    oracle="""
        SELECT r.r_name, n.n_name
        FROM region r CROSS JOIN nation n
    """,
    tags=("join",),
)
def join_cross(spark, sf_dir):
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_theta",
    oracle="""
        SELECT n1.n_name AS n1_name, n2.n_name AS n2_name
        FROM nation n1 JOIN nation n2
          ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
    """,
    tags=("join", "theta"),
)
def join_theta(spark, sf_dir):
    n1 = T(spark, sf_dir, "nation").alias("n1")
    n2 = T(spark, sf_dir, "nation").alias("n2")
    return n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
    ).select(F.col("n1.n_name").alias("n1_name"), F.col("n2.n_name").alias("n2_name"))


@register(
    "q3_top_revenue",
    oracle=f"""
        SELECT l.l_orderkey,
               {_dsum('''CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,3)))''', 38, 5)} AS revenue,
               o.o_orderdate, o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def q3_top_revenue(spark, sf_dir):
    """TPC-H Q3 flavor: dim-filter -> fact join -> agg -> top-k.
    Catalyst turns orderBy+limit into TakeOrderedAndProject (no full sort)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    revenue = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 3))
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=f"""
        SELECT n.n_name,
               {_dsum('''CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(4,3)))''', 38, 5)} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        ORDER BY revenue DESC
    """,
    tags=("join", "agg"),
)
def q5_region_revenue(spark, sf_dir):
    """TPC-H Q5 flavor: star join.  All dims broadcast; the only shuffle is
    orders⋈lineitem + the final (tiny) aggregation."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    l = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = dec("l_extendedprice", 12, 2) * (F.lit(1) - dec("l_discount", 4, 3))
    return (
        o.join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .join(
            F.broadcast(s),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"))
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "window_ranking",
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER w AS rn,
               rank() OVER w AS rnk,
               dense_rank() OVER w AS drnk,
               ntile(4) OVER w AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        QUALIFY rn <= 3
    """,
    tags=("window",),
)
def window_ranking(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_offset",
    oracle="""
        SELECT o_custkey, o_orderkey, o_orderdate,
               lag(o_orderkey) OVER w AS prev_order,
               lead(o_orderkey) OVER w AS next_order,
               first_value(o_orderkey) OVER w AS first_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def window_offset(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


@register(
    "window_frame_moving",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        FROM orders
    """,
    tags=("window", "frame"),
)
def window_frame_moving(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(-2, 0))
        .cast("double")
        .alias("moving_sum"),
        F.count(F.lit(1)).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "running_n"
        ),
    )


@register(
    "distinct_on_latest",
    oracle="""
        SELECT o_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
        FROM (SELECT o_custkey, o_orderkey, o_orderdate,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn = 1
    """,
    tags=("window", "distinct-on"),
)
def distinct_on_latest(spark, sf_dir):
    """DuckDB DISTINCT ON equivalent: row_number()=1 per key."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_order"),
            F.col("o_orderdate").alias("latest_date"),
        )
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops / distinct
# ---------------------------------------------------------------------------


@register(
    "sort_limit_offset",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20 OFFSET 10
    """,
    tags=("sort",),
)
def sort_limit_offset(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_totalprice")
        .offset(10)
        .limit(20)
    )


@register(
    "set_ops",
    oracle="""
        SELECT c_nationkey AS k FROM customer
        INTERSECT
        SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)
def set_ops(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
        SELECT p_size AS k FROM part
        EXCEPT
        SELECT n_nationkey AS k FROM nation
    """,
    tags=("setop",),
)
def set_except(spark, sf_dir):
    p = T(spark, sf_dir, "part").select(F.col("p_size").alias("k"))
    n = T(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))
    # subtract = set EXCEPT (distinct) — exceptAll would be bag semantics
    return p.subtract(n)


@register(
    "set_except_all",
    # bag semantics: multiplicities subtract instead of collapsing
    oracle="""
        SELECT c_nationkey AS k FROM customer
        EXCEPT ALL
        SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)
def set_except_all(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.exceptAll(s)


@register(
    "set_intersect_all",
    oracle="""
        SELECT c_nationkey AS k FROM customer
        INTERSECT ALL
        SELECT s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)
def set_intersect_all(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.intersectAll(s)


@register(
    "set_union_all",
    oracle="""
        SELECT 'customer' AS side, c_nationkey AS k FROM customer
        UNION ALL
        SELECT 'supplier' AS side, s_nationkey AS k FROM supplier
    """,
    tags=("setop",),
)
def set_union_all(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"), F.col("c_nationkey").alias("k")
    )
    s = T(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"), F.col("s_nationkey").alias("k")
    )
    return c.unionByName(s)


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("distinct",),
)
def distinct_rows(spark, sf_dir):
    return T(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# ---------------------------------------------------------------------------
# CTEs and subqueries (SQL surface — exercised through spark.sql)
# ---------------------------------------------------------------------------


@register(
    "cte_scalar_subquery",
    oracle="""
        WITH big AS (
            SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
            FROM orders GROUP BY o_custkey
        )
        SELECT b.o_custkey, b.spent
        FROM big b
        WHERE b.spent > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(DISTINCT o_custkey) FROM orders)
    """,
    tags=("cte", "subquery"),
)
def cte_scalar_subquery(spark, sf_dir):
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        WITH big AS (
            SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
            FROM orders GROUP BY o_custkey
        )
        SELECT b.o_custkey, b.spent
        FROM big b
        WHERE b.spent > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(DISTINCT o_custkey) FROM orders)
        """
    )


@register(
    "recursive_cte",
    oracle="""
        WITH RECURSIVE months(m) AS (
            SELECT 1
            UNION ALL
            SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT m.m AS mo, COUNT(o.o_orderkey) AS n_orders
        FROM months m
        LEFT JOIN orders o ON month(o.o_orderdate) = m.m
        GROUP BY m.m
    """,
    tags=("cte", "recursive"),
)
def recursive_cte(spark, sf_dir):
    """WITH RECURSIVE (Spark 4.x) — month series joined back to data."""
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
            SELECT 1
            UNION ALL
            SELECT m + 1 FROM months WHERE m < 12
        )
        SELECT m.m AS mo, COUNT(o.o_orderkey) AS n_orders
        FROM months m
        LEFT JOIN orders o ON month(o.o_orderdate) = m.m
        GROUP BY m.m
        """
    )


@register(
    "pivot_order_status",
    # Spark's relational PIVOT vs DuckDB conditional aggregation — same
    # result matrix, zero-filled on both sides
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("pivot", "agg"),
)
def pivot_order_status(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_cnt"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_cnt"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p_cnt"),
    )


@register(
    "unpivot_lineitem_measures",
    # relational UNPIVOT (wide -> long): raw values move untouched, so the
    # hash compare is exact; the filter reaches the parquet scan on both sides
    oracle="""
        SELECT l_orderkey, l_linenumber, k, v
        FROM (
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
            FROM lineitem WHERE l_orderkey <= 400
        )
        UNPIVOT (v FOR k IN (l_quantity, l_discount, l_tax))
    """,
    tags=("unpivot",),
)
def unpivot_lineitem_measures(spark, sf_dir):
    l = (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 400)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
    )
    return l.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "k",
        "v",
    )


@register(
    "lateral_top_orders",
    oracle="""
        SELECT n.n_name, l.o_orderkey, l.o_totalprice
        FROM nation n,
        LATERAL (
            SELECT o.o_orderkey, o.o_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 2
        ) l
    """,
    tags=("lateral", "join", "topk"),
)
def lateral_top_orders(spark, sf_dir):
    """Correlated LATERAL derived table (per-nation top-2 orders) — the
    same SQL text runs on both engines."""
    register_views(spark, sf_dir, only=("nation", "orders", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, l.o_orderkey, l.o_totalprice
        FROM nation n,
        LATERAL (
            SELECT o.o_orderkey, o.o_totalprice
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey
            LIMIT 2
        ) l
        """
    )


@register(
    "correlated_in_subquery",
    oracle="""
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
    """,
    tags=("subquery",),
)
def correlated_in_subquery(spark, sf_dir):
    register_views(spark, sf_dir, only=("part", "lineitem"))
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        """
    )


# ---------------------------------------------------------------------------
# Inline tables, DDL surface, GROUP BY ALL, ordered string agg, date spine,
# correlation/regression moments
# ---------------------------------------------------------------------------

_VALUES_SQL = """
    SELECT v.code, r.r_name
    FROM (VALUES (0, 'AFR'), (1, 'AME'), (2, 'ASI'), (3, 'EUR'), (4, 'MEA'))
         AS v(rk, code)
    JOIN region r ON r.r_regionkey = v.rk
"""


@register(
    "values_inline_join",
    oracle=_VALUES_SQL,
    tags=("values", "join"),
)
def values_inline_join(spark, sf_dir):
    """Inline VALUES derived table joined to a real table — the literal-table
    surface a CLI user types; identical SQL text runs on both engines."""
    register_views(spark, sf_dir, only=("region",))
    return spark.sql(_VALUES_SQL)


@register(
    "ddl_create_view",
    # the Spark side materializes the logic behind CREATE TEMP VIEW + SELECT;
    # the oracle expresses the same two-step as a CTE
    oracle="""
        WITH nation_custcnt AS (
            SELECT n.n_nationkey, n.n_name, COUNT(c.c_custkey) AS n_cust
            FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_nationkey, n.n_name
        )
        SELECT n_nationkey, n_name, n_cust
        FROM nation_custcnt
        WHERE n_cust >= 50
    """,
    tags=("ddl", "view"),
)
def ddl_create_view(spark, sf_dir):
    """User-typed DDL surface (SURVEY §2.B DDL/DML): CREATE OR REPLACE TEMP
    VIEW ... AS SELECT, then query the view — the reference's users do this
    verbatim through the delegated SQL connection."""
    register_views(spark, sf_dir, only=("nation", "customer"))
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW nation_custcnt AS
        SELECT n.n_nationkey, n.n_name, COUNT(c.c_custkey) AS n_cust
        FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_nationkey, n.n_name
        """
    )
    return spark.sql(
        "SELECT n_nationkey, n_name, n_cust FROM nation_custcnt WHERE n_cust >= 50"
    )


_GROUP_BY_ALL_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY ALL
"""


@register(
    "group_by_all",
    oracle=_GROUP_BY_ALL_SQL,
    tags=("agg", "sql-surface"),
)
def group_by_all(spark, sf_dir):
    """GROUP BY ALL (infer grouping cols from the projection) — supported by
    both Spark 4 and DuckDB with identical text."""
    register_views(spark, sf_dir, only=("orders",))
    return spark.sql(_GROUP_BY_ALL_SQL)


@register(
    "star_dialect_exclude_replace",
    # DuckDB star-dialect parity: a reference user's `SELECT * EXCLUDE (...)
    # REPLACE (...)` + `COLUMNS('regex')` queries map to DataFrame drop /
    # withColumn / colRegex — same result set, engine-idiomatic plan
    oracle="""
        SELECT * EXCLUDE (c_mktsegment) REPLACE (upper(c_name) AS c_name)
        FROM customer
    """,
    tags=("sql-surface", "dialect"),
)
def star_dialect_exclude_replace(spark, sf_dir):
    """DuckDB's star modifiers re-expressed on DataFrames: EXCLUDE ->
    .drop, REPLACE -> .withColumn.  Column pruning is identical — Catalyst
    never scans the excluded column (ReadSchema omits it)."""
    c = T(spark, sf_dir, "customer")
    return c.drop("c_mktsegment").withColumn("c_name", F.upper("c_name"))


@register(
    "star_dialect_columns_regex",
    # DuckDB COLUMNS('regex') projection == DataFrame colRegex; aggregate
    # over the matched set with exact decimal sums
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_l_extendedprice,
               CAST(sum(CAST(l_discount AS DECIMAL(38,2))) AS DOUBLE) AS sum_l_discount,
               CAST(sum(CAST(l_tax AS DECIMAL(38,2))) AS DOUBLE) AS sum_l_tax
        FROM lineitem
    """,
    tags=("sql-surface", "dialect"),
)
def star_dialect_columns_regex(spark, sf_dir):
    """COLUMNS-pattern projection via colRegex: every lineitem column
    matching the price/discount/tax pattern is summed (decimal-exact), the
    column set discovered by regex exactly as DuckDB's COLUMNS('...')."""
    li = T(spark, sf_dir, "lineitem")
    matched = li.select(li.colRegex("`^l_(extendedprice|discount|tax)$`")).columns
    aggs = [
        F.sum(F.col(c).cast("decimal(38,2)")).cast("double").alias(f"sum_{c}")
        for c in sorted(matched)
    ]
    return li.agg(F.count(F.lit(1)).alias("n"), *aggs)


@register(
    "profile_table_stats",
    # SUMMARIZE-shaped data profiling, exactly: one row per column with
    # row/null/distinct counts and typed min/max (numerics as double,
    # strings as-is — no cross-engine float formatting in play).  The scan
    # is ONE pass: Spark computes every column's aggregates in a single
    # agg, then unpivots driver-side expressions, not per-column scans.
    oracle="""
        SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
               count(*) - count(c_custkey) AS n_nulls,
               count(DISTINCT c_custkey) AS n_distinct,
               CAST(min(c_custkey) AS DOUBLE) AS min_num,
               CAST(max(c_custkey) AS DOUBLE) AS max_num,
               NULL AS min_str, NULL AS max_str
        FROM customer
        UNION ALL
        SELECT 'c_acctbal', count(*), count(*) - count(c_acctbal),
               count(DISTINCT c_acctbal),
               CAST(min(c_acctbal) AS DOUBLE), CAST(max(c_acctbal) AS DOUBLE),
               NULL, NULL
        FROM customer
        UNION ALL
        SELECT 'c_name', count(*), count(*) - count(c_name),
               count(DISTINCT c_name), NULL, NULL, min(c_name), max(c_name)
        FROM customer
        UNION ALL
        SELECT 'c_mktsegment', count(*), count(*) - count(c_mktsegment),
               count(DISTINCT c_mktsegment), NULL, NULL,
               min(c_mktsegment), max(c_mktsegment)
        FROM customer
    """,
    tags=("sql-surface", "profiling"),
)
def profile_table_stats(spark, sf_dir):
    """Column profile of a table (DuckDB's SUMMARIZE shape) in ONE scan:
    all per-column aggregates run in a single agg() over the table, and the
    per-column rows are assembled from that one result — at 100 TB this is
    the difference between one pass and one pass per column."""
    import pyspark.sql.types as ST

    c = T(spark, sf_dir, "customer")
    num_cols = ["c_custkey", "c_acctbal"]
    str_cols = ["c_name", "c_mktsegment"]
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for col in num_cols + str_cols:
        aggs += [
            F.count(col).alias(f"_nn_{col}"),
            F.count_distinct(col).alias(f"_nd_{col}"),
            F.min(col).alias(f"_min_{col}"),
            F.max(col).alias(f"_max_{col}"),
        ]
    row = c.agg(*aggs).collect()[0]

    def _f(x):
        # empty table -> min/max aggregate to NULL; propagate NULL stats
        return float(x) if x is not None else None

    out = []
    for col in num_cols:
        out.append(
            (col, row["_rows"], row["_rows"] - row[f"_nn_{col}"], row[f"_nd_{col}"],
             _f(row[f"_min_{col}"]), _f(row[f"_max_{col}"]), None, None)
        )
    for col in str_cols:
        out.append(
            (col, row["_rows"], row["_rows"] - row[f"_nn_{col}"], row[f"_nd_{col}"],
             None, None, row[f"_min_{col}"], row[f"_max_{col}"])
        )
    schema = ST.StructType(
        [
            ST.StructField("column_name", ST.StringType(), False),
            ST.StructField("n_rows", ST.LongType(), False),
            ST.StructField("n_nulls", ST.LongType(), False),
            ST.StructField("n_distinct", ST.LongType(), False),
            ST.StructField("min_num", ST.DoubleType(), True),
            ST.StructField("max_num", ST.DoubleType(), True),
            ST.StructField("min_str", ST.StringType(), True),
            ST.StructField("max_str", ST.StringType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)


@register(
    "listagg_ordered",
    # deterministic ordered string aggregation: Spark sorts the collected
    # array then joins; DuckDB orders inside string_agg
    oracle="""
        SELECT r.r_name,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    tags=("agg", "listagg"),
)
def listagg_ordered(spark, sf_dir):
    r = T(spark, sf_dir, "region")
    n = T(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
    )


@register(
    "sequence_date_spine",
    # calendar spine: months with zero orders still appear (LEFT JOIN from
    # the generated series) — the standard gap-filling shape for reporting
    oracle="""
        SELECT d.mo, COUNT(o.o_orderkey) AS n_orders
        FROM (
            SELECT CAST(unnest(generate_series(DATE '1995-01-01', DATE '1995-12-01',
                                               INTERVAL 1 MONTH)) AS DATE) AS mo
        ) d
        LEFT JOIN orders o ON date_trunc('month', o.o_orderdate) = d.mo
        GROUP BY d.mo
    """,
    tags=("sequence", "date-spine"),
)
def sequence_date_spine(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-12-01").cast("date"),
                F.expr("interval 1 month"),
            )
        ).alias("mo")
    )
    return (
        spine.join(o, F.trunc(o.o_orderdate, "month") == F.col("mo"), "left")
        .groupBy("mo")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "stat_corr_regression",
    # correlation + regression slope/intercept from exact decimal moments
    # (n, Σx, Σy, Σxx, Σyy, Σxy): the sums are bit-exact on both engines, and
    # the final double-arithmetic formula is textually identical, so IEEE
    # determinism gives identical bits — unlike corr()/regr_slope() whose
    # streaming merge order differs per engine.
    oracle="""
        SELECT l_returnflag, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
               round((n * sxy - sx * sy) /
                 (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_xy
        FROM (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(15,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(15,4)) AS DECIMAL(38,8))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(15,4)) AS DECIMAL(38,8))) AS DOUBLE) AS sxy
            FROM lineitem
            GROUP BY l_returnflag
        )
    """,
    tags=("agg", "stats"),
)
def stat_corr_regression(spark, sf_dir):
    l = T(spark, sf_dir, "lineitem")
    # 19-digit left factor: keeps the DuckDB oracle's decimal multiply in
    # int128 (int64 overflows at precision <=18); exact on both engines
    dx = F.col("l_quantity").cast("decimal(15,4)")
    dx19 = F.col("l_quantity").cast("decimal(19,4)")
    dy = F.col("l_extendedprice").cast("decimal(15,4)")
    dy19 = F.col("l_extendedprice").cast("decimal(19,4)")
    moments = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum((dx19 * dx).cast("decimal(38,8)")).cast("double").alias("sxx"),
        F.sum((dy19 * dy).cast("decimal(38,8)")).cast("double").alias("syy"),
        F.sum((dx19 * dy).cast("decimal(38,8)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    # the int128-decimal -> double casts of the moments round differently
    # per engine in the last ulp; rounding the derived ratios to a shared
    # precision absorbs that (the moments themselves are exact)
    return moments.select(
        "l_returnflag",
        "n",
        F.round(slope, 9).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            9,
        ).alias("corr_xy"),
    )


@register(
    "median_quantiles",
    # exact interpolated quantiles over an integer column: both engines use
    # the (n-1)*q convention and interpolate between two ints, so the double
    # result is bit-exact
    oracle="""
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n,
               median(p_size) AS med_size,
               quantile_cont(p_size, 0.25) AS q25,
               quantile_cont(p_size, 0.75) AS q75
        FROM part
        GROUP BY p_brand
    """,
    tags=("agg", "quantile"),
)
def median_quantiles(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.median("p_size").alias("med_size"),
        F.percentile("p_size", F.lit(0.25)).alias("q25"),
        F.percentile("p_size", F.lit(0.75)).alias("q75"),
    )


@register(
    "window_range_interval",
    # event-time RANGE frame: events per user in the preceding hour.
    # The frame runs on exact epoch MICROS on both sides — DuckDB's
    # epoch() keeps fractional seconds while Spark's unix_timestamp
    # truncates, and that 1-second disagreement shows up once events are
    # dense enough (caught at sf0.1)
    oracle="""
        SELECT event_id, user_id, ts,
               count(*) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS n_last_hour
        FROM events
    """,
    tags=("window", "range-frame"),
)
def window_range_interval(spark, sf_dir):
    """RANGE frame over event time (the 'events in the trailing hour'
    analytic) — a value-based frame on exact epoch micros, identical on
    both engines; the Spark window shuffles once on user_id."""
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id", "user_id", "ts", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )

@register(
    "histogram_event_values",
    oracle="""
        WITH b AS (
            SELECT CAST(floor(value / 2.5) AS BIGINT) AS bucket FROM events
            WHERE value IS NOT NULL
        )
        SELECT bucket,
               CAST(bucket AS DOUBLE) * 2.5 AS lo,
               CAST(bucket + 1 AS DOUBLE) * 2.5 AS hi,
               count(*) AS n
        FROM b GROUP BY bucket
    """,
    tags=("agg", "histogram"),
)
def histogram_event_values(spark, sf_dir):
    """Fixed-width value histogram — the analytics primitive behind every
    distribution dashboard.  One partial+final aggregation on the bucket id
    (bounded distinct values, so the final agg is tiny at any scale); the
    bucket arithmetic is IEEE-exact on both engines (value/2.5 then floor,
    bucket*2.5 products of small ints)."""
    e = T(spark, sf_dir, "events").where(F.col("value").isNotNull())
    b = e.select(F.floor(F.col("value") / 2.5).cast("long").alias("bucket"))
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).select(
        "bucket",
        (F.col("bucket") * 2.5).alias("lo"),
        ((F.col("bucket") + 1) * 2.5).alias("hi"),
        "n",
    )


@register(
    "ntile_window_stats",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               ntile(4) OVER w AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window",),
)
def ntile_window_stats(spark, sf_dir):
    """Distribution window family: ntile / percent_rank / cume_dist.  The
    unique (o_totalprice, o_orderkey) ordering makes all three
    deterministic; percent_rank's (rank-1)/(n-1) division is a single IEEE
    op, bit-identical across engines.  One shuffle on the partition key."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )



# ---------------------------------------------------------------------------
# Round-3 surface widening: natural join, boolean/bitwise aggregates,
# TRY_CAST, QUALIFY-style top-N per group, GROUPING markers, nth_value
# ---------------------------------------------------------------------------


@register(
    "join_natural",
    # TPC-H prefixes keep raw tables natural-join-proof, so both sides
    # project to the shared column name first — the realistic shape of a
    # topic join where two feeds share a field name.
    oracle="""
        SELECT nationkey, c_name, n_name
        FROM (SELECT c_nationkey AS nationkey, c_name FROM customer)
        NATURAL JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation)
    """,
    tags=("join",),
)
def join_natural(spark, sf_dir):
    """NATURAL JOIN surface (SQL-only in Spark too).  Physically a broadcast
    hash join: nation is a 25-row dimension."""
    register_views(spark, sf_dir, only=("customer", "nation"))
    return spark.sql(
        """
        SELECT nationkey, c_name, n_name
        FROM (SELECT c_nationkey AS nationkey, c_name FROM customer)
        NATURAL JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation)
        """
    )


@register(
    "agg_bool_bit",
    oracle="""
        SELECT l_returnflag,
               bool_and(l_quantity > 1)   AS all_multi,
               bool_or(l_discount > 0.05) AS any_discounted,
               bit_and(l_linenumber) AS band,
               bit_or(l_linenumber)  AS bor,
               bit_xor(l_linenumber) AS bxor
        FROM lineitem GROUP BY l_returnflag
    """,
    tags=("aggregate",),
)
def agg_bool_bit(spark, sf_dir):
    """Boolean and bitwise aggregate family — integer/boolean lattice ops,
    so partial+final aggregation is exact with zero float concerns."""
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 1).alias("all_multi"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
        F.bit_and("l_linenumber").alias("band"),
        F.bit_or("l_linenumber").alias("bor"),
        F.bit_xor("l_linenumber").alias("bxor"),
    )


@register(
    "try_cast_safe",
    # TRY_CAST returns NULL instead of erroring — the ingestion-hardening
    # cast for dirty columns.  The priority prefix digit parses; the full
    # string does not.
    oracle="""
        SELECT o_orderkey,
               TRY_CAST(o_orderpriority AS INTEGER)            AS full_parse,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prefix_parse,
               CAST(o_orderkey AS VARCHAR)                     AS key_text
        FROM orders
    """,
    tags=("cast",),
)
def try_cast_safe(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").try_cast("int").alias("full_parse"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prefix_parse"),
        # bigint->varchar renders identically on both engines (double->varchar
        # does not — Java vs C float formatting)
        F.col("o_orderkey").cast("string").alias("key_text"),
    )


@register(
    "qualify_top_per_group",
    # DuckDB spells it QUALIFY; Spark expresses the same top-N-per-group as
    # a window filter.  Unique (o_totalprice DESC, o_orderkey) ordering
    # keeps row_number deterministic.
    oracle="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM orders
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) <= 2
    """,
    tags=("window", "qualify"),
)
def qualify_top_per_group(spark, sf_dir):
    """Top-2 orders per customer: one shuffle on o_custkey; at scale this is
    the per-key top-k pattern (rank inside partition, filter early)."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "grouping_id_rollup",
    # GROUPING() disambiguates "NULL because rolled up" from "NULL in the
    # data"; the composed gid matches Spark's grouping_id bit order
    # (leftmost column = most significant bit).
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus)                               AS g_status,
               GROUPING(o_orderpriority)                             AS g_prio,
               GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("aggregate", "rollup"),
)
def grouping_id_rollup(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_prio"),
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "window_nth_value",
    # value-position window family over the full partition frame; unique
    # orderdate+orderkey ordering makes first/last/nth deterministic.
    oracle="""
        SELECT o_custkey, o_orderkey,
               first_value(o_orderkey) OVER w AS first_ord,
               last_value(o_orderkey)  OVER w AS last_ord,
               nth_value(o_orderkey, 2) OVER w AS second_ord
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("window",),
)
def window_nth_value(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_orderkey").over(w).alias("first_ord"),
        F.last("o_orderkey").over(w).alias("last_ord"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ord"),
    )


@register(
    "join_positional",
    # DuckDB's POSITIONAL JOIN zips two relations row-by-row.  Raw physical
    # order is not reproducible on either engine at scale, so both sides
    # are given an explicit total order first — the deterministic form of
    # the dialect feature (zip region ranked by key with the 5 lowest-key
    # nations).
    oracle="""
        WITH r AS (
            SELECT r_regionkey, r_name,
                   row_number() OVER (ORDER BY r_regionkey) AS pos
            FROM region
        ),
        n AS (
            SELECT n_nationkey, n_name,
                   row_number() OVER (ORDER BY n_nationkey) AS pos
            FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 5)
        )
        SELECT r.pos, r.r_regionkey, r.r_name, n.n_nationkey, n.n_name
        FROM r JOIN n USING (pos)
        ORDER BY pos
    """,
    tags=("join", "positional", "dialect"),
)
def join_positional(spark, sf_dir):
    """POSITIONAL JOIN, deterministically: rank both sides by an explicit
    key and equi-join on the rank.  The single-partition row_number window
    here is fine for dimension-sized zips; a fact-sized positional zip
    would use operators/scale.py:global_running_sum's range-partitioned
    ranking instead of one global window."""
    r = T(spark, sf_dir, "region").withColumn(
        "pos", F.row_number().over(Window.orderBy("r_regionkey"))
    )
    n = (
        T(spark, sf_dir, "nation")
        .orderBy("n_nationkey")
        .limit(5)
        .withColumn("pos", F.row_number().over(Window.orderBy("n_nationkey")))
    )
    return (
        r.join(n, "pos")
        .select("pos", "r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("pos")
    )


@register(
    "order_by_all",
    # DuckDB's ORDER BY ALL sorts by every select-list column left to
    # right — a total order over the projection
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderstatus, o_orderpriority
        ORDER BY ALL
    """,
    tags=("sort", "dialect"),
)
def order_by_all(spark, sf_dir):
    """ORDER BY ALL: sort on the full projection in column order."""
    out = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return out.orderBy(*out.columns)


@register(
    "agg_mode_manual",
    # MODE() with a deterministic tie rule (smallest value wins) — both
    # engines' native mode() break ties by arrival order, which no
    # distributed plan can reproduce, so the dialect function is graded in
    # its only well-defined form: count + rank with an explicit tiebreak.
    oracle="""
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderstatus, o_orderpriority
        ),
        r AS (
            SELECT o_orderstatus, o_orderpriority, n,
                   row_number() OVER (PARTITION BY o_orderstatus
                                      ORDER BY n DESC, o_orderpriority) AS rk
            FROM c
        )
        SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
        FROM r WHERE rk = 1
        ORDER BY o_orderstatus
    """,
    tags=("agg", "mode", "dialect"),
)
def agg_mode_manual(spark, sf_dir):
    """Deterministic MODE per group: one count aggregation, then a
    rank-1 pick with a total tiebreak — the shape native mode() cannot
    guarantee under parallel execution."""
    c = (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), "o_orderpriority"
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
        .orderBy("o_orderstatus")
    )
