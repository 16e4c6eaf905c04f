"""Scale-pattern tests: bucketed co-located joins (plan-verified zero
exchange), salted skew join and salted aggregation equivalence."""

import pytest
from pyspark.sql import functions as F

from kwack_spark.operators import scale
from kwack_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def test_bucketed_join_no_exchange(spark, tmp_path):
    # saveAsTable writes under spark.sql.warehouse.dir (static conf; default
    # ./spark-warehouse, gitignored); tables are dropped in finally
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = load_table(spark, SF, "orders")
        c = load_table(spark, SF, "customer").withColumnRenamed("c_custkey", "o_custkey")
        bo = scale.bucket_table(spark, o, "orders_b", ["o_custkey"], 8)
        bc = scale.bucket_table(spark, c, "customer_b", ["o_custkey"], 8)
        joined = bo.join(bc, "o_custkey").select("o_orderkey", "c_name")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
        # same result as the unbucketed join
        plain = o.join(c, "o_custkey").select("o_orderkey", "c_name")
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_join_equivalence(spark):
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    salted = scale.salted_join(o, c, "o_custkey", salt=4)
    plain = o.join(c, "o_custkey")
    assert sorted(map(tuple, salted.select("o_orderkey", "c_name").collect())) == sorted(
        map(tuple, plain.select("o_orderkey", "c_name").collect())
    )


def test_salted_agg_equivalence(spark):
    o = load_table(spark, SF, "orders")
    salted = scale.salted_agg(
        o,
        ["o_orderstatus"],
        [
            (F.count(F.lit(1)).alias("pc"), "sum", "n"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("ps"),
                "sum",
                "total",
            ),
        ],
        salt=8,
    )
    plain = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_global_running_sum_matches_single_partition_window(spark):
    from pyspark.sql import Window

    o = load_table(spark, SF, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("v")
    )
    out = scale.global_running_sum(
        o, [F.col("o_orderkey").asc()], "v", "cum", num_partitions=7
    )
    w = Window.orderBy("o_orderkey").rowsBetween(Window.unboundedPreceding, 0)
    ref = o.withColumn("cum", F.sum("v").over(w))
    assert sorted(map(tuple, out.select("o_orderkey", "cum").collect())) == sorted(
        map(tuple, ref.select("o_orderkey", "cum").collect())
    )


def test_global_running_sum_descending_order(spark):
    o = load_table(spark, SF, "orders").select(
        "o_orderkey", F.lit(1).alias("one")
    )
    out = scale.global_running_sum(
        o, [F.col("o_orderkey").desc()], "one", "rn", num_partitions=5
    )
    n = o.count()
    # cumsum of 1 over a total order == dense descending rank 1..n
    got = {r["o_orderkey"]: r["rn"] for r in out.collect()}
    keys_desc = sorted(got, reverse=True)
    assert [got[k] for k in keys_desc] == list(range(1, n + 1))


def test_global_running_sum_is_parallel_not_single_partition(spark):
    """The point of the operator: no single-partition Exchange for the data
    window (the offsets side may have one, over <= num_partitions rows)."""
    o = load_table(spark, SF, "orders").select("o_orderkey", F.col("o_custkey").alias("v"))
    out = scale.global_running_sum(o, [F.col("o_orderkey").asc()], "v", "cum", 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the big-side window must partition by __pid, never SinglePartition
    import re
    windows = [l for l in plan.splitlines() if "Window" in l and "__local" in l]
    assert windows, plan
    assert all("__pid" in l for l in windows), plan


# ---------------------------------------------------------------------------
# bind(): the expression-level let that every shingle/simhash operator rides
# ---------------------------------------------------------------------------


def test_bind_preserves_semantics(spark):
    from pyspark.sql import functions as F

    from kwack_spark.functions import text as TX

    df = spark.createDataFrame(
        [("a b c d",), ("",), (None,), ("single",)], "text string"
    )
    bound = df.select(
        TX.bind(F.split("text", " "), lambda t: F.size(t)).alias("n")
    ).collect()
    naive = df.select(F.size(F.split("text", " ")).alias("n")).collect()
    assert [r.n for r in bound] == [r.n for r in naive]


def test_bind_null_input_yields_null(spark):
    from pyspark.sql import functions as F

    from kwack_spark.functions import text as TX

    # body sees the evaluated value; a NULL column flows through as NULL
    out = spark.createDataFrame([(None,)], "x string").select(
        TX.bind(F.col("x"), lambda v: F.upper(v)).alias("u")
    ).collect()
    assert out[0].u is None


def test_shingles_match_reference_construction(spark):
    from pyspark.sql import functions as F

    from kwack_spark.functions import text as TX

    df = spark.createDataFrame(
        [("wa wb wc wd we",), ("a b",), ("only",)], "text string"
    )
    got = df.select(TX.shingles(TX.tokens("text"), 3).alias("sh")).collect()
    assert got[0].sh == ["wa wb wc", "wb wc wd", "wc wd we"]
    assert got[1].sh == ["a b"]   # shorter than n -> single joined shingle
    assert got[2].sh == ["only"]


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    """Count-min invariant: every estimate >= the true count; and with key
    cardinality far below the counter space, estimates are exactly the true
    counts (no colliding keys to inflate them)."""
    rows = [(k,) for k in ["a"] * 50 + ["b"] * 7 + ["c"] * 1]
    df = spark.createDataFrame(rows, "k string")
    est = {r.k: r.cms_est for r in scale.cms_estimates(df, "k").collect()}
    exact = {"a": 50, "b": 7, "c": 1}
    assert set(est) == set(exact)
    assert all(est[k] >= exact[k] for k in exact)
    # 3 keys into 4x256 counters: a collision would need two keys sharing a
    # bucket in EVERY depth — md5 makes that astronomically unlikely here
    assert est == exact


def test_cms_sketches_merge_exactly(spark):
    """sketch(A) merged with sketch(B) gives the same estimates as
    sketch(A ∪ B) — counters add elementwise, so an incremental pipeline
    keeps one running sketch per corpus and merges per ingest batch."""
    a = spark.createDataFrame([(k,) for k in ["x"] * 5 + ["y"] * 2], "k string")
    b = spark.createDataFrame([(k,) for k in ["x"] * 3 + ["z"] * 4], "k string")
    merged = scale.cms_merge(scale.cms_sketch(a, "k"), scale.cms_sketch(b, "k"))
    whole = a.unionByName(b)
    est_merged = {
        r.k: r.cms_est
        for r in scale.cms_estimates(whole, "k", sketch=merged).collect()
    }
    est_whole = {r.k: r.cms_est for r in scale.cms_estimates(whole, "k").collect()}
    assert est_merged == est_whole == {"x": 8, "y": 2, "z": 4}


# ---------------------------------------------------------------------------
# HyperLogLog mergeable registers
# ---------------------------------------------------------------------------


def test_hll_sketch_shape_and_bounds(spark):
    e = load_table(spark, SF, "events").select("user_id")
    sk = scale.hll_sketch(e, "user_id").collect()
    assert len(sk) <= 64
    assert all(0 <= r.j < 64 and 1 <= r.mx <= 64 for r in sk)


def test_hll_merge_equals_direct(spark):
    # merge of disjoint halves == whole-corpus sketch, register for register
    e = load_table(spark, SF, "events").select("user_id")
    lo = e.filter(F.col("user_id") % 2 == 0)
    hi = e.filter(F.col("user_id") % 2 == 1)
    merged = scale.hll_merge(
        scale.hll_sketch(lo, "user_id"), scale.hll_sketch(hi, "user_id")
    )
    direct = scale.hll_sketch(e, "user_id")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_hll_merge_idempotent_under_redelivery(spark):
    # at-least-once ingest: merging the same batch twice changes nothing
    e = load_table(spark, SF, "events").select("user_id")
    once = scale.hll_sketch(e, "user_id")
    twice = scale.hll_merge(once, once)
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))


def test_hll_estimate_accuracy(spark):
    # event_id: thousands of distinct keys, well above the 2.5*m small-range
    # regime where the raw estimator (deliberately uncorrected — see
    # hll_estimate docstring on ln() determinism) is biased
    e = load_table(spark, SF, "events").select("event_id")
    est = scale.hll_estimate(scale.hll_sketch(e, "event_id")).collect()[0]
    exact = e.distinct().count()
    # m=64 -> ~13% standard error; allow 3 sigma
    assert abs(est.hll_est - exact) / exact < 0.4, (est.hll_est, exact)


def test_hll_sketch_grouped_by_shard(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "source")
    per = scale.hll_sketch(d, "doc_id", by=("source",))
    n_sources = d.select("source").distinct().count()
    # <= 64 registers per shard, and every shard contributes
    counts = {r.source: r.n for r in per.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert len(counts) == n_sources
    assert all(n <= 64 for n in counts.values())


def test_cms_prebuilt_sketch_absent_buckets(spark):
    """Estimating against a prebuilt sketch: a probe key whose buckets were
    never observed must read those counters as 0 (CMS estimate 0), not be
    dropped or inflated by an inner join over only its nonzero buckets."""
    from kwack_spark.operators import scale

    a = spark.createDataFrame([(f"k{i}",) for i in range(4)], "key string")
    sketch = scale.cms_sketch(a, "key", depth=4, width=256)
    probe = spark.createDataFrame(
        [("k0",), ("zz_unseen_key",)], "key string"
    )
    est = {
        r.key: r.cms_est
        for r in scale.cms_estimates(
            probe, "key", depth=4, width=256, sketch=sketch
        ).collect()
    }
    assert est["k0"] >= 1
    assert "zz_unseen_key" in est
    # at width=256 with 4 keys, at least one of the 4 buckets is empty
    assert est["zz_unseen_key"] == 0


def test_shuffle_probe_logs_when_walk_budget_runs_out(spark, caplog):
    """The exchange probe answers "already wide" when it runs out of its
    node budget, and says so at debug level instead of silently skipping
    the widen."""
    import logging

    df = spark.range(100).repartition(4).select((F.col("id") % 7).alias("k"))
    jplan = df._jdf.queryExecution().sparkPlan()
    with caplog.at_level(logging.DEBUG, logger=scale.__name__):
        assert scale._has_shuffle_exchange(jplan) is True  # a real exchange
        assert not caplog.records
        assert scale._has_shuffle_exchange(jplan, max_nodes=1) is True
    assert any("gave up after 1 plan nodes" in r.getMessage() for r in caplog.records)
