"""Pins for the one stage holder, ``kwack_spark/stages.py``.

- a held intermediate rotates: repeated calls on distinct inputs keep one
  CacheManager entry per tag, not one per call;
- ``.persist(`` appears under kwack_spark/ only inside the holder and in
  functions that unpersist what they persisted before returning;
- a consumer that builds the same plan as a held frame reads the held
  cache (Spark's CacheManager substitutes it by plan match) without
  asking the holder for it.
"""

from __future__ import annotations

import pathlib
import re

from pyspark.sql import functions as F

from kwack_spark import stages

ROOT = pathlib.Path(__file__).resolve().parent.parent / "kwack_spark"


def test_global_running_sum_keeps_one_cache_entry(spark):
    """Three running sums over distinct inputs: the range-partitioned
    intermediate of the previous call is released, so the session's
    CacheManager holds the same number of entries after each call."""
    from kwack_spark.operators.scale import global_running_sum

    cm = spark._jsparkSession.sharedState().cacheManager()
    counts = []
    for n in (10, 20, 30):
        df = spark.range(n).withColumn("v", F.col("id") % 3)
        rows = global_running_sum(df, ["id"], "v", "cs", num_partitions=2).collect()
        assert len(rows) == n
        counts.append(cm.numCachedEntries())
    assert counts[0] == counts[1] == counts[2], counts
    _, held = stages._HELD[spark][("hold", "running_sum_ranged")]
    assert held.storageLevel.useMemory


def test_persist_only_in_stage_holder():
    """``.persist(`` under kwack_spark/ appears only in stages.py and in
    the two functions that unpersist their frames before they return."""
    allowed = {
        ("stages.py", "_rotate"),
        ("graph.py", "connected_components"),
        ("pipeline_dedup.py", "dedup_lsh_recall"),
    }
    hits = set()
    for p in sorted(ROOT.rglob("*.py")):
        src = p.read_text()
        for m in re.finditer(r"\.persist\(", src):
            defs = re.findall(r"^def (\w+)", src[: m.start()], re.M)
            hits.add((p.name, defs[-1] if defs else "<module>"))
    assert hits <= allowed, hits - allowed
    for name, fn in hits - {("stages.py", "_rotate")}:
        src = next(ROOT.rglob(name)).read_text()
        body = re.search(rf"\ndef {fn}\(.*?(?=\n(?:def |@|class )|\Z)", src, re.S)[0]
        assert ".unpersist(" in body, (name, fn)


def test_incremental_lsh_reads_warmed_history_index(spark):
    """After ``warm_incremental_lsh_history`` holds the history band-key
    index, ``incremental_lsh_new_dups`` over the same history plans that
    subtree as an ``InMemoryTableScan`` of the held frame."""
    from kwack_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 4} jumps over lazy dog {i % 3}")
         for i in range(24)],
        "doc_id long, text string",
    )
    hist = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    dedup.warm_incremental_lsh_history(hist, "doc_id", "text")
    _, held = stages._HELD[spark][("hold", "lsh_inc_histkeys:k8b2n3")]
    assert held.storageLevel.useMemory

    out = dedup.incremental_lsh_new_dups(hist, batch, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "InMemoryTableScan" in ln]
    assert any("band_key" in ln for ln in scans), plan
    assert out.count() > 0
