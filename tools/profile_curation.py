"""Stage-level wall-clock profile of the two big curation DAGs.

Monkey-patches stages.checkpoint to time each eager stage
materialization, then times the final action — so the 19-20 s wall of
corpus_curation_all_modalities / corpus_curation_incremental_multimodal
decomposes into named stages.  Measurement-only; nothing here changes
query semantics.

Usage: python tools/profile_curation.py <query> [<query> ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    names = sys.argv[1:]
    from pyspark.sql import functions as F

    from kwack_spark import stages
    from kwack_spark.plans.registry import query_map
    from kwack_spark.session import get_session
    from kwack_spark.sources.parquet import load_table

    spark = get_session(app_name="kwack-profile")
    qmap = query_map()
    sf_dir = "/root/testdata/sf0.1"

    # warmup: one parquet scan + aggregate, then a Python-worker stage
    warm = load_table(spark, sf_dir, "lineitem").limit(10000)
    warm.groupBy("l_returnflag").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("s")
    ).write.mode("overwrite").format("noop").save()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()

    orig = stages.checkpoint
    timings: list[tuple[str, float]] = []

    def timed(tag, df):
        t = time.perf_counter()
        out = orig(tag, df)
        timings.append((tag, time.perf_counter() - t))
        return out

    stages.checkpoint = timed
    try:
        for name in names:
            for rep in range(2):
                timings.clear()
                spark.sparkContext.setJobDescription(f"profile:{name}")
                t0 = time.perf_counter()
                df = qmap[name](spark, sf_dir)
                t_build = time.perf_counter() - t0
                df.write.mode("overwrite").format("noop").save()
                t_total = time.perf_counter() - t0
                print(f"\n=== {name} rep{rep}: total {t_total:.2f}s "
                      f"(build+stages {t_build:.2f}s, action {t_total - t_build:.2f}s)")
                for tag, sec in timings:
                    print(f"    stage {tag:24s} {sec:6.2f}s")
                jmap = spark.sparkContext._jsc.getPersistentRDDs()
                if jmap.size() > 0:
                    spark.catalog.clearCache()
                    for jrdd in list(jmap.values()):
                        try:
                            jrdd.unpersist(False)
                        except Exception:
                            pass
    finally:
        stages.checkpoint = orig
    spark.stop()


if __name__ == "__main__":
    main()
