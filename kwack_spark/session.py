"""SparkSession construction with scale-appropriate defaults.

The reference pins UTC (KwackEngine.java:174-175) and runs a single shared
in-memory database (KwackConfig.java:448-454); our equivalent is one shared
SparkSession with UTC session time zone.  Confs below are chosen for a large
cluster but harmless on local[N]:

- AQE on (runtime shuffle coalescing, skew-join splitting, dynamic broadcast).
- Arrow on (vectorized Python interchange for the few Pandas-UDF paths).
- shuffle partitions sized from the env (local) — on a real cluster you'd set
  this to ~2-3x total cores or rely on AQE's coalescing from a higher number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "kwack-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("KWACK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) parquet columns (events.ts) read as long nanos;
        # sources/parquet.py converts to TimestampType (µs) — SURVEY §1.3's
        # TIMESTAMP_NS decision: truncate to micros, applied in one place.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KWACK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # A long-lived session serving MANY distinct queries (the engine's
        # REPL/warehouse mode; the bench runs 194) evicts generated classes
        # from the 100-entry default codegen cache long before a query
        # re-runs, so every re-execution pays full janino compilation —
        # measured 2-3 s per cold plan on the deep pipeline DAGs at sf0.1,
        # and the repeated compiles also churn the JVM code cache.  Size
        # the cache to the working set instead (static conf — must be set
        # at session start; ``extra_conf``, i.e. ``-X``, overrides it);
        # scale-independent: it bounds DRIVER-side compile work, not data.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # JIT code-cache headroom for the same many-distinct-plans shape:
        # the JDK default (240 MB) fills after a few hundred compiled
        # query plans, after which HotSpot stops JIT-compiling and hot
        # kernels run interpreted (uniform late-session slowdown).
        # ASSUMES a PySpark-launched gateway (the engine's normal mode):
        # under spark-submit the driver JVM is already up and this conf is
        # a documented no-op — pass the flag on the submit command line
        # there.  Any operator-supplied options (KWACK_DRIVER_JAVA_OPTS,
        # mirroring what spark-defaults would carry) are APPENDED, not
        # overwritten (r12 ADVICE).
        .config(
            "spark.driver.extraJavaOptions",
            (
                "-XX:ReservedCodeCacheSize=512m"
                + (
                    " " + os.environ["KWACK_DRIVER_JAVA_OPTS"]
                    if os.environ.get("KWACK_DRIVER_JAVA_OPTS")
                    else ""
                )
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def safe_identifier(name: str) -> str:
    """``name`` if it is a plain SQL identifier, else a deterministic
    internal name derived from its hash.  Kafka topic names may contain '.'
    and '-' (the reference's testBadName/'test-json' topics simply get
    quoted in DuckDB); Spark's Python view/sink APIs validate identifiers,
    so non-conforming names get an internal stand-in plus a backticked
    alias view (``alias_view``)."""
    import hashlib
    import re

    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        return name
    return "_kw_" + hashlib.md5(name.encode()).hexdigest()[:10]


def alias_view(spark: SparkSession, name: str, internal: str) -> None:
    """SQL-defined temp view ``name`` (backtick-quoted, any characters)
    selecting from the identifier-safe ``internal`` view/table."""
    escaped = name.replace("`", "``")
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW `{escaped}` AS SELECT * FROM {internal}"
    )


def register_view(df, name: str) -> None:
    """Register ``df`` as a temp view named ``name``, accepting names that
    are not plain SQL identifiers (see safe_identifier)."""
    internal = safe_identifier(name)
    df.createOrReplaceTempView(internal)
    if internal != name:
        alias_view(df.sparkSession, name, internal)
