"""Durable streaming sinks: exactly-once parquet landing for live topics.

The reference's live mode appends decoded records to an in-memory DuckDB
table (KwackEngine.java live-consumer loop); the batch-durable equivalent
here must survive two failure modes Structured Streaming creates:

1. **Micro-batch re-delivery.**  After a crash, the engine replays the last
   uncommitted batch with the SAME batch id.  A plain ``append`` file write
   would duplicate those rows.
2. **Cross-engine readability.**  Spark's built-in file sink is exactly-once
   but only for readers that consult its ``_spark_metadata`` commit log —
   DuckDB/Trino/pandas reading the directory see uncommitted or duplicated
   files.

``to_idempotent_parquet_sink`` uses the standard production pattern:
``foreachBatch`` landing every micro-batch under its own Hive-style
``kw_batch_id=<id>/`` directory with ``mode("overwrite")``.  Replaying
batch N rewrites directory N in place instead of appending — the write is
idempotent per batch id, so checkpoint + directory-overwrite compose to
end-to-end exactly-once, and the output is a plain partitioned parquet
dataset any engine can read (the ``kw_batch_id`` partition column is
dropped by ``read_sink``; a data column of that name is rejected at write
time rather than colliding with the partition schema).

The overwrite is idempotent, NOT atomic: Spark deletes the directory and
then writes the new files, so a reader racing a replay can transiently see
a partially-deleted/partially-written batch directory.  Exactly-once holds
for data at rest (after the replayed batch commits); readers that must
never observe the transient state should use the manifest-snapshot sink
below (``to_manifest_parquet_sink`` / ``read_sink_snapshot`` — immutable
attempt directories + one atomically-swapped manifest, the table-format
commit idea reduced to a JSON file) or quiesce during replay recovery.

Scale shape: one directory per micro-batch, each written partition-parallel
by the executors that produced it — no extra shuffle, no driver data path.
Compact old batch directories offline with ``shard_compaction_plan``-style
bin packing when batch count grows (metadata-only planning, rewrite only
the small-file tail).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kwack_spark.streaming.trigger import LIVE_PROCESSING_TIME, start_query


PARTITION_COL = "kw_batch_id"  # no leading underscore: _-prefixed paths are
# hidden from Spark's partition discovery, and "batch_id" alone could
# collide with a topic's own column


def idempotent_batch_writer(base_path: str):
    """The ``foreachBatch`` body: land one micro-batch under
    ``base_path/kw_batch_id=<id>``.  Safe to call again with the same batch
    id (re-delivery): overwrite replaces the directory's previous contents
    instead of appending beside them (idempotent per batch id; see the
    module docstring for the non-atomicity caveat)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if PARTITION_COL in batch_df.columns:
            raise ValueError(
                f"column {PARTITION_COL!r} collides with the sink's partition "
                "column; rename it before landing"
            )
        batch_df.write.mode("overwrite").parquet(
            f"{base_path}/{PARTITION_COL}={batch_id}"
        )

    return write_batch


def to_idempotent_parquet_sink(
    df: DataFrame,
    base_path: str,
    checkpoint: str,
    continuous: bool = False,
    post_batch=None,
) -> StreamingQuery:
    """Stream ``df`` into a durable, exactly-once, cross-engine-readable
    parquet dataset at ``base_path``.

    ``continuous=False`` (default): Trigger.AvailableNow — drain the backlog
    and stop; re-running with the same checkpoint processes only NEW input.
    ``continuous=True``: keep the micro-batch loop running (live mode), one
    micro-batch per ``LIVE_PROCESSING_TIME`` (250 ms; see
    streaming/trigger.py).
    ``post_batch(batch_id)``, if given, runs driver-side after each landed
    batch (e.g. re-registering a catalog view over the grown dataset)."""
    writer = idempotent_batch_writer(base_path)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        writer(batch_df, batch_id)
        if post_batch is not None:
            post_batch(batch_id)

    w = (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return start_query(w, df.sparkSession, continuous, LIVE_PROCESSING_TIME)


def read_sink(spark: SparkSession, base_path: str) -> DataFrame:
    """Read the landed dataset back as ordinary rows (partition discovery
    surfaces ``kw_batch_id``; it is lineage metadata, not data — dropped)."""
    return spark.read.parquet(base_path).drop(PARTITION_COL)


def _norm_path(p: str) -> str:
    """Normalize a sink path into one comparable namespace.

    file: URIs take urlparse's .path (not a literal-prefix strip, which
    fused any authority into the path: file://host/data -> "host/data";
    r05 ADVICE) so all three JVM-accepted spellings (file:/x, file:///x,
    file://localhost/x) land on the realpath'd local path.  A string is
    treated as a REMOTE URI only when it contains '://' — a bare urlparse
    scheme check would misclassify a relative local path whose first
    segment carries a colon ('run:1/sink') and skip realpath.  Remote URIs
    compare textually after trailing-slash stripping; local paths realpath
    so symlinked aliases of the same directory are caught.  Remote URIs
    keep their scheme so they never collide with a local path."""
    import os
    from urllib.parse import urlparse

    u = urlparse(p)
    if u.scheme == "file" and _file_uri_is_local(p):
        return os.path.realpath(u.path or "/")
    if "://" in p:
        return p.rstrip("/")
    return os.path.realpath(p)


def _file_uri_is_local(p: str) -> bool:
    """True when a file: URI addresses THIS host (empty or localhost
    authority).  file://nas-host/data names another machine's filesystem —
    it must not be conflated with the local path /data."""
    from urllib.parse import urlparse

    return urlparse(p).netloc.lower() in ("", "localhost")


def _check_disjoint_paths(base_path: str, out_path: str) -> None:
    """Refuse in-place (or nested) compaction: overwriting a path Spark is
    concurrently reading fails or destroys the source batch directories.
    Raises ValueError when ``out_path`` equals, contains, or is contained
    in ``base_path`` after normalization."""
    b, o = _norm_path(base_path), _norm_path(out_path)
    if b == o or o.startswith(b + "/") or b.startswith(o + "/"):
        raise ValueError(
            f"compact_sink: out_path {out_path!r} overlaps base_path "
            f"{base_path!r}; compaction must write a disjoint location "
            "(write new, verify, repoint readers, then delete the old dirs)"
        )


def _footer_row_count(base_path: str) -> int | None:
    """Total row count from parquet FOOTERS only (no data pass): walk the
    landed files and sum each footer's ``num_rows``.  One ~KB metadata read
    per file — the same planning cost model as ``shard_compaction_plan``'s
    prefix-sum, and how production compactors (e.g. table-format OPTIMIZE)
    size bins.  Returns None when the path is not locally walkable (remote
    URI without a mounted filesystem) so the caller can fall back."""
    import os

    # same normalization as the disjointness guard (file:/x and
    # file://localhost/x walk locally; true remote schemes return None)
    root = _norm_path(base_path)
    if "://" in root or not os.path.isdir(root):
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for dirpath, dirnames, filenames in os.walk(root):
            # skip commit-log/_temporary/hidden dirs, same as Spark's reader
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for f in filenames:
                if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                    continue
                total += pq.read_metadata(os.path.join(dirpath, f)).num_rows
        return total
    except Exception:
        return None


def compact_sink(
    spark: SparkSession,
    base_path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
    shuffle: bool = True,
) -> int:
    """Offline compaction of a landed dataset: rewrite the accumulated
    per-batch directories (one per micro-batch — the small-file problem at
    production rates) into ``ceil(n / target_rows_per_file)`` balanced
    files under ``out_path``.  Returns the output file count.

    Run it BETWEEN streaming runs, sink stopped: compaction writes a new
    location (in-place / nested out_path is rejected up front), so a crash
    mid-compact leaves the original batch directories untouched (re-run to
    completion, then atomically repoint readers / delete the old dirs).
    Sizing is metadata-only — row counts come from parquet footers, not a
    ``count()`` data pass — so the single data read is the rewrite itself.
    ``shuffle=True`` repartitions for uniform file sizes (one full shuffle —
    the usual price of a compaction job); ``shuffle=False`` coalesces
    instead: no shuffle, but file sizes follow the existing partition
    skew."""
    import math

    _check_disjoint_paths(base_path, out_path)
    df = read_sink(spark, base_path)
    n = _footer_row_count(base_path)
    if n is None:  # remote path without footer access: pay the extra scan
        n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    out = df.repartition(files) if shuffle else df.coalesce(files)
    out.write.mode("overwrite").parquet(out_path)
    return files


# ---------------------------------------------------------------------------
# Manifest-snapshot landing: replay-safe reads without quiescing
# ---------------------------------------------------------------------------

MANIFEST_NAME = "_kwack_manifest.json"


def manifest_batch_writer(base_path: str):
    """``foreachBatch`` body with SNAPSHOT-ISOLATED readers — the layer the
    module docstring's non-atomicity caveat points at, implemented as a
    minimal table format (the Delta/Iceberg idea reduced to one JSON file):

    - every (batch, delivery) lands under its own immutable
      ``_attempts/batch=<id>/attempt=<uuid>/`` directory — files are NEVER
      rewritten in place;
    - after the attempt's files are fully committed, the manifest
      (batch_id -> attempt dir) is swapped ATOMICALLY (write-temp +
      ``os.replace``), so a crash mid-write leaves the previous manifest
      and a harmless orphan attempt (reclaimed by ``vacuum_sink``);
    - a replayed batch writes a FRESH attempt and repoints: readers holding
      the old manifest keep reading the old attempt's files unharmed —
      exactly-once for data at rest AND no transient torn state for
      concurrent readers, the property the plain overwrite sink cannot
      give.

    Scale shape: the data write is partition-parallel executor work exactly
    like the overwrite sink; the manifest is one driver-side KB-scale JSON
    swap per micro-batch.  Atomicity relies on rename semantics — POSIX and
    HDFS renames are atomic; on S3 keep the manifest on a consistent store
    (or a real table format's commit log).
    """
    import json
    import os
    import uuid

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if PARTITION_COL in batch_df.columns:
            raise ValueError(
                f"column {PARTITION_COL!r} collides with the sink's partition "
                "column; rename it before landing"
            )
        attempt = f"{base_path}/_attempts/batch={batch_id}/attempt={uuid.uuid4().hex[:8]}"
        batch_df.write.mode("overwrite").parquet(attempt)
        # The manifest update is a read-modify-write; two concurrent
        # streaming queries landing into one base_path would interleave and
        # silently drop each other's committed batch (lost update).  The
        # contract is SINGLE WRITER PER base_path (Structured Streaming
        # enforces one query per checkpoint; distinct queries must use
        # distinct base_paths) — enforced here with an O_EXCL lock file
        # that FAILS LOUDLY on contention instead of losing a commit.
        lock = os.path.join(base_path, f".{MANIFEST_NAME}.lock")
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            raise RuntimeError(
                f"manifest sink at {base_path!r} is locked by a concurrent "
                "writer (or a crashed writer left "
                f"{lock!r} behind — remove it after confirming no live "
                "query); one streaming query per base_path"
            ) from None
        try:
            os.close(fd)
            manifest = read_manifest(base_path)
            manifest[str(batch_id)] = attempt
            tmp = os.path.join(base_path, f".{MANIFEST_NAME}.tmp")
            with open(tmp, "w") as fh:
                json.dump(manifest, fh, indent=0, sort_keys=True)
            os.replace(tmp, os.path.join(base_path, MANIFEST_NAME))
        finally:
            os.unlink(lock)

    return write_batch


def to_manifest_parquet_sink(
    df: DataFrame,
    base_path: str,
    checkpoint: str,
    continuous: bool = False,
) -> StreamingQuery:
    """``to_idempotent_parquet_sink``'s snapshot-isolated sibling: same
    trigger semantics, landing through ``manifest_batch_writer``."""
    import os

    os.makedirs(base_path, exist_ok=True)
    w = (
        df.writeStream.foreachBatch(manifest_batch_writer(base_path))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return start_query(w, df.sparkSession, continuous, LIVE_PROCESSING_TIME)


def read_manifest(base_path: str) -> dict:
    """Current manifest (batch_id str -> attempt dir); {} before the first
    commit."""
    import json
    import os

    p = os.path.join(base_path, MANIFEST_NAME)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def read_sink_snapshot(
    spark: SparkSession, base_path: str, manifest: dict | None = None
) -> DataFrame:
    """Read a CONSISTENT snapshot: exactly the attempt directories the
    manifest references.  Pass a previously captured ``manifest`` to pin an
    older snapshot (time travel across replays — the attempts it references
    are immutable until vacuumed); default is the latest committed one."""
    m = manifest if manifest is not None else read_manifest(base_path)
    if not m:
        raise ValueError(f"no committed batches under {base_path!r}")
    return spark.read.parquet(*[m[k] for k in sorted(m, key=int)])


def vacuum_sink(base_path: str) -> int:
    """Reclaim attempt directories no longer referenced by the CURRENT
    manifest (superseded replays, crash orphans).  Metadata-only walk +
    deletes; returns the number of directories removed.  Run it only when
    no reader still holds a pre-replay manifest older than the horizon —
    the same contract as any table format's VACUUM."""
    import os
    import shutil

    # Liveness is decided on the (batch=<id>, attempt=<id>) NAME PAIR, not
    # the raw path string: manifest values embed the writer's base_path
    # verbatim, so a differently-spelled but equivalent base_path argument
    # (trailing slash, relative vs absolute, symlinked alias) must not make
    # every referenced attempt look unreferenced and delete live data.
    referenced = {
        tuple(p.rstrip("/").split("/")[-2:])
        for p in read_manifest(base_path).values()
    }
    removed = 0
    root = os.path.join(base_path, "_attempts")
    if not os.path.isdir(root):
        return 0
    for batch_dir in os.listdir(root):
        bpath = os.path.join(root, batch_dir)
        if not os.path.isdir(bpath):
            continue
        for attempt in os.listdir(bpath):
            apath = os.path.join(bpath, attempt)
            if (batch_dir, attempt) not in referenced:
                shutil.rmtree(apath, ignore_errors=True)
                removed += 1
    return removed
