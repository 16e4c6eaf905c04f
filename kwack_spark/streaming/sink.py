"""Durable streaming sink: exactly-once, snapshot-isolated parquet landing.

The reference's live mode appends decoded records to an in-memory DuckDB
table (KwackEngine.java live-consumer loop); the durable equivalent here
must survive two failure modes Structured Streaming creates:

1. **Micro-batch re-delivery.**  After a crash, the engine replays the last
   uncommitted batch with the SAME batch id.  A plain ``append`` file write
   would duplicate those rows.
2. **Cross-engine readability.**  Spark's built-in file sink is exactly-once
   but only for readers that consult its ``_spark_metadata`` commit log —
   DuckDB/Trino/pandas reading the directory see uncommitted or duplicated
   files.

``to_manifest_parquet_sink`` lands every micro-batch through
``manifest_batch_writer``: each (batch, delivery) is written to its own
immutable ``_attempts/batch=<id>/attempt=<uuid>/`` directory, and only then
is ``_kwack_manifest.json`` (batch id -> attempt directory) swapped
atomically.  A replayed batch writes a fresh attempt and repoints its entry,
so the landed data is exactly-once, and a reader that holds one manifest
never sees a torn or duplicated batch.  ``read_sink`` reads the attempt
directories one manifest lists (``committed_paths``); an external engine
reads the same paths, e.g. DuckDB's ``read_parquet([...])`` over them.  The
base directory itself is not a dataset: it also holds superseded and
crash-orphan attempts until ``vacuum_sink`` reclaims them.

The manifest is the metadata/storage split of a table format (Delta,
Iceberg; Dremel, VLDB 2020) reduced to one JSON file.  Its atomicity rests
on ``os.replace``, so the sink lands on a local (POSIX) filesystem.

Scale shape: one attempt directory per micro-batch, written
partition-parallel by the executors that produced it — no extra shuffle, no
driver data path — plus one driver-side KB-scale JSON swap per batch.
``compact_sink`` rewrites the accumulated per-batch directories into
size-bounded files elsewhere, planned from parquet footers alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from kwack_spark.streaming.trigger import LIVE_PROCESSING_TIME, start_query

MANIFEST_NAME = "_kwack_manifest.json"


def manifest_batch_writer(base_path: str):
    """The ``foreachBatch`` body: land one micro-batch under
    ``base_path``.

    - every (batch, delivery) lands under its own immutable
      ``_attempts/batch=<id>/attempt=<uuid>/`` directory — files are NEVER
      rewritten in place;
    - after the attempt's files are fully committed, the manifest
      (batch_id -> attempt dir) is swapped ATOMICALLY (write-temp +
      ``os.replace``), so a crash mid-write leaves the previous manifest
      and a harmless orphan attempt (reclaimed by ``vacuum_sink``);
    - a replayed batch (same id) writes a FRESH attempt and repoints:
      readers holding the old manifest keep reading the old attempt's
      files unharmed.
    """
    import json
    import uuid

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
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
    post_batch=None,
) -> StreamingQuery:
    """Stream ``df`` into a durable, exactly-once, snapshot-isolated parquet
    dataset at ``base_path`` (landing through ``manifest_batch_writer``).

    ``continuous=False`` (default): Trigger.AvailableNow — drain the backlog
    and stop; re-running with the same checkpoint processes only NEW input.
    ``continuous=True``: keep the micro-batch loop running (live mode), one
    micro-batch per ``LIVE_PROCESSING_TIME`` (250 ms; see
    streaming/trigger.py).
    ``post_batch(batch_id)``, if given, runs driver-side after each
    committed batch (e.g. re-registering a catalog view over the new
    manifest)."""
    os.makedirs(base_path, exist_ok=True)
    writer = manifest_batch_writer(base_path)

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


def read_manifest(base_path: str) -> dict:
    """Current manifest (batch_id str -> attempt dir); {} before the first
    commit."""
    import json

    p = os.path.join(base_path, MANIFEST_NAME)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def committed_paths(base_path: str, manifest: dict | None = None) -> list[str]:
    """The attempt directories of the latest manifest (or of a previously
    captured ``manifest``), in batch order: exactly the committed data, and
    the paths an external engine reads."""
    m = manifest if manifest is not None else read_manifest(base_path)
    return [m[k] for k in sorted(m, key=int)]


def read_sink(
    spark: SparkSession, base_path: str, manifest: dict | None = None
) -> DataFrame:
    """Read a CONSISTENT snapshot: exactly the attempt directories the
    manifest references.  Pass a previously captured ``manifest`` to pin an
    older snapshot (time travel across replays — the attempts it references
    are immutable until vacuumed); default is the latest committed one."""
    paths = committed_paths(base_path, manifest)
    if not paths:
        raise ValueError(f"no committed batches under {base_path!r}")
    return spark.read.parquet(*paths)


def _attempt_key(path: str) -> tuple[str, ...]:
    """An attempt directory's ``(batch=<id>, attempt=<id>)`` name pair: its
    identity whatever spelling of base_path the writer used."""
    return tuple(path.rstrip("/").split("/")[-2:])


def vacuum_sink(base_path: str) -> int:
    """Reclaim attempt directories no longer referenced by the CURRENT
    manifest (superseded replays, crash orphans).  Metadata-only walk +
    deletes; returns the number of directories removed.  Run it only when
    no reader still holds a pre-replay manifest older than the horizon —
    the same contract as any table format's VACUUM."""
    import shutil

    # Liveness is decided on the (batch=<id>, attempt=<id>) NAME PAIR, not
    # the raw path string: manifest values embed the writer's base_path
    # verbatim, so a differently-spelled but equivalent base_path argument
    # (trailing slash, relative vs absolute, symlinked alias) must not make
    # every referenced attempt look unreferenced and delete live data.
    referenced = {_attempt_key(p) for p in read_manifest(base_path).values()}
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


def _footer_row_count(base_path: str, manifest: dict | None = None) -> int | None:
    """Total row count from parquet FOOTERS only (no data pass): sum each
    committed file's footer ``num_rows`` over the attempt directories of the
    latest manifest (or of ``manifest``).  One ~KB metadata read per file —
    the same planning cost model as ``shard_compaction_plan``'s prefix-sum,
    and how production compactors (e.g. table-format OPTIMIZE) size bins.
    Returns None when the path is not local (remote URI) or not readable,
    so the caller can fall back."""
    # same normalization as the disjointness guard (file:/x and
    # file://localhost/x read locally; true remote schemes return None)
    root = _norm_path(base_path)
    if "://" in root or not os.path.isdir(root):
        return None
    m = manifest if manifest is not None else read_manifest(root)
    try:
        import pyarrow.parquet as pq

        total = 0
        for p in m.values():
            # resolve under root by name pair, as vacuum_sink does: manifest
            # values keep the writer's spelling of base_path (maybe relative)
            d = os.path.join(root, "_attempts", *_attempt_key(p))
            for f in os.listdir(d):
                if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                    continue
                total += pq.read_metadata(os.path.join(d, f)).num_rows
        return total
    except Exception:
        return None


def compact_sink(
    spark: SparkSession,
    base_path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
) -> int:
    """Offline compaction of a landed dataset: rewrite the committed
    per-batch attempt directories (one per micro-batch — the small-file
    problem at production rates) into ``ceil(n / target_rows_per_file)``
    balanced files under ``out_path``.  Returns the output file count.

    It reads one manifest snapshot, whose attempts are immutable until
    ``vacuum_sink``, so a crash mid-compact leaves the sink untouched
    (re-run to completion).  It writes a new location (in-place / nested
    ``out_path`` is rejected up front) and repoints nothing: the sink and
    any live view over it keep their per-batch directories.  Sizing is
    metadata-only — row counts come from parquet footers, not a ``count()``
    data pass — so the single data read is the rewrite itself.  The rewrite
    repartitions for uniform file sizes: one full shuffle, the usual price
    of a compaction job."""
    import math

    _check_disjoint_paths(base_path, out_path)
    m = read_manifest(base_path)
    df = read_sink(spark, base_path, m)
    n = _footer_row_count(base_path, m)
    if n is None:  # footers not readable: pay the extra scan
        n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    df.repartition(files).write.mode("overwrite").parquet(out_path)
    return files
