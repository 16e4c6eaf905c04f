"""Streaming family: watermarked windows, stateful near-dup/sketch kernels, replay-based stream==batch checks, and state observability.

Split out of plans/pipeline.py (same registrations, same semantics);
shared helpers live in pipeline.py, the aggregator that imports this
module at the bottom.

Every query replays its input through ``pipeline.replay`` and drains it
through ``pipeline.drain_to_table`` (or ``await_drain`` for the manifest
sink): one timeout, one shuffle pin.  Replay staging (r12): sites with a
high-cardinality row key hash-partition the replay write
(``replay(df, tag, n, key)``) instead of round-robin
``replay(df, tag, n)`` — a keyless repartition first pays a local sort of
its input for retry determinism (spark.sql.execution.sortBeforeRepartition),
while a deterministic hash key needs none and is the form that stays
correct under map retries at scale (SPARK-38388).  Micro-batch COMPOSITION
changes; every graded end-of-stream result is arrival-order invariant by
construction (that is each query's graded claim), so results are
bit-identical.  Keyless sites (aggregation preps with no unique row key)
keep the round-robin form.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark import scratch
from kwack_spark.functions import text as TX
from kwack_spark.operators import dedup
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.plans.pipeline import (  # shared core
    _DHASH_FP_CTES,
    _JAC,
    _LSH_CTES,
    _SIMHASH64_CTES,
    _URL_CANON_CTES,
    _URL_RAW_SQL,
    _few_shuffle_partitions,
    _url_raw_col,
    _video_keyframes,
    _video_pair_rollup,
    await_drain,
    drain,
    drain_to_table,
    replay,
)


@register(
    "streaming_window_counts",
    # the STREAMING result is compared against the batch oracle: the events
    # table is replayed as a file-source stream, aggregated with a watermark
    # through Structured Streaming's stateful engine, and must equal the
    # plain batch GROUP BY
    oracle="""
        SELECT event_type,
               date_trunc('hour', ts) AS window_start,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    tags=("streaming", "window"),
)
def streaming_window_counts(spark, sf_dir):
    """Structured Streaming end-to-end under the correctness gate: replay
    events as a stream (file source), watermarked tumbling windows
    (streaming/ingest.py), Trigger.AvailableNow into a memory sink; the
    returned DataFrame is the sink table.  Complete output mode emits open
    windows so end-of-stream equals batch."""
    from kwack_spark.streaming import ingest as si

    agg = si.windowed_counts(
        replay(T(spark, sf_dir, "events"), "stream_replay"),
        "ts",
        keys=["event_type"],
        window="1 hour",
        watermark="10 minutes",
        agg_exprs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("total_value"),
        ],
    )
    return drain_to_table(agg, "streaming_window_counts", "complete").select(
        "event_type", "window_start", "n", "total_value"
    )

@register(
    "streaming_quality_gate",
    # curation AT INGEST: the row-local quality signals (Gopher structural
    # rules + stopword fluency) run inside the stream — stateless, so the
    # plan is pure map work per micro-batch, append mode, no state store —
    # and the landed verdicts must equal the batch gate.  (The model-score
    # signal is doc-keyed aggregation and joins in at the batch boundary;
    # quality_ensemble_gate is the full assembled form.)
    oracle="""
        WITH w AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws,
                   list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                               t -> length(t) > 0) AS tk
            FROM documents
        ),
        m AS (
            SELECT doc_id, len(ws) AS n_words,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws) END AS mean_word_len,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / len(ws) END AS alpha_ratio,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END AS distinct_ratio,
                   CASE WHEN len(tk) = 0 THEN NULL
                        ELSE CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) / len(tk) END AS stop_ratio
            FROM w
        )
        SELECT doc_id, n_words, stop_ratio,
               (COALESCE(n_words BETWEEN 50 AND 100000
                         AND mean_word_len BETWEEN 3.0 AND 10.0
                         AND alpha_ratio >= 0.8
                         AND distinct_ratio >= 0.1, FALSE)
                AND COALESCE(stop_ratio > 0.05, FALSE)) AS keep
        FROM m
    """,
    tags=("streaming", "quality", "gate"),
)
def streaming_quality_gate(spark, sf_dir):
    """Documents replayed as a multi-file stream; the stateless signal
    projection runs per micro-batch into an append-mode memory sink.  At
    100 TB this is the shape of inline ingest filtering: zero state, the
    gate rides the decode scan."""
    stream = replay(
        T(spark, sf_dir, "documents"), "qgate_replay", 4, "doc_id",
        max_files_per_trigger=2,
    )
    ws = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    base = stream.select("doc_id", "text", ws.alias("ws"))
    n = F.size("ws")
    guard = lambda c: F.when(n > 0, c)  # noqa: E731
    tk = TX.tokens("text")
    ntk = F.size(tk)
    gopher_ok = F.coalesce(
        n.between(50, 100000)
        & guard(
            F.aggregate("ws", F.lit(0), lambda a, t: a + F.length(t)).cast("double")
            / n
        ).between(3.0, 10.0)
        & (
            guard(
                F.size(F.filter("ws", lambda t: t.rlike("[a-zA-Z]"))).cast("double")
                / n
            )
            >= 0.8
        )
        & (guard(F.size(F.array_distinct("ws")).cast("double") / n) >= 0.1),
        F.lit(False),
    )
    stop_ratio = F.when(
        ntk > 0,
        F.size(F.filter(tk, lambda t: t.isin(*TX.STOPWORDS))).cast("double") / ntk,
    )
    stop_ok = F.coalesce(stop_ratio > 0.05, F.lit(False))
    gated = base.select(
        "doc_id",
        n.alias("n_words"),
        stop_ratio.alias("stop_ratio"),
        (gopher_ok & stop_ok).alias("keep"),
    )
    return drain_to_table(gated, "streaming_quality_gate").select(
        "doc_id", "n_words", "stop_ratio", "keep"
    )

@register(
    "streaming_stateful_running_counts",
    # custom per-key state via applyInPandasWithState, driven across
    # MULTIPLE micro-batches (maxFilesPerTrigger=1 over a 4-file replay) so
    # state-store persistence is exercised; the final running total per key
    # must equal the batch COUNT(*)
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    """,
    tags=("streaming", "stateful"),
)
def streaming_stateful_running_counts(spark, sf_dir):
    """SURVEY §2.C custom-stateful surface under the correctness gate: a
    per-key running count kept in the state store (streaming/ingest.py:
    stateful_running_counts), replayed over 4 micro-batches; the last
    update per key (monotone max) equals the batch aggregate."""
    from kwack_spark.streaming import ingest as si

    e = T(spark, sf_dir, "events").select("event_id", "event_type")
    stream = replay(e, "state_replay", 4, "event_id", max_files_per_trigger=1)
    counts = si.stateful_running_counts(stream, "event_type")
    return (
        drain_to_table(counts, "streaming_stateful_running_counts", "update")
        .groupBy("event_type")
        .agg(F.max("n").alias("n"))
    )

@register(
    "streaming_exactly_once_sink",
    # the durable landing path under the correctness gate: events replay as
    # 4 micro-batches through the manifest sink; batch 0 is then
    # RE-DELIVERED (the crash-replay case) and a second availableNow run on
    # the same checkpoint proves resume-without-reprocessing; the landed
    # dataset must STILL equal the plain batch aggregate — any duplication
    # from the replay or the resume would break the count
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sink", "exactly-once"),
)
def streaming_exactly_once_sink(spark, sf_dir):
    """Exactly-once durable ingest (streaming/sink.py): decoded rows land
    as immutable per-batch attempt directories committed by an atomic
    manifest swap, so micro-batch re-delivery after a crash repoints its
    own batch instead of appending duplicates, and the committed files are
    plain parquet any engine can read (no _spark_metadata dependency).
    The query simulates the full failure sequence — ingest, crash-replay
    of batch 0, resumed run on the same checkpoint — and returns the
    landed aggregate."""
    from kwack_spark.streaming import sink as sk

    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stream = replay(e, "sink_replay", 4, "event_id", max_files_per_trigger=1)
    land = scratch.scratch_dir(spark, "sink_land")
    ckpt = scratch.scratch_dir(spark, "sink_ckpt")

    with _few_shuffle_partitions(spark):
        await_drain(
            sk.to_manifest_parquet_sink(stream, land, ckpt),
            "streaming_exactly_once_sink",
        )
        # crash-replay: re-deliver batch 0's payload under its original id —
        # a fresh attempt repoints the manifest, the row set stays the same
        b0 = spark.read.parquet(sk.read_manifest(land)["0"])
        sk.manifest_batch_writer(land)(b0, 0)
        # resume: same checkpoint, no new input -> no batches re-processed.
        # Asserted on the MANIFEST, not just the final aggregate — a broken
        # checkpoint that reprocessed everything could land the same row
        # union under new batch ids and the aggregate alone would pass.
        before = sk.read_manifest(land)
        await_drain(
            sk.to_manifest_parquet_sink(stream, land, ckpt),
            "streaming_exactly_once_sink (resume)",
        )
        after = sk.read_manifest(land)
        if after != before:
            raise AssertionError(
                f"resume reprocessed input: batch ids {sorted(before, key=int)}"
                f" -> {sorted(after, key=int)}"
            )
    return (
        sk.read_sink(spark, land)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )

@register(
    "sink_manifest_snapshot_read",
    # the snapshot-isolated landing path under the correctness gate: events
    # stream through the manifest sink (immutable attempt dirs + one
    # atomically-swapped manifest), a crash-replay of the LAST batch is
    # simulated by re-invoking its foreachBatch body, and the snapshot read
    # must still equal the batch aggregate exactly — replays repoint the
    # manifest, they never duplicate or tear data
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sink", "manifest", "snapshot"),
)
def sink_manifest_snapshot_read(spark, sf_dir):
    """Manifest-snapshot sink round trip (streaming/sink.py:
    to_manifest_parquet_sink / read_sink): bounded replay lands
    every micro-batch as an immutable attempt directory, a redelivered
    batch writes a fresh attempt and atomically repoints the manifest, and
    readers see exactly one committed copy of every row — the aggregate
    over the snapshot is what gets oracle-checked."""

    from kwack_spark.streaming import sink as sk

    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stream = replay(e, "man_replay", 4, "event_id", max_files_per_trigger=2)
    land = scratch.scratch_dir(spark, "man_land")
    ckpt = scratch.scratch_dir(spark, "man_ckpt")

    with _few_shuffle_partitions(spark):
        await_drain(
            sk.to_manifest_parquet_sink(stream, land, ckpt),
            "sink_manifest_snapshot_read",
        )
        # simulate the crash-redelivery of the final batch: same rows, new
        # attempt, manifest repoints — the snapshot must not double-count
        manifest = sk.read_manifest(land)
        last = max(manifest, key=int)
        redelivered = spark.read.parquet(manifest[last])
        sk.manifest_batch_writer(land)(redelivered, int(last))
    return (
        sk.read_sink(spark, land)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )

@register(
    "sink_compaction_roundtrip",
    # the maintenance path under the correctness gate: events land through
    # the manifest sink (one dir per micro-batch — the small-file
    # shape), compact_sink rewrites them into size-bounded balanced files,
    # and the compacted dataset must still equal the batch aggregate —
    # compaction is a layout change, never a data change
    oracle="""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "sink", "compaction"),
)
def sink_compaction_roundtrip(spark, sf_dir):
    """Sink-compaction round trip (streaming/sink.py:compact_sink): the
    per-batch directories a live topic accumulates are rewritten into
    ceil(n/target) balanced files at a new location; row set preserved.
    The aggregate over the COMPACTED output is what gets oracle-checked."""
    import math

    from kwack_spark.streaming import sink as sk

    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stream = replay(e, "cmp_replay", 4, "event_id", max_files_per_trigger=1)
    land = scratch.scratch_dir(spark, "cmp_land")
    ckpt = scratch.scratch_dir(spark, "cmp_ckpt")
    out = scratch.scratch_dir(spark, "cmp_out")

    with _few_shuffle_partitions(spark):
        await_drain(
            sk.to_manifest_parquet_sink(stream, land, ckpt),
            "sink_compaction_roundtrip",
        )
        n = e.count()
        target = max(1, math.ceil(n / 8))  # plan ~8 balanced output files
        files = sk.compact_sink(spark, land, out, target_rows_per_file=target)
        if files != math.ceil(n / target):
            raise AssertionError(f"unexpected file plan: {files}")
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )

@register(
    "streaming_running_moments",
    # streaming mean/variance state == batch aggregate: per-type running
    # (n, Σv, Σv²) kept as exact milli-unit integers in the state store
    # across 4 micro-batches; the decoded moments must equal the batch
    # DECIMAL aggregation bit-for-bit (integer state is order-independent,
    # so arrival order across micro-batches cannot change the result).
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(value AS DECIMAL(18,3)) AS v FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(v) AS DOUBLE) / count(*) AS mean,
               CAST(SUM(v * v) AS DOUBLE) / count(*)
                   - (CAST(SUM(v) AS DOUBLE) / count(*))
                     * (CAST(SUM(v) AS DOUBLE) / count(*)) AS var
        FROM d GROUP BY event_type
        ORDER BY event_type
    """,
    tags=("streaming", "stateful", "moments"),
)
def streaming_running_moments(spark, sf_dir):
    """Streaming running-moments state under the correctness gate: events
    replay as 4 micro-batches, per-type (n, Σ, Σ²) integer state updates in
    the store (streaming/ingest.py:stateful_running_moments), and the final
    emission decodes to the same mean/variance the batch DECIMAL aggregate
    produces — the monitoring-state pattern (z-score alerting off a stream)
    with replay-proof determinism."""
    from kwack_spark.streaming import ingest as si

    e = T(spark, sf_dir, "events").select("event_type", "value")
    stream = replay(e, "moments_replay", 4, max_files_per_trigger=1)
    moments = si.stateful_running_moments(stream, "event_type")
    last = (
        drain_to_table(moments, "streaming_running_moments", "update")
        .groupBy("event_type")
        .agg(F.max(F.struct("n", "s", "ss")).alias("m"))
        .select("event_type", "m.n", "m.s", "m.ss")
    )
    mean = F.col("s").cast("double") / 1000 / F.col("n")
    return last.select(
        "event_type",
        "n",
        mean.alias("mean"),
        (
            F.col("ss").cast("double") / 1000000 / F.col("n") - mean * mean
        ).alias("var"),
    ).orderBy("event_type")

@register(
    "streaming_quantile_sketch",
    # streaming quantile-sketch state == batch sketch: per-lang bottom-64
    # (hr, rid) KLL registers folded across 4 micro-batches in the state
    # store must decode to exactly the percentiles the one-shot batch
    # sketch yields (bottom-k is a monoid — arrival order cannot change
    # membership).  Same register/indexing SQL as sketch_quantile_lengths,
    # without the prefilter: running state cannot know n upfront, so the
    # streaming sketch ranks every row (still map-side bounded).
    oracle="""
        WITH r AS (
            SELECT lang, doc_id AS rid, n_chars AS v,
                   ('0x' || substr(md5('klls:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       AS hr
            FROM documents
        ),
        fullk AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM r
            ) WHERE rn <= 64
        ),
        ag AS (
            SELECT lang, list_sort(list(v)) AS vs, count(*) AS c
            FROM fullk GROUP BY lang
        )
        SELECT lang, q,
               CAST(vs[greatest(1, CAST(ceil(q * c) AS INTEGER))] AS BIGINT)
                   AS q_est,
               CAST(c AS BIGINT) AS n_sample
        FROM ag, (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                 CAST(0.99 AS DOUBLE)]) AS q)
        ORDER BY lang, q
    """,
    tags=("streaming", "sketch", "quantile", "kll", "stateful"),
)
def streaming_quantile_sketch(spark, sf_dir):
    """Per-lang p50/p90/p99 from STREAMING quantile-sketch state
    (streaming/ingest.py:stateful_kll_registers): documents replay as 4
    micro-batches, the md5 hash rank rides the stream JVM-side, and the
    state store folds bottom-64 registers per lang — the percentile
    monitoring a 100 TB ingest runs continuously, with O(k) state per key
    and a closing extraction identical to the batch sketch's
    (operators/scale.py:kll_quantile)."""
    from kwack_spark.operators import scale
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents").select(
        "lang",
        scale._kll_rank("doc_id", "klls").alias("hr"),
        F.col("doc_id").cast("long").alias("rid"),
        F.col("n_chars").cast("long").alias("v"),
    )
    stream = replay(d, "kll_replay", 4, "rid", max_files_per_trigger=1)
    regs = si.stateful_kll_registers(stream, "lang", k=64)
    last = (
        drain_to_table(regs, "streaming_quantile_sketch", "update")
        .groupBy("lang")
        .agg(F.max(F.struct("n_seen", "hrs", "rids", "vs")).alias("m"))
        .select("lang", F.arrays_zip("m.hrs", "m.rids", "m.vs").alias("z"))
    )
    sketch = last.select(
        "lang", F.explode("z").alias("r")
    ).select(
        "lang",
        F.col("r.hrs").alias("hr"),
        F.col("r.rids").alias("rid"),
        F.col("r.vs").alias("v"),
    )
    return scale.kll_quantile(sketch, (0.5, 0.9, 0.99), by=("lang",)).orderBy(
        "lang", "q"
    )

@register(
    "streaming_dedup_keys",
    # streaming exact dedup must emit each key exactly once == batch DISTINCT
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_keys(spark, sf_dir):
    """dropDuplicatesWithinWatermark under the correctness gate (SURVEY
    §2.C): events replayed as a file-source stream, deduped on
    (user_id, event_type) with watermark-bounded state, memory sink.  The
    watermark spans the replayed range, so end-of-stream equals batch
    DISTINCT; in production the watermark bounds state to the late-data
    horizon instead of the full history."""
    from kwack_spark.streaming import ingest as si

    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    deduped = si.streaming_dedup(
        replay(e, "stream_dedup"), "ts", ["user_id", "event_type"],
        watermark="3650 days",
    ).select("user_id", "event_type")
    return drain_to_table(deduped, "streaming_dedup_keys")

@register(
    "streaming_lsh_neardup",
    # streaming NEAR-dup: the state store is the LSH index.  Docs replayed
    # over 2 micro-batches (multi-batch: redelivery/arrival-order evidence
    # with one fewer state-commit round, r13); each band bucket's state holds the (id, shingle
    # set) list and arriving docs are verified against it.  End-of-stream
    # pair set == the batch LSH self-join, so the oracle is the same as
    # dedup_minhash_lsh's.
    oracle=f"""
        WITH {_LSH_CTES}
        SELECT c.id_a, c.id_b, {_JAC} AS jaccard
        FROM cand c
        JOIN ssets x ON x.doc_id = c.id_a
        JOIN ssets y ON y.doc_id = c.id_b
        WHERE {_JAC} >= 0.5
    """,
    tags=("streaming", "dedup", "lsh", "stateful"),
)
def streaming_lsh_neardup(spark, sf_dir):
    """MinHash-LSH near-dup as a STREAMING stateful operator
    (streaming/ingest.py:stateful_lsh_neardup): band keys are computed
    narrowly per row (no pre-state aggregation), the stream shuffles once on
    band_key, and within each band bucket every colliding pair is
    Jaccard-verified exactly once — when its later member arrives.  A pair
    colliding in both bands is emitted by both buckets, so the trailing
    .distinct() restores set semantics; arrival order doesn't matter, so
    the final pair set equals the batch self-join bit-for-bit."""
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents")
    prep = dedup.lsh_band_keys_narrow(d, "doc_id", "text", k=8, bands=2)
    stream = replay(prep, "lsh_replay", 2, "doc_id", max_files_per_trigger=1)
    pairs = si.stateful_lsh_neardup(stream, threshold=0.5)
    # a pair colliding in both bands is emitted by both buckets -> distinct
    return drain_to_table(pairs, "streaming_lsh_neardup").distinct()

@register(
    "streaming_static_enrich",
    # stream-static join: each micro-batch of the event stream is enriched
    # against a STATIC dimension (re-read per batch, broadcast by Catalyst
    # when small) — no watermark or state store involved, so append mode
    # emits enriched rows as they arrive and the result equals the batch join
    oracle="""
        SELECT e.event_id, e.user_id, n.n_name AS nation_name
        FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
    """,
    tags=("streaming", "join", "static"),
)
def streaming_static_enrich(spark, sf_dir):
    """Stream-static enrichment (the lookup-table half of §2.C): the events
    stream inner-joins the nation dimension; the static side is planned as a
    broadcast hash join inside every micro-batch, which is exactly the 100 TB
    shape — a small dim broadcast to every executor while the stream
    partitions flow through unshuffled."""
    e = T(spark, sf_dir, "events").select("event_id", "user_id")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    stream = replay(e, "enrich_replay", 2, "event_id", max_files_per_trigger=1)
    enriched = stream.join(
        F.broadcast(n), (F.col("user_id") % 25) == F.col("n_nationkey")
    ).select("event_id", "user_id", F.col("n_name").alias("nation_name"))
    return drain_to_table(enriched, "streaming_static_enrich")

@register(
    "streaming_video_neardup",
    # streaming video near-dup: keyframe hashes replayed over 3
    # micro-batches through the generic stateful key-collision kernel
    # (state per frame-hash bucket = the id list; each arrival emits one
    # pair row per earlier same-key id), then the SAME >= 6-shared rollup
    # as the batch query — a pair sharing k keyframes is emitted k times,
    # so the count recovers n_shared and end-of-stream equals the batch
    # pair table under any arrival order.  Same closed-form oracle.
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 64 AS g, (doc_id // 64) % 4 AS v
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(CASE WHEN a.v = b.v THEN 8
                         WHEN a.v = 0 OR b.v = 0 THEN 7
                         ELSE 6 END AS BIGINT) AS n_shared,
               CAST(CASE WHEN a.v = b.v THEN 8
                         WHEN a.v = 0 OR b.v = 0 THEN 7
                         ELSE 6 END AS DOUBLE)
                   / (16 - CASE WHEN a.v = b.v THEN 8
                                WHEN a.v = 0 OR b.v = 0 THEN 7
                                ELSE 6 END) AS jaccard
        FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    tags=("streaming", "multimodal", "video", "dedup", "stateful"),
)
def streaming_video_neardup(spark, sf_dir):
    """Video keyframe dedup as a STREAMING stateful operator — with this,
    all four modalities (text SimHash, image dHash, audio energy hash,
    video keyframes) run their near-dup in batch AND streaming form.
    The stream shuffles once on the frame hash; each bucket's state is
    its id list (streaming/ingest.py:stateful_key_collision_pairs), and
    the shared-count rollup runs on the emitted pair rows exactly as the
    batch join's."""
    from kwack_spark.streaming import ingest as si

    kf = _video_keyframes(spark, sf_dir).select("doc_id", "frame_md5")
    stream = replay(kf, "video_replay", 2, "doc_id", max_files_per_trigger=1)
    # max_ids matches the batch join's df-cap: a frame-hash bucket past
    # 4096 videos stops emitting (no dedup signal) and its state stays
    # bounded — the streaming leg of the hot-bucket guard
    pairs = si.stateful_key_collision_pairs(
        stream, "frame_md5", "doc_id", max_ids=4096
    )
    return _video_pair_rollup(drain_to_table(pairs, "streaming_video_neardup"))

@register(
    "streaming_session_counts",
    # gap-based session windows through Structured Streaming's stateful
    # session-window operator, replayed to end-of-stream; must equal the
    # batch islands-and-gaps SQL (same oracle as the batch session_windows
    # query, projected to the same columns)
    oracle="""
        WITH m AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "session"),
)
def streaming_session_counts(spark, sf_dir):
    """SURVEY §2.C session windows in STREAMING mode under the correctness
    gate: events replayed as a file-source stream, session_window state
    merged across micro-batches (streaming/ingest.py:session_counts),
    complete-mode memory sink == batch session assignment.  State is
    watermark-bounded; at production rates session state is O(active
    sessions), not O(stream length)."""
    from kwack_spark.streaming import ingest as si

    agg = si.session_counts(
        replay(T(spark, sf_dir, "events"), "stream_replay"),
        "ts",
        keys=["user_id"],
        gap="30 minutes",
        watermark="10 minutes",
    )
    return drain_to_table(agg, "streaming_session_counts", "complete").select(
        "user_id", "session_start", "n_events"
    )

@register(
    "streaming_state_observability",
    # state-store observability for the stateful streaming kernels: after
    # draining a replayed stream, the query's OWN progress metrics
    # (StreamingQueryProgress.stateOperators.numRowsTotal — what a
    # production monitor scrapes) are compared against the batch-computed
    # distinct key count, proving the bounded-state invariant the 100-TB
    # claims rest on: one state row per (blk, slc) bucket for the sliced
    # Hamming kernel, one per frame-hash bucket for the key-collision
    # kernel — state tracks DISTINCT KEYS, never stream length.  The
    # oracle states the exact key counts in closed form (the keyframe
    # fixture + the simhash slice chain), so a kernel that leaked state
    # rows (e.g. per-arrival rows instead of per-key) fails the hash.
    oracle=f"""
        WITH {_SIMHASH64_CTES},
        p AS (
            SELECT doc_id, doc_id % 64 AS g, (doc_id // 64) % 4 AS v
            FROM documents
        ),
        kf AS (
            SELECT doc_id,
                   CASE WHEN v > 0 AND i = 4 * (v - 1)
                        THEN 'vv:' || g::VARCHAR || ':' || v::VARCHAR
                        ELSE 'vf:' || g::VARCHAR || ':' || i::VARCHAR
                   END AS fkey
            FROM p, unnest([0, 4, 8, 12, 16, 20, 24, 28]) AS t(i)
        ),
        vk AS (SELECT CAST(count(DISTINCT fkey) AS BIGINT) AS n FROM kf),
        sk AS (
            SELECT CAST(count(*) AS BIGINT) AS n
            FROM (SELECT DISTINCT blk, slc FROM sliced)
        )
        SELECT 'key_collision' AS kernel, n AS state_rows, n AS n_keys,
               TRUE AS state_bounded
        FROM vk
        UNION ALL
        SELECT 'simhash_sliced' AS kernel, n AS state_rows, n AS n_keys,
               TRUE AS state_bounded
        FROM sk
        ORDER BY kernel
    """,
    tags=("streaming", "stateful", "audit", "observability"),
)
def streaming_state_observability(spark, sf_dir):
    """Measured state-store growth for the two id-set stateful kernels
    (streaming/ingest.py:stateful_key_collision_pairs,
    stateful_simhash_neardup): replay each kernel's stream, then read the
    final StreamingQueryProgress stateOperators.numRowsTotal — the number
    the state store actually holds — and emit it against the
    batch-computed distinct-key count.  state_bounded asserts
    state_rows <= n_keys; the oracle pins equality (every key stores
    exactly one row), so the graded artifact MEASURES the bounded-state
    claim instead of arguing it.  The scalar collects here are one count
    and one progress dict per kernel — constant-size observability, not
    data."""
    from kwack_spark.streaming import ingest as si

    def state_rows(prep, build_stateful):
        stream = replay(prep, "stateobs", 3, max_files_per_trigger=1)
        q = drain(build_stateful(stream), "streaming_state_observability")
        return int(q.lastProgress["stateOperators"][0]["numRowsTotal"])

    rows = []
    kf = _video_keyframes(spark, sf_dir).select("doc_id", "frame_md5")
    n_keys_v = kf.select("frame_md5").distinct().count()
    state_v = state_rows(
        kf,
        lambda s: si.stateful_key_collision_pairs(
            s, "frame_md5", "doc_id", max_ids=4096
        ),
    )
    rows.append(("key_collision", state_v, n_keys_v, state_v <= n_keys_v))

    prep = dedup._simhash64_sliced(
        dedup.simhash64_fingerprints(
            T(spark, sf_dir, "documents"), "doc_id", "text"
        ),
        "doc_id",
        blocks=4,
    )
    n_keys_s = prep.select("blk", "slc").distinct().count()
    state_s = state_rows(
        prep, lambda s: si.stateful_simhash_neardup(s, max_hamming=3)
    )
    rows.append(("simhash_sliced", state_s, n_keys_s, state_s <= n_keys_s))

    return spark.createDataFrame(
        rows, "kernel string, state_rows long, n_keys long, state_bounded boolean"
    ).orderBy("kernel")

@register(
    "streaming_state_observability_sketches",
    # the r10 observability query measured the two id-set kernels; this one
    # closes the remaining stateful surface (r10 VERDICT ask #4): the
    # running-count and running-moments kernels (state rows == distinct
    # keys), the per-key KLL quantile registers (one O(k) state row per
    # key), and the complete-mode CMS counter aggregation (state rows ==
    # occupied (depth, bucket) counters — constant in stream length AND in
    # key cardinality).  Each kernel's stream is drained and its OWN
    # StreamingQueryProgress.stateOperators.numRowsTotal — the number a
    # production monitor scrapes — is compared against the batch-computed
    # key/bucket count; the oracle pins equality in closed form, so a
    # kernel that leaked per-arrival state rows fails the hash.
    oracle="""
        WITH ev AS (
            SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n FROM events
        ),
        dl AS (
            SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n FROM documents
        ),
        keyed AS (
            SELECT user_id, d,
                   ((instr('0123456789abcdef',
                           substr(md5('cms' || d || ':' || user_id::VARCHAR), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef',
                            substr(md5('cms' || d || ':' || user_id::VARCHAR), 2, 1)) - 1) % 256 AS b
            FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS d)
        ),
        cm AS (
            SELECT CAST(count(*) AS BIGINT) AS n
            FROM (SELECT DISTINCT d, b FROM keyed)
        )
        SELECT 'cms_counters' AS kernel, n AS state_rows, n AS n_keys,
               TRUE AS state_bounded
        FROM cm
        UNION ALL SELECT 'kll_registers', n, n, TRUE FROM dl
        UNION ALL SELECT 'running_counts', n, n, TRUE FROM ev
        UNION ALL SELECT 'running_moments', n, n, TRUE FROM ev
        ORDER BY kernel
    """,
    tags=("streaming", "stateful", "sketch", "audit", "observability"),
)
def streaming_state_observability_sketches(spark, sf_dir):
    """Measured state-store growth for the sketch/moment stateful kernels
    (streaming/ingest.py:stateful_running_counts, stateful_running_moments,
    stateful_kll_registers; plans/sketches_corpus.py's complete-mode CMS
    aggregation): replay each kernel's stream over multi-file micro-batches,
    read the final stateOperators.numRowsTotal, and emit it against the
    batch-computed distinct-key (or occupied-counter) count.  The KLL row is
    the strongest claim: state is one row of O(k)=64 registers per key
    however long the stream runs; the CMS row is bounded by depth*width
    (4*256) regardless of user cardinality.  The scalar collects are one
    count + one progress dict per kernel — constant-size observability."""
    from kwack_spark.operators import scale
    from kwack_spark.streaming import ingest as si

    def state_rows(prep, build, mode):
        stream = replay(prep, "stateobs_sk", 3, max_files_per_trigger=1)
        q = drain(build(stream), "streaming_state_observability_sketches", mode)
        return int(q.lastProgress["stateOperators"][0]["numRowsTotal"])

    rows = []
    ev = T(spark, sf_dir, "events")
    e_types = ev.select("event_type").distinct().count()
    state_rc = state_rows(
        ev.select("event_id", "event_type"),
        lambda s: si.stateful_running_counts(s, "event_type"),
        "update",
    )
    rows.append(("running_counts", state_rc, e_types, state_rc <= e_types))
    state_rm = state_rows(
        ev.select("event_type", "value"),
        lambda s: si.stateful_running_moments(s, "event_type"),
        "update",
    )
    rows.append(("running_moments", state_rm, e_types, state_rm <= e_types))

    d = T(spark, sf_dir, "documents").select(
        "lang",
        scale._kll_rank("doc_id", "klls").alias("hr"),
        F.col("doc_id").cast("long").alias("rid"),
        F.col("n_chars").cast("long").alias("v"),
    )
    n_langs = d.select("lang").distinct().count()
    state_kll = state_rows(
        d, lambda s: si.stateful_kll_registers(s, "lang", k=64), "update"
    )
    rows.append(("kll_registers", state_kll, n_langs, state_kll <= n_langs))

    e = ev.select("user_id", "ts")
    n_buckets = (
        scale._cms_keyed(e, "user_id", depth=4, width=256, seed="cms")
        .select("d", "b")
        .distinct()
        .count()
    )
    state_cms = state_rows(
        e,
        lambda s: scale._cms_keyed(s, "user_id", depth=4, width=256, seed="cms")
        .groupBy("d", "b")
        .agg(F.count(F.lit(1)).alias("cnt")),
        "complete",
    )
    rows.append(("cms_counters", state_cms, n_buckets, state_cms <= n_buckets))

    return spark.createDataFrame(
        rows, "kernel string, state_rows long, n_keys long, state_bounded boolean"
    ).orderBy("kernel")

@register(
    "streaming_url_dedup",
    # crawl-frontier dedup AT INGEST: the canonical-URL key is computed
    # in-stream (same pure-codegen canonicalizer as dedup_url_canonical)
    # and dropDuplicates state admits each logical page once.  End-of-
    # stream key set == batch DISTINCT over the canonical keys, so the
    # oracle is exact; only the key set is emitted (which arrival within a
    # micro-batch wins is scheduler-dependent, the set is not).
    oracle=f"""
        WITH u AS (SELECT doc_id, {_URL_RAW_SQL} AS raw_url FROM documents),
        {_URL_CANON_CTES}
        SELECT DISTINCT canon_url FROM c
    """,
    tags=("streaming", "dedup", "url"),
)
def streaming_url_dedup(spark, sf_dir):
    """Streaming plan shape: canonicalization is narrow JVM regex work on
    each micro-batch (no Python, no pre-state shuffle beyond the dedup
    key); state is one entry per DISTINCT canonical page — the frontier
    size, not the crawl size — and the watermark bounds it to the re-crawl
    horizon in production (spanned fully here so the replay equals batch
    DISTINCT)."""
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        _url_raw_col().alias("raw_url"),
        F.timestamp_seconds(F.col("doc_id")).alias("ts"),
    )
    stream = replay(d, "stream_url", 2, "doc_id", max_files_per_trigger=1)
    canon = stream.select(
        TX.canonical_url("raw_url").alias("canon_url"), "ts"
    )
    deduped = si.streaming_dedup(
        canon, "ts", ["canon_url"], watermark="3650 days"
    ).select("canon_url")
    return drain_to_table(deduped, "streaming_url_dedup")

@register(
    "streaming_click_purchase_join",
    # STREAM-STREAM inner interval join — the one stateful-join shape the
    # streaming corpus did not yet cover (streaming_static_enrich is
    # stream-STATIC).  Clicks and purchases replay as two independent file
    # streams; each side is watermarked so the state store can expire
    # buffered rows once event time passes the join window; the joined
    # append-mode output must equal the batch interval join.
    oracle="""
        SELECT c.user_id,
               c.event_id AS click_id,
               p.event_id AS purchase_id,
               c.ts AS click_ts,
               p.ts AS purchase_ts
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click'
         AND p.event_type = 'purchase'
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join", "interval"),
)
def streaming_click_purchase_join(spark, sf_dir):
    """Structured Streaming stream-stream join under the correctness gate.
    100-TB shape: both sides shuffle on the join key (user_id) so matching
    rows co-locate per state-store partition; the 1-hour watermark plus the
    30-minute interval bound the buffered state per key to a sliding
    window — without them the state store grows without limit, which is
    the scale failure mode of unconstrained stream joins.  Append mode:
    matches emit as soon as both sides arrive; end-of-replay equals the
    batch interval join bit-for-bit."""
    def side(stream, event_type, id_alias, ts_alias, user_alias):
        return (
            stream.filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(user_alias),
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    c, p = replay(T(spark, sf_dir, "events"), "ssjoin_replay", readers=2)
    clicks = side(c, "click", "click_id", "click_ts", "c_user")
    purchases = side(p, "purchase", "purchase_id", "purchase_ts", "p_user")
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts >= click_ts "
            "AND purchase_ts <= click_ts + interval 30 minutes"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
    )
    return drain_to_table(joined, "streaming_click_purchase_join").select(
        "user_id", "click_id", "purchase_id", "click_ts", "purchase_ts"
    )

@register(
    "streaming_latest_per_key",
    # keyed UPSERT as a streaming materialized view: the per-user "current
    # row" (latest event by ts, tie -> highest event_id) plus a lifetime
    # event count, maintained by the stateful engine in complete mode and
    # equal to the batch DISTINCT ON at end-of-replay.  The streaming twin
    # of distinct_on_latest — kwack's live-table surface is exactly this
    # shape (a continuously-updated latest-state table readers query).
    oracle="""
        WITH r AS (
            SELECT user_id, ts, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn,
                   CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
                       AS n_events
            FROM events
        )
        SELECT user_id, ts AS latest_ts, event_id AS latest_event_id,
               value AS latest_value, n_events
        FROM r WHERE rn = 1
    """,
    tags=("streaming", "upsert", "state"),
)
def streaming_latest_per_key(spark, sf_dir):
    """100-TB shape: state is ONE row per key (the max_by pair and a
    counter — constant per key regardless of replay length), partitioned
    by user_id across the state store; each micro-batch folds its rows
    into the per-key maxima map-side before the state update.  The
    (ts, event_id) struct ordering makes the tie-break total, so the
    landed view is bit-equal to the batch window."""
    stream = replay(T(spark, sf_dir, "events"), "latest_replay")
    ord_key = F.struct("ts", "event_id")
    agg = stream.groupBy("user_id").agg(
        F.max("ts").alias("latest_ts"),
        F.max_by("event_id", ord_key).alias("latest_event_id"),
        F.max_by("value", ord_key).alias("latest_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return drain_to_table(agg, "streaming_latest_per_key", "complete").select(
        "user_id", "latest_ts", "latest_event_id", "latest_value", "n_events"
    )

@register(
    "streaming_simhash_neardup",
    # streaming Hamming near-dup: the state store is the sliced 64-bit
    # fingerprint index.  Docs replayed over 2 micro-batches (multi-batch
    # evidence, one fewer state-commit round, r13); each (blk,
    # slc) bucket's state holds (id, fp) pairs and arriving docs are
    # bit_count-verified against it.  End-of-stream pair set == the batch
    # slice self-join, so the oracle is the same as dedup_simhash_hamming's.
    oracle=f"""
        WITH {_SIMHASH64_CTES},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.fp AS fp_a, b.fp AS fp_b
            FROM sliced a JOIN sliced b
              ON a.blk = b.blk AND a.slc = b.slc AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(fp_a, fp_b)) <= 3
    """,
    tags=("streaming", "dedup", "simhash", "stateful"),
)
def streaming_simhash_neardup(spark, sf_dir):
    """64-bit SimHash near-dup as a STREAMING stateful operator
    (streaming/ingest.py:stateful_simhash_neardup) — completing the
    batch/incremental/streaming trio that shares one fingerprint family:
    fingerprint + 16-bit slices are pure projections (legal ahead of the
    stateful operator), the stream shuffles once on (blk, slc), and each
    bucket Hamming-verifies arrivals against its 16B/doc state.  A pair
    agreeing on several slices is emitted by each, so the trailing
    .distinct() restores set semantics; arrival order doesn't matter, so
    the final pair set equals the batch self-join bit-for-bit."""
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents")
    prep = dedup._simhash64_sliced(
        dedup.simhash64_fingerprints(d, "doc_id", "text"), "doc_id", blocks=4
    )
    stream = replay(prep, "simhash_replay", 2, "doc_id", max_files_per_trigger=1)
    pairs = si.stateful_simhash_neardup(stream, max_hamming=3)
    return drain_to_table(pairs, "streaming_simhash_neardup").distinct()

@register(
    "streaming_audio_neardup",
    # streaming acoustic near-dup: the SAME stateful Hamming kernel as
    # streaming_simhash_neardup (the state store is the sliced index),
    # fed 64-bit audio energy fingerprints instead of text SimHash —
    # fingerprints replayed over 2 micro-batches, end-of-stream pair set
    # == the batch audio pair query's closed form (the kernel is
    # fingerprint-agnostic; only the narrow projection ahead of the
    # stateful stage changes).
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 128 AS g, (doc_id // 128) % 4 AS v
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(CASE WHEN a.v = b.v THEN 0
                         WHEN a.v = 0 OR b.v = 0 THEN 1
                         ELSE 2 END AS INTEGER) AS hamming
        FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    tags=("streaming", "multimodal", "audio", "dedup", "stateful"),
)
def streaming_audio_neardup(spark, sf_dir):
    """Audio near-dup as a STREAMING stateful operator: REAL PCM decode
    emits 8 B/clip fingerprints (narrow, payloads never reach the
    stream), 16-bit slices are pure projections, and each (blk, slc)
    bucket Hamming-verifies arrivals against its state — one stateful
    kernel (streaming/ingest.py:stateful_simhash_neardup) now serves
    text, image, and audio fingerprints in batch, incremental, AND
    streaming mode.  Arrival order cannot change the end-of-stream pair
    set; the trailing .distinct() collapses multi-slice agreements."""
    from kwack_spark.operators import multimodal as mm
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    fps = mm.audio_fingerprint64(
        mm.synth_wav_am(d, "doc_id"), "payload", "doc_id"
    )
    prep = dedup._simhash64_sliced(fps, "doc_id", blocks=4)
    stream = replay(prep, "audiosh_replay", 2, "doc_id", max_files_per_trigger=1)
    pairs = si.stateful_simhash_neardup(stream, max_hamming=3)
    return drain_to_table(pairs, "streaming_audio_neardup").distinct()

@register(
    "streaming_image_neardup",
    # streaming perceptual image near-dup: REAL PNG decode -> dHash ->
    # 16-bit slices -> the same stateful Hamming kernel as text/audio —
    # with this (plus multimodal_image_incremental) ALL FOUR modalities
    # run near-dup in batch, incremental, AND streaming form.  Oracle =
    # the batch pair set (multimodal_phash_dedup's closed dHash form):
    # arrival order cannot change the end-of-stream pairs.
    oracle=f"""
        WITH {_DHASH_FP_CTES}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
    tags=("streaming", "multimodal", "image", "dedup", "stateful"),
)
def streaming_image_neardup(spark, sf_dir):
    """Image near-dup as a STREAMING stateful operator: the decode kernel
    emits 8 B/image dHash fingerprints (narrow — payloads never reach the
    stream), slices are pure projections, and each (blk, slc) bucket
    Hamming-verifies arrivals against its state
    (streaming/ingest.py:stateful_simhash_neardup — the one kernel now
    serving text, image, and audio in streaming mode).  The trailing
    .distinct() collapses multi-slice agreements."""
    from kwack_spark.operators import multimodal as mm
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    fps = mm.dhash64(mm.synth_png_blocky(d, "doc_id"), "payload", "doc_id")
    prep = dedup._simhash64_sliced(fps, "doc_id", blocks=4)
    stream = replay(prep, "imgsh_replay", 2, "doc_id", max_files_per_trigger=1)
    pairs = si.stateful_simhash_neardup(stream, max_hamming=3)
    return drain_to_table(pairs, "streaming_image_neardup").distinct()

@register(
    "streaming_change_point",
    # the STREAMING CUSUM monitor against the batch oracle: events replay
    # as 4 micro-batches, each event type's per-day counts merge into the
    # state store, and every emission recomputes the scaled-integer CUSUM
    # argmax from the full day map — so the final state equals the batch
    # events_change_point result regardless of arrival order (a prefix-max
    # over the raw stream would NOT be replay-stable; the day-map state is).
    # (same SQL as events_change_point: the streaming state must decode to
    # the batch result exactly)
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        ),
        cum AS (
            SELECT d.event_type, d.d,
                   t.n_days * SUM(d.cnt) OVER (PARTITION BY d.event_type
                                               ORDER BY d.d
                                               ROWS UNBOUNDED PRECEDING)
                       - (row_number() OVER (PARTITION BY d.event_type
                                             ORDER BY d.d)) * t.total
                       AS s_scaled,
                   t.n_days, t.total
            FROM daily d JOIN tot t USING (event_type)
        )
        SELECT event_type, d AS change_day,
               CAST(s_scaled AS BIGINT) AS s_scaled,
               CAST(s_scaled AS DOUBLE) / n_days AS cusum
        FROM (
            SELECT event_type, d, s_scaled, n_days,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY abs(s_scaled) DESC, d) AS rnk
            FROM cum
        ) WHERE rnk = 1
    """,
    tags=("streaming", "stateful", "anomaly"),
)
def streaming_change_point(spark, sf_dir):
    """Streaming CUSUM change points under the correctness gate: replay
    events as 4 micro-batches through applyInPandasWithState
    (streaming/ingest.py:stateful_cusum_days), take each type's last
    emission, and decode the day ordinal back to the timestamp the batch
    query reports."""
    from kwack_spark.streaming import ingest as si

    e = T(spark, sf_dir, "events").select("event_type", "ts")
    stream = replay(e, "cusum_replay", 4, max_files_per_trigger=1)
    states = si.stateful_cusum_days(stream, "event_type", "ts")
    last = (
        drain_to_table(states, "streaming_change_point", "update")
        .groupBy("event_type")
        .agg(
            F.max(
                F.struct("total", "change_day_ord", "s_scaled", "n_days")
            ).alias("m")
        )
        .select("event_type", "m.change_day_ord", "m.s_scaled", "m.n_days")
    )
    return last.select(
        "event_type",
        F.timestamp_seconds(F.col("change_day_ord") * 86400).alias("change_day"),
        "s_scaled",
        (F.col("s_scaled").cast("double") / F.col("n_days")).alias("cusum"),
    )


@register(
    "streaming_video_dhash_neardup",
    # the codec-leg video dedup as a STREAMING stateful operator: real
    # MJPEG split -> baseline-JPEG keyframe decode -> dHash happens ahead
    # of the stream (narrow — 8 B/keyframe, payloads never replay), then
    # (video, slot) fingerprints flow through the SAME stateful sliced-
    # Hamming kernel as text/image/audio, and the majority-of-3-keyframes
    # rollup runs on the emitted pairs exactly as the batch query's.
    # Oracle = multimodal_video_dhash_dedup's closed pair-level form
    # (arrival order cannot change the end-of-stream pair set).
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 64 AS g, (doc_id // 64) % 4 AS v
            FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(3 AS BIGINT) AS n_frames_matched,
               CAST(CASE WHEN a.v = b.v THEN 0
                         WHEN a.v = 0 OR b.v = 0 THEN 1
                         ELSE 2 END AS BIGINT) AS total_hamming
        FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
    """,
    tags=("streaming", "multimodal", "video", "dedup", "stateful", "dhash"),
)
def streaming_video_dhash_neardup(spark, sf_dir):
    """Real-codec video near-dup in streaming form — the video codec leg
    now exists in batch AND streaming mode, like the hash leg.  The
    decode kernel runs once while staging the replay (a production
    stream decodes per arriving video the same way); the stateful stage
    sees only (kfid, fp, blk, slc) rows."""
    from kwack_spark.operators import multimodal as mm
    from kwack_spark.streaming import ingest as si

    d = T(spark, sf_dir, "documents").select("doc_id")
    d = d.repartition(
        spark.sparkContext.defaultParallelism,
        F.expr("(doc_id % 64) * 4 + (doc_id div 64) % 4"),
    )
    kf = mm.mjpeg_keyframes(
        mm.synth_mjpeg(d, "doc_id"), "payload", "doc_id", every_n=4
    )
    # composite (video, slot) id, under the column name the stateful
    # kernel's Arrow batches key on
    kfid = kf.select(
        (F.col("doc_id") * 16 + (F.col("frame_no") / 4).cast("long")).alias(
            "doc_id"
        ),
        "fp",
    )
    prep = dedup._simhash64_sliced(kfid, "doc_id", blocks=4)
    stream = replay(prep, "viddh_replay", 2, "doc_id", max_files_per_trigger=1)
    pairs = si.stateful_simhash_neardup(stream, max_hamming=3)
    return (
        drain_to_table(pairs, "streaming_video_dhash_neardup")
        .distinct()
        .select(
            F.expr("id_a div 16").alias("id_a"),
            F.expr("id_b div 16").alias("id_b"),
            "hamming",
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_frames_matched"),
            F.sum("hamming").alias("total_hamming"),
        )
        .filter(F.col("n_frames_matched") >= 2)
    )
