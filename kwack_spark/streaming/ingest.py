"""Streaming ingest: the batch decode pipeline, made continuous.

The reference has NO streaming operators (batch catch-up only, SURVEY.md
§1.1/§2.C); this module is the beyond-parity layer.  The design insight is
that ``sources/kafka.py:decode_topic`` is a narrow transformation (filter +
the shared Python row stage + project) — it works UNCHANGED on a streaming
DataFrame, so batch and streaming ingest share one code path, and the
streaming additions are purely the stateful operators on top:

- event-time tumbling/sliding windows with watermarks (late-data bound)
- session windows (gap-based)
- dropDuplicatesWithinWatermark streaming dedup

At scale: state lives in the state store keyed by (window, keys); the
watermark bounds state size; shuffle partitioning on the group keys is the
same as the batch plan.  Tests drive these with a file-source stream +
Trigger.AvailableNow into a memory sink — the operators are identical under
a Kafka source."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kwack_spark.streaming.trigger import LIVE_PROCESSING_TIME, start_query


# 16-bit popcount lookup table for the vectorized stateful kernels — built
# lazily once per Python worker process (the numpy build is ~2 ms; a worker
# serves every state bucket of its task, so the cost amortizes to nothing)
_POP16 = None


def _popcount64(x):
    """Vectorized 64-bit popcount over a uint64 numpy array: four 16-bit
    table lookups per element.  Bit-exact equal to
    ``((a ^ b) & (2**64-1)).bit_count()`` on the ints the old per-pair
    loops computed."""
    global _POP16
    import numpy as np

    if _POP16 is None:
        t = np.arange(65536, dtype=np.uint16)
        _POP16 = (
            np.unpackbits(t.view(np.uint8).reshape(-1, 2), axis=1)
            .sum(axis=1)
            .astype(np.uint16)
        )
    return (
        _POP16[(x & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[((x >> np.uint64(16)) & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[((x >> np.uint64(32)) & np.uint64(0xFFFF)).astype(np.int64)]
        + _POP16[(x >> np.uint64(48)).astype(np.int64)]
    )


def _empty_pdf(*cols):
    """Typed empty pandas frame — yielding untyped empty lists makes pandas
    emit object columns (and a concat FutureWarning per micro-batch)."""
    import pandas as pd

    return pd.DataFrame({name: pd.Series([], dtype=dt) for name, dt in cols})


# ---------------------------------------------------------------------------
# stateful operators
# ---------------------------------------------------------------------------


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "10 minutes",
    agg_exprs: list | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation.  Works in batch
    too (watermark is a no-op there) — the batch oracle for the streaming
    result."""
    w = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    aggs = agg_exprs or [F.count(F.lit(1)).alias("n")]
    out = (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys, w.alias("win"))
        .agg(*aggs)
    )
    agg_names = [c for c in out.columns if c not in keys and c != "win"]
    return out.select(
        *keys, F.col("win.start").alias("window_start"), *agg_names
    )


def session_counts(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Gap-based session windows with watermark-bounded state."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys, F.session_window(ts_col, gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *keys,
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def streaming_dedup(
    df: DataFrame, ts_col: str, keys: list[str], watermark: str = "10 minutes"
) -> DataFrame:
    """Exact streaming dedup: state bounded by the watermark
    (dropDuplicatesWithinWatermark)."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream equi + interval join: pair each left row with the right
    rows for the same key whose timestamp falls in [left_ts - lookback,
    left_ts] (e.g. purchases joined to the clicks that preceded them).

    Both sides carry a watermark and the join condition bounds event-time
    distance, so the state store can evict rows older than
    watermark + lookback — state stays finite on unbounded streams.  The
    shuffle is one exchange per side on the join key, identical to the batch
    plan; in batch mode watermarks are no-ops, so the same function is its
    own batch oracle.  Non-key column names must be disjoint across sides."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] <= lw[left_ts])
        & (rw[right_ts] >= lw[left_ts] - F.expr(f"INTERVAL {lookback}"))
    )
    return lw.join(rw, cond).drop(rw[key])


def stateful_running_counts(
    df: DataFrame, key: str, count_col: str = "n"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY §2.C's
    custom-state surface): a per-key running event count that persists in
    the state store across micro-batches.  Emits one (key, running total)
    row per key per batch — 'update' output mode.

    This is the template for arbitrary per-key state (counters, sketches,
    session models): state lives in the store keyed by the group, Arrow
    batches stream through the Python worker, and the shuffle is the same
    groupBy-key exchange a built-in stateful op would use."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key].dataType.simpleString()
    out_schema = f"{key} {key_type}, {count_col} long"
    state_schema = "cnt long"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({key: [key_tuple[0]], count_col: [total]})

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_running_moments(
    df: DataFrame, key: str, value_col: str = "value"
) -> DataFrame:
    """Per-key running (n, Σv, Σv²) in milli-unit INTEGER state — the
    streaming half of mean/variance/z-score monitoring.  Each value is
    quantized exactly like ``CAST(value AS DECIMAL(18,3))`` (shortest-repr
    + HALF_UP, mirroring Spark's BigDecimal.valueOf(double).setScale(3)),
    so the integer sums are order-independent and the final moments equal
    the batch aggregate bit-for-bit — a Welford stream whose state merges
    deterministically under any micro-batch arrival order.

    Emits one (key, n, s, ss) row per key per batch ('update' mode); the
    last emission (max n) is the final state.  The per-row Python loop is
    the exactness-preserving reference path; a production port vectorizes
    the quantization with int64 numpy after one Decimal calibration pass."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key].dataType.simpleString()
    out_schema = f"{key} {key_type}, n long, s long, ss long"
    state_schema = "n long, s long, ss long"

    def update(key_tuple, pdfs, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        n, sm, ssm = state.get if state.exists else (0, 0, 0)
        q = Decimal("0.001")
        for pdf in pdfs:
            for v in pdf[value_col]:
                m = int(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP).scaleb(3))
                n += 1
                sm += m
                ssm += m * m
        state.update((n, sm, ssm))
        yield pd.DataFrame(
            {key: [key_tuple[0]], "n": [n], "s": [sm], "ss": [ssm]}
        )

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_lsh_neardup(
    df: DataFrame, threshold: float = 0.5, ttl_ms: int | None = None
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate detection: the state store IS
    the LSH index.  Input rows are ``(doc_id, sh array<string>, band_key)``
    (band keys precomputed narrowly — array_min over the shingle transform
    needs no aggregation, so the only pre-state exchange is the groupBy on
    band_key).  Per band bucket, arriving docs are compared against every
    doc already in the bucket's state (and earlier docs of the same batch,
    in doc_id order); exact-Jaccard hits >= ``threshold`` are emitted as
    ``(id_a, id_b, jaccard)`` with id_a < id_b.

    Within one band bucket every colliding pair is compared exactly once —
    when its later member arrives — but a pair whose documents collide in
    SEVERAL bands is emitted once per colliding band bucket (the buckets are
    independent state groups and cannot see each other).  Callers wanting
    set semantics apply ``.distinct()`` downstream, as
    plans/pipeline.py:streaming_lsh_neardup does; modulo that, for every
    band bucket under the batch side's ``max_band_df`` cap the
    end-of-stream pair set equals the batch self-join's
    (operators/dedup.py:minhash_lsh_pairs), whatever the arrival order.
    Past that cap the batch side prunes the whole band (recovering it as
    star edges via lsh_overcap_star_edges) while this kernel keeps
    pairing — bound a production stream with ``ttl_ms`` and treat
    saturated buckets as the boilerplate signal the occupancy audits
    watch for.

    State bound: per bucket, the bucket's (id, shingle set) list, stored
    columnar (two Arrow arrays — no per-batch JSON re-encode).  With
    ``ttl_ms`` set, buckets idle longer than the TTL are EVICTED via a
    processing-time timeout — the dedup horizon that keeps state finite on
    unbounded streams (production must set it; the analogue of
    dropDuplicatesWithinWatermark's watermark bound).  Docs older than the
    horizon simply stop matching, exactly like the incremental batch path
    pruning its history index (operators/dedup.py:incremental_lsh_new_dups).

    Caveat: only use ``ttl_ms`` with a continuously-running trigger.  Under
    ``Trigger.AvailableNow`` a processing-time timeout makes Spark schedule
    state-cleanup batches indefinitely (FlatMapGroupsWithStateExec's
    shouldRunAnotherBatch is always true for processing-time timeouts), so
    the drain-and-stop query never terminates; bounded replays should leave
    the TTL unset.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "id_a long, id_b long, jaccard double"
    state_schema = "ids array<long>, shs array<array<string>>"

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        if ttl_ms is not None and state.hasTimedOut:
            # bucket idle past the dedup horizon: evict its index shard
            state.remove()
            return
        if state.exists:
            ids, shs = [int(i) for i in state.get[0]], [list(s) for s in state.get[1]]
        else:
            ids, shs = [], []
        batch: list[tuple[int, list[str]]] = []
        for pdf in pdfs:
            for did, sh in zip(pdf["doc_id"], pdf["sh"]):
                batch.append((int(did), list(sh)))
        batch.sort(key=lambda t: t[0])
        out_a: list[int] = []
        out_b: list[int] = []
        out_j: list[float] = []
        n0 = len(ids)
        all_sets = [set(s) for s in shs] + [set(sh) for _, sh in batch]
        all_ids = ids + [did for did, _ in batch]
        # one indicator matrix + ONE int matmul for every (arrival, prior)
        # intersection count, replacing the per-pair Python set ops.  Its
        # columns are the BATCH's tokens only: a token an arrival shares
        # with any doc is one of the arrival's own, so the counts stay
        # exact while the matrix is docs x batch vocabulary — a 1-doc batch
        # costs history x its set size, not history x the bucket's whole
        # vocabulary.  Intersections/unions are exact ints either way, and
        # int/int division in float64 is the same correctly-rounded IEEE
        # value the per-pair `len(s & hs) / union` computes, so emitted
        # rows are identical in content and order.  Oversized indicators
        # (over ~20M cells) keep the per-pair loop.
        vocab: dict = {}
        for s in all_sets[n0:]:
            for tok in s:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        nv, nd = len(vocab), len(all_sets)
        if nv and nd * nv <= 20_000_000:
            ind = np.zeros((nd, nv), dtype=np.int32)
            for r, s in enumerate(all_sets):
                cols = [c for c in map(vocab.get, s) if c is not None]
                if cols:
                    ind[r, cols] = 1
            sizes = np.fromiter(map(len, all_sets), dtype=np.int64, count=nd)
            ids_arr = np.asarray(all_ids, dtype=np.int64)
            # intersections of each batch row against ALL docs (mask to
            # priors per arrival below)
            inter = ind[n0:] @ ind.T  # (batch, nd) int32
            for i in range(len(batch)):
                gi = n0 + i
                did = all_ids[gi]
                it = inter[i, :gi].astype(np.int64)
                un = sizes[:gi] + sizes[gi] - it
                j = np.where(un > 0, it / np.maximum(un, 1), 0.0)
                m = (j >= threshold) & (ids_arr[:gi] != did)
                if m.any():
                    pa = ids_arr[:gi][m]
                    out_a.extend(np.minimum(pa, did).tolist())
                    out_b.extend(np.maximum(pa, did).tolist())
                    out_j.extend(j[m].tolist())
            for did, sh in batch:
                ids.append(did)
                shs.append(sh)
        else:
            hist: list[tuple[int, set]] = list(zip(all_ids[:n0], all_sets[:n0]))
            for i, (did, sh) in enumerate(batch):
                s = all_sets[n0 + i]
                for hid, hs in hist:
                    union = len(s | hs)
                    j = len(s & hs) / union if union else 0.0
                    if j >= threshold and hid != did:
                        out_a.append(min(did, hid))
                        out_b.append(max(did, hid))
                        out_j.append(j)
                hist.append((did, s))
                ids.append(did)
                shs.append(sh)
        state.update((ids, shs))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "jaccard": out_j})
        else:
            yield _empty_pdf(("id_a", "int64"), ("id_b", "int64"), ("jaccard", "float64"))

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return df.groupBy("band_key").applyInPandasWithState(
        update, out_schema, state_schema, "append", timeout
    )


def stateful_simhash_neardup(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Streaming 64-bit SimHash near-dup detection: the state store IS the
    sliced fingerprint index — the streaming member of the simhash64 family
    (batch: operators/dedup.py:simhash64_hamming_pairs; incremental:
    incremental_simhash64_new_dups; all three share the TX.simhash64
    fingerprint, so their indexes are interchangeable).

    Input rows are ``(doc_id, fp long, blk int, slc long)`` — the fingerprint
    and its 16-bit slices are pure per-row projections (no aggregation), so
    the only pre-state exchange is the groupBy on (blk, slc).  Per slice
    bucket, arriving docs are Hamming-verified against every doc already in
    the bucket's state (and earlier docs of the same batch, in doc_id
    order): ``bit_count((fp_a ^ fp_b) & 2^64-1) <= max_hamming`` emits
    ``(id_a, id_b, hamming)`` with id_a < id_b.

    A pair within distance ``max_hamming < 4`` agrees exactly on >= 1 of the
    4 slices (Manku WWW'07 pigeonhole), so the union over buckets is the
    complete pair set.  A pair agreeing on SEVERAL slices is emitted ONLY
    from its lowest-matching-slice bucket (r13: each bucket knows both
    docs' FULL fingerprints, so "does a lower slice also match" is a local
    xor test — the former emit-once-per-bucket form shipped near-identical
    fingerprint pairs 4x, and the duplicate-heavy corpora these queries
    target made the sink and its distinct carry ~4x the rows).  Arrival
    redelivery can still duplicate an emission, so callers keep applying
    ``.distinct()`` downstream — modulo that, the end-of-stream pair set
    equals the batch self-join's, whatever the arrival order.

    State bound: 8 bytes fp + 8 bytes id per doc per slice bucket (the same
    4x8B/doc the batch index pays), columnar in two Arrow arrays.  At 100 TB
    the production stream bounds it with the same horizon policy as
    stateful_lsh_neardup's ttl_ms (left out here: bounded replays must not
    arm processing-time timeouts — see that docstring's AvailableNow
    caveat)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "id_a long, id_b long, hamming int"
    state_schema = "ids array<long>, fps array<long>"

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        # r13 (guide §4.2): the former per-(arrival, history) Python double
        # loop is vectorized — per arriving doc, ONE uint64 xor + table
        # popcount over the whole prior array.  Output rows are identical
        # in content AND order: priors are walked in the same state-then-
        # batch order, the batch is the same stable doc_id sort, and the
        # popcount of (fp ^ hfp) over the uint64 view equals the masked
        # int.bit_count of the old loop bit-for-bit.
        if state.exists:
            ids0 = np.asarray(list(state.get[0]), dtype=np.int64)
            fps0 = np.asarray(list(state.get[1]), dtype=np.int64)
        else:
            ids0 = np.empty(0, np.int64)
            fps0 = np.empty(0, np.int64)
        bi: list = []
        bf: list = []
        for pdf in pdfs:  # single pass — pdfs is a one-shot iterator
            bi.append(pdf["doc_id"].to_numpy(dtype=np.int64))
            bf.append(pdf["fp"].to_numpy(dtype=np.int64))
        b_ids = np.concatenate(bi) if bi else np.empty(0, np.int64)
        b_fps = np.concatenate(bf) if bf else np.empty(0, np.int64)
        order = np.argsort(b_ids, kind="stable")
        b_ids, b_fps = b_ids[order], b_fps[order]
        all_ids = np.concatenate([ids0, b_ids])
        u_fps = np.concatenate([fps0, b_fps]).view(np.uint64)
        n0 = len(ids0)
        blk = int(key_tuple[0])
        outs_a: list = []
        outs_b: list = []
        outs_h: list = []
        for i in range(len(b_ids)):
            gi = n0 + i
            did = all_ids[gi]
            x = u_fps[:gi] ^ u_fps[gi]
            h = _popcount64(x)
            m = (h <= max_hamming) & (all_ids[:gi] != did)
            # lowest-matching-slice ownership: skip pairs a lower block's
            # bucket also sees (their 16-bit xor slice is zero there)
            for b in range(blk):
                m &= ((x >> np.uint64(16 * b)) & np.uint64(0xFFFF)) != 0
            if m.any():
                pa = all_ids[:gi][m]
                outs_a.append(np.minimum(pa, did))
                outs_b.append(np.maximum(pa, did))
                outs_h.append(h[m])
        state.update((all_ids.tolist(), u_fps.view(np.int64).tolist()))
        if outs_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(outs_a),
                    "id_b": np.concatenate(outs_b),
                    "hamming": np.concatenate(outs_h).astype(np.int32),
                }
            )
        else:
            yield _empty_pdf(("id_a", "int64"), ("id_b", "int64"), ("hamming", "int32"))

    return df.groupBy("blk", "slc").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stateful_key_collision_pairs(
    df: DataFrame, key: str, id_col: str, max_ids: int = 4096
) -> DataFrame:
    """Streaming exact-key collision pairs: per ``key`` bucket the state is
    the id SET seen so far, and each NEW arrival emits one ``(id_a, id_b)``
    row per earlier same-key id (id_a < id_b) — the generic core under any
    hash-blocked streaming dedup where the blocking key IS the evidence
    (video keyframe hashes, exact content hashes): a pair sharing k keys
    is emitted k times, so a downstream count per pair recovers the
    shared-key count, and for every key whose id set stays UNDER
    ``max_ids`` the end-of-stream pair set equals the batch key self-join
    under any arrival order.  Past the cap the two diverge by design —
    this kernel truncates arrival-order-first while the batch twin
    (``dedup.key_collision_pairs``) drops the whole over-cap key — see
    the hot-bucket paragraph below.

    Idempotent per (key, id): an id already in the bucket's state is
    skipped — it neither re-emits pairs nor grows state — so at-least-once
    redelivery of a (key, id) row cannot inflate the downstream
    shared-key counts (unlike the simhash kernel, whose downstream
    .distinct() absorbs duplicates, a count rollup cannot).

    Hot-bucket guard: a bucket whose id set reaches ``max_ids`` stops
    accepting ids — a key shared by that many items carries no dedup
    signal (the stop-word of hash blocking: a ubiquitous video keyframe,
    a boilerplate content hash) and would otherwise emit O(bucket²) pairs
    and grow state without bound.  Truncation is one-sided (pairs already
    emitted stand; append mode cannot retract), matching the batch df-cap
    policy of dropping over-frequent keys.  State is therefore bounded at
    ``max_ids`` longs per key, columnar."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "id_a long, id_b long"
    state_schema = "ids array<long>"

    def update(key_tuple, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        # r13 (guide §4.2): per accepted arrival, ONE numpy min/max over the
        # bucket's prior ids replaces the per-(arrival, history) Python
        # loop.  Same accepted-id order (insertion order in a bounded
        # buffer), same skip rules, so emitted rows are identical in
        # content and order.
        ids0 = (
            np.asarray(list(state.get[0]), dtype=np.int64)
            if state.exists
            else np.empty(0, np.int64)
        )
        n = len(ids0)
        buf = np.empty(max(max_ids, n), np.int64)
        buf[:n] = ids0
        seen = set(int(i) for i in ids0)
        parts = [pdf[id_col].to_numpy(dtype=np.int64) for pdf in pdfs]
        batch = np.sort(np.concatenate(parts)) if parts else np.empty(0, np.int64)
        outs_a: list = []
        outs_b: list = []
        for did in batch:
            d = int(did)
            if d in seen or n >= max_ids:
                continue
            if n:
                cur = buf[:n]
                outs_a.append(np.minimum(cur, did))
                outs_b.append(np.maximum(cur, did))
            buf[n] = did
            n += 1
            seen.add(d)
        state.update((buf[:n].tolist(),))
        if outs_a:
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(outs_a),
                    "id_b": np.concatenate(outs_b),
                }
            )
        else:
            yield _empty_pdf(("id_a", "int64"), ("id_b", "int64"))

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def to_memory_sink(
    df: DataFrame,
    name: str,
    output_mode: str = "append",
    continuous: bool = False,
    processing_time: str = LIVE_PROCESSING_TIME,
) -> StreamingQuery:
    """Stream into an in-memory table — the engine's live-table surface and
    the test harness.

    ``continuous=False`` (default): Trigger.AvailableNow — drain the current
    backlog and stop.  ``continuous=True``: keep the micro-batch loop running
    so the table grows as records arrive (the engine's live mode; callers
    synchronize with ``query.processAllAvailable()``).  ``processing_time``
    (continuous mode only): the micro-batch cadence, 250 ms by default (see
    streaming/trigger.py).  A plan holding armed processing-time timeouts
    (stateful TTL) needs a cadence: their shouldRunAnotherBatch is always
    true, so Spark's ASAP trigger would busy-loop empty timer batches, each
    paying full per-partition state-store overhead."""
    w = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return start_query(w, df.sparkSession, continuous, processing_time)


def stateful_kll_registers(df: DataFrame, key: str, k: int = 64) -> DataFrame:
    """Per-key streaming KLL-family quantile-sketch state — the streaming
    half of operators/scale.py:kll_sketch: the state store holds the k
    register rows with the smallest (hr, rid) seen so far (bottom-k is a
    monoid, so folding micro-batches in ANY arrival order yields exactly
    the batch sketch — the same merge-invariance the batch query grades).
    Input needs columns (key, hr, rid, v) with hr the deterministic md5
    rank (scale._kll_rank), computed JVM-side BEFORE this operator so the
    stateful Python stage only compares longs.

    Emits one (key, n_seen, hrs, rids, vs) row per key per micro-batch
    ('update' mode); the emission with the largest n_seen is the final
    state.  State is O(k) longs per key — constant however long the
    stream runs.

    Registers are deduplicated on (hr, rid), so at-least-once redelivery
    of a row can never duplicate a register: the sketch stays bit-exactly
    merge-invariant under replays of rows whose (hr, rid) lands in the
    kept bottom-k.  ``n_seen`` is the one redelivery-sensitive field — a
    replayed row whose rank fell OUTSIDE the k kept registers is
    indistinguishable from a new row with O(k) state, so n_seen is exact
    only under exactly-once micro-batch delivery (Spark's default sink
    contract here); the quantile registers themselves need no such
    assumption."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key].dataType.simpleString()
    out_schema = (
        f"{key} {key_type}, n_seen long, "
        "hrs array<long>, rids array<long>, vs array<long>"
    )
    state_schema = "n_seen long, hrs array<long>, rids array<long>, vs array<long>"

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        if state.exists:
            n_seen, hrs, rids, vs = state.get
            by_reg = {
                (int(h), int(r)): int(v) for h, r, v in zip(hrs, rids, vs)
            }
        else:
            n_seen, by_reg = 0, {}
        for pdf in pdfs:
            for h, r, v in zip(pdf["hr"], pdf["rid"], pdf["v"]):
                # keyed on (hr, rid): a redelivered row overwrites its own
                # register instead of duplicating it
                if (int(h), int(r)) not in by_reg:
                    n_seen += 1
                by_reg[(int(h), int(r))] = int(v)
        regs = sorted((h, r, v) for (h, r), v in by_reg.items())
        del regs[k:]
        state.update(
            (
                n_seen,
                [r[0] for r in regs],
                [r[1] for r in regs],
                [r[2] for r in regs],
            )
        )
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_seen": [n_seen],
                "hrs": [[r[0] for r in regs]],
                "rids": [[r[1] for r in regs]],
                "vs": [[r[2] for r in regs]],
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stateful_cusum_days(
    df: DataFrame, key: str, ts_col: str = "ts"
) -> DataFrame:
    """Per-key streaming CUSUM change-point state: the state store holds
    each key's per-DAY event counts (two parallel arrays — day ordinal,
    count), merged across micro-batches; every emission recomputes the
    scaled-integer CUSUM argmax (S_d * n_days = n_days * cumsum - rank *
    total, all ints) from the full day map, so the result is independent
    of arrival order — unlike a prefix-max over the raw stream, which
    would depend on row order inside a batch.  The last emission per key
    (max total) equals the batch CUSUM exactly."""
    import datetime as _dt

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = df.schema[key].dataType.simpleString()
    out_schema = (
        f"{key} {key_type}, total long, change_day_ord long, s_scaled long, "
        "n_days long"
    )
    state_schema = "d array<long>, c array<long>"
    epoch = _dt.date(1970, 1, 1)

    def update(key_tuple, pdfs, state: GroupState):
        import pandas as pd

        counts: dict[int, int] = {}
        if state.exists:
            ds, cs = state.get
            counts = dict(zip(ds, cs))
        for pdf in pdfs:
            for t in pdf[ts_col]:
                day = (pd.Timestamp(t).date() - epoch).days
                counts[day] = counts.get(day, 0) + 1
        days = sorted(counts)
        state.update((list(days), [counts[d] for d in days]))
        n_days = len(days)
        total = sum(counts.values())
        best = None  # (-|s|, day_ord, s)
        cum = 0
        for rank, day in enumerate(days, start=1):
            cum += counts[day]
            s = n_days * cum - rank * total
            cand = (-abs(s), day, s)
            if best is None or cand < best:
                best = cand
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "total": [total],
                "change_day_ord": [best[1]],
                "s_scaled": [best[2]],
                "n_days": [n_days],
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
