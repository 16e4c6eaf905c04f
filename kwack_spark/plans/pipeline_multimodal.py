"""Multimodal family: PNG/JPEG/WAV/MJPEG decode kernels, perceptual fingerprints, frame sampling, and the image/audio/video near-dup queries.

Split out of plans/pipeline.py (same registrations, same semantics);
shared helpers live in pipeline.py, the aggregator that imports this
module at the bottom.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark import stages
from kwack_spark.operators import dedup
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.plans.pipeline import (  # shared core
    _DHASH_FP_CTES,
    _video_keyframes,
    _video_pair_rollup,
)


@register(
    "multimodal_binary_meta",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS content_md5,
               hex(encode(substr(text, 1, 8))) AS head_hex
        FROM documents
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_meta(spark, sf_dir):
    """Opaque-binary column plumbing: documents' text re-encoded as a binary
    payload column, with typed metadata extracted JVM-side
    (operators/multimodal.py:attach_binary_metadata is the general form)."""
    d = T(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(F.col("text")).alias("content_md5"),
        F.hex(F.encode(F.substring("text", 1, 8), "UTF-8")).alias("head_hex"),
    )

@register(
    "multimodal_fake_decode",
    # the deterministic fake image-decode kernel (multimodal.py): width/
    # height/channels from the payload's leading bytes — the documents corpus
    # is pure ASCII (verified), so DuckDB's ord(substr(..)) IS the byte value
    oracle="""
        SELECT doc_id,
               ord(substr(text, 1, 1)) * 256 + ord(substr(text, 2, 1)) AS width,
               ord(substr(text, 3, 1)) * 256 + ord(substr(text, 4, 1)) AS height,
               1 + ord(substr(text, 5, 1)) % 4 AS channels,
               'fake' AS format
        FROM documents
    """,
    tags=("multimodal", "decode"),
)
def multimodal_fake_decode(spark, sf_dir):
    """The full multimodal decode pipeline (operators/multimodal.py's one
    per-row mapInArrow stage over a binary payload column) with the
    deterministic stand-in kernel — the real kernel (decode_image) swaps in
    with an identical signature and plan shape."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.fake_decode_image(d, "payload", "doc_id")

@register(
    "multimodal_frame_sample",
    # video-style frame sampling: 16-byte frames, every 4th kept (JVM-side
    # posexplode — no Python, no payload shuffle)
    oracle="""
        WITH f AS (
            SELECT doc_id, text,
                   unnest(generate_series(0, greatest((length(text) // 16) - 1, 0), 4)) AS i
            FROM documents
        )
        SELECT doc_id, i AS frame_no,
               md5(substr(text, (i * 16 + 1)::BIGINT, 16)) AS frame_md5
        FROM f
    """,
    tags=("multimodal", "frames"),
)
def multimodal_frame_sample(spark, sf_dir):
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.sample_frames(d, "payload", "doc_id", frame_size=16, every_n=4).select(
        "doc_id", "frame_no", "frame_md5"
    )

@register(
    "multimodal_wav_decode",
    # REAL audio kernel, not a stand-in: RIFF/WAVE PCM16 parsing is pure
    # byte arithmetic (struct + numpy), runnable with no media library.
    # The fixture is a square wave alternating ±amp (amp = doc_id%1000+1)
    # at 8 kHz over 1024 samples, so every feature has a CLOSED FORM the
    # oracle states independently of the bytes: RMS of ±a is exactly a
    # (a² ≤ 1e6 integer, sum over 1024 exact in double, /2^10 exact,
    # sqrt of a perfect square exact); duration computes via the same
    # IEEE sequence (n/rate*1000) on both engines.  The kernel must walk
    # the chunk list (a junk LIST chunk precedes data) — a byte-offset
    # shortcut would fail the hash.
    oracle="""
        SELECT doc_id,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(1024 AS BIGINT) AS n_samples,
               CAST(1024 AS DOUBLE) / 8000 * 1000 AS duration_ms,
               CAST(doc_id % 1000 + 1 AS DOUBLE) AS rms,
               CAST(doc_id % 1000 + 1 AS INTEGER) AS peak
        FROM documents
    """,
    tags=("multimodal", "audio", "decode"),
)
def multimodal_wav_decode(spark, sf_dir):
    """End-to-end REAL audio decode (operators/multimodal.py:
    decode_wav_features): synthesize a PCM16 WAV per document (pure struct),
    then parse it back — chunk walk, fmt, int16 frames — and emit audio
    features.  Two narrow Arrow-batched stages, no payload shuffle; at
    100 TB this is the plan shape of any media feature-extraction pass."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan the id list across all cores before the synth+decode kernels:
    # the parquet source is a single split at bench scale, and media
    # kernels are the rare per-row-expensive stage where occupancy matters
    # more than avoiding an id-only shuffle (at 100 TB the source has
    # thousands of splits and this repartition is a no-op cost-wise)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    wav = mm.synth_wav_pcm16(d, "doc_id")
    return mm.decode_wav_features(wav, "payload", "doc_id")

@register(
    "audio_silence_trim",
    # the preprocessing trim before any audio feature pass: count exact-zero
    # samples at each end of the PCM stream, report the kept duration.  The
    # fixture pads doc_id%97 leading and doc_id%53 trailing zero samples
    # around the (never-zero) square wave, so every output has a closed
    # form; kept is always 1024 samples -> 128 ms exactly (1024/8000*1000
    # is the same IEEE sequence on both engines).
    oracle="""
        SELECT doc_id,
               CAST(1024 + doc_id % 97 + doc_id % 53 AS INTEGER) AS n_samples,
               CAST(doc_id % 97 AS INTEGER) AS lead_silence,
               CAST(doc_id % 53 AS INTEGER) AS trail_silence,
               CAST(1024 AS DOUBLE) / 8000 * 1000 AS trimmed_ms
        FROM documents
    """,
    tags=("multimodal", "audio", "trim"),
)
def audio_silence_trim(spark, sf_dir):
    """Same two-stage narrow shape as multimodal_wav_decode (synthesize ->
    parse), with the trim kernel (operators/multimodal.py:
    trim_wav_silence) instead of the feature kernel."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan the id list across all cores before the synth+decode kernels:
    # the parquet source is a single split at bench scale, and media
    # kernels are the rare per-row-expensive stage where occupancy matters
    # more than avoiding an id-only shuffle (at 100 TB the source has
    # thousands of splits and this repartition is a no-op cost-wise)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    wav = mm.synth_wav_pcm16(d, "doc_id", silence=True)
    return mm.trim_wav_silence(wav, "payload", "doc_id")

@register(
    "multimodal_png_decode",
    # REAL image kernel, not a stand-in: PNG is stdlib zlib + byte
    # arithmetic (operators/multimodal.py:_png_decode — CRC-checked chunk
    # walk, multi-IDAT inflate, per-scanline unfilter with the filter type
    # cycling y%5 so ALL FIVE filters are on the wire).  The fixture's
    # pixel pattern gives every feature a CLOSED FORM the oracle states
    # independently of the bytes: R is the constant d%256; G = x*255//(w-1)
    # sums to exactly 127.5 for both widths (w-1 divides 255); B =
    # y*255//(h-1) is 127.5 at h=16 and 127.125 (=127+1/8, exact in
    # double) at h=8; grayscale images (d%7==0) report their constant in
    # all three channels.  Means are exact integer sums / n on both
    # engines.  A decoder that mis-unfilters any scanline, drops an IDAT
    # split (d%11==0 emits two), or mis-walks a chunk fails the hash.
    oracle="""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 6 END AS INTEGER) AS width,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER) AS height,
               CAST(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 3 END AS INTEGER) AS channels,
               CAST(8 AS INTEGER) AS bit_depth,
               CAST(doc_id % 256 AS DOUBLE) AS mean_r,
               CASE WHEN doc_id % 7 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                    ELSE 127.5 END AS mean_g,
               CASE WHEN doc_id % 7 = 0 THEN CAST(doc_id % 256 AS DOUBLE)
                    WHEN doc_id % 3 = 0 THEN 127.125
                    ELSE 127.5 END AS mean_b
        FROM documents
    """,
    tags=("multimodal", "image", "decode"),
)
def multimodal_png_decode(spark, sf_dir):
    """End-to-end REAL image decode (operators/multimodal.py:
    decode_png_features): synthesize a real PNG per document — gray or RGB,
    varied dimensions, two IDAT chunks for some, filter type cycling per
    scanline — then fully decode it back (inflate + unfilter) and emit
    dimensions and exact per-channel means.  Two narrow Arrow-batched
    stages, no payload shuffle; the multimodal analogue of the WAV pipeline
    below and the plan shape of any media feature-extraction pass at
    100 TB."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan the id list across all cores before the synth+decode kernels:
    # the parquet source is a single split at bench scale, and media
    # kernels are the rare per-row-expensive stage where occupancy matters
    # more than avoiding an id-only shuffle (at 100 TB the source has
    # thousands of splits and this repartition is a no-op cost-wise)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    png = mm.synth_png(d, "doc_id")
    return mm.decode_png_features(png, "payload", "doc_id")

@register(
    "multimodal_phash_dedup",
    # perceptual image dedup (r07 VERDICT ask #4): REAL PNG decode -> luma
    # box-downsample -> 64-bit dHash -> pigeonhole Hamming blocking.  The
    # fixture (multimodal.py:synth_png_blocky) is 2x2-block-constant, so
    # the decoded-and-downsampled 9x8 grid — and therefore the fingerprint
    # — has the closed md5 form this oracle states INDEPENDENTLY of the
    # bytes (same contract as multimodal_png_decode): a decoder that
    # mis-unfilters any scanline or a downsampler that mis-averages any
    # block changes fingerprints and fails the hash.  fp = CAST(SUM(term)
    # AS BIGINT): every per-bit term is in BIGINT range and the true
    # fingerprint fits int64, so the HUGEINT sum collapses exactly (bit
    # 63's term is the sign value, matching JVM shiftleft wrap).  The
    # oracle pairs by brute force (fixture-sized); Spark uses the blocked
    # join.
    oracle=f"""
        WITH {_DHASH_FP_CTES}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
    tags=("multimodal", "image", "dedup", "phash", "hamming"),
)
def multimodal_phash_dedup(spark, sf_dir):
    """Image near-duplicate pairs within Hamming distance 3 of a 64-bit
    dHash computed from REAL pixel decode (multimodal.py:dhash64), blocked
    by the SAME pigeonhole slice machinery as the text SimHash family
    (dedup.fingerprint_hamming_pairs — 4 x 16-bit slices, 65,536
    buckets/block, bit_count verify).  100-TB shape: the decode kernel
    emits 8 bytes/image (payloads never shuffle — drop_payload_early by
    construction); the fingerprint index is persisted once and probed by
    slice-equality joins, never all-pairs."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan ids across cores before the synth+decode kernel (single split at
    # bench scale; no-op where the scan has real splits)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    png = mm.synth_png_blocky(d, "doc_id")
    # persist the 8-byte/image fingerprint index (rotating): both sides of
    # the slice self-join read it — without this the synth+decode kernel
    # would run once per join side
    fps = stages.hold(
        "phash_fps", mm.dhash64(png, "payload", "doc_id")
    )
    return dedup.fingerprint_hamming_pairs(fps, "doc_id", max_hamming=3, blocks=4)

@register(
    "multimodal_audio_fingerprint_dedup",
    # acoustic near-dup dedup, the audio leg of the perceptual family:
    # REAL RIFF/PCM16 decode -> per-window RMS energy -> 64-bit
    # energy-delta-sign fingerprint -> the SAME pigeonhole Hamming
    # blocking as text SimHash and image dHash.  The fixture
    # (multimodal.py:synth_wav_am) walks window amplitudes by the bits of
    # pattern(g = doc_id % 128), bit j = (g >> (j % 7)) & 1 — so the
    # fingerprint, and therefore the pair set and each pair's distance,
    # has the closed form this oracle states INDEPENDENTLY of the bytes:
    # same (g, v) clips collide at distance 0, variant v>0 flips exactly
    # walk step v-1 (1 bit vs v=0, 2 bits between nonzero variants), and
    # distinct classes differ in >= 9 of 64 bits (64/7 positions per
    # differing g-bit), so Hamming<=3 emits exactly the same-g pairs.  A
    # kernel that mis-walks the chunk list, mis-frames the windows, or
    # mis-averages an energy changes fingerprints and fails the hash.
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
    tags=("multimodal", "audio", "dedup", "fingerprint", "hamming"),
)
def multimodal_audio_fingerprint_dedup(spark, sf_dir):
    """Audio near-duplicate pairs within Hamming distance 3 of a 64-bit
    energy-delta fingerprint computed from REAL PCM decode
    (multimodal.py:audio_fingerprint64), blocked by the same pigeonhole
    slice machinery as text SimHash and image dHash
    (dedup.fingerprint_hamming_pairs) — the third modality riding one
    Hamming kernel.  100-TB shape identical to multimodal_phash_dedup:
    the decode kernel emits 8 bytes/clip (payloads never shuffle), the
    fingerprint index persists once (rotating) and self-joins on 16-bit
    slices, never all-pairs."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan ids across cores before the synth+decode kernel (single split at
    # bench scale; no-op where the scan has real splits)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    wav = mm.synth_wav_am(d, "doc_id")
    fps = stages.hold(
        "audio_fp_fps", mm.audio_fingerprint64(wav, "payload", "doc_id")
    )
    return dedup.fingerprint_hamming_pairs(fps, "doc_id", max_hamming=3, blocks=4)

@register(
    "multimodal_video_keyframe_dedup",
    # video near-dup — the FOURTH modality: videos are near-duplicates when
    # their sampled keyframes mostly coincide, so the blocking key is the
    # frame hash itself (every shared keyframe puts the pair in one
    # bucket; videos sharing nothing never meet — no all-pairs).  The
    # fixture synthesizes a 32-frame/16-byte "video" per doc ENTIRELY in
    # JVM expressions: frame i = unhex(md5('vf:g:i')) for class
    # g = doc_id % 64, variant v = (doc_id // 64) % 4 replacing sampled
    # frame 4*(v-1) — so with every-4th sampling (8 keyframes) the shared
    # count has a closed form: 8 same-variant, 7 against v=0, 6 between
    # distinct nonzero variants, 0 across classes (md5 frames).  Pairs
    # keep >= 6 shared (Jaccard >= 0.6 on the 8+8 multiset union).
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
    tags=("multimodal", "video", "dedup", "keyframe"),
)
def multimodal_video_keyframe_dedup(spark, sf_dir):
    """Video near-duplicate pairs by sampled-keyframe hash overlap — the
    standard shape for video dedup at scale: sample every Nth frame
    (multimodal.py:sample_frames — JVM posexplode, no Python), hash each
    16-byte frame, and block the pair join ON the frame hash, so a pair
    is generated once per shared keyframe and counted into n_shared /
    Jaccard.  100-TB shape: only (video_id, frame_md5) rows shuffle —
    16 B + id per sampled frame, the payload never leaves the scan; the
    pair join rides dedup.key_collision_pairs, whose df-cap drops frame
    hashes shared by > 4096 videos (a ubiquitous keyframe — black frame,
    studio logo, intro card — is the stop-word of frame blocking: no
    dedup signal, O(df²) pair blowup), so buckets are duplicate-cluster-
    sized BY CONSTRUCTION, not by hope; video_keyframe_occupancy is the
    audit that watches the cap.  The >= 6-shared filter rides the pair
    aggregation."""
    from kwack_spark.operators import dedup

    kf = _video_keyframes(spark, sf_dir)
    return _video_pair_rollup(
        dedup.key_collision_pairs(kf, "frame_md5", "doc_id", max_key_df=4096)
    )

@register(
    "video_keyframe_occupancy",
    # the hot-bucket audit for the video keyframe family (the
    # simhash_slice_occupancy sibling on frame-hash buckets): bucket
    # count, max/mean occupancy, uncapped candidate-pair mass, and how
    # many buckets the df-cap would drop.  Closed-form oracle: the
    # fixture's keyframe table is (doc, 8 sampled positions), with
    # variant v > 0 swapping position 4*(v-1) for the variant frame —
    # bucket structure over the synthetic keys equals the engine's over
    # the md5 frame bytes (the key -> frame-bytes map is injective).
    oracle="""
        WITH p AS (
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
        per AS (SELECT fkey, count(*) AS c FROM kf GROUP BY fkey)
        SELECT CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(c) AS BIGINT) AS max_occupancy,
               CAST(sum(c) AS DOUBLE) / count(*) AS mean_occupancy,
               CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_cand_pairs,
               CAST(count(*) FILTER (WHERE c > 4096) AS BIGINT) AS n_over_cap
        FROM per
    """,
    tags=("multimodal", "video", "dedup", "audit", "observability"),
)
def video_keyframe_occupancy(spark, sf_dir):
    """Measured-occupancy guard for frame-hash blocking
    (operators/dedup.py:key_occupancy_audit) — the video instance of the
    simhash_slice_occupancy audit: frame-hash bucket occupancy decides
    whether the keyframe join's df-cap is dormant (healthy corpus) or
    load-bearing (ubiquitous frames saturating buckets).  At 100 TB this
    runs BEFORE the pair join on the same one shuffle key; n_cand_pairs
    turning superlinear in corpus size is the escalation trigger."""
    from kwack_spark.operators import dedup

    kf = _video_keyframes(spark, sf_dir).select("doc_id", "frame_md5").distinct()
    return dedup.key_occupancy_audit(kf, "frame_md5", max_key_df=4096)

@register(
    "multimodal_video_dhash_dedup",
    # video near-dup through a REAL codec end to end — the leg that gives
    # video the same standing as PNG/WAV/JPEG: the fixture
    # (multimodal.py:synth_mjpeg) is a concatenation of 12 REAL baseline
    # JPEGs; the engine splits frames on the JPEG marker walk, samples
    # every 4th, runs the full baseline decode (Huffman entropy decode +
    # IDCT), dHashes each keyframe, and pairs (video, slot) fingerprints
    # through the SAME pigeonhole Hamming blocking as text/image/audio.
    # Closed-form oracle: block-constant frames decode exactly, and the
    # fixture pins dHash cell (0,0) to 0 (base) / 255 (modified) against
    # a constant 128 neighbor, so a modified keyframe is EXACTLY 1 dHash
    # bit away — per-slot distance is 0 (same modification state) or 1,
    # all <= 3, so every same-class pair matches on all 3 keyframe slots
    # and total_hamming counts the slots where exactly one side is
    # modified: 0 same variant, 1 against v=0, 2 between distinct nonzero
    # variants.  Cross-class/cross-slot grids are independent md5 (~32
    # bits apart — the same statistical-zero contract as
    # multimodal_phash_dedup's oracle).
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
    tags=("multimodal", "video", "dedup", "dhash", "hamming"),
)
def multimodal_video_dhash_dedup(spark, sf_dir):
    """Video near-duplicate pairs from REAL MJPEG decode: marker-walk frame
    split -> every-4th sampling -> full baseline-JPEG pixel decode ->
    64-bit dHash per keyframe (multimodal.py:mjpeg_keyframes), then the
    (video, slot) fingerprints ride dedup.fingerprint_hamming_pairs — the
    one Hamming kernel now serving all four modalities with a real
    decoder in front.  Videos pair when >= 2 of 3 keyframes match within
    Hamming 3 (majority agreement — robust to one re-encoded or replaced
    frame, which exact frame-hash keying would miss).  100-TB shape: the
    decode kernel emits 8 bytes/keyframe (payloads never shuffle), the
    fingerprint index persists once (rotating) and self-joins on 16-bit
    slices, never all-pairs."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select("doc_id")
    # fan ids across cores keyed on the (class, variant) the synth kernel
    # caches on, so each of the 256 distinct videos is ENCODED exactly once
    # per partition it lands in (= once) — the encode is fixture overhead,
    # not the measured work; the per-video DECODE below still runs for
    # every video, like a real corpus scan would
    d = d.repartition(
        spark.sparkContext.defaultParallelism,
        F.expr("(doc_id % 64) * 4 + (doc_id div 64) % 4"),
    )
    vids = mm.synth_mjpeg(d, "doc_id")
    kf = mm.mjpeg_keyframes(vids, "payload", "doc_id", every_n=4)
    # composite (video, slot) id: slots 0..2 fit far below the 16 stride,
    # so kfid order preserves video order and id_a < id_b never straddles
    kfid = kf.select(
        (F.col("doc_id") * 16 + (F.col("frame_no") / 4).cast("long")).alias(
            "kfid"
        ),
        "fp",
    )
    fps = stages.hold("video_dhash_fps", kfid)
    pairs = dedup.fingerprint_hamming_pairs(fps, "kfid", max_hamming=3, blocks=4)
    return (
        pairs.select(
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

@register(
    "multimodal_avi_keyframe_dedup",
    # video near-dup through a REAL CONTAINER + REAL CODEC end to end (r10
    # VERDICT ask #7): the fixture (multimodal.py:synth_avi_mjpeg) wraps
    # the SAME closed-form baseline-JPEG frames as the MJPEG fixture in a
    # real RIFF/AVI container (LIST hdrl / LIST movi of 00dc chunks /
    # idx1, with RIFF pad bytes); the engine walks the chunk tree with the
    # same _riff_chunks walker the WAV decoder uses, decodes every 4th
    # frame with the full baseline-JPEG decoder, and dHashes it.  Frame
    # semantics are identical to multimodal_video_dhash_dedup, so its
    # closed pair-level oracle carries over verbatim: every same-class
    # pair matches on all 3 keyframe slots, total_hamming = 0 / 1 / 2 by
    # variant relation, cross-class statistically zero.
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
    tags=("multimodal", "video", "dedup", "avi", "container", "hamming"),
)
def multimodal_avi_keyframe_dedup(spark, sf_dir):
    """Video near-duplicate pairs from REAL AVI decode: RIFF chunk walk ->
    movi 00dc frame extraction -> every-4th sampling -> full baseline-JPEG
    pixel decode -> 64-bit dHash per keyframe (multimodal.py:avi_keyframes)
    -> the same (video, slot) Hamming pairing as the MJPEG leg.  With this
    the video modality decodes a REAL container format exactly like
    WAV/PNG/JPEG do — not just a synthetic frame concatenation.  100-TB
    shape: identical to the MJPEG leg (8 bytes/keyframe leave the decode
    kernel, payloads never shuffle, slice-blocked pair join)."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select("doc_id")
    # fan ids across cores keyed on the (class, variant) the synth kernel
    # caches on — each of the 256 distinct videos is ENCODED exactly once
    d = d.repartition(
        spark.sparkContext.defaultParallelism,
        F.expr("(doc_id % 64) * 4 + (doc_id div 64) % 4"),
    )
    vids = mm.synth_avi_mjpeg(d, "doc_id")
    kf = mm.avi_keyframes(vids, "payload", "doc_id", every_n=4)
    kfid = kf.select(
        (F.col("doc_id") * 16 + (F.col("frame_no") / 4).cast("long")).alias(
            "kfid"
        ),
        "fp",
    )
    fps = stages.hold("avi_dhash_fps", kfid)
    pairs = dedup.fingerprint_hamming_pairs(fps, "kfid", max_hamming=3, blocks=4)
    return (
        pairs.select(
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

@register(
    "multimodal_avi_incremental",
    # incremental REAL-CODEC video dedup: arriving AVI videos probe a
    # PERSISTED (video, slot) dHash index of the history through the
    # pigeonhole Hamming probe — the codec-leg twin of
    # multimodal_video_incremental (whose index is synthetic frame
    # hashes).  With this the real-container/real-codec video leg runs in
    # batch, incremental, AND streaming form like the other modalities.
    # Split by video variant v = (doc_id // 64) % 4 (hist v in {0,1},
    # batch v in {2,3}).  Closed form: same-slot cross pairs differ only
    # where exactly one side modified that slot's keyframe — hist v=0
    # modifies none, v=1 modifies slot 0, batch v=2/3 modify slot 1/2 —
    # so all 3 slots match within Hamming 3 and total_hamming is 1
    # against v=0 and 2 against v=1; cross-class/cross-slot fingerprints
    # are independent md5 grids (statistical zero, the same contract as
    # the batch query).
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 64 AS g, (doc_id // 64) % 4 AS v
            FROM documents
        )
        SELECT b.doc_id AS doc_id, h.doc_id AS hist_id,
               CAST(3 AS BIGINT) AS n_slots_matched,
               CAST(CASE WHEN h.v = 0 THEN 1 ELSE 2 END AS BIGINT)
                   AS total_hamming
        FROM p b JOIN p h
          ON b.g = h.g AND b.v IN (2, 3) AND h.v IN (0, 1)
    """,
    tags=("multimodal", "video", "dedup", "incremental", "avi", "hamming"),
)
def multimodal_avi_incremental(spark, sf_dir):
    """Which arriving AVI videos near-duplicate the history?  The history's
    (video, slot) dHash index persists once (8 B per sampled keyframe —
    container payloads never re-read); each batch video pays its own RIFF
    walk + keyframe decode + ``blocks`` slice-keyed probes
    (dedup.fingerprint_hamming_probe — the one probe kernel serving text
    SimHash, image dHash, audio energy hashes, and now codec-leg video),
    and the >= 2-of-3 slot rollup recovers the match strength exactly as
    the batch AVI query's."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select("doc_id")
    d = d.repartition(
        spark.sparkContext.defaultParallelism,
        F.expr("(doc_id % 64) * 4 + (doc_id div 64) % 4"),
    )
    v = (F.col("doc_id") / 64).cast("long") % 4

    def kfids(ids):
        vids = mm.synth_avi_mjpeg(ids, "doc_id")
        kf = mm.avi_keyframes(vids, "payload", "doc_id", every_n=4)
        return kf.select(
            (F.col("doc_id") * 16 + (F.col("frame_no") / 4).cast("long")).alias(
                "kfid"
            ),
            "fp",
        )

    hist = stages.hold("avi_inc_hist", kfids(d.filter(v < 2)))
    batch = kfids(d.filter(v >= 2))
    probes = dedup.fingerprint_hamming_probe(
        hist, batch, "kfid", max_hamming=3, blocks=4
    )
    return (
        probes.select(
            F.expr("doc_id div 16").alias("doc_id"),
            F.expr("hist_id div 16").alias("hist_id"),
            "hamming",
        )
        .groupBy("doc_id", "hist_id")
        .agg(
            F.count(F.lit(1)).alias("n_slots_matched"),
            F.sum("hamming").alias("total_hamming"),
        )
        .filter(F.col("n_slots_matched") >= 2)
    )

@register(
    "multimodal_audio_incremental",
    # incremental acoustic dedup: new clips (fixture variants 2-3) probe
    # a PERSISTED fingerprint index of the history (variants 0-1) — the
    # audio instance of the written-once-index pattern the text family
    # runs (incremental_simhash64_new_dups), riding the factored
    # cross-table probe.  The split is by variant, not doc_id parity: the
    # class stride (128) is even, so a parity split would never cross a
    # class and the probe would be vacuously empty.  Hit set = same-class
    # cross-variant pairs; history v=0 is 1 bit from any batch variant,
    # v=1 is 2 bits.
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 128 AS g, (doc_id // 128) % 4 AS v
            FROM documents
        )
        SELECT b.doc_id AS doc_id, h.doc_id AS hist_id,
               CAST(CASE WHEN h.v = 0 THEN 1 ELSE 2 END AS INTEGER) AS hamming
        FROM p b JOIN p h
          ON b.g = h.g AND b.v IN (2, 3) AND h.v IN (0, 1)
    """,
    tags=("multimodal", "audio", "dedup", "incremental", "hamming"),
)
def multimodal_audio_incremental(spark, sf_dir):
    """Which arriving audio clips near-duplicate the history?  History
    fingerprints (8 B/clip) persist once (the rotating cache stands in for
    the written-once bucketed index a production session keeps); each
    batch pays O(|batch|) decode + ``blocks`` slice-keyed probes — the
    history payload bytes are never re-read.  One probe kernel
    (dedup.fingerprint_hamming_probe) now serves text SimHash and audio
    fingerprints alike."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    hist = stages.hold(
        "audio_inc_hist",
        mm.audio_fingerprint64(
            mm.synth_wav_am(
                d.filter((F.col("doc_id") / 128).cast("long") % 4 < 2), "doc_id"
            ),
            "payload",
            "doc_id",
        ),
    )
    batch = mm.audio_fingerprint64(
        mm.synth_wav_am(
            d.filter((F.col("doc_id") / 128).cast("long") % 4 >= 2), "doc_id"
        ),
        "payload",
        "doc_id",
    )
    return dedup.fingerprint_hamming_probe(
        hist, batch, "doc_id", max_hamming=3, blocks=4
    )

@register(
    "multimodal_image_incremental",
    # incremental perceptual image dedup: new images (fixture variants
    # 2-3) probe a PERSISTED dHash index of the history (variants 0-1) —
    # the image instance of the written-once-index pattern text and audio
    # already run, completing the batch/incremental/streaming trio for
    # the image modality.  The oracle computes both sides' fingerprints
    # from the blocky-grid closed form (the same _DHASH_FP_CTES chain
    # multimodal_phash_dedup grades) and brute-force pairs them, so a
    # probe that mis-slices, mis-verifies, or leaks same-split pairs
    # fails the hash.
    oracle=f"""
        WITH {_DHASH_FP_CTES}
        SELECT b.doc_id AS doc_id, h.doc_id AS hist_id,
               CAST(bit_count(xor(bf.fp, hf.fp)) AS INTEGER) AS hamming
        FROM p b
        JOIN p h ON b.v IN (2, 3) AND h.v IN (0, 1)
        JOIN fp bf ON bf.doc_id = b.doc_id
        JOIN fp hf ON hf.doc_id = h.doc_id
        WHERE bit_count(xor(bf.fp, hf.fp)) <= 3
    """,
    tags=("multimodal", "image", "dedup", "incremental", "hamming"),
)
def multimodal_image_incremental(spark, sf_dir):
    """Which arriving images near-duplicate the history?  History dHash
    fingerprints (8 B/image, REAL PNG decode) persist once; each batch
    pays O(|batch|) decode + ``blocks`` slice-keyed probes against the
    index (dedup.fingerprint_hamming_probe — the one probe kernel now
    serving text SimHash, audio energy hashes, and image dHash).  The
    split is by variant, not doc_id parity: the class stride (128) is
    even, so a parity split would never cross a class and the probe
    would be vacuously empty."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    hist = stages.hold(
        "image_inc_hist",
        mm.dhash64(
            mm.synth_png_blocky(
                d.filter((F.col("doc_id") / 128).cast("long") % 4 < 2),
                "doc_id",
            ),
            "payload",
            "doc_id",
        ),
    )
    batch = mm.dhash64(
        mm.synth_png_blocky(
            d.filter((F.col("doc_id") / 128).cast("long") % 4 >= 2), "doc_id"
        ),
        "payload",
        "doc_id",
    )
    return dedup.fingerprint_hamming_probe(
        hist, batch, "doc_id", max_hamming=3, blocks=4
    )


@register(
    "multimodal_video_incremental",
    # incremental video dedup: new videos (variants 2-3) probe a PERSISTED
    # frame-hash index of the history (variants 0-1) through the
    # df-capped cross-table key-collision probe — the video instance of
    # the written-once-index pattern, completing batch/incremental/
    # streaming for the FOURTH modality.  Closed form: a batch video
    # shares 7 sampled keyframes with history v=0 (only the batch
    # variant's frame differs) and 6 with v=1 (both variants' frames
    # differ); cross-class shares none (md5 frames).
    oracle="""
        WITH p AS (
            SELECT doc_id, doc_id % 64 AS g, (doc_id // 64) % 4 AS v
            FROM documents
        )
        SELECT b.doc_id AS batch_id, h.doc_id AS hist_id,
               CAST(CASE WHEN h.v = 0 THEN 7 ELSE 6 END AS BIGINT)
                   AS n_shared,
               CAST(CASE WHEN h.v = 0 THEN 7 ELSE 6 END AS DOUBLE)
                   / (16 - CASE WHEN h.v = 0 THEN 7 ELSE 6 END) AS jaccard
        FROM p b JOIN p h
          ON b.g = h.g AND b.v IN (2, 3) AND h.v IN (0, 1)
    """,
    tags=("multimodal", "video", "dedup", "incremental", "keyframe"),
)
def multimodal_video_incremental(spark, sf_dir):
    """Which arriving videos near-duplicate the history?  The history's
    (video_id, frame_md5) keyframe index persists once (16 B + id per
    sampled frame — payloads never re-read); each batch video pays its
    own sampling + one df-capped equi-join probe
    (dedup.key_collision_probe), and the >= 6-shared rollup recovers the
    match strength exactly as the batch join's."""
    kf = _video_keyframes(spark, sf_dir).select("doc_id", "frame_md5")
    v = (F.col("doc_id") / 64).cast("long") % 4
    hist = stages.hold("video_inc_hist", kf.filter(v < 2))
    batch = kf.filter(v >= 2)
    probes = dedup.key_collision_probe(
        hist, batch, "frame_md5", "doc_id", max_key_df=4096
    )
    return (
        probes.groupBy("batch_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 6)
        .select(
            "batch_id",
            "hist_id",
            "n_shared",
            (
                F.col("n_shared").cast("double") / (16 - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


@register(
    "multimodal_jpeg_decode",
    # REAL baseline-JPEG pixel decode (operators/multimodal.py:_jpeg_decode
    # — marker walk, stream-defined Huffman tables, entropy decode with
    # byte unstuffing, dequantize, IDCT, YCbCr->RGB), closing the last
    # multimodal dims-only gap.  The fixture is BLOCK-CONSTANT (left/right
    # 8x8 block columns carry different colors at w=16, exercising nonzero
    # and negative DC differentials), and constant blocks take the exact
    # integer FDCT/IDCT fast path (libjpeg-style), so every reconstructed
    # value has the closed form below: quantize DC=8*(c-128) by the Annex K
    # DC steps (16 luma / 17 chroma) with round-half-away, reconstruct,
    # round; RGB additionally runs the exact JFIF color transform both
    # ways.  All arithmetic is floor(x+0.5) on IEEE doubles — identical in
    # the decoder kernel (numpy float64) and this SQL.  n is a power of two
    # for every fixture size, so means are exact.
    oracle="""
        WITH p AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS w,
                 CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS h,
                 (doc_id % 5 = 0) AS gray,
                 CAST(doc_id % 256 AS DOUBLE) AS ar,
                 CAST((3*doc_id+17) % 256 AS DOUBLE) AS ag,
                 CAST((7*doc_id+31) % 256 AS DOUBLE) AS ab,
                 CAST((5*doc_id+101) % 256 AS DOUBLE) AS br,
                 CAST((13*doc_id+7) % 256 AS DOUBLE) AS bg,
                 CAST((11*doc_id+29) % 256 AS DOUBLE) AS bb,
                 CAST((9*doc_id+77) % 256 AS DOUBLE) AS g2
          FROM documents
        ),
        ycc AS (
          SELECT *,
            LEAST(255, GREATEST(0, floor(0.299*ar + 0.587*ag + 0.114*ab + 0.5))) AS ay,
            LEAST(255, GREATEST(0, floor(128 - 0.168736*ar - 0.331264*ag + 0.5*ab + 0.5))) AS acb,
            LEAST(255, GREATEST(0, floor(128 + 0.5*ar - 0.418688*ag - 0.081312*ab + 0.5))) AS acr,
            LEAST(255, GREATEST(0, floor(0.299*br + 0.587*bg + 0.114*bb + 0.5))) AS by,
            LEAST(255, GREATEST(0, floor(128 - 0.168736*br - 0.331264*bg + 0.5*bb + 0.5))) AS bcb,
            LEAST(255, GREATEST(0, floor(128 + 0.5*br - 0.418688*bg - 0.081312*bb + 0.5))) AS bcr
          FROM p
        ),
        rec AS (
          SELECT *,
            LEAST(255, GREATEST(0, floor((CASE WHEN ay >= 128 THEN floor(8*(ay-128)/16 + 0.5) ELSE -floor(8*(128-ay)/16 + 0.5) END) * 16 / 8.0 + 128 + 0.5))) AS ay2,
            LEAST(255, GREATEST(0, floor((CASE WHEN acb >= 128 THEN floor(8*(acb-128)/17 + 0.5) ELSE -floor(8*(128-acb)/17 + 0.5) END) * 17 / 8.0 + 128 + 0.5))) AS acb2,
            LEAST(255, GREATEST(0, floor((CASE WHEN acr >= 128 THEN floor(8*(acr-128)/17 + 0.5) ELSE -floor(8*(128-acr)/17 + 0.5) END) * 17 / 8.0 + 128 + 0.5))) AS acr2,
            LEAST(255, GREATEST(0, floor((CASE WHEN by >= 128 THEN floor(8*(by-128)/16 + 0.5) ELSE -floor(8*(128-by)/16 + 0.5) END) * 16 / 8.0 + 128 + 0.5))) AS by2,
            LEAST(255, GREATEST(0, floor((CASE WHEN bcb >= 128 THEN floor(8*(bcb-128)/17 + 0.5) ELSE -floor(8*(128-bcb)/17 + 0.5) END) * 17 / 8.0 + 128 + 0.5))) AS bcb2,
            LEAST(255, GREATEST(0, floor((CASE WHEN bcr >= 128 THEN floor(8*(bcr-128)/17 + 0.5) ELSE -floor(8*(128-bcr)/17 + 0.5) END) * 17 / 8.0 + 128 + 0.5))) AS bcr2,
            LEAST(255, GREATEST(0, floor((CASE WHEN ar >= 128 THEN floor(8*(ar-128)/16 + 0.5) ELSE -floor(8*(128-ar)/16 + 0.5) END) * 16 / 8.0 + 128 + 0.5))) AS gray_a,
            LEAST(255, GREATEST(0, floor((CASE WHEN g2 >= 128 THEN floor(8*(g2-128)/16 + 0.5) ELSE -floor(8*(128-g2)/16 + 0.5) END) * 16 / 8.0 + 128 + 0.5))) AS gray_b
          FROM ycc
        ),
        rgb AS (
          SELECT *,
            LEAST(255, GREATEST(0, floor(ay2 + 1.402*(acr2 - 128) + 0.5))) AS ar2,
            LEAST(255, GREATEST(0, floor(ay2 - 0.344136*(acb2 - 128) - 0.714136*(acr2 - 128) + 0.5))) AS ag2,
            LEAST(255, GREATEST(0, floor(ay2 + 1.772*(acb2 - 128) + 0.5))) AS ab2,
            LEAST(255, GREATEST(0, floor(by2 + 1.402*(bcr2 - 128) + 0.5))) AS br2,
            LEAST(255, GREATEST(0, floor(by2 - 0.344136*(bcb2 - 128) - 0.714136*(bcr2 - 128) + 0.5))) AS bg2,
            LEAST(255, GREATEST(0, floor(by2 + 1.772*(bcb2 - 128) + 0.5))) AS bb2
          FROM rec
        )
        SELECT doc_id,
               CAST(w AS INTEGER) AS width,
               CAST(h AS INTEGER) AS height,
               CAST(CASE WHEN gray THEN 1 ELSE 3 END AS INTEGER) AS channels,
               CAST(8 AS INTEGER) AS bit_depth,
               CASE WHEN gray THEN (CASE WHEN w = 16 THEN (gray_a + gray_b)/2 ELSE gray_a END)
                    WHEN w = 16 THEN (ar2 + br2)/2 ELSE ar2 END AS mean_r,
               CASE WHEN gray THEN (CASE WHEN w = 16 THEN (gray_a + gray_b)/2 ELSE gray_a END)
                    WHEN w = 16 THEN (ag2 + bg2)/2 ELSE ag2 END AS mean_g,
               CASE WHEN gray THEN (CASE WHEN w = 16 THEN (gray_a + gray_b)/2 ELSE gray_a END)
                    WHEN w = 16 THEN (ab2 + bb2)/2 ELSE ab2 END AS mean_b
        FROM rgb
    """,
    tags=("multimodal", "image", "decode", "jpeg"),
)
def multimodal_jpeg_decode(spark, sf_dir):
    """End-to-end REAL baseline-JPEG decode: synthesize a real JPEG per
    document (gray or RGB, block-constant colors, varied dimensions), then
    fully decode it back — stream-defined Huffman tables, entropy decode,
    dequantize, IDCT, color transform — and emit dimensions and exact
    per-channel means.  Two narrow Arrow-batched stages, no payload
    shuffle; completes the image-format pair with multimodal_png_decode
    (reference parity target: the media passthrough of
    AbstractSchemaTest.java fixtures; the codec itself is original)."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    # fan the id list across all cores before the synth+decode kernels:
    # the parquet source is a single split at bench scale, and media
    # kernels are the rare per-row-expensive stage where occupancy matters
    # more than avoiding an id-only shuffle (at 100 TB the source has
    # thousands of splits and this repartition is a no-op cost-wise)
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    jpg = mm.synth_jpeg(d, "doc_id")
    return mm.decode_jpeg_features(jpg, "payload", "doc_id")

@register(
    "multimodal_resize",
    # nearest-neighbor byte resample to 32 bytes: out[i] = in[(i*n)//32].
    # hex() of single-byte blob slices rebuilds the resized payload's hex in
    # SQL, so the whole Python kernel is hash-checked byte for byte.
    oracle="""
        WITH p AS (
            SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n
            FROM documents
        )
        SELECT doc_id, n AS orig_len,
               CASE WHEN n = 0 THEN '' ELSE
                   list_aggregate(
                       [substr(h, (2 * ((i * n) // 32) + 1)::BIGINT, 2)
                        for i in generate_series(0, 31)],
                       'string_agg', '')
               END AS resized_hex
        FROM p
    """,
    tags=("multimodal", "resize"),
)
def multimodal_resize(spark, sf_dir):
    """Resize plumbing (operators/multimodal.py:resize_bytes): vectorized
    numpy resample over Arrow batches — the deterministic stand-in for a real
    image-resize kernel with the identical Spark plan shape."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.resize_bytes(d, "payload", "doc_id", target=32).select(
        "doc_id", "orig_len", F.hex("resized").alias("resized_hex")
    )

@register(
    "multimodal_byte_features",
    # feature extraction: byte count, exact-int mean, 16-bin byte histogram
    # (JSON string, hashable).  ASCII corpus => ord(substr()) is the byte.
    oracle="""
        WITH o AS (
            SELECT doc_id,
                   [ord(substr(text, i, 1)) for i in generate_series(1, length(text))] AS os
            FROM documents
        )
        SELECT doc_id,
               len(os)::BIGINT AS n_bytes,
               CASE WHEN len(os) = 0 THEN 0.0
                    ELSE list_sum(os)::DOUBLE / len(os) END AS mean_byte,
               '[' || list_aggregate(
                   [len(list_filter(os, x -> x // 16 = k))::VARCHAR
                    for k in generate_series(0, 15)],
                   'string_agg', ',') || ']' AS hist
        FROM o
    """,
    tags=("multimodal", "features"),
)
def multimodal_byte_features(spark, sf_dir):
    """Feature-extraction plumbing (operators/multimodal.py:
    byte_histogram_features): np.bincount per Arrow batch — the stand-in for
    an embedding/perceptual-feature kernel, same narrow plan."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return mm.byte_histogram_features(d, "payload", "doc_id", bins=16)

@register(
    "multimodal_audio_rms_windows",
    # Windowed audio energy over a REAL decode: the stepped fixture's
    # window w is a square wave at ±(doc_id % 500 + 1 + w), so per-window
    # RMS and peak have the closed form the oracle states independently of
    # the bytes (integer squares sum exactly over the 128-sample window,
    # /2^7 is exact, sqrt of a perfect square is exact).  The kernel must
    # chunk-walk the RIFF (junk LIST before data) and slice fixed windows.
    oracle="""
        SELECT doc_id, CAST(w AS INTEGER) AS window_id,
               CAST(128 AS INTEGER) AS n_samples,
               CAST(doc_id % 500 + 1 + w AS DOUBLE) AS rms,
               CAST(doc_id % 500 + 1 + w AS INTEGER) AS peak
        FROM documents, (SELECT unnest(range(0, 8)) AS w)
    """,
    tags=("multimodal", "audio", "window"),
)
def multimodal_audio_rms_windows(spark, sf_dir):
    """Per-window RMS/peak (energy contour / VAD front end) through the
    real PCM16 chunk-walk (operators/multimodal.py:wav_rms_windows).
    100-TB shape: two narrow Arrow-batched stages (synth stands in for the
    payload read), no payload shuffle, output 8 rows per file."""
    from kwack_spark.operators import multimodal as mm

    d = T(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    wav = mm.synth_wav_stepped(d, "doc_id")
    return mm.wav_rms_windows(wav, "payload", "doc_id")
