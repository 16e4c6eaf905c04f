"""Round-9 operator pins.

- stages.hold eviction reorder: after an EXTERNAL cache eviction
  (spark.catalog.clearCache(), as tools/scale_stress.py does between
  reps), re-rotating the SAME plan must leave the returned frame
  cached.  The r08 ordering (persist new, then unpersist prev) destroyed
  the fresh entry because Spark's CacheManager uncaches by plan equality
  — the SimHash64 family then ran cacheless (2.3 s/rep -> 8.3 s/rep).
- stages.hold exception path: a probe failure must never leave the
  returned frame uncached (ADVICE r08 item 3).
"""

from pyspark.sql import functions as F

from kwack_spark import stages


def test_persist_rotating_survives_external_eviction(spark):
    """Rotate, materialize, clearCache, rotate the SAME plan again: the
    returned frame must be cached (storageLevel.useMemory), not destroyed
    by the displaced frame's unpersist."""
    plan = spark.range(100).withColumn("x", F.col("id") * 2)
    a = stages.hold("t_evict", plan)
    assert a.count() == 100
    assert a.storageLevel.useMemory

    spark.catalog.clearCache()  # external eviction between bench reps
    assert not a.storageLevel.useMemory

    # same logical plan, new DataFrame object — exactly a bench re-run
    plan2 = spark.range(100).withColumn("x", F.col("id") * 2)
    b = stages.hold("t_evict", plan2)
    assert b.count() == 100
    assert b.storageLevel.useMemory, (
        "re-persisted same-plan frame was evicted by prev.unpersist — "
        "unpersist must run BEFORE persist"
    )
    b.unpersist(False)
    del stages._HELD[spark][("hold", "t_evict")]


def test_persist_rotating_reuses_live_cache(spark):
    """Without an eviction, rotating the same plan returns the HELD frame
    (cache reuse), not a new persist."""
    plan = spark.range(50).withColumn("y", F.col("id") + 1)
    a = stages.hold("t_reuse", plan)
    a.count()
    b = stages.hold(
        "t_reuse", spark.range(50).withColumn("y", F.col("id") + 1)
    )
    assert b is a
    a.unpersist(False)
    del stages._HELD[spark][("hold", "t_reuse")]


def test_persist_rotating_rotates_distinct_plans(spark):
    """A genuinely different plan under the same tag displaces and
    unpersists the old frame and caches the new one."""
    a = stages.hold("t_rot", spark.range(3))
    a.count()
    b = stages.hold("t_rot", spark.range(7))
    assert b.count() == 7
    assert not a.storageLevel.useMemory  # rotated out
    assert b.storageLevel.useMemory
    b.unpersist(False)
    del stages._HELD[spark][("hold", "t_rot")]


# --- KLL mergeable quantile sketch --------------------------------------------


def test_kll_threshold_policy():
    from kwack_spark.operators.scale import kll_threshold

    assert kll_threshold(512, 64) is None       # n == 8k: keep all
    assert kll_threshold(100, 64) is None
    t = kll_threshold(513, 64)
    assert t == ((1 << 60) * 512) // 513        # exact integer arithmetic
    assert kll_threshold(5000, 64) == ((1 << 60) * 512) // 5000


def test_kll_sketch_bounded_and_merge_invariant(spark):
    """Register table holds <= k rows per group; merging the two parity
    halves equals sketching the whole input, register-for-register."""
    from kwack_spark.operators import scale

    rows = [(i, "g%d" % (i % 3), (i * 37) % 1000) for i in range(500)]
    d = spark.createDataFrame(rows, "doc_id long, g string, v long")
    kw = dict(k=16, by=("g",), seed="t9")
    full = scale.kll_sketch(d, "doc_id", "v", **kw)
    got = full.collect()
    from collections import Counter

    per_group = Counter(r.g for r in got)
    assert all(c <= 16 for c in per_group.values()) and len(per_group) == 3
    h0 = scale.kll_sketch(d.filter("doc_id % 2 = 0"), "doc_id", "v", **kw)
    h1 = scale.kll_sketch(d.filter("doc_id % 2 = 1"), "doc_id", "v", **kw)
    merged = scale.kll_merge(h0, h1, k=16, by=("g",)).collect()
    key = lambda r: (r.g, r.hr, r.rid, r.v)
    assert sorted(map(key, merged)) == sorted(map(key, got))


def test_kll_quantile_exact_on_small_input(spark):
    """With n <= k the sketch IS the data, so the quantile estimate must
    equal the exact deterministic-index percentile."""
    from kwack_spark.operators import scale

    rows = [(i, "a", v) for i, v in enumerate([10, 20, 30, 40, 50, 60, 70, 80, 90, 100])]
    d = spark.createDataFrame(rows, "doc_id long, g string, v long")
    sk = scale.kll_sketch(d, "doc_id", "v", k=64, by=("g",), seed="t9")
    est = {r.q: r.q_est for r in scale.kll_quantile(sk, (0.5, 0.9), by=("g",)).collect()}
    # ceil(0.5*10)=5 -> 50; ceil(0.9*10)=9 -> 90
    assert est == {0.5: 50, 0.9: 90}


def test_kll_prefilter_preserves_topk(spark):
    """The hash-rank prefilter must not change the register set (8x
    oversampling: the k smallest ranks always survive hr < 2^60*8k/n in
    any realistic draw — pinned on a concrete input)."""
    from kwack_spark.operators import scale

    rows = [(i, "a", i) for i in range(2000)]
    d = spark.createDataFrame(rows, "doc_id long, g string, v long")
    kw = dict(k=32, by=("g",), seed="t9p")
    plain = scale.kll_sketch(d, "doc_id", "v", **kw).collect()
    filt = scale.kll_sketch(d, "doc_id", "v", n_hint=2000, **kw).collect()
    key = lambda r: (r.hr, r.rid)
    assert sorted(map(key, filt)) == sorted(map(key, plain))


# --- iterated BPE merge application -------------------------------------------


def _py_bpe(word_freq, steps):
    """Independent reference: classic BPE training loop over symbol tuples
    with greedy leftmost-first merge application."""
    state = {tuple(w): f for w, f in word_freq.items()}
    out = []
    for step in range(1, steps + 1):
        counts = {}
        for syms, f in state.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((step, f"{a} {b}", n))
        nxt = {}
        for syms, f in state.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            key = tuple(merged)
            nxt[key] = nxt.get(key, 0) + f
        state = nxt
    return out


def test_bpe_training_matches_python_reference(spark, tmp_path):
    """The 5-step trainer on an engineered corpus (overlapping runs,
    multi-char merges chaining into longer symbols) must equal the classic
    Python BPE loop."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    docs = [
        "aaa abab banana banana bandana",
        "aaaa abab cabbage banana",
        "the theme there then banana band",
    ]
    texts = []
    for i, t in enumerate(docs):
        texts.append((i, t))
    # minimal documents.parquet the query's loader accepts
    tbl = pa.table(
        {
            "doc_id": pa.array([i for i, _ in texts], pa.int64()),
            "text": pa.array([t for _, t in texts]),
            "lang": pa.array(["en"] * len(texts)),
            "n_chars": pa.array([len(t) for _, t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = [
        (r.step, r.pair, r.n)
        for r in QUERIES["bpe_merge_training_5steps"]
        .fn(spark, str(tmp_path))
        .collect()
    ]
    wf = {}
    import re

    for _, t in texts:
        for w in re.sub(r"[^a-z ]", "", t.lower()).split():
            if w:
                wf[w] = wf.get(w, 0) + 1
    assert got == _py_bpe(wf, 5)


# --- r09 wave 2: audio fingerprint, Kneser-Ney, MMR ------------------------


def _expected_audio_fp(d: int) -> int:
    """Closed-form fingerprint of synth_wav_am clip d: bit j is pattern bit
    (g >> (j % 7)) & 1 for g = d % 128, with variant v = (d // 128) % 4
    flipping bit v-1 — the fixture's walk makes energy[j+1] > energy[j]
    exactly when the bit is set."""
    g, v = d % 128, (d // 128) % 4
    bits = [(g >> (j % 7)) & 1 for j in range(64)]
    if v > 0:
        bits[v - 1] ^= 1
    fp = 0
    for j, b in enumerate(bits):
        if b:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def test_audio_fingerprint_closed_form(spark):
    """audio_fingerprint64 over the AM fixture must equal the closed form
    for ids across classes and variants (incl. bit-63 sign wrap at
    g = 127)."""
    from kwack_spark.operators import multimodal as mm

    ids = [0, 1, 5, 63, 64, 127, 128, 200, 300, 511]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    wav = mm.synth_wav_am(df, "doc_id")
    got = {
        r.doc_id: r.fp
        for r in mm.audio_fingerprint64(wav, "payload", "doc_id").collect()
    }
    assert got == {i: _expected_audio_fp(i) for i in ids}


def test_audio_fingerprint_malformed_null(spark):
    """Garbage bytes, non-RIFF, and too-short PCM must fingerprint NULL —
    never a wrong value."""
    import struct

    from kwack_spark.operators import multimodal as mm

    short = mm.synth_wav_pcm16(  # 1024 samples < the 65*64 the kernel needs
        spark.createDataFrame([(7,)], "doc_id long"), "doc_id"
    ).collect()[0]["payload"]
    rows = [
        (1, b"not audio at all"),
        (2, b"RIFF" + struct.pack("<I", 4) + b"WAVE"),  # no chunks
        (3, bytes(short)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.doc_id: r.fp
        for r in mm.audio_fingerprint64(df, "payload", "doc_id").collect()
    }
    assert got == {1: None, 2: None, 3: None}


def test_audio_pairs_match_bruteforce(spark):
    """The pigeonhole-blocked pair set over the AM fixture must equal the
    brute-force Hamming<=3 pair set of the closed-form fingerprints."""
    from kwack_spark.operators import dedup, multimodal as mm

    n = 160
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    fps = mm.audio_fingerprint64(
        mm.synth_wav_am(df, "doc_id"), "payload", "doc_id"
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.fingerprint_hamming_pairs(
            fps, "doc_id", max_hamming=3, blocks=4
        ).collect()
    }
    exp = set()
    for a in range(n):
        for b in range(a + 1, n):
            h = bin(
                (_expected_audio_fp(a) ^ _expected_audio_fp(b)) & ((1 << 64) - 1)
            ).count("1")
            if h <= 3:
                exp.add((a, b, h))
    assert got == exp


def test_kneser_ney_matches_python_reference(spark, tmp_path):
    """text_kneser_ney_bigram must equal a direct Python implementation of
    interpolated KN (D=0.75) with the same 1e9 round-scale, on a toy corpus
    with repeated and singleton bigrams."""
    import math
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    docs = [
        "the cat sat on the mat",
        "the cat ate the fish",
        "a dog sat on a log",
        "fish and chips and fish",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs),
            "lang": pa.array(["en"] * len(docs)),
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_bigrams, r.mean_kn_prob)
        for r in QUERIES["text_kneser_ney_bigram"].fn(spark, str(tmp_path)).collect()
    }
    # Python reference
    toks = {
        i: [w for w in re.sub(r"[^a-z ]", "", t.lower()).split() if w]
        for i, t in enumerate(docs)
    }
    bgs = {i: [f"{tk[j]} {tk[j+1]}" for j in range(len(tk) - 1)]
           for i, tk in toks.items() if len(tk) >= 2}
    from collections import Counter

    bgc = Counter(b for bl in bgs.values() for b in bl)
    c1, nf, np_ = Counter(), Counter(), Counter()
    for bg, c in bgc.items():
        w1, w2 = bg.split(" ")
        c1[w1] += c
        nf[w1] += 1
        np_[w2] += 1
    nt = len(bgc)
    exp = {}
    for i, bl in bgs.items():
        tot = 0
        for bg in bl:
            w1, w2 = bg.split(" ")
            p = (
                max(float(bgc[bg]) - 0.75, 0.0) / float(c1[w1])
                + ((0.75 * float(nf[w1])) / float(c1[w1]))
                * (float(np_[w2]) / float(nt))
            )
            tot += int(math.floor(1e9 * p + 0.5))
        exp[i] = (len(bl), float(tot) / 1e9 / len(bl))
    assert got == exp


def test_mmr_diversifies_and_matches_python_greedy(spark):
    """mmr_diverse_topk on the real embeddings fixture must equal a direct
    Python greedy MMR with left-fold cosine arithmetic, and its selection
    must actually differ from the pure relevance top-k (the diversity term
    does work on this data)."""
    from tests.conftest import SF_ORACLE

    import duckdb

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    got = [
        (r.rank, r.vec_id, r.score)
        for r in QUERIES["mmr_diverse_topk"].fn(spark, SF_ORACLE).collect()
    ]
    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_ORACLE}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    vecs = {int(i): [float(x) for x in v] for i, v in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        import math

        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    qid = min(vecs)
    rel = {i: cos(v, vecs[qid]) for i, v in vecs.items() if i != qid}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:24]
    sel, exp = [], []
    for step in range(1, 7):
        best = None
        for i in pool:
            if i in sel:
                continue
            ms = max(cos(vecs[i], vecs[s]) for s in sel) if sel else 0.0
            sc = 0.7 * rel[i] - 0.3 * ms
            if best is None or sc > best[1] or (sc == best[1] and i < best[0]):
                best = (i, sc)
        exp.append((step, best[0], best[1]))
        sel.append(best[0])
    assert got == exp
    assert [v for _, v, _ in got] != pool[:6], "MMR must reorder vs pure top-k"


def test_fingerprint_hamming_probe_matches_pairs(spark):
    """The cross-table probe must equal the self-join pair set restricted
    to (batch, history) pairs, on an arbitrary fp table."""
    from kwack_spark.operators import dedup

    rows = [(i, ((i % 11) << 16) | (i % 3)) for i in range(60)]
    fps = spark.createDataFrame(rows, "doc_id long, fp long")
    hist = fps.filter("doc_id % 2 = 0")
    batch = fps.filter("doc_id % 2 = 1")
    got = {
        (r.doc_id, r.hist_id, r.hamming)
        for r in dedup.fingerprint_hamming_probe(
            hist, batch, "doc_id", max_hamming=3, blocks=4
        ).collect()
    }
    allp = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.fingerprint_hamming_pairs(
            fps, "doc_id", max_hamming=3, blocks=4
        ).collect()
    }
    exp = set()
    for a, b, h in allp:
        if a % 2 == 1 and b % 2 == 0:
            exp.add((a, b, h))
        elif b % 2 == 1 and a % 2 == 0:
            exp.add((b, a, h))
    assert got == exp


def test_audio_incremental_closed_form(spark, tmp_path):
    """multimodal_audio_incremental's probe hits must equal the fixture's
    closed form: same-class (g) pairs, batch variants 2-3 vs history
    variants 0-1, hamming 1 iff history v=0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    n = 520  # ids cover all 4 variants of classes 0..7
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(["x"] * n),
            "lang": pa.array(["en"] * n),
            "n_chars": pa.array([1] * n, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        (r.doc_id, r.hist_id, r.hamming)
        for r in QUERIES["multimodal_audio_incremental"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    exp = set()
    for b in range(n):
        if (b // 128) % 4 < 2:
            continue
        for h in range(n):
            if (h // 128) % 4 >= 2 or h % 128 != b % 128:
                continue
            exp.add((b, h, 1 if (h // 128) % 4 == 0 else 2))
    assert got == exp


def test_bpe_apply_matches_python(spark, tmp_path):
    """bpe_apply_merges must equal a direct Python train-then-apply: same
    5 merges as the trainer, then per-word segmentation re-joined to the
    corpus."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    docs = [
        "aaa abab banana banana bandana",
        "aaaa abab cabbage banana",
        "the theme there then banana band",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs),
            "lang": pa.array(["en"] * len(docs)),
            "n_chars": pa.array([len(t) for t in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.chars_per_token)
        for r in QUERIES["bpe_apply_merges"].fn(spark, str(tmp_path)).collect()
    }
    # Python reference: train on word freqs keeping per-word segmentation
    doc_words = {
        i: [w for w in re.sub(r"[^a-z ]", "", t.lower()).split() if w]
        for i, t in enumerate(docs)
    }
    wf = {}
    for ws in doc_words.values():
        for w in ws:
            wf[w] = wf.get(w, 0) + 1
    seg = {w: list(w) for w in wf}
    for _ in range(5):
        counts = {}
        for w, syms in seg.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + wf[w]
        if not counts:
            break
        (a, b), _n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in seg.items():
            merged, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(syms[i])
                    i += 1
            seg[w] = merged
    exp = {}
    for i, ws in doc_words.items():
        if not ws:
            continue
        n_tok = sum(len(seg[w]) for w in ws)
        exp[i] = (len(ws), n_tok, float(sum(len(w) for w in ws)) / n_tok)
    assert got == exp


def test_ivf_roundtrip_equals_in_memory(spark):
    """The parquet-persisted-and-reloaded IVF index must answer exactly
    what the in-memory compose answers."""
    from tests.conftest import SF_ORACLE

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    rt = {
        tuple(r)
        for r in QUERIES["ann_index_persist_roundtrip"].fn(spark, SF_ORACLE).collect()
    }
    im = {tuple(r) for r in QUERIES["ann_ivf_topk"].fn(spark, SF_ORACLE).collect()}
    assert rt == im


def test_perceptron_step_matches_python(spark, tmp_path):
    """quality_perceptron_step must equal a direct Python full-batch
    perceptron update with the same md5 buckets/weights and lang labels."""
    import hashlib
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    docs = [
        (0, "the quick brown fox jumps", "en"),
        (1, "le renard brun rapide saute", "fr"),
        (2, "the lazy dog sleeps all day", "en"),
        (3, "der schnelle braune fuchs", "de"),
        (4, "fox and dog and fox again", "en"),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in docs], pa.int64()),
            "text": pa.array([t for _, t, _ in docs]),
            "lang": pa.array([l for _, _, l in docs]),
            "n_chars": pa.array([len(t) for _, t, _ in docs], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        r.b: (r.w_old, r.grad, r.w_new)
        for r in QUERIES["quality_perceptron_step"].fn(spark, str(tmp_path)).collect()
    }

    def nib3(h):
        n = lambda i: int(h[i], 16)
        return (n(0) * 256 + n(1) * 16 + n(2)) % 1024

    D = 1024
    w = {}
    for b in range(D):
        h = hashlib.md5(f"w:{b}".encode()).hexdigest()
        w[b] = ((int(h[0], 16) * 256 + int(h[1], 16) * 16 + int(h[2], 16)) % 2001) - 1000
    cnts, labels = {}, {}
    for d, t, l in docs:
        labels[d] = 1 if l == "en" else -1
        for tok in re.sub(r"[^a-z ]", "", t.lower()).split():
            if tok:
                b = nib3(hashlib.md5(tok.encode()).hexdigest())
                cnts[(d, b)] = cnts.get((d, b), 0) + 1
    margins = {}
    for (d, b), c in cnts.items():
        margins[d] = margins.get(d, 0) + c * w[b]
    grad = {}
    for (d, b), c in cnts.items():
        if labels[d] * margins[d] <= 0:
            grad[b] = grad.get(b, 0) + labels[d] * c
    exp = {b: (w[b], grad.get(b, 0), w[b] + grad.get(b, 0)) for b in range(D)}
    assert got == exp


def test_split_leakage_safe_cluster_atomic(spark, tmp_path):
    """Near-dup documents must land in the SAME split, keyed by their
    cluster representative; unclustered docs split by their own id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    dup = "the exact same long document body repeated across ids " * 3
    rows = [(i, dup, "en") for i in range(4)] + [
        (i, f"unique document number {i} with its own words entirely", "en")
        for i in range(4, 10)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
            "text": pa.array([t for _, t, _ in rows]),
            "lang": pa.array([l for _, _, l in rows]),
            "n_chars": pa.array([len(t) for _, t, _ in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    out = QUERIES["split_leakage_safe"].fn(spark, str(tmp_path)).collect()
    by_id = {r.doc_id: r for r in out}
    assert all(r.cluster_atomic for r in out)
    # the 4 duplicates share rep 0 and therefore one split
    assert {by_id[i].rep_id for i in range(4)} == {0}
    assert len({by_id[i].split for i in range(4)}) == 1


def test_video_keyframe_closed_form(spark, tmp_path):
    """multimodal_video_keyframe_dedup's shared-keyframe counts must equal
    the fixture's closed form across variants (8 same-v, 7 vs v=0, 6
    between distinct nonzero variants, nothing cross-class)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    n = 260  # ids cover all 4 variants of classes 0..3
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(["x"] * n),
            "lang": pa.array(["en"] * n),
            "n_chars": pa.array([1] * n, pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in QUERIES["multimodal_video_keyframe_dedup"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    exp = {}
    for a in range(n):
        for b in range(a + 1, n):
            if a % 64 != b % 64:
                continue
            va, vb = (a // 64) % 4, (b // 64) % 4
            exp[(a, b)] = 8 if va == vb else (7 if 0 in (va, vb) else 6)
    assert got == exp
