"""Unit tests for the round-4 operators: incremental LSH, PQ, sharding,
UDTF chunking — semantics pinned on small fixtures (the oracle suite covers
the full corpus; these pin edge behavior)."""

from pyspark.sql import functions as F

from kwack_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog tonight"),
    (3, "completely different text about spark streaming state"),
    (4, "the quick brown fox jumps over the lazy dog today"),
    (5, "unrelated words forming another distinct document body"),
    (6, "the quick brown fox jumps over the lazy dog this week"),
]


def test_incremental_lsh_equals_full_lsh_cross_pairs(spark):
    """incremental(history, batch) must equal the full self-join's pair set
    restricted to (batch, history) pairs — the incremental path may skip
    work, never change answers."""
    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    hist = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    inc = {
        (r.doc_id, r.hist_id, r.jaccard)
        for r in dedup.incremental_lsh_new_dups(
            hist, batch, "doc_id", "text", k=8, bands=2, threshold=0.3
        ).collect()
    }
    full = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=8, bands=2, threshold=0.3
    ).collect()
    hist_ids = {2, 4, 6}
    expect = set()
    for r in full:
        a, b = r.id_a, r.id_b
        if (a in hist_ids) != (b in hist_ids):
            batch_id, hist_id = (b, a) if a in hist_ids else (a, b)
            expect.add((batch_id, hist_id, r.jaccard))
    assert inc == expect
    assert inc  # fixture must produce at least one cross near-dup


def test_pq_seed_vectors_reconstruct_exactly(spark):
    """A vector that seeds the codebook quantizes to itself in every
    subspace, so its ADC score against any query equals the exact dot."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(8)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.pq_topk(e, e, "vec_id", "embedding", k=7, m=4, ksub=8, dim=16)
    got = {(r.query_id, r.corpus_id): r.adc for r in out.collect()}
    # with ksub == n, every vector is a seed -> reconstruction is exact
    exact = {}
    mats = {r[0]: [float(x) for x in r[1]] for r in e.select("vec_id", F.col("embedding").cast("array<double>")).collect()}
    for qi, qv in mats.items():
        for ci, cv in mats.items():
            if qi != ci:
                s = 0.0
                for a, b in zip(qv, cv):
                    s += a * b
                exact[(qi, ci)] = s
    for key, adc in got.items():
        assert adc == exact[key], key


def test_shard_assignment_deterministic_and_bounded(spark):
    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    fn = QUERIES["shard_assignment_stats"].fn
    a = {(r.shard_id, r.n_docs) for r in fn(spark, "/root/testdata/sf0.001").collect()}
    b = {(r.shard_id, r.n_docs) for r in fn(spark, "/root/testdata/sf0.001").collect()}
    assert a == b
    assert all(0 <= s < 16 for s, _ in a)


def test_chunk_words_udtf(spark):
    from kwack_spark.functions import udx

    udx.register_udx(spark)
    rows = spark.sql(
        "SELECT * FROM kw_chunk_words('a b c d e', 2) ORDER BY chunk_idx"
    ).collect()
    assert [(r.chunk_idx, r.chunk) for r in rows] == [
        (0, "a b"),
        (1, "c d"),
        (2, "e"),
    ]
    assert spark.sql("SELECT * FROM kw_chunk_words('', 2)").count() == 0


def test_register_view_bad_names(spark):
    from kwack_spark.session import register_view

    df = spark.range(3)
    for name in ("dotted.name", "dash-name", "9starts_digit"):
        register_view(df, name)
        assert spark.sql(f"SELECT count(*) AS n FROM `{name}`").collect()[0].n == 3


def test_edit_verify_survives_empty_normalized_prefix(spark):
    """Docs normalizing to '' share every band key (empty shingle) and form
    candidate pairs; the CASE-guarded similarity must drop them instead of
    raising DIVIDE_BY_ZERO under ANSI mode."""
    from kwack_spark.plans.registry import QUERIES, _load_all

    _load_all()
    import kwack_spark.plans.relational as rel

    rows = [
        (1, "1234567890!!!"),        # no letters, no spaces -> normalizes to ''
        (2, "-----?????..."),        # same
        (3, "the quick brown fox jumps over the lazy dog today"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    orig = rel.load_table
    try:
        rel.load_table = lambda s, sd, name: d if name == "documents" else orig(s, sd, name)
        out = QUERIES["dedup_lsh_edit_verify"].fn(spark, "/root/testdata/sf0.001").collect()
    finally:
        rel.load_table = orig
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (3, 4) in pairs          # the real near-dup survives
    assert not any(1 in p or 2 in p for p in pairs)  # empty pairs dropped, no crash


def test_ivf_pq_sharded_path_matches_broadcast(spark):
    """Past the broadcast cap, ivf_pq_topk degrades to a list_id-join path
    with no collect/broadcast — results must match the broadcast path."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(k=3, n_lists=4, n_probe=2, m=4, ksub=8, dim=16)
    small = similarity.ivf_pq_topk(e, e, "vec_id", "embedding", **kw)
    sharded = similarity.ivf_pq_topk(
        e, e, "vec_id", "embedding", max_index_rows=10, **kw
    )
    a = {(r.query_id, r.corpus_id, r.rank, r.adc) for r in small.collect()}
    b = {(r.query_id, r.corpus_id, r.rank, r.adc) for r in sharded.collect()}
    assert a == b
    assert a


def test_semdedup_prune_semantics(spark):
    """Cluster-then-prune: a near-identical pair in the same cluster keeps
    the LOWER id and prunes the higher, pointing at its representative; a
    far vector survives.  n_lists=2 so the two directions split clusters."""
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 1
        (4, [0.999, 0.012, 0.0, 0.0]),  # near-dup of 1 and 3
        (5, [0.0, 0.0, 1.0, 0.0]),      # far from everything
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: (r.pruned, r.kept_by)
        for r in similarity.semdedup_prune(
            e, "vec_id", "embedding", n_lists=2, threshold=0.95, refine_iters=1
        ).collect()
    }
    assert out[1] == (False, None)
    assert out[3] == (True, 1)
    assert out[4] == (True, 1)  # kept_by = SMALLEST qualifying neighbor
    assert out[2][0] is False and out[5][0] is False


def test_simhash_hamming_blocking_is_lossless(spark):
    """The multi-block candidate stage must find EVERY pair within
    max_hamming (pigeonhole guarantee) — compare against the brute-force
    all-pairs Hamming join on the same fingerprints."""
    d = spark.createDataFrame(DOCS, "doc_id long, text string")
    blocked = dedup.simhash_hamming_pairs(
        d, "doc_id", "text", bits=32, max_hamming=3
    )
    fps = dedup.simhash_fingerprints(d, "doc_id", "text", bits=32)
    a = fps.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = fps.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    ham = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(32)),
            lambda i: F.substring("sh_a", i, 1) != F.substring("sh_b", i, 1),
        )
    )
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )
    assert sorted(map(tuple, blocked.collect())) == sorted(map(tuple, brute.collect()))


def test_simhash_hamming_rejects_unsound_blocking():
    """max_hamming >= blocks would let a pair differ in every slice and be
    missed — the operator must refuse, not silently lose recall."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_hamming_pairs(None, "doc_id", "text", bits=32, max_hamming=4)


def test_hard_negative_label_mask(spark):
    """label_col mode: every returned neighbor has a different label than
    its anchor; a single-label corpus yields no negatives at all."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 1.0], 1),
        (4, [0.1, 0.9], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = similarity.brute_force_topk_vectorized(
        df, df, "vec_id", "embedding", k=2, label_col="label"
    ).collect()
    labels = {vid: lab for vid, _, lab in rows}
    assert out, "expected hard negatives"
    for r in out:
        assert labels[r.query_id] != labels[r.corpus_id]

    mono = spark.createDataFrame(
        [(i, [float(i), 1.0], 7) for i in range(1, 5)],
        "vec_id long, embedding array<double>, label int",
    )
    assert (
        similarity.brute_force_topk_vectorized(
            mono, mono, "vec_id", "embedding", k=2, label_col="label"
        ).count()
        == 0
    )


def test_cooccurrence_pair_count_invariant(spark, tmp_path):
    """A document of n (sanitized) tokens emits exactly max(n-1,0) dist-1
    pairs and max(n-2,0) dist-2 pairs — the in-array generator must not
    drop boundary windows or emit self-window artifacts."""
    from kwack_spark.plans.pipeline_text import cooccurrence_window_counts
    import os

    docs = [
        (1, "alpha beta gamma delta", "en", "s", 22),
        (2, "one two", "en", "s", 7),
        (3, "solo", "en", "s", 4),
        (4, "", "en", "s", 0),
    ]
    d = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    tmp = str(tmp_path)
    d.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = cooccurrence_window_counts(spark, tmp).collect()
    n1 = sum(r.cnt for r in out if r.dist == 1)
    n2 = sum(r.cnt for r in out if r.dist == 2)
    # doc1: 3+2, doc2: 1+0, doc3: 0, doc4: 0
    assert (n1, n2) == (4, 2)


def test_auto_planes_policy():
    # below target: floor
    assert similarity.auto_planes(100) == 4
    assert similarity.auto_planes(256) == 4
    # occupancy held at ~target as n grows: planes tracks log2(n/target)
    assert similarity.auto_planes(512) == 5
    assert similarity.auto_planes(256 * 1024) == 14
    # doubling n adds exactly one plane (bucket space doubles with data)
    for n in (10_000, 1_000_000, 10_000_000):
        assert similarity.auto_planes(2 * n) == similarity.auto_planes(n) + 1


def test_lsh_auto_planes_matches_explicit(spark):
    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("vec_id", "embedding")
    )
    n = e.count()
    expected_planes = similarity.auto_planes(n)
    auto = similarity.lsh_bucketed_pairs(e, planes="auto")
    explicit = similarity.lsh_bucketed_pairs(e, planes=expected_planes)
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, explicit.collect()))


def test_lsh_adaptive_equals_truncated_explicit(spark):
    """Prefix-truncating a 12-plane signature to width k must equal bucketing
    with k planes directly (plane bits are independent), so the adaptive
    operator's output matches lsh_bucketed_pairs at the policy width."""
    e = (
        spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
        .selectExpr("vec_id", "embedding")
        .limit(600)  # n=600 -> policy width ceil(log2(600/256))+4 = 6 != floor
    )
    width = similarity.auto_planes(600)
    assert width == 6
    adaptive = similarity.lsh_bucketed_pairs_adaptive(e, "vec_id", "embedding")
    explicit = similarity.lsh_bucketed_pairs(e, "vec_id", "embedding", planes=width)
    assert sorted(map(tuple, adaptive.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_lsh_multitable_properties(spark):
    """n_tables=1 is exactly lsh_bucketed_pairs; more tables only ADD pairs
    (set union), and every added pair still clears the cosine threshold."""
    e = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .selectExpr("vec_id", "embedding")
    )
    one = similarity.lsh_multitable_pairs(e, n_tables=1)
    single = similarity.lsh_bucketed_pairs(e, planes=4)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, single.collect()))

    two = similarity.lsh_multitable_pairs(e, n_tables=2)
    s1 = {(r.id_a, r.id_b) for r in single.collect()}
    s2 = {(r.id_a, r.id_b) for r in two.collect()}
    assert s1 <= s2
    assert all(r.cosine >= 0.3 for r in two.collect())


def test_brute_force_string_labels(spark):
    """label_col accepts non-integer labels: masking is pure (in)equality,
    so string class labels must work (hard-negative mining over named
    sources)."""
    rows = [
        (1, [1.0, 0.0], "news"),
        (2, [0.9, 0.1], "news"),
        (3, [0.0, 1.0], "web"),
        (4, [0.1, 0.9], "web"),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>, src string")
    out = similarity.brute_force_topk_vectorized(
        d, d, vec_col="embedding", k=1, label_col="src"
    ).collect()
    by_q = {r.query_id: r.corpus_id for r in out}
    # nearest OTHER-label neighbor, never the same label
    assert by_q[1] in (3, 4) and by_q[2] in (3, 4)
    assert by_q[3] in (1, 2) and by_q[4] in (1, 2)


def test_persist_rotating_is_per_session(spark):
    """The stage holder is keyed by SparkSession and rotates within a
    tag: a second ``stages.hold`` under the same tag releases the first."""
    from kwack_spark import stages

    a = stages.hold("t_test", spark.range(3))
    assert stages._HELD[spark][("hold", "t_test")][1] is a
    b = stages.hold("t_test", spark.range(4))
    assert stages._HELD[spark][("hold", "t_test")][1] is b
    assert a.storageLevel.useMemory is False  # rotated out -> unpersisted
    assert b.count() == 4
    b.unpersist(False)
    del stages._HELD[spark][("hold", "t_test")]


def test_pq_topk_distributed_branch_matches_broadcast(spark):
    """Past the broadcast cap pq_topk degrades to the streamed-corpus /
    broadcast-queries branch; output must be identical to the broadcast
    branch on the same input."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = d.filter(F.col("vec_id") < 10)
    kw = dict(id_col="vec_id", vec_col="embedding", k=3, m=4, ksub=8, dim=8)
    broad = similarity.pq_topk(d, q, **kw).collect()
    dist = similarity.pq_topk(d, q, max_index_rows=15, **kw).collect()
    key = lambda r: (r.query_id, r.rank)
    assert sorted(map(tuple, dist), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, broad), key=lambda t: (t[0], t[3])
    )
    assert {r.query_id for r in dist} == set(range(10))


def test_pq_topk_raises_only_when_queries_also_exceed_cap(spark):
    import pytest as _pt

    rows = [(i, [float(i % 5), 1.0, 0.0, 0.5]) for i in range(30)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pt.raises(ValueError, match="both PQ index and query set"):
        similarity.pq_topk(
            d, d, id_col="vec_id", vec_col="embedding", k=2, m=2, ksub=4,
            dim=4, max_index_rows=10,
        )


def test_brute_force_distributed_branch_matches_broadcast(spark):
    """Past the broadcast cap brute_force inverts roles (corpus streams,
    queries broadcast); output must equal the broadcast branch, including
    the hard-negative label mask."""
    import random

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)], "ab"[i % 2]) for i in range(40)
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    q = d.filter(F.col("vec_id") < 8)
    for kw in ({}, {"label_col": "label"}):
        broad = similarity.brute_force_topk_vectorized(
            d, q, vec_col="embedding", k=3, **kw
        ).collect()
        dist = similarity.brute_force_topk_vectorized(
            d, q, vec_col="embedding", k=3, max_index_rows=15, **kw
        ).collect()
        assert sorted(map(tuple, dist)) == sorted(map(tuple, broad)), kw
        assert all(r.rank <= 3 for r in dist)


def test_brute_force_raises_only_when_both_exceed_cap(spark):
    import pytest as _pt

    rows = [(i, [float(i % 7), 1.0, 0.25]) for i in range(30)]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with _pt.raises(ValueError, match="both corpus and query set"):
        similarity.brute_force_topk_vectorized(
            d, d, vec_col="embedding", k=2, max_index_rows=10
        )
