"""Sketch- and hash-based corpus operators: mergeable HyperLogLog distinct
counting, Bloom-filter decontamination, a hashed bag-of-words linear quality
scorer (model-as-data), and content-defined chunking dedup.

These are the constant-state / broadcast-model shapes a 100 TB training-data
pipeline runs continuously:

- HLL register tables are the running "distinct so far" state that merges
  across ingest batches by elementwise max (operators/scale.py:hll_sketch);
- a Bloom bitmap over benchmark n-grams is the compressed decontamination
  index that broadcasts where the full benchmark gram table wouldn't;
- a linear scorer's weight vector is a tiny broadcast table — the standard
  fasttext-style quality-classifier serving shape, no Python in the loop;
- content-defined chunk boundaries (rolling-window hash) make chunk dedup
  insertion-robust where fixed-size blocks shift and miss every repeat.

Everything is md5 arithmetic that evaluates identically in Spark and DuckDB,
so every operator — including every hash collision — is oracle-checked
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark import stages
from kwack_spark.functions import text as TX
from kwack_spark.operators import scale
from kwack_spark.plans.pipeline import drain_to_table, replay
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T

# DuckDB fragments mirroring operators/scale.py's md5-nibble idiom
_NIB = "(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"


def _duck_hll_reg(key_expr: str, seed: str = "hll") -> str:
    """(j, rho) per row, mirroring scale._hll_registers bit-for-bit."""
    return f"""
        SELECT ({_NIB.format(h='h', i=1)} * 16 + {_NIB.format(h='h', i=2)}) % 64 AS j,
               least(4 * length(regexp_extract(substr(h, 3, 16), '^(0*)', 1))
                     + CASE WHEN fnz >= 8 THEN 0 WHEN fnz >= 4 THEN 1
                            WHEN fnz >= 2 THEN 2 WHEN fnz >= 1 THEN 3
                            ELSE 4 END + 1, 64) AS rho
        FROM (
            SELECT h,
                   instr('0123456789abcdef',
                         substr(substr(h, 3, 16),
                                length(regexp_extract(substr(h, 3, 16), '^(0*)', 1)) + 1,
                                1)) - 1 AS fnz
            FROM (SELECT md5('{seed}:' || {key_expr}) AS h FROM __HLL_SRC__)
        )
    """


_DUCK_HLL_EST = """
    SELECT CAST({alpha} * 64 * 64 * 18446744073709551616.0 AS DOUBLE)
           / CAST(s_ne + CAST(64 - n_ne AS DECIMAL(38,0))
                         * CAST(pow(2.0, 64) AS DECIMAL(38,0)) AS DOUBLE)
           AS hll_est,
           CAST(64 - n_ne AS BIGINT) AS n_empty
    FROM (
        SELECT SUM(CAST(pow(2.0, 64 - mx) AS DECIMAL(38,0))) AS s_ne,
               count(*) AS n_ne
        FROM __HLL_SKETCH__
    )
"""


@register(
    "hll_distinct_users",
    # HLL distinct-user estimate vs the exact count it approximates; the
    # register table and the estimate are identical md5 + exact-decimal
    # arithmetic on both engines (no pow/ln on non-integer args), so the
    # hash compare covers every register and the final double.
    oracle=f"""
        WITH reg AS ({_duck_hll_reg("user_id::VARCHAR").replace("__HLL_SRC__", "events")}),
        sk AS (SELECT j, max(rho) AS mx FROM reg GROUP BY j),
        est AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "sk")}),
        exact AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                  FROM events)
        SELECT e.hll_est, e.n_empty, x.exact_distinct,
               abs(e.hll_est - x.exact_distinct) / x.exact_distinct < 0.5
                 AS within_bound
        FROM est e CROSS JOIN exact x
    """,
    tags=("scale", "sketch", "approx", "hll"),
)
def hll_distinct_users(spark, sf_dir):
    """Mergeable-register HyperLogLog (operators/scale.py:hll_sketch) graded
    against the exact distinct count.  Spark's approx_count_distinct is an
    HLL++ too, but only as an opaque aggregate — this one's register table
    IS data: per-batch sketches merge by max into running state that never
    rescans the corpus.  m=64 gives ~13% standard error; the gate allows
    3.8 sigma."""
    e = T(spark, sf_dir, "events").select("user_id")
    est = scale.hll_estimate(scale.hll_sketch(e, "user_id"))
    exact = e.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "hll_est",
        "n_empty",
        "exact_distinct",
        (
            F.abs(F.col("hll_est") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            < 0.5
        ).alias("within_bound"),
    )


@register(
    "hll_merge_shards",
    # merge-invariance gate: per-source sketches merged by elementwise max
    # must equal the whole-corpus sketch — THE property that makes HLL
    # registers safe running state under sharded / at-least-once ingest.
    oracle=f"""
        WITH reg AS (
            SELECT source, j, rho FROM (
                SELECT source,
                       ({_NIB.format(h='h', i=1)} * 16 + {_NIB.format(h='h', i=2)}) % 64 AS j,
                       least(4 * length(regexp_extract(substr(h, 3, 16), '^(0*)', 1))
                             + CASE WHEN fnz >= 8 THEN 0 WHEN fnz >= 4 THEN 1
                                    WHEN fnz >= 2 THEN 2 WHEN fnz >= 1 THEN 3
                                    ELSE 4 END + 1, 64) AS rho
                FROM (
                    SELECT source, h,
                           instr('0123456789abcdef',
                                 substr(substr(h, 3, 16),
                                        length(regexp_extract(substr(h, 3, 16), '^(0*)', 1)) + 1,
                                        1)) - 1 AS fnz
                    FROM (SELECT source, md5('hll:' || doc_id::VARCHAR) AS h
                          FROM documents)
                )
            )
        ),
        per_source AS (SELECT source, j, max(rho) AS mx FROM reg GROUP BY source, j),
        merged AS (SELECT j, max(mx) AS mx FROM per_source GROUP BY j),
        direct AS (SELECT j, max(rho) AS mx FROM reg GROUP BY j),
        m_est AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "merged")}),
        d_est AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "direct")}),
        ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources
               FROM documents)
        SELECT m.hll_est AS merged_est, d.hll_est AS direct_est,
               m.hll_est = d.hll_est AS merge_invariant, ns.n_sources
        FROM m_est m CROSS JOIN d_est d CROSS JOIN ns
    """,
    tags=("scale", "sketch", "merge", "hll"),
)
def hll_merge_shards(spark, sf_dir):
    """Builds one HLL sketch per document source (the sharded-ingest shape),
    merges them (operators/scale.py:hll_merge), and proves the merged
    estimate equals the single-pass whole-corpus estimate.  At 100 TB each
    ingest batch computes its own 64-row sketch; the merge is a 64-row max —
    no rescan, and double-delivered batches change nothing (max is
    idempotent, unlike cms_merge's addition)."""
    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    per_source = scale.hll_sketch(d, "doc_id", by=("source",))
    merged_est = scale.hll_estimate(scale.hll_merge(per_source.drop("source")))
    direct_est = scale.hll_estimate(scale.hll_sketch(d, "doc_id"))
    n_sources = d.agg(F.countDistinct("source").alias("n_sources"))
    return (
        merged_est.select(F.col("hll_est").alias("merged_est"))
        .crossJoin(F.broadcast(direct_est.select(F.col("hll_est").alias("direct_est"))))
        .crossJoin(F.broadcast(n_sources))
        .select(
            "merged_est",
            "direct_est",
            (F.col("merged_est") == F.col("direct_est")).alias("merge_invariant"),
            "n_sources",
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination
# ---------------------------------------------------------------------------

_BF_K = 3  # hash functions
_BF_M = 4096  # bits (3 md5 nibbles)


def _bf_pos(gram, i: int):
    """Bit position i of a gram: 3 nibbles of md5('bf{i}:'||gram) % m."""
    h = F.md5(F.concat(F.lit(f"bf{i}:"), gram))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1  # noqa: E731
    return ((nib(1) * 256 + nib(2) * 16 + nib(3)) % _BF_M).cast("int")


_DUCK_BF_POS = (
    "((" + _NIB.format(h="md5('bf{i}:' || {g})", i=1) + ") * 256 + ("
    + _NIB.format(h="md5('bf{i}:' || {g})", i=2) + ") * 16 + ("
    + _NIB.format(h="md5('bf{i}:' || {g})", i=3) + ")) % 4096"
)


@register(
    "bloom_decontaminate",
    # Bloom-prefiltered benchmark decontamination, graded INCLUDING its
    # false positives: the bitmap is the same md5 arithmetic on both
    # engines, so bloom_hits (with collisions) and exact_hits must both
    # match.  never_misses asserts the Bloom guarantee bloom >= exact.
    oracle=f"""
        WITH bench AS (
            SELECT DISTINCT unnest(g) AS gram FROM (
                SELECT CASE WHEN len(tk) >= 3
                            THEN list_transform(range(1, len(tk) - 1),
                                                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                            ELSE [array_to_string(tk, ' ')] END AS g
                FROM (SELECT string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ') AS tk0,
                             list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                                         t -> length(t) > 0) AS tk
                      FROM documents WHERE doc_id % 97 = 0)
            )
        ),
        bits AS (
            SELECT DISTINCT unnest([
                {_DUCK_BF_POS.format(i=0, g='gram')},
                {_DUCK_BF_POS.format(i=1, g='gram')},
                {_DUCK_BF_POS.format(i=2, g='gram')}]) AS pos
            FROM bench
        ),
        cand AS (
            SELECT doc_id, gram FROM (
                SELECT doc_id, unnest(list_distinct(CASE WHEN len(tk) >= 3
                            THEN list_transform(range(1, len(tk) - 1),
                                                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                            ELSE [array_to_string(tk, ' ')] END)) AS gram
                FROM (SELECT doc_id,
                             list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                                         t -> length(t) > 0) AS tk
                      FROM documents WHERE doc_id % 97 <> 0)
            )
        ),
        probe AS (
            SELECT doc_id, gram,
                   ({_DUCK_BF_POS.format(i=0, g='gram')} IN (SELECT pos FROM bits))
               AND ({_DUCK_BF_POS.format(i=1, g='gram')} IN (SELECT pos FROM bits))
               AND ({_DUCK_BF_POS.format(i=2, g='gram')} IN (SELECT pos FROM bits))
                   AS bloom_pos
            FROM cand
        )
        SELECT doc_id,
               CAST(count(*) FILTER (WHERE bloom_pos) AS BIGINT) AS bloom_hits,
               CAST(count(*) FILTER (WHERE gram IN (SELECT gram FROM bench)) AS BIGINT)
                 AS exact_hits,
               count(*) FILTER (WHERE bloom_pos)
                 >= count(*) FILTER (WHERE gram IN (SELECT gram FROM bench))
                 AS never_misses
        FROM probe
        GROUP BY doc_id
        HAVING count(*) FILTER (WHERE bloom_pos) > 0
        ORDER BY doc_id
    """,
    tags=("scale", "sketch", "dedup", "decontamination"),
)
def bloom_decontaminate(spark, sf_dir):
    """Benchmark decontamination behind a Bloom bitmap: benchmark 3-gram
    shingles (docs with doc_id % 97 == 0 stand in for the eval set) hash
    into a 4096-bit filter; a training gram is a candidate only if ALL k=3
    positions are set.  Grades bloom_hits vs exact_hits per doc — the
    filter may overcount (collisions) but can never miss.

    100-TB posture: the bitmap is m bits TOTAL (here a ≤4096-row position
    table, broadcast) however large the benchmark is, and the probe side is
    a narrow per-gram lookup — versus decontaminate_ngram_overlap's
    gram-table join, this is what still broadcasts when the benchmark has
    billions of grams.  Exact verification of the tiny bloom-positive
    remainder stays cheap by construction."""
    from kwack_spark.operators.scale import widen_if_narrow

    docs = widen_if_narrow(T(spark, sf_dir, "documents").select("doc_id", "text"))
    grams = F.explode(F.array_distinct(TX.shingles(TX.tokens("text"), 3))).alias("gram")
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(grams).distinct()
    bits = (
        bench.select(
            F.explode(F.array(*[_bf_pos(F.col("gram"), i) for i in range(_BF_K)])).alias("pos")
        )
        .distinct()
    )
    cand = docs.filter(F.col("doc_id") % 97 != 0).select("doc_id", grams)
    # per (doc, gram): k probe rows -> broadcast-join the bit table -> a
    # gram is bloom-positive iff all k probes land on set bits
    probes = cand.select(
        "doc_id",
        "gram",
        F.explode(F.array(*[_bf_pos(F.col("gram"), i) for i in range(_BF_K)])).alias("pos"),
    )
    hits = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == _BF_K)
        .select("doc_id", "gram", F.lit(True).alias("bloom_pos"))
    )
    exact = bench.withColumnRenamed("gram", "bgram")
    per_gram = cand.join(hits, ["doc_id", "gram"], "left").join(
        F.broadcast(exact), cand.gram == exact.bgram, "left"
    )
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.count(F.when(F.col("bloom_pos"), 1)).alias("bloom_hits"),
            F.count(F.when(F.col("bgram").isNotNull(), 1)).alias("exact_hits"),
        )
        .filter(F.col("bloom_hits") > 0)
        .select(
            "doc_id",
            "bloom_hits",
            "exact_hits",
            (F.col("bloom_hits") >= F.col("exact_hits")).alias("never_misses"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Hashed bag-of-words linear quality scorer (model-as-data)
# ---------------------------------------------------------------------------

_BOW_D = 1024  # weight buckets (hashing trick)


@register(
    "quality_linear_score",
    # fasttext-style linear scorer with deterministic pseudo-weights:
    # bucket = 3 md5 nibbles % D, weight = md5-derived integer in
    # [-1000, 1000] milli-units.  Scores sum in exact integers and divide
    # by 1000.0 once, so both engines emit the identical double.
    oracle=f"""
        WITH weights AS (
            SELECT b, (({_NIB.format(h="md5('w:' || b::VARCHAR)", i=1)} * 256
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=2)} * 16
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=3)}) % 2001) - 1000
                     AS w_mill
            FROM (SELECT unnest(range(0, {_BOW_D})) AS b)
        ),
        tok AS (
            SELECT doc_id, unnest(list_filter(
                       string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                       t -> length(t) > 0)) AS t
            FROM documents
        ),
        bucketed AS (
            SELECT doc_id, ({_NIB.format(h='md5(t)', i=1)} * 256
                            + {_NIB.format(h='md5(t)', i=2)} * 16
                            + {_NIB.format(h='md5(t)', i=3)}) % {_BOW_D} AS b
            FROM tok
        )
        SELECT doc_id,
               CAST(SUM(w_mill) AS DOUBLE) / 1000.0 AS score,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM bucketed JOIN weights USING (b)
        GROUP BY doc_id
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    tags=("quality", "model", "scoring"),
)
def quality_linear_score(spark, sf_dir):
    """Hashed bag-of-words linear model scoring — the serving shape of a
    fasttext-style quality classifier: the model is a D-row weight table
    (here D=1024, weights deterministically derived from md5 so the oracle
    can rebuild them; in production they come from training), broadcast to
    every executor; scoring is tokenize → hash-bucket → join → sum.

    100-TB posture: the weight table is O(D) whatever the corpus; token
    scoring is one narrow explode + broadcast join + doc-keyed sum
    (map-side combinable).  No Python anywhere — compare mapInPandas
    inference, which pays Arrow transfer per token batch.  Milli-unit
    integer weights keep the sum exact; one final /1000.0 gives
    bit-identical doubles."""
    spark_range = spark.range(_BOW_D).select(F.col("id").cast("int").alias("b"))
    h = F.md5(F.concat(F.lit("w:"), F.col("b").cast("string")))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1  # noqa: E731
    weights = spark_range.select(
        "b", (((nib(1) * 256 + nib(2) * 16 + nib(3)) % 2001) - 1000).alias("w_mill")
    )
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    th = F.md5(F.col("t"))
    tnib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(th, p, 1)) - 1  # noqa: E731
    bucketed = tok.select(
        "doc_id", ((tnib(1) * 256 + tnib(2) * 16 + tnib(3)) % _BOW_D).alias("b")
    )
    return (
        bucketed.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            (F.sum("w_mill").cast("double") / F.lit(1000.0)).alias("score"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup
# ---------------------------------------------------------------------------


@register(
    "cdc_chunk_dedup",
    # content-defined chunk boundaries: cut before position i when the
    # md5 of the 8-char window at i starts with nibble 0 (p=1/16, mean
    # chunk ~16 chars).  Boundaries depend only on LOCAL content, so an
    # insertion early in a doc shifts at most one chunk — fixed-size
    # blocks would shift every block and miss every repeat after the edit.
    oracle="""
        WITH cut AS (
            SELECT doc_id, text,
                   [1] || CASE WHEN length(text) >= 9
                               THEN list_filter(generate_series(2, length(text) - 7),
                                                i -> substr(md5('cdc:' || substr(text, i, 8)), 1, 1) = '0')
                               ELSE [] END
                       || [length(text) + 1] AS cuts
            FROM documents
        ),
        chunks AS (
            SELECT doc_id, unnest(
                     list_transform(generate_series(1, len(cuts) - 1),
                                    j -> substr(text, cuts[j], cuts[j+1] - cuts[j]))
                   ) AS chunk
            FROM cut
        )
        SELECT md5(chunk) AS fp,
               CAST(min(length(chunk)) AS BIGINT) AS chunk_len,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunks
        WHERE length(chunk) >= 8
        GROUP BY md5(chunk)
        HAVING count(*) >= 4
        ORDER BY n_copies DESC, fp
        LIMIT 15
    """,
    tags=("dedup", "chunking", "cdc"),
)
def cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking (rolling-window hash boundaries) + chunk
    fingerprint dedup — the storage-style dedup that survives insertions,
    applied to corpus text.  All array built-ins (sequence/filter/
    transform/element_at): the boundary scan and chunk extraction ride the
    parquet scan with no shuffle; the only shuffle is the fingerprint
    aggregation.  Top repeated chunks are the cross-doc boilerplate a
    pipeline strips before training."""
    from kwack_spark.operators.scale import widen_if_narrow

    docs = widen_if_narrow(T(spark, sf_dir, "documents").select("doc_id", "text"))

    def mk_cuts(t):
        inner = F.when(
            F.length(t) >= 9,
            F.filter(
                F.sequence(F.lit(2), F.length(t) - 7),
                lambda i: F.substring(
                    F.md5(F.concat(F.lit("cdc:"), F.substring(t, i, 8))), 1, 1
                )
                == "0",
            ),
        ).otherwise(F.array().cast("array<int>"))
        return F.concat(
            F.array(F.lit(1)), inner.cast("array<int>"), F.array(F.length(t) + 1)
        )

    cut = docs.select("doc_id", "text", TX.bind(F.col("text"), mk_cuts).alias("cuts"))
    chunks = cut.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("cuts") - 1),
                lambda j: F.substring(
                    F.col("text"),
                    F.element_at(F.col("cuts"), j),
                    F.element_at(F.col("cuts"), j + 1) - F.element_at(F.col("cuts"), j),
                ),
            )
        ).alias("chunk"),
    )
    return (
        chunks.filter(F.length("chunk") >= 8)
        .groupBy(F.md5("chunk").alias("fp"))
        .agg(
            F.min(F.length("chunk")).cast("long").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_copies") >= 4)
        .orderBy(F.desc("n_copies"), "fp")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Streaming HLL: the register table as (bounded) streaming state
# ---------------------------------------------------------------------------


@register(
    "streaming_hll_distinct",
    # end-of-stream register table must equal the batch sketch — max is
    # order-invariant, so replay order can't matter.  The oracle is the
    # batch register SQL; a hash match covers all 64 registers.
    oracle=f"""
        WITH reg AS ({_duck_hll_reg("user_id::VARCHAR").replace("__HLL_SRC__", "events")})
        SELECT j, CAST(max(rho) AS INT) AS mx FROM reg GROUP BY j ORDER BY j
    """,
    tags=("streaming", "sketch", "hll"),
)
def streaming_hll_distinct(spark, sf_dir):
    """HLL distinct-count registers maintained as STREAMING state: events
    replay as a file-source stream, each record maps to (j, rho) narrowly,
    and a complete-mode groupBy(j).max keeps exactly 64 rows of state
    FOREVER — the only streaming aggregate whose state is constant in both
    key cardinality and stream length (contrast streaming_dedup_keys,
    whose state is the watermark-bounded key set).  The sink table equals
    the batch sketch at end of stream, so the estimate read off it is the
    same running "distinct users so far" a 100 TB ingest would publish per
    micro-batch."""
    e = T(spark, sf_dir, "events").select("user_id", "ts")
    regs = scale._hll_registers(replay(e, "stream_hll"), "user_id")
    sk = regs.groupBy("j").agg(F.max("rho").alias("mx"))
    return (
        drain_to_table(sk, "streaming_hll_distinct", "complete")
        .select("j", "mx")
        .orderBy("j")
    )


@register(
    "streaming_cms_counts",
    # end-of-stream counter table must equal the batch count-min sketch —
    # counts are replay-order-invariant.  4x256 counters are the WHOLE
    # state, whatever the key cardinality or stream length.
    oracle="""
        WITH keyed AS (
            SELECT user_id, d,
                   ((instr('0123456789abcdef',
                           substr(md5('cms' || d || ':' || user_id::VARCHAR), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef',
                            substr(md5('cms' || d || ':' || user_id::VARCHAR), 2, 1)) - 1) % 256 AS b
            FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS d)
        )
        SELECT d, CAST(b AS INT) AS b, CAST(count(*) AS BIGINT) AS cnt
        FROM keyed GROUP BY d, b ORDER BY d, b
    """,
    tags=("streaming", "sketch", "cms"),
)
def streaming_cms_counts(spark, sf_dir):
    """Count-min sketch counters maintained as STREAMING state: each event
    maps narrowly to its (d, b) buckets and a complete-mode groupBy keeps
    the fixed 4x256 counter table — with streaming_hll_distinct, the two
    bounded-state streaming sketches (counter adds here, register maxes
    there).  The sink equals the batch sketch at end of stream, so
    frequency estimates read off it mid-stream are the same
    never-undercounting guarantees cms_heavy_hitters grades in batch."""
    e = T(spark, sf_dir, "events").select("user_id", "ts")
    keyed = scale._cms_keyed(
        replay(e, "stream_cms"), "user_id", depth=4, width=256, seed="cms"
    )
    sk = keyed.groupBy("d", "b").agg(F.count(F.lit(1)).alias("cnt"))
    return drain_to_table(sk, "streaming_cms_counts", "complete").select(
        "d", F.col("b").cast("int").alias("b"), "cnt"
    ).orderBy("d", "b")


# ---------------------------------------------------------------------------
# Inverted index build (sharded posting lists)
# ---------------------------------------------------------------------------


@register(
    "inverted_index_build",
    # token -> sharded posting lists: postings are split by doc_id range
    # (shard = doc_id // 100) so no single row ever holds a stop-word's
    # full corpus-wide posting list; per-token df rides alongside.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(list_filter(
                       string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                       t -> length(t) > 0))) AS token
            FROM documents
        ),
        sharded AS (
            SELECT token, doc_id // 100 AS shard_id,
                   array_to_string(list_sort(list(doc_id)), '|') AS postings,
                   count(*) AS n_docs
            FROM tok GROUP BY token, doc_id // 100
        ),
        df AS (SELECT token, CAST(sum(n_docs) AS BIGINT) AS df FROM sharded GROUP BY token)
        SELECT s.token, CAST(s.shard_id AS BIGINT) AS shard_id, d.df,
               CAST(s.n_docs AS BIGINT) AS n_docs, s.postings
        FROM sharded s JOIN df d USING (token)
        ORDER BY token, shard_id
    """,
    tags=("text", "index", "search"),
)
def inverted_index_build(spark, sf_dir):
    """Sharded inverted index: distinct (doc, token) pairs group into
    (token, doc-range shard) posting lists with per-token document
    frequency.  The shard key caps posting-list row size at the shard's doc
    count — a stop word appearing in every document becomes many bounded
    rows, not one giant array (the skew that kills naive collect_list
    indexes at 100 TB); shards are also the unit of incremental republish
    when a doc range changes.  One explode + one shuffle on (token, shard);
    df folds off the shard aggregation instead of rescanning the corpus."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens("text"))).alias("token")
    )
    sharded = (
        tok.groupBy("token", F.expr("doc_id div 100").alias("shard_id"))
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda c: c.cast("string"),
                ),
            ).alias("postings"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    df = sharded.groupBy("token").agg(F.sum("n_docs").alias("df"))
    return (
        sharded.join(F.broadcast(df), "token")
        .select("token", "shard_id", "df", "n_docs", "postings")
        .orderBy("token", "shard_id")
    )


# ---------------------------------------------------------------------------
# BM25 top-k retrieval (the query side of the inverted index)
# ---------------------------------------------------------------------------


@register(
    "bm25_topk_search",
    # Okapi BM25 (k1=1.2, b=0.75, Lucene's +1 idf smoothing) for a fixed
    # 3-term query.  Per-term contributions are rounded to 6dp before the
    # per-doc sum (so ln()'s last ulp cannot flip rank order) and summed
    # through exact DECIMAL (so partial-aggregation order cannot change the
    # total) — the same determinism discipline as tfidf_top_terms.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(
                string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                t -> len(t) > 0)) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok GROUP BY 1, 2),
        dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        q AS (SELECT * FROM tf WHERE term IN ('spark', 'query', 'join')),
        dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM q GROUP BY 1),
        sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(SUM(CAST(dl AS DECIMAL(18,0))) AS DOUBLE) / count(*)
                          AS avgdl
               FROM dl),
        contrib AS (
            SELECT q.doc_id,
                   round(ln((sc.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
                         * (q.tf * 2.2)
                         / (q.tf + 1.2 * (0.25 + 0.75 * dl.dl / sc.avgdl)),
                         6) AS c
            FROM q
            JOIN dfq USING (term)
            JOIN dl USING (doc_id)
            CROSS JOIN sc
        )
        SELECT doc_id, CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 20
    """,
    tags=("text", "search", "ranking"),
)
def bm25_topk_search(spark, sf_dir):
    """BM25 top-20 docs for a fixed term query — the read path that pairs
    with inverted_index_build's write path.  Scale shape: one explode and
    one (doc, term) aggregation over the corpus; dl folds off that same
    aggregation (no second scan); df and the N/avgdl scalars are
    vocabulary-sized and broadcast; scoring rides the query-term slice
    (|q| rows per matching doc), and the final top-k is a TakeOrdered —
    at 100 TB nothing beyond the initial tokenize touches the full fact."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    q = tf.filter(F.col("term").isin("spark", "query", "join"))
    dfq = q.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    sc = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("dl").cast("decimal(18,0)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    contrib = (
        q.join(F.broadcast(dfq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(sc))
        .select(
            "doc_id",
            F.round(
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * F.lit(2.2))
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# HLL set algebra: audience-overlap estimate by inclusion-exclusion
# ---------------------------------------------------------------------------


@register(
    "hll_audience_overlap",
    # |viewers ∩ purchasers| estimated as est(A) + est(B) - est(A ⊔ B):
    # the union sketch is the elementwise register max (exact), so the
    # whole inclusion-exclusion runs on three 64-row tables — the audience
    # -overlap question answered without ever materializing either
    # distinct-user set.  Compared against the exact intersection to grade
    # the estimate end to end.
    oracle=f"""
        WITH va AS ({_duck_hll_reg("user_id::VARCHAR").replace(
            "__HLL_SRC__", "(SELECT user_id FROM events WHERE event_type = 'view')")}),
        pa AS ({_duck_hll_reg("user_id::VARCHAR").replace(
            "__HLL_SRC__", "(SELECT user_id FROM events WHERE event_type = 'purchase')")}),
        sk_a AS (SELECT j, max(rho) AS mx FROM va GROUP BY j),
        sk_b AS (SELECT j, max(rho) AS mx FROM pa GROUP BY j),
        sk_u AS (SELECT j, max(mx) AS mx
                 FROM (SELECT * FROM sk_a UNION ALL SELECT * FROM sk_b)
                 GROUP BY j),
        ea AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "sk_a")}),
        eb AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "sk_b")}),
        eu AS ({_DUCK_HLL_EST.format(alpha=0.709).replace("__HLL_SKETCH__", "sk_u")}),
        exact AS (
            SELECT CAST(count(*) AS BIGINT) AS exact_overlap FROM (
                SELECT user_id FROM events WHERE event_type = 'view'
                INTERSECT
                SELECT user_id FROM events WHERE event_type = 'purchase'
            )
        )
        SELECT round(ea.hll_est, 6) AS est_viewers,
               round(eb.hll_est, 6) AS est_purchasers,
               round(eu.hll_est, 6) AS est_union,
               round(round(ea.hll_est, 6) + round(eb.hll_est, 6)
                     - round(eu.hll_est, 6), 6) AS est_overlap,
               x.exact_overlap
        FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN exact x
    """,
    tags=("scale", "sketch", "hll", "set-algebra"),
)
def hll_audience_overlap(spark, sf_dir):
    """Sketch set algebra: viewer/purchaser overlap by inclusion-exclusion
    over three 64-row HLL register tables.  Each audience sketch is one
    map-side-combinable pass over its filtered slice; the union sketch is
    a 128-row max — at 100 TB the overlap answer costs two filtered scans
    and constant-size state, and the sketches are the SAME mergeable
    objects hll_merge_shards maintains incrementally, so a running overlap
    needs no rescan at all."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type")
    a = scale.hll_sketch(
        e.filter(F.col("event_type") == "view").select("user_id"), "user_id"
    )
    b = scale.hll_sketch(
        e.filter(F.col("event_type") == "purchase").select("user_id"), "user_id"
    )
    ea = scale.hll_estimate(a).select(F.round("hll_est", 6).alias("est_viewers"))
    eb = scale.hll_estimate(b).select(
        F.round("hll_est", 6).alias("est_purchasers")
    )
    eu = scale.hll_estimate(scale.hll_merge(a, b)).select(
        F.round("hll_est", 6).alias("est_union")
    )
    exact = (
        e.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            e.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_viewers",
            "est_purchasers",
            "est_union",
            F.round(
                F.col("est_viewers") + F.col("est_purchasers") - F.col("est_union"),
                6,
            ).alias("est_overlap"),
            "exact_overlap",
        )
    )


@register(
    "inverted_index_incremental",
    # incremental index publish: the index built from (history ∪ batch) must
    # equal rebuilding per-part and merging shard rows — doc-range sharding
    # makes shard posting rows disjoint between history and a new-doc batch,
    # so an ingest republishes ONLY the touched shards.  Graded as a
    # merge-invariance gate (the hll_merge_shards pattern): both paths'
    # (token, shard) rows must match exactly.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(list_filter(
                       string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                       t -> length(t) > 0))) AS token
            FROM documents
        ),
        part AS (
            SELECT token, doc_id // 100 AS shard_id, doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN 'batch' ELSE 'hist' END AS src
            FROM tok
        ),
        merged AS (
            SELECT token, shard_id,
                   list_sort(list(doc_id)) AS postings,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM part GROUP BY token, shard_id
        ),
        direct AS (
            SELECT token, doc_id // 100 AS shard_id,
                   list_sort(list(doc_id)) AS postings,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM tok GROUP BY token, doc_id // 100
        )
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM merged) AS merged_rows,
               (SELECT CAST(count(*) AS BIGINT) FROM direct) AS direct_rows,
               (SELECT CAST(count(*) AS BIGINT)
                FROM merged m JOIN direct d
                  ON m.token = d.token AND m.shard_id = d.shard_id
                 AND m.postings = d.postings AND m.n_docs = d.n_docs)
                   AS matching_rows
    """,
    tags=("text", "index", "incremental"),
)
def inverted_index_incremental(spark, sf_dir):
    """Incremental inverted-index publish equivalence: documents split into
    a history part and a simulated new-doc batch (doc_id % 5), indexed
    separately through the SAME shard aggregation, unioned, and re-merged
    per (token, shard) — must equal the from-scratch index row for row.
    At 100 TB the point is the doc-range shard key: a batch touches only
    its own doc-range shards, so the merge is per-shard concatenation and
    the republish unit stays bounded."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokens("text"))).alias("token")
    )

    def index_of(t):
        return t.groupBy("token", F.expr("doc_id div 100").alias("shard_id")).agg(
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
            F.count(F.lit(1)).alias("n_docs"),
        )

    hist = tok.filter(F.col("doc_id") % 5 != 0)
    batch = tok.filter(F.col("doc_id") % 5 == 0)
    merged = (
        index_of(hist)
        .unionByName(index_of(batch))
        .select("token", "shard_id", F.explode("postings").alias("doc_id"))
        .groupBy("token", "shard_id")
        .agg(
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )
    direct = index_of(tok)
    m = merged.alias("m")
    d = direct.alias("d")
    matching = m.join(
        d,
        (F.col("m.token") == F.col("d.token"))
        & (F.col("m.shard_id") == F.col("d.shard_id"))
        & (F.col("m.postings") == F.col("d.postings"))
        & (F.col("m.n_docs") == F.col("d.n_docs")),
    )
    return (
        merged.agg(F.count(F.lit(1)).alias("merged_rows"))
        .crossJoin(F.broadcast(direct.agg(F.count(F.lit(1)).alias("direct_rows"))))
        .crossJoin(
            F.broadcast(matching.agg(F.count(F.lit(1)).alias("matching_rows")))
        )
    )


@register(
    "sketch_quantile_lengths",
    # mergeable quantile sketch (r08 VERDICT ask #6): per-lang p50/p90/p99
    # of n_chars from a constant-size KLL-family register table
    # (operators/scale.py:kll_sketch — deterministic md5 rank replaces the
    # random compaction coin, so the k=64 bottom-rank sample is
    # bit-reproducible), WITH the merge-invariance gate graded in-query:
    # the full-table sketch must equal the merge of two half-table
    # sketches register-for-register (bottom-k is a monoid), surfaced as
    # the merge_invariant column every row must carry as true.  The
    # hash-rank prefilter (keep hr < 2^60*8k/n when n > 8k) is active at
    # sf0.1 and inactive at sf0.01, so both paths are oracle-graded.
    oracle="""
        WITH d AS (SELECT lang, doc_id, n_chars FROM documents),
        prm AS (SELECT count(*) AS n FROM d),
        r AS (
            SELECT lang, doc_id AS rid, n_chars AS v,
                   ('0x' || substr(md5('kllq:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       AS hr
            FROM d
        ),
        filt AS (
            SELECT r.* FROM r CROSS JOIN prm
            WHERE n <= 512
               OR hr < (CAST(1152921504606846976 AS HUGEINT) * 512) // n
        ),
        fullk AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM filt
            ) WHERE rn <= 64
        ),
        h0 AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM filt WHERE rid % 2 = 0
            ) WHERE rn <= 64
        ),
        h1 AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM filt WHERE rid % 2 = 1
            ) WHERE rn <= 64
        ),
        mrg AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1)
            ) WHERE rn <= 64
        ),
        mism AS (
            SELECT count(*) AS mism FROM (
                (SELECT lang, hr, rid FROM fullk
                 EXCEPT ALL SELECT lang, hr, rid FROM mrg)
                UNION ALL
                (SELECT lang, hr, rid FROM mrg
                 EXCEPT ALL SELECT lang, hr, rid FROM fullk)
            )
        ),
        ag AS (
            SELECT lang, list_sort(list(v)) AS vs, count(*) AS c
            FROM fullk GROUP BY lang
        )
        SELECT lang, q,
               CAST(vs[greatest(1, CAST(ceil(q * c) AS INTEGER))] AS BIGINT)
                   AS q_est,
               CAST(c AS BIGINT) AS n_sample,
               (SELECT mism FROM mism) = 0 AS merge_invariant
        FROM ag, (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                                 CAST(0.99 AS DOUBLE)]) AS q)
        ORDER BY lang, q
    """,
    tags=("sketch", "quantile", "kll", "mergeable"),
)
def sketch_quantile_lengths(spark, sf_dir):
    """Per-lang length percentiles from the mergeable quantile sketch —
    the missing member of the sketch family (HLL = distinct, CMS =
    frequency, KLL = rank): at 100 TB a latency/length percentile must
    come from constant-size mergeable state, not an exact per-group sort.

    Plan shape: the hash rank and prefilter ride the scan as a narrow
    projection + predicate (no UDF); the per-group top-64 shuffles only
    the ~8k prefilter survivors; quantile extraction sorts <= 64 values
    per group.  The merge-invariance gate builds the same sketch from the
    two doc_id-parity halves (same threshold, so membership is the same
    pure function) and full-outer-diffs the register sets — 0 mismatches
    is part of the graded output, so a broken merge fails correctness,
    not just a unit test."""
    d = T(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    n = d.count()  # 1-row scalar action; parquet metadata at scan time
    kw = dict(k=64, by=("lang",), seed="kllq", n_hint=n)
    # the full sketch feeds the quantile AND the invariance diff — persist
    # (rotating) or the scan + top-k runs once per consumer
    full = stages.hold(
        "kll_full", scale.kll_sketch(d, "doc_id", "n_chars", **kw)
    )
    h0 = scale.kll_sketch(
        d.filter(F.col("doc_id") % 2 == 0), "doc_id", "n_chars", **kw
    )
    h1 = scale.kll_sketch(
        d.filter(F.col("doc_id") % 2 == 1), "doc_id", "n_chars", **kw
    )
    merged = scale.kll_merge(h0, h1, k=64, by=("lang",))
    a = full.select("lang", "hr", "rid")
    b = merged.select("lang", "hr", "rid")
    mism = (
        a.exceptAll(b)
        .union(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("mism"))
    )
    est = scale.kll_quantile(full, (0.5, 0.9, 0.99), by=("lang",))
    return (
        est.crossJoin(F.broadcast(mism))
        .select(
            "lang",
            "q",
            "q_est",
            "n_sample",
            (F.col("mism") == 0).alias("merge_invariant"),
        )
        .orderBy("lang", "q")
    )


@register(
    "length_trim_sketch_gated",
    # the sketch family actually DRIVING the pipeline, not just reporting:
    # per-lang p10/p90 come from the constant-size KLL register table
    # (same rank/threshold recipe as sketch_quantile_lengths, seed kllt)
    # and gate the corpus — keep documents whose n_chars lies inside
    # [p10, p90] of their language.  At 100 TB the exact per-group sort
    # this replaces (length_percentile_trim) is a corpus-wide shuffle;
    # here the gate costs one ~8k-row sketch plus a broadcast join of 2
    # numbers per language.
    oracle="""
        WITH d AS (SELECT lang, doc_id, n_chars FROM documents),
        prm AS (SELECT count(*) AS n FROM d),
        r AS (
            SELECT lang, doc_id AS rid, n_chars AS v,
                   ('0x' || substr(md5('kllt:' || doc_id::VARCHAR), 1, 15))::BIGINT
                       AS hr
            FROM d
        ),
        filt AS (
            SELECT r.* FROM r CROSS JOIN prm
            WHERE n <= 512
               OR hr < (CAST(1152921504606846976 AS HUGEINT) * 512) // n
        ),
        fullk AS (
            SELECT lang, hr, rid, v FROM (
                SELECT *, row_number() OVER (PARTITION BY lang
                                             ORDER BY hr, rid) AS rn
                FROM filt
            ) WHERE rn <= 64
        ),
        ag AS (
            SELECT lang, list_sort(list(v)) AS vs, count(*) AS c
            FROM fullk GROUP BY lang
        ),
        qs AS (
            SELECT lang,
                   CAST(vs[greatest(1, CAST(ceil(CAST(0.1 AS DOUBLE) * c) AS INTEGER))]
                        AS BIGINT) AS p10,
                   CAST(vs[greatest(1, CAST(ceil(CAST(0.9 AS DOUBLE) * c) AS INTEGER))]
                        AS BIGINT) AS p90
            FROM ag
        )
        SELECT d.lang, qs.p10 AS p10_est, qs.p90 AS p90_est,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN d.n_chars BETWEEN qs.p10 AND qs.p90
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM d JOIN qs USING (lang)
        GROUP BY d.lang, qs.p10, qs.p90
        ORDER BY d.lang
    """,
    tags=("sketch", "quantile", "kll", "trim", "quality-gate"),
)
def length_trim_sketch_gated(spark, sf_dir):
    """Sketch-driven length trim: per-language p10/p90 from the KLL
    register table gate the corpus, reporting kept/total per language.
    Plan shape: the rank + prefilter ride the scan (narrow), the register
    top-64 shuffles ~8k prefilter survivors, the two quantiles per
    language broadcast back onto one corpus pass with a per-lang rollup —
    the exact-sort percentile trim's semantics at constant sketch cost."""
    d = T(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    n = d.count()  # 1-row scalar action; parquet metadata at scan time
    full = stages.hold(
        "kll_trim",
        scale.kll_sketch(
            d, "doc_id", "n_chars", k=64, by=("lang",), seed="kllt", n_hint=n
        ),
    )
    est = scale.kll_quantile(full, (0.1, 0.9), by=("lang",))
    qs = est.groupBy("lang").agg(
        F.max(F.when(F.col("q") == 0.1, F.col("q_est"))).alias("p10_est"),
        F.max(F.when(F.col("q") == 0.9, F.col("q_est"))).alias("p90_est"),
    )
    return (
        d.join(F.broadcast(qs), "lang")
        .groupBy("lang", "p10_est", "p90_est")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(
                    F.col("n_chars").between(F.col("p10_est"), F.col("p90_est")), 1
                ).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "quality_perceptron_step",
    # a TRAINING step inside the engine (model-as-data, the other
    # direction): one perceptron update of the hashed bag-of-words scorer
    # against labels from the lang gate (distilling an upstream gate into
    # the cheap linear proxy — the standard way a fasttext-style quality
    # classifier is bootstrapped).  Everything is exact integers: the
    # md5-seeded milli-weights, the per-(doc, bucket) token counts, the
    # margin y * score, and the gradient sum over misclassified docs
    # g_b = sum(y * c_b) — so the updated weight table is bit-identical
    # on both engines, no learning-rate floats anywhere (lr = 1 milli).
    oracle=f"""
        WITH weights AS (
            SELECT b, (({_NIB.format(h="md5('w:' || b::VARCHAR)", i=1)} * 256
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=2)} * 16
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=3)}) % 2001) - 1000
                     AS w_mill
            FROM (SELECT unnest(range(0, {_BOW_D})) AS b)
        ),
        tok AS (
            SELECT doc_id, unnest(list_filter(
                       string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                       t -> length(t) > 0)) AS t
            FROM documents
        ),
        cnts AS (
            SELECT doc_id,
                   ({_NIB.format(h='md5(t)', i=1)} * 256
                    + {_NIB.format(h='md5(t)', i=2)} * 16
                    + {_NIB.format(h='md5(t)', i=3)}) % {_BOW_D} AS b,
                   CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2
        ),
        lab AS (
            SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
            FROM documents
        ),
        margin AS (
            SELECT c.doc_id, l.y, SUM(c.c * w.w_mill) AS s_int
            FROM cnts c JOIN weights w USING (b) JOIN lab l USING (doc_id)
            GROUP BY c.doc_id, l.y
        ),
        mis AS (SELECT doc_id, y FROM margin WHERE y * s_int <= 0),
        grad AS (
            SELECT c.b, CAST(SUM(m.y * c.c) AS BIGINT) AS g
            FROM cnts c JOIN mis m USING (doc_id)
            GROUP BY c.b
        )
        SELECT w.b, CAST(w.w_mill AS BIGINT) AS w_old,
               coalesce(g.g, 0) AS grad,
               CAST(w.w_mill + coalesce(g.g, 0) AS BIGINT) AS w_new
        FROM weights w LEFT JOIN grad g USING (b)
        ORDER BY w.b
    """,
    tags=("quality", "model", "training", "perceptron"),
)
def quality_perceptron_step(spark, sf_dir):
    """One perceptron training step of the hashed-BOW quality scorer
    (quality_linear_score's model form), labels distilled from the lang
    gate.  100-TB shape: the weight table is O(D) and broadcasts both
    ways; the corpus contributes one tokenize/bucket pass into per-doc
    margins (doc-keyed, map-side combinable) and the misclassified
    subset's second pass aggregates into the D-bounded gradient — the
    full-batch gradient a distributed trainer computes per epoch, with
    the corpus scanned twice and shuffled only at doc/bucket grain."""
    spark_range = spark.range(_BOW_D).select(F.col("id").cast("int").alias("b"))
    h = F.md5(F.concat(F.lit("w:"), F.col("b").cast("string")))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1  # noqa: E731
    weights = spark_range.select(
        "b", (((nib(1) * 256 + nib(2) * 16 + nib(3)) % 2001) - 1000).alias("w_mill")
    )
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    ht = F.md5(F.col("t"))
    nibt = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(ht, p, 1)) - 1  # noqa: E731
    cnts = (
        tok.select(
            "doc_id", ((nibt(1) * 256 + nibt(2) * 16 + nibt(3)) % _BOW_D).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    # both the margin pass and the gradient pass read the (doc, bucket)
    # counts — persist (rotating) so the tokenize/bucket scan runs once
    cnts = stages.hold("perceptron_cnts", cnts)
    lab = d.select(
        "doc_id", F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y")
    )
    margin = (
        cnts.join(F.broadcast(weights), "b")
        .join(F.broadcast(lab), "doc_id")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("c") * F.col("w_mill")).alias("s_int"))
    )
    mis = margin.filter(F.col("y") * F.col("s_int") <= 0).select("doc_id", "y")
    grad = (
        cnts.join(F.broadcast(mis), "doc_id")
        .groupBy("b")
        .agg(F.sum(F.col("y") * F.col("c")).alias("g"))
    )
    return (
        weights.join(grad, "b", "left")
        .select(
            "b",
            F.col("w_mill").cast("bigint").alias("w_old"),
            F.coalesce("g", F.lit(0)).cast("bigint").alias("grad"),
            (F.col("w_mill") + F.coalesce("g", F.lit(0)))
            .cast("bigint")
            .alias("w_new"),
        )
        .orderBy("b")
    )


# ---------------------------------------------------------------------------
# Bloom-filter paragraph dedup (BFF shape)
# ---------------------------------------------------------------------------

# paragraph chunker shared by both BFF queries: the driver fixture's text is
# newline-free, so the paragraph boundary is the same 20-token chunk
# passage_dedup_rewrite established (production swaps in split(text,'\n\n');
# everything downstream is boundary-agnostic)
_PARA_SQL = """t AS (SELECT doc_id,
                 list_filter(string_split(regexp_replace(lower(text),
                                                         '[^a-z ]', '', 'g'),
                                          ' '),
                             x -> len(x) > 0) AS tk
          FROM documents),
        pd AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
        ps AS (
            SELECT doc_id, tk,
                   unnest(generate_series(0, len(tk) - 1, 20)) AS start
            FROM pd
        ),
        paras AS (
            SELECT doc_id, CAST(start // 20 AS INTEGER) AS para_id,
                   array_to_string(tk[start + 1 : start + 20], ' ') AS para
            FROM ps
        )"""

# bloom test over a bit-position CTE named {bits}: all k positions set
_DUCK_BF_TEST = (
    "(" + _DUCK_BF_POS.format(i=0, g="para") + " IN (SELECT pos FROM {bits}))"
    " AND (" + _DUCK_BF_POS.format(i=1, g="para") + " IN (SELECT pos FROM {bits}))"
    " AND (" + _DUCK_BF_POS.format(i=2, g="para") + " IN (SELECT pos FROM {bits}))"
)

_DUCK_BF_UNNEST = (
    "unnest(["
    + _DUCK_BF_POS.format(i=0, g="para") + ", "
    + _DUCK_BF_POS.format(i=1, g="para") + ", "
    + _DUCK_BF_POS.format(i=2, g="para") + "]) AS pos"
)


def _paras_df(spark, sf_dir):
    """(doc_id, para_id, para) 20-token paragraph chunks — the Spark twin
    of _PARA_SQL, persisted rotating (history bits + batch probe + exact
    audit all read it)."""
    from kwack_spark.operators.scale import widen_if_narrow

    d = widen_if_narrow(T(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = d.select("doc_id", TX.tokens("text").alias("tk")).where(
        F.size("tk") > 0
    )
    s = toks.select(
        "doc_id",
        "tk",
        F.posexplode(
            F.sequence(F.lit(0), F.size("tk") - 1, F.lit(20))
        ).alias("para_id", "start"),
    )
    return stages.hold(
        "bff_paras",
        s.select(
            "doc_id",
            "para_id",
            F.array_join(F.slice("tk", F.col("start") + 1, F.lit(20)), " ").alias(
                "para"
            ),
        ),
    )


def _para_bits(paras):
    """DISTINCT set bit positions of a paragraph frame's Bloom bitmap —
    the <= 4096-row broadcast form of the m-bit filter (bitmap union
    across batches is just a position-set UNION: Bloom filters OR)."""
    return (
        paras.select(
            F.explode(
                F.array(*[_bf_pos(F.col("para"), i) for i in range(_BF_K)])
            ).alias("pos")
        )
        .distinct()
    )


def _bloom_probe(paras, bits):
    """Per (doc_id, para_id): bloom_pos = all k positions set in ``bits``.
    k probe rows per paragraph -> broadcast-join the bit table -> count
    distinct hits per paragraph == k (bloom_decontaminate's idiom, kept on
    (doc_id, para_id) so duplicate paragraph TEXT within one doc still
    probes per occurrence)."""
    probes = paras.select(
        "doc_id",
        "para_id",
        "para",
        F.explode(
            F.array(*[_bf_pos(F.col("para"), i) for i in range(_BF_K)])
        ).alias("pos"),
    )
    k_set = (
        probes.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "para_id")
        .agg(F.count(F.lit(1)).alias("k_set"))
        .filter(F.col("k_set") == _BF_K)
        .select("doc_id", "para_id", F.lit(True).alias("bloom_pos"))
    )
    return paras.join(k_set, ["doc_id", "para_id"], "left").select(
        "doc_id",
        "para_id",
        "para",
        F.coalesce("bloom_pos", F.lit(False)).alias("bloom_pos"),
    )


def _bff_rewrite(probed, exact_set):
    """Reassemble each document from its bloom-NEGATIVE paragraphs and
    grade the filter honestly: n_bloom_dropped (with collisions) vs
    n_exact_dropped (paragraph really in the indexed set), and the Bloom
    guarantee never_misses = bloom >= exact per doc.  ``exact_set`` is a
    1-column ``para`` frame of the exactly-indexed paragraphs."""
    ex = exact_set.select(F.col("para").alias("xpara")).distinct()
    per = probed.join(ex, probed.para == ex.xpara, "left")
    kept_struct = F.when(
        ~F.col("bloom_pos"), F.struct(F.col("para_id"), F.col("para"))
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.nullif(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda e: e.getField("para"),
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
            F.sum(F.when(~F.col("bloom_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_bloom_dropped"),
            F.sum(F.when(F.col("xpara").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exact_dropped"),
        )
        .select(
            "doc_id",
            "clean_text",
            "n_kept",
            "n_bloom_dropped",
            "n_exact_dropped",
            (F.col("n_bloom_dropped") >= F.col("n_exact_dropped")).alias(
                "never_misses"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_bloom_paragraphs",
    # BFF-shape Bloom paragraph dedup (the Dolma/Gopher-lineage "Bloom
    # filter dedup" pass — the cheap first stage before MinHash): landed
    # HISTORY paragraphs (doc_id % 4 < 2) set k=3 bits each in an m=4096
    # bitmap; every BATCH paragraph whose k positions are ALL set is
    # dropped, survivors reassemble into clean_text.  Graded INCLUDING
    # false positives (bloom_decontaminate's discipline): the bitmap is
    # identical md5 arithmetic on both engines, so n_bloom_dropped (with
    # collisions) and n_exact_dropped must both match, and never_misses
    # asserts the Bloom guarantee bloom >= exact per document.
    oracle=f"""
        WITH {_PARA_SQL},
        hist AS (SELECT doc_id FROM documents WHERE doc_id % 4 < 2),
        hbits AS (
            SELECT DISTINCT {_DUCK_BF_UNNEST}
            FROM paras JOIN hist USING (doc_id)
        ),
        hset AS (
            SELECT DISTINCT para FROM paras JOIN hist USING (doc_id)
        ),
        batch AS (
            SELECT p.* FROM paras p JOIN documents dd USING (doc_id)
            WHERE dd.doc_id % 4 >= 2
        ),
        probe AS (
            SELECT doc_id, para_id, para,
                   {_DUCK_BF_TEST.format(bits='hbits')} AS bloom_pos,
                   para IN (SELECT para FROM hset) AS exact_pos
            FROM batch
        )
        SELECT doc_id,
               nullif(string_agg(para, ' ' ORDER BY para_id)
                          FILTER (WHERE NOT bloom_pos), '') AS clean_text,
               CAST(count(*) FILTER (WHERE NOT bloom_pos) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (WHERE bloom_pos) AS BIGINT)
                   AS n_bloom_dropped,
               CAST(count(*) FILTER (WHERE exact_pos) AS BIGINT)
                   AS n_exact_dropped,
               count(*) FILTER (WHERE bloom_pos)
                   >= count(*) FILTER (WHERE exact_pos) AS never_misses
        FROM probe
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("dedup", "bloom", "paragraph", "sketch"),
)
def dedup_bloom_paragraphs(spark, sf_dir):
    """Bloom-filter paragraph dedup, nightly-admission shape: history
    paragraphs are compressed into a <= m-row bit-position table that
    BROADCASTS however many paragraphs history holds (the whole point vs
    an exact paragraph-set join: at 100 TB the exact set is corpus-sized,
    the bitmap is m bits); batch paragraphs pay k narrow probe rows each.
    The exact-verify leg here grades the false-positive rate honestly —
    production keeps it only for the bloom-positive remainder (vanishing
    by construction), exactly like bloom_decontaminate.  100-TB sizing:
    m scales to ~1.44 * n * ln(1/fp) bits held as a position table per
    executor via broadcast; the chunker + probes ride the scan, the
    rewrite is one doc-keyed shuffle."""
    paras = _paras_df(spark, sf_dir)
    hist = paras.filter(F.col("doc_id") % 4 < 2)
    batch = paras.filter(F.col("doc_id") % 4 >= 2)
    probed = _bloom_probe(batch, _para_bits(hist))
    return _bff_rewrite(probed, hist.select("para"))


@register(
    "dedup_bloom_paragraphs_rolling",
    # the INCREMENTAL twin: day-1 (doc_id % 4 = 2) probes the landed
    # bitmap, day-1's SURVIVING paragraphs OR their bits into it (Bloom
    # union = position-set union — the mergeable-sketch property that
    # makes the bitmap a per-shard artifact at 100 TB), and day-2
    # (doc_id % 4 = 3) probes the GROWN bitmap.  Day-2's drops therefore
    # see both landed history and day-1 admissions — the rolling nightly
    # contract — and the same bloom-vs-exact audit grades the growth step.
    oracle=f"""
        WITH {_PARA_SQL},
        hist AS (SELECT doc_id FROM documents WHERE doc_id % 4 < 2),
        hbits AS (
            SELECT DISTINCT {_DUCK_BF_UNNEST}
            FROM paras JOIN hist USING (doc_id)
        ),
        d1 AS (
            SELECT p.* FROM paras p JOIN documents dd USING (doc_id)
            WHERE dd.doc_id % 4 = 2
        ),
        d1probe AS (
            SELECT doc_id, para_id, para,
                   {_DUCK_BF_TEST.format(bits='hbits')} AS bloom_pos
            FROM d1
        ),
        d1keep AS (SELECT DISTINCT para FROM d1probe WHERE NOT bloom_pos),
        gbits AS (
            SELECT pos FROM hbits
            UNION
            SELECT DISTINCT {_DUCK_BF_UNNEST} FROM d1keep
        ),
        gset AS (
            SELECT DISTINCT para FROM paras JOIN hist USING (doc_id)
            UNION
            SELECT para FROM d1keep
        ),
        d2 AS (
            SELECT p.* FROM paras p JOIN documents dd USING (doc_id)
            WHERE dd.doc_id % 4 = 3
        ),
        probe AS (
            SELECT doc_id, para_id, para,
                   {_DUCK_BF_TEST.format(bits='gbits')} AS bloom_pos,
                   para IN (SELECT para FROM gset) AS exact_pos
            FROM d2
        )
        SELECT doc_id,
               nullif(string_agg(para, ' ' ORDER BY para_id)
                          FILTER (WHERE NOT bloom_pos), '') AS clean_text,
               CAST(count(*) FILTER (WHERE NOT bloom_pos) AS BIGINT) AS n_kept,
               CAST(count(*) FILTER (WHERE bloom_pos) AS BIGINT)
                   AS n_bloom_dropped,
               CAST(count(*) FILTER (WHERE exact_pos) AS BIGINT)
                   AS n_exact_dropped,
               count(*) FILTER (WHERE bloom_pos)
                   >= count(*) FILTER (WHERE exact_pos) AS never_misses
        FROM probe
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("dedup", "bloom", "paragraph", "sketch", "incremental"),
)
def dedup_bloom_paragraphs_rolling(spark, sf_dir):
    """Rolling BFF: the bitmap is persisted state that GROWS by OR-ing in
    each admitted batch's positions — day-2's probe set is the position-
    set union of the landed bitmap and day-1's surviving paragraphs.
    100-TB shape: the bitmap union is a <= m-row distinct (constant
    state, the HLL-register merge discipline); each day's work is
    O(|batch|) probes against a broadcast; history text is never re-read
    after its bits landed.  The day-1 probe reuses the same broadcast
    bit table the day-2 union consumes, and the paragraph frame is the
    shared rotating-persisted chunk table."""
    paras = _paras_df(spark, sf_dir)
    hist = paras.filter(F.col("doc_id") % 4 < 2)
    hbits = _para_bits(hist)
    d1 = paras.filter(F.col("doc_id") % 4 == 2)
    d1keep = (
        _bloom_probe(d1, hbits)
        .filter(~F.col("bloom_pos"))
        .select("para")
        .distinct()
    )
    gbits = hbits.union(_para_bits(d1keep)).distinct()
    gset = hist.select("para").union(d1keep)
    d2 = paras.filter(F.col("doc_id") % 4 == 3)
    return _bff_rewrite(_bloom_probe(d2, gbits), gset)


@register(
    "quality_threshold_sweep",
    # the threshold-TUNING table a quality-filter deployment reads before
    # picking its cutoff (the FineWeb-Edu/fasttext-filter calibration
    # step): for each candidate threshold, how many documents and tokens
    # survive score >= t.  Scores are the quality_linear_score integer
    # milli-unit sums (exact on both engines); thresholds are a fixed
    # milli-unit grid, so the whole sweep is one scored scan + a
    # 9-row-broadcast theta join — no percentile, no sort.
    oracle=f"""
        WITH weights AS (
            SELECT b, (({_NIB.format(h="md5('w:' || b::VARCHAR)", i=1)} * 256
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=2)} * 16
                        + {_NIB.format(h="md5('w:' || b::VARCHAR)", i=3)}) % 2001) - 1000
                     AS w_mill
            FROM (SELECT unnest(range(0, {_BOW_D})) AS b)
        ),
        tok AS (
            SELECT doc_id, unnest(list_filter(
                       string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                       t -> length(t) > 0)) AS t
            FROM documents
        ),
        bucketed AS (
            SELECT doc_id, ({_NIB.format(h='md5(t)', i=1)} * 256
                            + {_NIB.format(h='md5(t)', i=2)} * 16
                            + {_NIB.format(h='md5(t)', i=3)}) % {_BOW_D} AS b
            FROM tok
        ),
        scored AS (
            SELECT doc_id, CAST(SUM(w_mill) AS BIGINT) AS s_mill,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM bucketed JOIN weights USING (b)
            GROUP BY doc_id
        ),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_all,
                   CAST(SUM(n_tokens) AS BIGINT) AS tok_all
            FROM scored
        ),
        grid AS (
            SELECT unnest([-2000, -1500, -1000, -500, 0,
                           500, 1000, 1500, 2000]) AS thr_mill
        )
        SELECT g.thr_mill,
               CAST(count(*) FILTER (WHERE s.s_mill >= g.thr_mill) AS BIGINT)
                   AS n_docs,
               CAST(COALESCE(SUM(s.n_tokens)
                        FILTER (WHERE s.s_mill >= g.thr_mill), 0) AS BIGINT)
                   AS n_tokens,
               CAST(count(*) FILTER (WHERE s.s_mill >= g.thr_mill) AS DOUBLE)
                   / t.n_all AS pct_docs,
               CAST(COALESCE(SUM(s.n_tokens)
                        FILTER (WHERE s.s_mill >= g.thr_mill), 0) AS DOUBLE)
                   / t.tok_all AS pct_tokens
        FROM grid g CROSS JOIN scored s CROSS JOIN tot t
        GROUP BY g.thr_mill, t.n_all, t.tok_all
        ORDER BY g.thr_mill
    """,
    tags=("quality", "calibration", "sweep", "training-prep"),
)
def quality_threshold_sweep(spark, sf_dir):
    """Quality-cutoff calibration sweep.  100-TB shape: scoring is the
    quality_linear_score serving plan (one token explode, D-row broadcast
    weight join, doc-keyed integer sum); the sweep itself is a 9-row
    broadcast cross join over the doc-level score table with conditional
    aggregation — corpus volume is touched once however many thresholds
    the grid holds, vs re-running the filter per candidate cutoff."""
    spark_range = spark.range(_BOW_D).select(F.col("id").cast("int").alias("b"))
    h = F.md5(F.concat(F.lit("w:"), F.col("b").cast("string")))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1  # noqa: E731
    weights = spark_range.select(
        "b", (((nib(1) * 256 + nib(2) * 16 + nib(3)) % 2001) - 1000).alias("w_mill")
    )
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    th = F.md5(F.col("t"))
    tnib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(th, p, 1)) - 1  # noqa: E731
    bucketed = tok.select(
        "doc_id", ((tnib(1) * 256 + tnib(2) * 16 + tnib(3)) % _BOW_D).alias("b")
    )
    scored = (
        bucketed.join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("w_mill").cast("bigint").alias("s_mill"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    tot = scored.agg(
        F.count(F.lit(1)).alias("n_all"), F.sum("n_tokens").alias("tok_all")
    )
    grid = spark.createDataFrame(
        [(t,) for t in (-2000, -1500, -1000, -500, 0, 500, 1000, 1500, 2000)],
        "thr_mill int",
    )
    surv = F.col("s_mill") >= F.col("thr_mill")
    return (
        scored.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(tot))
        .groupBy("thr_mill", "n_all", "tok_all")
        .agg(
            F.count(F.when(surv, 1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.when(surv, F.col("n_tokens"))), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .select(
            "thr_mill",
            "n_docs",
            "n_tokens",
            (F.col("n_docs").cast("double") / F.col("n_all")).alias("pct_docs"),
            (F.col("n_tokens").cast("double") / F.col("tok_all")).alias(
                "pct_tokens"
            ),
        )
        .orderBy("thr_mill")
    )
