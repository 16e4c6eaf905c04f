"""Embedding family: ANN (brute force / LSH / IVF / PQ), semantic dedup, recall gates, and embedding diagnostics.

Split out of plans/pipeline.py (same registrations, same semantics);
shared helpers live in pipeline.py, the aggregator that imports this
module at the bottom.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark.functions import text as TX
from kwack_spark.functions import vectors as V
from kwack_spark.operators import similarity
from kwack_spark import scratch, stages
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.plans.pipeline import (  # shared core
    _COS,
    _IVF_ASSIGNED_CTES,
    _cos_sql,
    _lsh_plane_sign_sql,
    _toks,
)


@register(
    "ann_brute_force_topk",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_COS} AS cosine
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS rank
            FROM pairs
        )
        SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann"),
)
def ann_brute_force_topk(spark, sf_dir):
    """BLAS candidate selection + exact JVM re-score (similarity.py) — same
    bit-exact output as the O(n²) pair-fold plan, ~50x faster."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_vectorized(e, e, "vec_id", "embedding", k=3)

@register(
    "ann_brute_force_distributed",
    # the exhaustive exact scan past the broadcast cap: identical top-k
    # semantics, executed by the inverted-roles branch (query batch
    # broadcast, corpus streams partition-parallel emitting per-Arrow-batch
    # local top-k, exact JVM re-score restores the global ranking) — the
    # oracle is the same all-pairs ranking restricted to the query batch
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_COS} AS cosine
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 100
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS rank
            FROM pairs
        )
        SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "scale"),
)
def ann_brute_force_distributed(spark, sf_dir):
    """brute_force_topk_vectorized forced past its broadcast cap (cap 200 <
    corpus size at every test SF) so the distributed degrade executes end
    to end: the corpus streams through the executors' Arrow batches and
    only the 100-row query batch is broadcast.  Results identical to the
    broadcast branch — graded against the same exhaustive ranking."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 100)
    return similarity.brute_force_topk_vectorized(
        e, q, "vec_id", "embedding", k=3, max_index_rows=200
    )

@register(
    "hard_negative_mining",
    # contrastive-training data prep: for every vector, the top-3 most
    # similar vectors with a DIFFERENT label — the "hard negatives" a
    # retrieval/embedding trainer pairs against each anchor.  Same BLAS
    # select + exact re-score machinery as ann_brute_force_topk, with the
    # label mask applied inside the broadcast-index scan.
    oracle=f"""
        WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_COS} AS cosine
            FROM v q JOIN v c ON q.label <> c.label
        ),
        ranked AS (
            SELECT query_id, corpus_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS rank
            FROM pairs
        )
        SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
    tags=("similarity", "ann", "contrastive"),
)
def hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive training: anchors stream
    partition-parallel against the broadcast L2-normalized index; the
    different-label mask runs inside the numpy scan (no join, no shuffle),
    and only n_q*k survivors reach the exact JVM re-score.  At 100 TB the
    index side is the capped/LSH-shardable part, the anchor side is
    embarrassingly parallel."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk_vectorized(
        e, e, "vec_id", "embedding", k=3, label_col="label"
    )

@register(
    "ann_lsh_bucketed",
    # md5-parity hyperplanes are computable in both engines, so the FULL LSH
    # pipeline (bucketing + within-bucket cosine filter) is hash-checkable.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sig AS (SELECT vec_id, v, {" || ".join(_lsh_plane_sign_sql(p) for p in range(4))} AS bucket FROM v)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a", "b")} AS cosine
        FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a", "b")} >= 0.3
    """,
    tags=("similarity", "ann", "lsh"),
)
def ann_lsh_bucketed(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_pairs(e, "vec_id", "embedding", planes=4, dim=64, threshold=0.3)

@register(
    "ann_lsh_adaptive",
    # the scale-safe LSH: signature width follows ceil(log2(n/256))+4, so
    # bucket occupancy — and within-bucket pairwise work per row — stays
    # constant as the corpus grows (fixed-width LSH measures quadratic,
    # SCALING.md).  The width is data-dependent yet the whole operator is
    # one declarative plan on BOTH engines: signatures are built at 12
    # planes and prefix-truncated to the policy width computed from a
    # 1-row count aggregate (plane bits are independent, so the k-prefix
    # of a 12-plane signature IS the k-plane signature).
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sig AS (SELECT vec_id, v, {" || ".join(_lsh_plane_sign_sql(p) for p in range(12))} AS full_sig FROM v),
        n1 AS (SELECT count(*) AS n FROM embeddings),
        t AS (
            SELECT vec_id, v,
                   substr(full_sig, 1,
                          CASE WHEN n <= 256 THEN 4
                               ELSE GREATEST(4, CAST(CEIL(LOG2(n / 256.0)) AS INT) + 4)
                          END) AS bucket
            FROM sig, n1
        )
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a", "b")} AS cosine
        FROM t a JOIN t b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a", "b")} >= 0.3
    """,
    tags=("similarity", "ann", "lsh", "scale"),
)
def ann_lsh_adaptive(spark, sf_dir):
    """Adaptive-width LSH near-neighbor pairs (operators/similarity.py:
    lsh_bucketed_pairs_adaptive) — the production form of ann_lsh_bucketed."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_pairs_adaptive(
        e, "vec_id", "embedding", dim=64, threshold=0.3
    )

@register(
    "ann_lsh_multitable",
    # multi-probe recall lever: union of two INDEPENDENT hash tables
    # (plane index ranges [0,4) and [4,8)) — a pair missed by one table's
    # bucketing is found by the other with independent probability; UNION
    # (set semantics) merges the tables' identical-row pair sets
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        s0 AS (SELECT vec_id, v, {" || ".join(_lsh_plane_sign_sql(p) for p in range(0, 4))} AS bucket FROM v),
        s1 AS (SELECT vec_id, v, {" || ".join(_lsh_plane_sign_sql(p) for p in range(4, 8))} AS bucket FROM v)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a", "b")} AS cosine
        FROM s0 a JOIN s0 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a", "b")} >= 0.3
        UNION
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a", "b")} AS cosine
        FROM s1 a JOIN s1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_cos_sql("a", "b")} >= 0.3
    """,
    tags=("similarity", "ann", "lsh", "multiprobe"),
)
def ann_lsh_multitable(spark, sf_dir):
    """Two-table multi-probe LSH (operators/similarity.py:
    lsh_multitable_pairs) — the recall-side complement of
    ann_lsh_adaptive's occupancy policy."""
    e = T(spark, sf_dir, "embeddings")
    return similarity.lsh_multitable_pairs(
        e, "vec_id", "embedding", planes=4, dim=64, threshold=0.3, n_tables=2
    )

@register(
    "embedding_quantize_int8",
    # symmetric int8 quantization round-trip quality: per-vector max
    # reconstruction error must stay within half a quantization step
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM v
        ),
        r AS (
            SELECT vec_id, scale,
                   list_transform(v, x -> round(x / scale)::INT) AS qv,
                   list_max(
                       [abs(v[i] - round(v[i] / scale) * scale)
                        for i in generate_series(1, len(v))]
                   ) AS max_err
            FROM q
        )
        SELECT vec_id,
               scale,
               qv[1] AS q_first,
               len(qv) AS dim,
               max_err <= scale * 0.5 + 1e-12 AS within_half_step
        FROM r
    """,
    tags=("embedding", "quantization"),
)
def embedding_quantize_int8(spark, sf_dir):
    """int8 embedding quantization (4x storage cut for 100 TB embedding
    tables) with a reconstruction-error bound check — quantize, dequantize,
    and verify max error <= scale/2 per vector, all JVM-side."""
    e = T(spark, sf_dir, "embeddings")
    v = V.as_double("embedding")
    qs = V.quantize_int8(v)
    deq = V.dequantize_int8(qs)
    err = F.array_max(F.zip_with(v, deq, lambda a, b: F.abs(a - b)))
    return e.select(
        "vec_id",
        qs.getField("scale").alias("scale"),
        F.element_at(qs.getField("q"), 1).alias("q_first"),
        F.size(qs.getField("q")).alias("dim"),
        (err <= qs.getField("scale") * 0.5 + 1e-12).alias("within_half_step"),
    )

@register(
    "ann_ivf_topk",
    # deterministic centroids (lowest-id seeds + one integer-exact Lloyd
    # refinement) make the full IVF pipeline — assign, refine, probe,
    # rerank — SQL-expressible
    oracle=f"""
        WITH {_IVF_ASSIGNED_CTES},
        probes AS (
            SELECT query_id, qv, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.cv)
                                    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v q CROSS JOIN cents c
            ) WHERE rn <= 6
        )
        SELECT query_id, corpus_id, cosine, rank FROM (
            SELECT p.query_id, a.corpus_id,
                   list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_dot_product(p.qv, a.v)
                                / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) DESC,
                                a.corpus_id
                   ) AS rank
            FROM probes p JOIN assigned a USING (list_id)
            WHERE p.query_id <> a.corpus_id
        ) WHERE rank <= 3
    """,
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        e, e, "vec_id", "embedding", k=3, n_lists=16, n_probe=6, refine_iters=1
    )

@register(
    "ann_pq_topk",
    # product quantization: codebook = subvectors of the 16 lowest-id
    # vectors per subspace; encode = argmin L2 (fixed-order fold, tie ->
    # smaller code); score = dot(query, reconstructed corpus vector)
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16)
        ),
        sub AS (SELECT unnest(range(0, 8)) AS s),
        codebook AS (
            SELECT sub.s, seeds.code_id,
                   list_slice(seeds.v, sub.s * 8 + 1, sub.s * 8 + 8) AS cv
            FROM seeds CROSS JOIN sub
        ),
        corpus_sub AS (
            SELECT a.vec_id AS corpus_id, sub.s,
                   list_slice(a.v, sub.s * 8 + 1, sub.s * 8 + 8) AS xv
            FROM v a CROSS JOIN sub
        ),
        codes AS (
            SELECT corpus_id, s, cv FROM (
                SELECT cs.corpus_id, cs.s, cb.cv,
                       row_number() OVER (
                           PARTITION BY cs.corpus_id, cs.s
                           ORDER BY list_dot_product(cs.xv, cs.xv)
                                    - 2.0 * list_dot_product(cs.xv, cb.cv)
                                    + list_dot_product(cb.cv, cb.cv),
                                    cb.code_id
                       ) AS rn
                FROM corpus_sub cs JOIN codebook cb USING (s)
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT corpus_id, flatten(list(cv ORDER BY s)) AS xhat
            FROM codes GROUP BY corpus_id
        )
        SELECT query_id, corpus_id, adc, rank FROM (
            SELECT q.vec_id AS query_id, r.corpus_id,
                   list_dot_product(q.v, r.xhat) AS adc,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.v, r.xhat) DESC, r.corpus_id
                   ) AS rank
            FROM v q CROSS JOIN recon r
            WHERE q.vec_id <> r.corpus_id
        ) WHERE rank <= 3
    """,
    tags=("similarity", "ann", "pq"),
)
def ann_pq_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.pq_topk(e, e, "vec_id", "embedding", k=3, m=8, ksub=16, dim=64)

@register(
    "ann_pq_distributed",
    # standalone PQ past the broadcast cap: identical ADC semantics, but
    # executed by the distributed branch (coded table streams partition-
    # parallel, query batch broadcast, per-Arrow-batch local top-k, exact
    # JVM re-score) — the oracle is the same exhaustive ADC scan restricted
    # to the serving-shaped query batch
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16)
        ),
        sub AS (SELECT unnest(range(0, 8)) AS s),
        codebook AS (
            SELECT sub.s, seeds.code_id,
                   list_slice(seeds.v, sub.s * 8 + 1, sub.s * 8 + 8) AS cv
            FROM seeds CROSS JOIN sub
        ),
        corpus_sub AS (
            SELECT a.vec_id AS corpus_id, sub.s,
                   list_slice(a.v, sub.s * 8 + 1, sub.s * 8 + 8) AS xv
            FROM v a CROSS JOIN sub
        ),
        codes AS (
            SELECT corpus_id, s, cv FROM (
                SELECT cs.corpus_id, cs.s, cb.cv,
                       row_number() OVER (
                           PARTITION BY cs.corpus_id, cs.s
                           ORDER BY list_dot_product(cs.xv, cs.xv)
                                    - 2.0 * list_dot_product(cs.xv, cb.cv)
                                    + list_dot_product(cb.cv, cb.cv),
                                    cb.code_id
                       ) AS rn
                FROM corpus_sub cs JOIN codebook cb USING (s)
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT corpus_id, flatten(list(cv ORDER BY s)) AS xhat
            FROM codes GROUP BY corpus_id
        )
        SELECT query_id, corpus_id, adc, rank FROM (
            SELECT q.vec_id AS query_id, r.corpus_id,
                   list_dot_product(q.v, r.xhat) AS adc,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(q.v, r.xhat) DESC, r.corpus_id
                   ) AS rank
            FROM v q CROSS JOIN recon r
            WHERE q.vec_id <> r.corpus_id AND q.vec_id < 100
        ) WHERE rank <= 3
    """,
    tags=("similarity", "ann", "pq", "scale"),
)
def ann_pq_distributed(spark, sf_dir):
    """pq_topk forced past its broadcast cap (cap 200 < corpus size at
    every test SF) so the distributed degrade executes end-to-end: the
    persisted coded table never leaves the executors, the 100-row query
    batch is the broadcast side, candidates are per-batch local top-k.
    Results are identical to the broadcast branch — the driver grades that
    via the same exhaustive-ADC oracle."""
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 100)
    return similarity.pq_topk(
        e, q, "vec_id", "embedding", k=3, m=8, ksub=16, dim=64, max_index_rows=200
    )

@register(
    "ann_ivf_pq_topk",
    # IVF-PQ composed: probe 4 of 16 inverted lists (IVF bounds WHICH
    # vectors are scored), score by ADC over PQ-reconstructed vectors (PQ
    # bounds WHAT is stored) — the production trillion-vector index shape,
    # replayed deterministically in SQL
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents AS (
            SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 16
        ),
        assigned AS (
            SELECT corpus_id, cid AS list_id FROM (
                SELECT a.vec_id AS corpus_id, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_dot_product(a.v, c.cv)
                                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        seeds AS (
            SELECT v, row_number() OVER (ORDER BY vec_id) - 1 AS code_id
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 16)
        ),
        sub AS (SELECT unnest(range(0, 8)) AS s),
        codebook AS (
            SELECT sub.s, seeds.code_id,
                   list_slice(seeds.v, sub.s * 8 + 1, sub.s * 8 + 8) AS cv
            FROM seeds CROSS JOIN sub
        ),
        corpus_sub AS (
            SELECT a.vec_id AS corpus_id, sub.s,
                   list_slice(a.v, sub.s * 8 + 1, sub.s * 8 + 8) AS xv
            FROM v a CROSS JOIN sub
        ),
        codes AS (
            SELECT corpus_id, s, cv FROM (
                SELECT cs.corpus_id, cs.s, cb.cv,
                       row_number() OVER (
                           PARTITION BY cs.corpus_id, cs.s
                           ORDER BY list_dot_product(cs.xv, cs.xv)
                                    - 2.0 * list_dot_product(cs.xv, cb.cv)
                                    + list_dot_product(cb.cv, cb.cv),
                                    cb.code_id
                       ) AS rn
                FROM corpus_sub cs JOIN codebook cb USING (s)
            ) WHERE rn = 1
        ),
        recon AS (
            SELECT corpus_id, flatten(list(cv ORDER BY s)) AS xhat
            FROM codes GROUP BY corpus_id
        ),
        probes AS (
            SELECT query_id, qv, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.cv)
                                    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v q CROSS JOIN cents c
            ) WHERE rn <= 4
        )
        SELECT query_id, corpus_id, adc, rank FROM (
            SELECT p.query_id, a.corpus_id,
                   list_dot_product(p.qv, r.xhat) AS adc,
                   row_number() OVER (
                       PARTITION BY p.query_id
                       ORDER BY list_dot_product(p.qv, r.xhat) DESC, a.corpus_id
                   ) AS rank
            FROM probes p
            JOIN assigned a USING (list_id)
            JOIN recon r ON r.corpus_id = a.corpus_id
            WHERE p.query_id <> a.corpus_id
        ) WHERE rank <= 3
    """,
    tags=("similarity", "ann", "ivf", "pq"),
)
def ann_ivf_pq_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        e, e, "vec_id", "embedding", k=3, n_lists=16, n_probe=4, m=8, ksub=16, dim=64
    )

# 6-step greedy MMR oracle: each step is a CTE picking the argmax of
# 0.7*rel - 0.3*max(sim to everything already selected) over the not-yet-
# selected pool, exactly the Spark loop below — the bpe_merge_training
# unroll pattern applied to diverse selection.
def _mmr_steps_sql(k: int) -> str:
    blocks = []
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, i)
        )
        blocks.append(f"""
        s{i} AS (
            SELECT p.vec_id,
                   0.7::DOUBLE * p.rel - 0.3::DOUBLE * (
                       SELECT max(s.cos) FROM sims s
                       WHERE s.ia = p.vec_id AND s.ib IN ({prev})
                   ) AS score
            FROM pool p
            WHERE p.vec_id NOT IN ({prev})
            ORDER BY score DESC, p.vec_id LIMIT 1
        )""")
    union = "\n            UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, vec_id, score FROM s{i}"
        for i in range(1, k + 1)
    )
    return ",".join(blocks) + f"""
        SELECT rank, vec_id, score FROM ({union}) ORDER BY rank
    """

@register(
    "mmr_diverse_topk",
    # maximal marginal relevance: the diverse-selection pass an eval-set or
    # few-shot-example curator runs after retrieval — greedily pick k items
    # maximizing lambda*relevance - (1-lambda)*max-similarity-to-selected
    # (Carbonell & Goldstein 1998), lambda=0.7, k=6, over the top-24
    # retrieval pool for the lowest-id probe vector.  Scores stay
    # bit-comparable because both engines evaluate the same cosine form
    # (list_dot_product order) and the same 0.7*rel - 0.3*maxsim shape;
    # ties break on vec_id.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1),
        rel AS (
            SELECT c.vec_id, {_cos_sql("q", "c")} AS rel, c.v
            FROM v c, q WHERE c.vec_id <> q.vec_id
        ),
        pool AS (
            SELECT vec_id, rel, v FROM rel ORDER BY rel DESC, vec_id LIMIT 24
        ),
        sims AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib, {_cos_sql("a", "b")} AS cos
            FROM pool a JOIN pool b ON a.vec_id <> b.vec_id
        ),
        s1 AS (
            SELECT vec_id, 0.7::DOUBLE * rel - 0.3::DOUBLE * 0.0 AS score
            FROM pool ORDER BY score DESC, vec_id LIMIT 1
        ),{_mmr_steps_sql(6)}
    """,
    tags=("similarity", "curation", "mmr", "iterative"),
)
def mmr_diverse_topk(spark, sf_dir):
    """Greedy MMR selection (k=6, lambda=0.7) over the top-24 cosine
    retrieval pool of the lowest-id probe vector — the diversity-aware
    re-rank between ANN retrieval and human/LLM consumption.  100-TB
    shape: relevance is ONE broadcast-probe scan of the corpus (in
    production the ANN index supplies the pool instead), the pool is a
    constant-size exact top-k (TakeOrdered — no global sort), and the
    greedy loop runs entirely on the CONSTANT-sized pool: a 24x24
    similarity table persisted once, then k 1-row argmax collects (the
    BPE-trainer scalar-per-step pattern — the merge/selection must be
    known to build the next step's plan).  The corpus is never touched
    again after the pool cut."""
    # 0.3 stated literally: Python's 1 - 0.7 is 0.30000000000000004,
    # one ULP off the SQL's 0.3::DOUBLE
    lam, mu, k, pool_n = 0.7, 0.3, 6, 24
    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", V.as_double("embedding").alias("v")
    )
    qrow = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    rel = (
        emb.crossJoin(F.broadcast(qrow))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "vec_id", "v", V.cosine(F.col("v"), F.col("qv")).alias("rel")
        )
    )
    pool = stages.hold(
        "mmr_pool", rel.orderBy(F.desc("rel"), "vec_id").limit(pool_n)
    )
    a = pool.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = pool.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    sims = stages.hold(
        "mmr_sims",
        a.join(b, F.col("ia") != F.col("ib")).select(
            "ia", "ib", V.cosine(F.col("va"), F.col("vb")).alias("cos")
        ),
    )
    selected: list[int] = []
    rows: list[tuple[int, int, float]] = []
    for step in range(1, k + 1):
        if not selected:
            scored = pool.select(
                "vec_id",
                (F.lit(lam) * F.col("rel") - F.lit(mu) * F.lit(0.0)).alias(
                    "score"
                ),
            )
        else:
            ms = (
                sims.where(F.col("ib").isin(selected))
                .groupBy("ia")
                .agg(F.max("cos").alias("maxsim"))
            )
            scored = (
                pool.where(~F.col("vec_id").isin(selected))
                .join(ms, F.col("vec_id") == F.col("ia"))
                .select(
                    "vec_id",
                    (
                        F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("maxsim")
                    ).alias("score"),
                )
            )
        top = scored.orderBy(F.desc("score"), "vec_id").limit(1).collect()
        rows.append((step, int(top[0]["vec_id"]), float(top[0]["score"])))
        selected.append(int(top[0]["vec_id"]))
    return spark.createDataFrame(
        rows, "rank bigint, vec_id bigint, score double"
    ).orderBy("rank")

@register(
    "embedding_matryoshka_recall",
    # Matryoshka-truncation audit (Kusupati et al. 2022 MRL): top-5 recall
    # when ranking by the embedding's PREFIX dims m in {8, 16, 32} vs the
    # full-64-dim exact top-5, fixed 8-query batch — the storage/recall
    # trade curve for truncating a nested-trained embedding column, the
    # deployment decision MRL exists for.  The JL curve
    # (jl_recall_vs_dim_curve) answers the same question for a RANDOM
    # projection of a non-nested embedding; this one slices the raw
    # learned coordinates, no projection pass at all.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
        ex AS (
            SELECT query_id, corpus_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos_sql("a", "b")} DESC, c.vec_id
                       ) AS rnk
                FROM q JOIN v a ON a.vec_id = q.vec_id
                JOIN v b ON b.vec_id <> q.vec_id
                JOIN v c ON c.vec_id = b.vec_id
            ) WHERE rnk <= 5
        ),
        cfg(m) AS (VALUES (8), (16), (32)),
        sk AS (
            SELECT m, query_id, corpus_id FROM (
                SELECT cfg.m, q.vec_id AS query_id, c.vec_id AS corpus_id,
                       row_number() OVER (
                           PARTITION BY cfg.m, q.vec_id
                           ORDER BY list_dot_product(a.v[1:cfg.m], b.v[1:cfg.m])
                                    / (sqrt(list_dot_product(a.v[1:cfg.m], a.v[1:cfg.m]))
                                       * sqrt(list_dot_product(b.v[1:cfg.m], b.v[1:cfg.m]))) DESC,
                                    c.vec_id
                       ) AS rnk
                FROM cfg, q
                JOIN v a ON a.vec_id = q.vec_id
                JOIN v b ON b.vec_id <> q.vec_id
                JOIN v c ON c.vec_id = b.vec_id
            ) WHERE rnk <= 5
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        mt AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_matched
            FROM sk JOIN ex USING (query_id, corpus_id) GROUP BY m
        )
        SELECT cfg.m AS trunc_dim, coalesce(mt.n_matched, 0) AS n_matched,
               t.n_exact,
               CAST(coalesce(mt.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
        FROM cfg LEFT JOIN mt ON mt.m = cfg.m CROSS JOIN t
    """,
    tags=("embedding", "ann", "truncation", "tuning"),
)
def embedding_matryoshka_recall(spark, sf_dir):
    """Prefix-truncation recall curve over the raw embedding coordinates.
    100-TB shape: NO projection pass (truncation is a zero-cost slice in
    the ranking expression), fixed 8-query batch keeps the pair table
    8xN per config, ranking is k-bounded by the window filter, and the
    recall join touches only top-5 lists; the exact top-5 truth set is
    persisted once and shared by all three configs."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", V.as_double("embedding").alias("v"))
    q_ids = v.orderBy("vec_id").limit(8).select(F.col("vec_id").alias("query_id"))

    ex_pairs = (
        q_ids.join(
            v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qa")),
            "query_id",
        )
        .crossJoin(v.select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("qb")))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id", "corpus_id", V.cosine(F.col("qa"), F.col("qb")).alias("cos")
        )
    )
    wex = Window.partitionBy("query_id").orderBy(F.desc("cos"), "corpus_id")
    ex = stages.hold(
        "mrl_exact",
        ex_pairs.select(
            "query_id", "corpus_id", F.row_number().over(wex).alias("rnk")
        )
        .filter(F.col("rnk") <= 5)
        .select("query_id", "corpus_id"),
    )

    cfg = spark.createDataFrame([(8,), (16,), (32,)], "m int")
    sk_pairs = (
        q_ids.join(
            v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("ya")),
            "query_id",
        )
        .crossJoin(v.select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("yb")))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .crossJoin(F.broadcast(cfg))
        .select(
            "m",
            "query_id",
            "corpus_id",
            V.cosine(
                F.slice("ya", F.lit(1), F.col("m")),
                F.slice("yb", F.lit(1), F.col("m")),
            ).alias("cos"),
        )
    )
    wsk = Window.partitionBy("m", "query_id").orderBy(F.desc("cos"), "corpus_id")
    sk = (
        sk_pairs.select(
            "m", "query_id", "corpus_id", F.row_number().over(wsk).alias("rnk")
        )
        .filter(F.col("rnk") <= 5)
        .select("m", "query_id", "corpus_id")
    )
    t = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    mt = sk.join(ex, ["query_id", "corpus_id"]).groupBy("m").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return (
        cfg.join(mt, "m", "left")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("m").alias("trunc_dim"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            "n_exact",
            (
                F.coalesce("n_matched", F.lit(0)).cast("double") / F.col("n_exact")
            ).alias("recall"),
        )
    )

_POW2_43 = 8796093022208.0  # 2^43: scales every float32 component to an integer

@register(
    "embedding_centroid_by_label",
    # per-label mean embedding (the class-centroid table an IVF/k-means
    # pipeline maintains).  Exactness: comp*2^43 is a power-of-two scale
    # (no rounding) that makes every float32-derived component an integer,
    # so the decimal sum is order-independent and both engines divide the
    # identical integer back down in the same IEEE sequence.
    oracle=f"""
        WITH c AS (
            SELECT label, u.e.pos AS pos, u.e.comp AS comp FROM (
                SELECT label,
                       unnest(list_transform(embedding::DOUBLE[],
                              (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                FROM embeddings
            ) u
        )
        SELECT label, pos,
               CAST(SUM(CAST(comp * {_POW2_43} AS DECIMAL(38,0))) AS DOUBLE)
                   / {_POW2_43} / COUNT(*) AS mean_val,
               COUNT(*) AS n
        FROM c GROUP BY label, pos
    """,
    tags=("embedding", "centroid"),
)
def embedding_centroid_by_label(spark, sf_dir):
    """Per-(label, dimension) centroid: posexplode -> one partial+final
    aggregation on the (label, pos) key — ~n_labels*dim output rows however
    large the input.  At 100 TB this is the centroid-update half of a
    distributed k-means iteration."""
    e = T(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode(V.as_double("embedding")).alias("pos", "comp"))
    return x.groupBy("label", "pos").agg(
        (
            F.sum((F.col("comp") * _POW2_43).cast("decimal(38,0)")).cast("double")
            / _POW2_43
            / F.count(F.lit(1))
        ).alias("mean_val"),
        F.count(F.lit(1)).alias("n"),
    )

@register(
    "embedding_dim_stats",
    # per-DIMENSION corpus statistics (mean/variance/min/max) — the feature
    # health check run before training on an embedding column (dead dims,
    # scale drift, clipped ranges).  Exactness: comp*2^43 is an integer
    # (power-of-two scale, no rounding), so the first-moment decimal sum is
    # order-free; the second moment squares the DECIMAL(19,0) integer into
    # DECIMAL(38,0) (n <= ~2^43 -> n^2 <= ~10^26, no overflow) so it is
    # exact too; both engines then run the identical double sequence
    # (cast, /2^43 or /2^86, /n, subtract mean^2).
    oracle=f"""
        WITH c AS (
            SELECT u.e.pos AS pos, u.e.comp AS comp FROM (
                SELECT unnest(list_transform(embedding::DOUBLE[],
                       (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                FROM embeddings
            ) u
        ),
        s AS (
            SELECT pos,
                   COUNT(*) AS n,
                   SUM(CAST(comp * {_POW2_43} AS DECIMAL(19,0))) AS s1,
                   SUM(CAST(comp * {_POW2_43} AS DECIMAL(19,0))
                       * CAST(comp * {_POW2_43} AS DECIMAL(19,0))) AS s2,
                   MIN(comp) AS min_val,
                   MAX(comp) AS max_val
            FROM c GROUP BY pos
        )
        SELECT pos, n,
               CAST(s1 AS DOUBLE) / {_POW2_43} / n AS mean_val,
               CAST(s2 AS DOUBLE) / {_POW2_43} / {_POW2_43} / n
                   - (CAST(s1 AS DOUBLE) / {_POW2_43} / n)
                     * (CAST(s1 AS DOUBLE) / {_POW2_43} / n) AS var_val,
               min_val, max_val
        FROM s
    """,
    tags=("embedding", "stats"),
)
def embedding_dim_stats(spark, sf_dir):
    """posexplode -> one partial+final aggregation keyed on dimension —
    output is O(dim) rows however large the corpus, the same rollup shape
    a 100 TB feature-health job has.  Exact decimal moments (see oracle
    comment); min/max are plain doubles (order-free)."""
    e = T(spark, sf_dir, "embeddings")
    x = e.select(F.posexplode(V.as_double("embedding")).alias("pos", "comp"))
    iv = (F.col("comp") * _POW2_43).cast("decimal(19,0)")
    agg = x.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(iv).alias("s1"),
        F.sum(iv * iv).alias("s2"),
        F.min("comp").alias("min_val"),
        F.max("comp").alias("max_val"),
    )
    mean = F.col("s1").cast("double") / _POW2_43 / F.col("n")
    return agg.select(
        "pos",
        "n",
        mean.alias("mean_val"),
        (
            F.col("s2").cast("double") / _POW2_43 / _POW2_43 / F.col("n")
            - mean * mean
        ).alias("var_val"),
        "min_val",
        "max_val",
    )

@register(
    "embedding_norm_extremes",
    # embedding-health outlier scan, RANK-based (no moment sums — summing
    # irrational norms would be order-dependent across engines, and the
    # exact-decimal second moment overflows DECIMAL(38)): the 25 largest
    # and 25 smallest squared norms, each tail ordered deterministically
    # by (sq_norm, vec_id).  Squared norms are exact integers under the
    # 2^86 scale; the double cast rounds identically on both engines.
    oracle=f"""
        WITH sq AS (
            SELECT vec_id,
                   CAST(SUM(CAST(u.c * {_POW2_43} AS DECIMAL(19,0))
                            * CAST(u.c * {_POW2_43} AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS s2
            FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS c FROM embeddings) u
            GROUP BY vec_id
        ),
        v AS (SELECT vec_id, CAST(s2 AS DOUBLE) / {_POW2_43} / {_POW2_43} AS sq_norm FROM sq),
        hi AS (SELECT vec_id, sq_norm, 'high' AS tail FROM v
               ORDER BY sq_norm DESC, vec_id LIMIT 25),
        lo AS (SELECT vec_id, sq_norm, 'low' AS tail FROM v
               ORDER BY sq_norm ASC, vec_id LIMIT 25)
        SELECT * FROM hi UNION ALL SELECT * FROM lo
    """,
    tags=("embedding", "outlier", "stats"),
)
def embedding_norm_extremes(spark, sf_dir):
    """Per-vector exact squared norm (narrow pass) then two distributed
    top-k selections (TakeOrderedAndProject — no global sort, no
    single-partition window): the sweep that catches corrupted or
    mis-scaled vectors before training.  Output is 2k rows at any corpus
    size."""
    e = T(spark, sf_dir, "embeddings")
    comp = e.select("vec_id", F.explode(V.as_double("embedding")).alias("c"))
    iv = (F.col("c") * _POW2_43).cast("decimal(19,0)")
    v = (
        comp.groupBy("vec_id")
        .agg(F.sum(iv * iv).alias("s2"))
        .select(
            "vec_id",
            (F.col("s2").cast("double") / _POW2_43 / _POW2_43).alias("sq_norm"),
        )
    )
    hi = (
        v.orderBy(F.desc("sq_norm"), "vec_id")
        .limit(25)
        .select("vec_id", "sq_norm", F.lit("high").alias("tail"))
    )
    lo = (
        v.orderBy(F.asc("sq_norm"), "vec_id")
        .limit(25)
        .select("vec_id", "sq_norm", F.lit("low").alias("tail"))
    )
    return hi.unionByName(lo)

from kwack_spark.plans.registry import QUERIES as _Q  # noqa: E402

@register(
    "ann_ivf_recall",
    # recall@3 of the IVF index vs the exact top-3: the quality number an
    # approximate index must publish.  Integer-ratio exact (matched / total)
    # — composed from the two already-registered pipelines' own oracles, so
    # the three stay in lockstep by construction.
    oracle=f"""
        SELECT count(*) AS n_matched,
               (SELECT count(*) FROM ({_Q["ann_brute_force_topk"].oracle}) b)
                   AS n_exact,
               CAST(count(*) AS DOUBLE)
                   / (SELECT count(*) FROM ({_Q["ann_brute_force_topk"].oracle}) b2)
                   AS recall
        FROM ({_Q["ann_ivf_topk"].oracle}) ivf
        JOIN ({_Q["ann_brute_force_topk"].oracle}) bf
          ON ivf.query_id = bf.query_id AND ivf.corpus_id = bf.corpus_id
    """,
    tags=("similarity", "ann", "quality-gate"),
)
def ann_ivf_recall(spark, sf_dir):
    """How much the IVF approximation loses: |IVF∩exact| / |exact| over all
    queries' top-3 sets.  At 100 TB this is the recurring audit query run on
    a sampled query set after every index rebuild; the join is tiny (k rows
    per query on both sides)."""
    ivf = _Q["ann_ivf_topk"].fn(spark, sf_dir)
    bf = _Q["ann_brute_force_topk"].fn(spark, sf_dir)
    matched = ivf.join(bf, ["query_id", "corpus_id"], "inner").count()
    n_exact = bf.count()
    import pyspark.sql.types as T_

    # NULL recall on an empty truth set (a degenerate sample), matching
    # DuckDB's x/0 -> NULL instead of raising ZeroDivisionError
    return spark.createDataFrame(
        [(matched, n_exact, float(matched) / n_exact if n_exact else None)],
        T_.StructType(
            [
                T_.StructField("n_matched", T_.LongType(), False),
                T_.StructField("n_exact", T_.LongType(), False),
                T_.StructField("recall", T_.DoubleType(), True),
            ]
        ),
    )

@register(
    "ann_index_persist_roundtrip",
    # the index-as-artifact contract: ivf_assign's centroids + assignment
    # tables land as PLAIN PARQUET, a fresh session reads them back, and
    # the probe over the reloaded index must return EXACTLY what the
    # in-memory compose returns — same oracle as ann_ivf_topk, so any
    # loss in the roundtrip (dropped norm column, float truncation, row
    # reorder) fails the hash.  This is the operational path at 100 TB:
    # build/train once, write, amortize over every query batch.
    oracle=None,  # set right below to ann_ivf_topk's oracle verbatim
    tags=("similarity", "ann", "index", "persistence"),
)
def ann_index_persist_roundtrip(spark, sf_dir):
    """IVF index persistence roundtrip: assign (n_lists=16, 1 Lloyd
    refine — the exact configuration ann_ivf_topk composes), write the
    (cid, cv) and (corpus_id, v, list_id) tables to parquet, read them
    back, probe with n_probe=6.  ivf_probe_topk re-derives the norm
    column a parquet roundtrip drops, so the reloaded index is
    bit-equivalent; at scale the assigned table would land BUCKETED on
    list_id so probes co-locate."""

    e = T(spark, sf_dir, "embeddings")
    cents, assigned = similarity.ivf_assign(
        e, "vec_id", "embedding", n_lists=16, refine_iters=1
    )
    idx_dir = scratch.scratch_dir(spark, "ivf_idx")
    cents.select("cid", "cv").write.mode("overwrite").parquet(f"{idx_dir}/cents")
    assigned.write.mode("overwrite").parquet(f"{idx_dir}/assigned")
    cents_r = spark.read.parquet(f"{idx_dir}/cents")
    assigned_r = spark.read.parquet(f"{idx_dir}/assigned")
    return similarity.ivf_probe_topk(
        cents_r, assigned_r, e, "vec_id", "embedding", k=3, n_probe=6
    )

# the roundtrip must answer exactly what the in-memory index answers
_Q["ann_index_persist_roundtrip"] = type(_Q["ann_ivf_topk"])(
    fn=_Q["ann_index_persist_roundtrip"].fn,
    oracle=_Q["ann_ivf_topk"].oracle,
    tags=_Q["ann_index_persist_roundtrip"].tags,
)

_IVF_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) "
    "* sqrt(list_dot_product({b}, {b})))"
)

@register(
    "ann_ivf_adaptive_recall",
    # the ADAPTIVE-n_lists IVF audit (r07 VERDICT ask #3, the IVF sibling
    # of ann_lsh_adaptive): n_lists = smallest power of two P >= 16 with
    # P*P >= corpus rows (sqrt(n) rounded up — pure INTEGER arithmetic so
    # both engines agree on the boundary, no float log2) with a FIXED
    # n_probe = 8 budget, so each query's candidate count is
    # n_probe * n / n_lists ~ 8 * sqrt(n) — sublinear in the corpus, where
    # fixed n_lists scans a constant FRACTION (O(n) per query forever).
    # The recall trade of the shrinking probed fraction is exactly what
    # this query measures, against the registered brute-force oracle.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        prm AS (
            SELECT MIN(p) AS n_lists, 8 AS n_probe
            FROM (SELECT unnest([16,32,64,128,256,512,1024,2048,4096,8192,
                                 16384,32768,65536]) AS p),
                 (SELECT count(*) AS n FROM v)
            WHERE CAST(p AS BIGINT) * p >= n
        ),
        cents AS (
            SELECT cid, cv FROM (
                SELECT vec_id AS cid, v AS cv,
                       row_number() OVER (ORDER BY vec_id) AS rn
                FROM v
            ) r CROSS JOIN prm WHERE rn <= n_lists
        ),
        assigned AS (
            SELECT corpus_id, v, cid AS list_id FROM (
                SELECT a.vec_id AS corpus_id, a.v, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {_IVF_COS.format(a="a.v", b="c.cv")} DESC,
                                    c.cid
                       ) AS rn
                FROM v a CROSS JOIN cents c
            ) WHERE rn = 1
        ),
        probes AS (
            SELECT query_id, qv, cid AS list_id FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_IVF_COS.format(a="q.v", b="c.cv")} DESC,
                                    c.cid
                       ) AS rn
                FROM v q CROSS JOIN cents c
            ) r CROSS JOIN prm WHERE rn <= n_probe
        ),
        ivf AS (
            SELECT query_id, corpus_id FROM (
                SELECT p.query_id, a.corpus_id,
                       row_number() OVER (
                           PARTITION BY p.query_id
                           ORDER BY {_IVF_COS.format(a="p.qv", b="a.v")} DESC,
                                    a.corpus_id
                       ) AS rank
                FROM probes p JOIN assigned a USING (list_id)
                WHERE p.query_id <> a.corpus_id
            ) WHERE rank <= 3
        ),
        bfx AS MATERIALIZED (
            SELECT query_id, corpus_id FROM ({{BF}}) b
        )
        SELECT (SELECT CAST(n_lists AS BIGINT) FROM prm) AS n_lists,
               (SELECT CAST(n_probe AS BIGINT) FROM prm) AS n_probe,
               CAST(count(*) AS BIGINT) AS n_matched,
               (SELECT count(*) FROM bfx) AS n_exact,
               CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM bfx) AS recall
        FROM ivf JOIN bfx USING (query_id, corpus_id)
    """.replace("{BF}", _Q["ann_brute_force_topk"].oracle),
    tags=("similarity", "ann", "ivf", "adaptive", "quality-gate"),
)
def ann_ivf_adaptive_recall(spark, sf_dir):
    """recall@3 of the auto-sized IVF index (similarity.auto_n_lists —
    n_lists ~ sqrt(n) rounded up to a power of two, FIXED n_probe=8)
    vs the exact brute-force top-3.  Why adaptive matters at 100 TB: with
    FIXED n_lists=16 each query's probe set holds n_probe/16 of the CORPUS
    — probing is O(n) per query forever, and the per-list candidate join
    has only 16 distinct keys to parallelize over.  At n_lists ~ sqrt(n)
    with a FIXED n_probe budget, the centroid scan and the probed
    candidate count both grow as sqrt(n), and the list_id join key space
    widens with the data (the skew fix the fixed variant can't have).
    The one count() the sizing needs is a parquet-metadata action; the
    seed take is a distributed TakeOrdered of ~sqrt(n) rows.  SCALING.md
    records the measured exponent vs the fixed variant
    (tools/scale_stress.py)."""
    e = T(spark, sf_dir, "embeddings")
    n_lists = similarity.auto_n_lists(e.count())
    n_probe = 8
    ivf = similarity.ivf_topk(
        e, e, "vec_id", "embedding",
        k=3, n_lists=n_lists, n_probe=n_probe, refine_iters=0,
    )
    # ONE action for both counts (r13): the IVF top-3 is unique per
    # (query_id, corpus_id) by construction (row_number filter), so a left
    # join preserves the truth set's cardinality — count(*) is n_exact and
    # count(match marker) is n_matched, identical to the former
    # inner-join-count + truth-count pair of actions (which also needed a
    # truth-set persist purely to avoid running brute force twice)
    bf = _Q["ann_brute_force_topk"].fn(spark, sf_dir).select(
        "query_id", "corpus_id"
    )
    j = bf.join(
        ivf.select("query_id", "corpus_id").withColumn("_m", F.lit(1)),
        ["query_id", "corpus_id"],
        "left",
    )
    row = j.agg(
        F.count(F.lit(1)).alias("n_exact"), F.count("_m").alias("n_matched")
    ).collect()[0]
    matched, n_exact = int(row["n_matched"]), int(row["n_exact"])
    import pyspark.sql.types as T_

    # NULL recall on an empty truth set, matching DuckDB's x/0 -> NULL
    return spark.createDataFrame(
        [(
            n_lists,
            n_probe,
            matched,
            n_exact,
            float(matched) / n_exact if n_exact else None,
        )],
        T_.StructType(
            [
                T_.StructField("n_lists", T_.LongType(), False),
                T_.StructField("n_probe", T_.LongType(), False),
                T_.StructField("n_matched", T_.LongType(), False),
                T_.StructField("n_exact", T_.LongType(), False),
                T_.StructField("recall", T_.DoubleType(), True),
            ]
        ),
    )

@register(
    "ann_pq_recall",
    # recall@3 of PQ's ADC ranking vs the exact cosine top-3 — the
    # compression-loss audit a PQ index must publish (the IVF twin above
    # audits the probe loss; together they bound IVF-PQ's quality)
    oracle=f"""
        SELECT count(*) AS n_matched,
               (SELECT count(*) FROM ({_Q["ann_brute_force_topk"].oracle}) b)
                   AS n_exact,
               CAST(count(*) AS DOUBLE)
                   / (SELECT count(*) FROM ({_Q["ann_brute_force_topk"].oracle}) b2)
                   AS recall
        FROM ({_Q["ann_pq_topk"].oracle}) pq
        JOIN ({_Q["ann_brute_force_topk"].oracle}) bf
          ON pq.query_id = bf.query_id AND pq.corpus_id = bf.corpus_id
    """,
    tags=("similarity", "ann", "pq", "quality-gate"),
)
def ann_pq_recall(spark, sf_dir):
    """How much 32x compression loses: |PQ-ADC top-3 ∩ exact top-3| /
    |exact| — integer-ratio exact, composed from the two registered
    pipelines' own oracles so all three stay in lockstep."""
    pq = _Q["ann_pq_topk"].fn(spark, sf_dir)
    # ONE action for both counts (r13, same move as ann_ivf_adaptive_recall):
    # the PQ top-3 is unique per (query_id, corpus_id), so a left join from
    # the truth set preserves its cardinality and yields n_exact and
    # n_matched in a single job — no truth-set persist needed
    bf = _Q["ann_brute_force_topk"].fn(spark, sf_dir).select(
        "query_id", "corpus_id"
    )
    j = bf.join(
        pq.select("query_id", "corpus_id").withColumn("_m", F.lit(1)),
        ["query_id", "corpus_id"],
        "left",
    )
    row = j.agg(
        F.count(F.lit(1)).alias("n_exact"), F.count("_m").alias("n_matched")
    ).collect()[0]
    matched, n_exact = int(row["n_matched"]), int(row["n_exact"])
    import pyspark.sql.types as T_

    # NULL recall on an empty truth set, matching DuckDB's x/0 -> NULL
    return spark.createDataFrame(
        [(matched, n_exact, float(matched) / n_exact if n_exact else None)],
        T_.StructType(
            [
                T_.StructField("n_matched", T_.LongType(), False),
                T_.StructField("n_exact", T_.LongType(), False),
                T_.StructField("recall", T_.DoubleType(), True),
            ]
        ),
    )

@register(
    "embedding_drift_by_label",
    # distribution-drift monitor: per-label centroids computed on two data
    # vintages (vec_id parity simulates old vs new ingest), compared by
    # exact per-dimension deltas rolled into an L2 shift.  Everything
    # before the final sqrt is exact integer/decimal arithmetic, and the
    # component deltas are rounded to 9dp before squaring so the summed
    # shift is bit-identical on both engines.
    oracle=f"""
        WITH c AS (
            SELECT label, vec_id % 2 AS vintage, u.e.pos AS pos, u.e.comp AS comp
            FROM (
                SELECT label, vec_id,
                       unnest(list_transform(embedding::DOUBLE[],
                              (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                FROM embeddings
            ) u
        ),
        cent AS (
            SELECT label, vintage, pos,
                   CAST(SUM(CAST(comp * {_POW2_43} AS DECIMAL(38,0))) AS DOUBLE)
                       / {_POW2_43} / COUNT(*) AS mean_val
            FROM c GROUP BY label, vintage, pos
        ),
        delta AS (
            SELECT a.label, a.pos,
                   round(a.mean_val - b.mean_val, 9) AS d
            FROM cent a JOIN cent b
              ON a.label = b.label AND a.pos = b.pos
             AND a.vintage = 0 AND b.vintage = 1
        )
        SELECT label,
               round(sqrt(CAST(SUM(CAST(d * d AS DECIMAL(38,18))) AS DOUBLE)), 9)
                   AS l2_shift,
               CAST(count(*) AS BIGINT) AS dims
        FROM delta
        GROUP BY label
        ORDER BY label
    """,
    tags=("embedding", "drift", "monitoring"),
)
def embedding_drift_by_label(spark, sf_dir):
    """Embedding drift between two ingest vintages: two centroid tables
    (label x dim — tiny), an aligned join, and one L2 rollup.  The corpus
    is scanned once (posexplode into the shared (label, vintage, pos)
    aggregation); everything downstream is centroid-table-sized, so the
    drift report costs the same as one k-means update step at any scale."""
    e = T(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        (F.col("vec_id") % 2).alias("vintage"),
        F.posexplode(V.as_double("embedding")).alias("pos", "comp"),
    )
    cent = x.groupBy("label", "vintage", "pos").agg(
        (
            F.sum((F.col("comp") * _POW2_43).cast("decimal(38,0)")).cast("double")
            / _POW2_43
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    a = cent.filter(F.col("vintage") == 0).select(
        "label", "pos", F.col("mean_val").alias("m0")
    )
    b = cent.filter(F.col("vintage") == 1).select(
        "label", "pos", F.col("mean_val").alias("m1")
    )
    delta = a.join(b, ["label", "pos"]).select(
        "label", F.round(F.col("m0") - F.col("m1"), 9).alias("d")
    )
    return (
        delta.groupBy("label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum((F.col("d") * F.col("d")).cast("decimal(38,18)")).cast(
                        "double"
                    )
                ),
                9,
            ).alias("l2_shift"),
            F.count(F.lit(1)).alias("dims"),
        )
        .orderBy("label")
    )

# Upper-triangle (i <= j) covariance CTE chain, 9dp-rounded — shared by the
# embedding_covariance_topk and embedding_top_pc oracles.  Exactness: each
# component scales to an integer by 2^43 (power-of-two, no rounding); the
# pairwise product is DECIMAL(19,0)^2 -> DECIMAL(38,0) exact; the Gram sums
# and per-dim linear sums are order-free integer arithmetic, so both engines
# feed IDENTICAL integers into the same IEEE double sequence.
_COV_UPPER_CTES = f"""
        sv AS (
            SELECT list_transform(embedding::DOUBLE[],
                   c -> CAST(c * {_POW2_43} AS DECIMAL(19,0))) AS s
            FROM embeddings
        ),
        p AS (
            SELECT u.q.i AS i, u.q.j AS j, u.q.p AS p FROM (
                SELECT unnest(flatten(list_transform(range(1, len(s) + 1),
                       i -> list_transform(range(i, len(s) + 1),
                       j -> struct_pack(i := i - 1, j := j - 1,
                                        p := CAST(s[i] * s[j] AS DECIMAL(38,0))))))) AS q
                FROM sv
            ) u
        ),
        gram AS (SELECT i, j, SUM(p) AS sij FROM p GROUP BY i, j),
        lin AS (
            SELECT u.e.pos AS pos, SUM(u.e.sc) AS s1 FROM (
                SELECT unnest(list_transform(s,
                       (c, i) -> struct_pack(pos := i - 1, sc := c))) AS e
                FROM sv
            ) u GROUP BY pos
        ),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
        cov AS (
            SELECT g.i, g.j,
                   round(CAST(g.sij AS DOUBLE) / {_POW2_43} / {_POW2_43} / n.n
                         - (CAST(a.s1 AS DOUBLE) / {_POW2_43} / n.n)
                           * (CAST(b.s1 AS DOUBLE) / {_POW2_43} / n.n), 9) AS cov
            FROM gram g JOIN lin a ON a.pos = g.i
                        JOIN lin b ON b.pos = g.j, n
        )
"""

def _embedding_cov_upper(spark, sf_dir):
    """Upper-triangle (i <= j) covariance entries, 9dp-rounded — shared by
    embedding_covariance_topk and the power-iteration top-PC query.  See
    embedding_covariance_topk's docstring for the 100-TB plan shape.
    widen_if_narrow: the dim^2/2 decimal products per row are the
    per-row-expensive stage, and the bench-scale embeddings parquet is a
    single row group — one task — without it."""
    from kwack_spark.operators.scale import widen_if_narrow

    e = widen_if_narrow(T(spark, sf_dir, "embeddings"))
    scaled = F.transform(
        V.as_double("embedding"), lambda c: (c * _POW2_43).cast("decimal(19,0)")
    )

    def with_s(s):
        n = F.size(s)
        return F.flatten(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.transform(
                    F.sequence(i, n),
                    lambda j: F.struct(
                        (i - 1).cast("int").alias("i"),
                        (j - 1).cast("int").alias("j"),
                        (F.element_at(s, i) * F.element_at(s, j))
                        .cast("decimal(38,0)")
                        .alias("p"),
                    ),
                ),
            )
        )

    pairs = e.select(TX.bind(scaled, with_s).alias("ps"))
    gram = (
        pairs.select(F.explode("ps").alias("q"))
        .select("q.i", "q.j", "q.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("sij"))
    )
    lin = (
        e.select(F.posexplode(scaled).alias("pos", "sc"))
        .groupBy("pos")
        .agg(F.sum("sc").alias("s1"))
    )
    n = e.agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = lin.select(F.col("pos").alias("i"), F.col("s1").alias("si"))
    b = lin.select(F.col("pos").alias("j"), F.col("s1").alias("sj"))
    return (
        gram.join(F.broadcast(a), "i")
        .join(F.broadcast(b), "j")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(
                F.col("sij").cast("double") / _POW2_43 / _POW2_43 / F.col("n")
                - (F.col("si").cast("double") / _POW2_43 / F.col("n"))
                * (F.col("sj").cast("double") / _POW2_43 / F.col("n")),
                9,
            ).alias("cov"),
        )
    )

@register(
    "embedding_covariance_topk",
    # cross-dimension covariance scan — the whitening/feature-correlation
    # prep a training pipeline runs before PCA or decorrelation: the 25
    # most-correlated dimension PAIRS (i < j) by |cov|.  Exactness: see
    # _COV_UPPER_CTES.
    oracle=f"""
        WITH {_COV_UPPER_CTES}
        SELECT i, j, cov FROM cov WHERE i < j
        ORDER BY abs(cov) DESC, i, j LIMIT 25
    """,
    tags=("embedding", "stats", "covariance"),
)
def embedding_covariance_topk(spark, sf_dir):
    """100-TB shape: the per-row pair expansion (dim^2/2 products) happens
    INSIDE codegen as array HOFs — no self-join, no pre-aggregation
    shuffle of row-level pairs; the groupBy (i, j) partial-aggregates
    map-side, so every partition ships at most dim^2/2 = 2080 rows (dim=64)
    to ONE metadata-sized shuffle however large the corpus.  The per-dim
    linear sums are the same rollup at O(dim); the final assembly joins
    three dim-sized tables (broadcast) and TakeOrdereds 25 rows."""
    cov = _embedding_cov_upper(spark, sf_dir).filter(F.col("i") < F.col("j"))
    return cov.orderBy(F.abs(F.col("cov")).desc(), "i", "j").limit(25)

# Power-iteration CTE chain for the top-PC oracle: 8 unrolled iterations,
# each one pinned to exact cross-engine arithmetic (terms rounded to 1e-12
# and summed as integers, squares as DECIMAL(38,0), one correctly-rounded
# IEEE sqrt per step, loadings re-rounded to 12dp) — both engines run the
# SAME rounded recurrence on the SAME 9dp matrix, so the output is
# bit-identical whether or not the iteration has converged.
_PC_ITERS = 8

_PC_SCALE = "1000000000000.0"  # 1e12

# Driver-side power-iteration cap: the covariance table has dim^2 rows
# REGARDLESS of corpus size (dim <= 512 stays under this), so collecting it
# follows the graph/ANN _within_cap discipline — bounded by the embedding
# DIMENSION, never by data volume.  Past the cap the distributed per-step
# loop below runs unchanged.
_PC_COLLECT_CAP = 262_144


def _round_half_up(x: float, scale: int) -> float:
    """Spark's round(double, scale): BigDecimal.valueOf (shortest repr) +
    HALF_UP — the same quantization the streaming moments kernel mirrors.

    JDK caveat (r12 ADVICE): ``Decimal(repr(x))`` assumes Python's repr
    (shortest round-trip decimal) matches Java ``Double.toString``.  On
    JDK 19+ (Ryū) they agree by construction; on older JDKs
    ``Double.toString`` is not always shortest, so a HALF_UP tie at the
    12th decimal could in principle quantize differently than the
    distributed/oracle path.  Empirically verified bit-identical at all
    three test SFs on the shipped JDK; if this mirror is ever ported to a
    pre-Ryū JDK, re-verify or switch BOTH engine and oracle to rounding
    the exact binary value (``Decimal(x)``) so parity holds by
    construction."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))

def _pc_iter_ctes() -> tuple[str, str]:
    parts = []
    prev = "v0"
    for t in range(1, _PC_ITERS + 1):
        parts.append(f"""
        w{t} AS MATERIALIZED (SELECT f.i AS pos,
                        SUM(CAST(round(f.cov * v.val * {_PC_SCALE}) AS BIGINT)) AS ws
                 FROM cov_full f JOIN {prev} v ON v.pos = f.j GROUP BY f.i),
        n{t} AS MATERIALIZED (SELECT SUM(CAST(ws AS DECIMAL(19,0))
                            * CAST(ws AS DECIMAL(19,0))) AS n2 FROM w{t}),
        v{t} AS MATERIALIZED (SELECT pos, round(CAST(ws AS DOUBLE)
                                   / sqrt(CAST(n2 AS DOUBLE)), 12) AS val
                 FROM w{t}, n{t})""")
        prev = f"v{t}"
    return ",".join(parts), prev

_PC_ITER_SQL, _PC_LAST = _pc_iter_ctes()

@register(
    "embedding_top_pc",
    # top principal component by POWER ITERATION over the exact covariance
    # matrix — the PCA the pipeline runs after embedding_covariance_topk
    # flags correlated dims (dominant direction of variance; whitening /
    # dimensionality-reduction prep).  The iteration runs on the dim^2
    # covariance table, NOT the corpus: like textrank's unrolled PageRank,
    # the corpus is scanned once (the Gram build) and all 8 iterations are
    # metadata-sized joins.
    oracle=f"""
        WITH {_COV_UPPER_CTES},
        -- MATERIALIZED: DuckDB inlines plain CTEs per reference, so the
        -- 8 unrolled iterations would otherwise re-expand the whole Gram
        -- chain exponentially (the SQL twin of the Spark-side lineage
        -- doubling this query checkpoints away)
        cov_full AS MATERIALIZED (
            SELECT i, j, cov FROM cov
            UNION ALL SELECT j AS i, i AS j, cov FROM cov WHERE i <> j
        ),
        dims AS (SELECT DISTINCT i AS pos FROM cov_full),
        dn AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM dims),
        v0 AS (SELECT pos, round(1.0 / sqrt(dn.d), 12) AS val FROM dims, dn),
        {_PC_ITER_SQL}
        SELECT v.pos AS pos, v.val AS loading,
               round(sqrt(CAST(n{_PC_ITERS}.n2 AS DOUBLE)) / {_PC_SCALE}, 9)
                   AS eigval
        FROM v{_PC_ITERS} v, n{_PC_ITERS}
        ORDER BY pos
    """,
    tags=("embedding", "pca", "iterative"),
)
def embedding_top_pc(spark, sf_dir):
    """100-TB shape: ONE corpus pass builds the exact Gram/covariance
    (map-side combined to dim^2 rows — see embedding_covariance_topk);
    every power-iteration step is then a broadcast join of the dim^2
    covariance table against the 64-row vector plus a 1-row norm agg —
    pure metadata dataflow, Catalyst reuses the covariance exchange across
    all 8 unrolled steps.  Sign and values are deterministic because each
    step's arithmetic is integer-pinned (see oracle comment)."""
    # ONE corpus pass: the upper-triangle covariance is dim(dim+1)/2 rows
    # REGARDLESS of corpus size, so ship at most cap+1 of them to the
    # driver in a single bounded action (the aggregation still runs
    # distributed; limit only bounds what crosses the wire) and resolve
    # the 8 metadata-sized power-iteration steps driver-side instead of
    # paying 8 sequential Spark jobs of pure fixed overhead (measured
    # ~4 s of the 6.9 s query at sf0.1; a localCheckpoint+count+collect
    # variant re-measured ~0.5 s slower because the checkpoint executes
    # the Gram aggregation with the non-adaptive plan).
    collected = (
        _embedding_cov_upper(spark, sf_dir).limit(_PC_COLLECT_CAP + 1).collect()
    )
    sc = float(_PC_SCALE)
    if len(collected) <= _PC_COLLECT_CAP:
        # The driver recurrence replicates the distributed plan's arithmetic
        # EXACTLY: (cov * val) * 1e12 rounded HALF_UP to a long, integer
        # sums, exact integer n2 = sum(ws^2), one correctly-rounded double
        # sqrt, loadings re-rounded to 12dp — the same rounded recurrence
        # the oracle unrolls.  Verified bit-exact against the distributed
        # path at sf0.001/0.01/0.1.
        import math

        # mirror i != j driver-side — the union the distributed path builds
        rows = [(int(r["i"]), int(r["j"]), r["cov"]) for r in collected]
        rows += [(j, i, cov) for i, j, cov in rows if i != j]
        pos_all = sorted({i for i, _, _ in rows})
        d = float(len(pos_all))
        v = {p: _round_half_up(1.0 / math.sqrt(d), 12) for p in pos_all}
        n2 = 0
        for _ in range(_PC_ITERS):
            ws = dict.fromkeys(pos_all, 0)
            for i, j, cov in rows:
                ws[i] += int(_round_half_up(cov * v[j] * sc, 0))
            n2 = sum(w * w for w in ws.values())
            sq = math.sqrt(float(n2))
            v = {p: _round_half_up(float(ws[p]) / sq, 12) for p in pos_all}
        eig = _round_half_up(math.sqrt(float(n2)) / sc, 9)
        out = spark.createDataFrame(
            [(p, v[p], eig) for p in pos_all],
            "pos int, loading double, eigval double",
        )
        return out.orderBy("pos")
    # distributed fallback (dim^2 over the collect cap): materialize the
    # upper triangle ONCE and truncate its lineage BEFORE mirroring — the
    # two union branches would otherwise each re-run the whole Gram
    # subtree (two corpus passes in one job), and without truncation each
    # unrolled iteration embeds another copy of the Gram plan and the
    # driver OOMs serializing it.
    upper = _embedding_cov_upper(spark, sf_dir).localCheckpoint(eager=True)
    full = upper.unionByName(
        upper.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    ).localCheckpoint(eager=True)
    dims = full.select(F.col("i").alias("pos")).distinct()
    dn = dims.agg(F.count(F.lit(1)).cast("double").alias("d"))
    v = dims.crossJoin(F.broadcast(dn)).select(
        "pos", F.round(F.lit(1.0) / F.sqrt(F.col("d")), 12).alias("val")
    )
    n2 = None
    for _ in range(_PC_ITERS):
        w = (
            full.join(F.broadcast(v), full["j"] == v["pos"])
            .select(
                "i",
                F.round(F.col("cov") * F.col("val") * sc, 0)
                .cast("long")
                .alias("t"),
            )
            .groupBy("i")
            .agg(F.sum("t").alias("ws"))
        )
        n2 = w.agg(
            F.sum(
                F.col("ws").cast("decimal(19,0)") * F.col("ws").cast("decimal(19,0)")
            ).alias("n2")
        )
        v = w.crossJoin(F.broadcast(n2)).select(
            F.col("i").alias("pos"),
            F.round(
                F.col("ws").cast("double") / F.sqrt(F.col("n2").cast("double")), 12
            ).alias("val"),
        )
        # v references w twice (directly and through the n2 norm), so
        # without truncation the lineage doubles per step (2^t plan
        # growth); a 64-row checkpoint per iteration keeps every step
        # constant-cost — the standard iterative-dataflow discipline
        v = v.localCheckpoint(eager=True)
    eig = n2.select(
        F.round(F.sqrt(F.col("n2").cast("double")) / sc, 9).alias("eigval")
    )
    return (
        v.crossJoin(F.broadcast(eig))
        .select("pos", F.col("val").alias("loading"), "eigval")
        .orderBy("pos")
    )

@register(
    "embedding_pc_residual_topk",
    # embedding OUTLIER scan: the 25 vectors worst-explained by the top
    # principal component — residual energy ||x||^2 - (x . v)^2 with v from
    # the power iteration.  The anomaly/diversity signal a curation
    # pipeline reads next to SemDeDup: high-residual vectors are the ones
    # the dominant factor does not cover.  Determinism: both dot product
    # and squared norm are STRICT LEFT FOLDS over the dimension order
    # (Spark aggregate / DuckDB list_reduce — identical IEEE sequence), the
    # projection is rounded to 9dp before squaring, the residual to 6dp.
    oracle=f"""
        WITH {_COV_UPPER_CTES},
        cov_full AS MATERIALIZED (
            SELECT i, j, cov FROM cov
            UNION ALL SELECT j AS i, i AS j, cov FROM cov WHERE i <> j
        ),
        dims AS (SELECT DISTINCT i AS pos FROM cov_full),
        dn AS (SELECT CAST(count(*) AS DOUBLE) AS d FROM dims),
        v0 AS (SELECT pos, round(1.0 / sqrt(dn.d), 12) AS val FROM dims, dn),
        {_PC_ITER_SQL},
        varr AS (SELECT list(val ORDER BY pos) AS v FROM v{_PC_ITERS}),
        x AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        scored AS (
            SELECT vec_id,
                   round(list_reduce(list_transform(range(1, len(e) + 1),
                         i -> e[i] * va.v[i]), (a, b) -> a + b), 9) AS proj,
                   list_reduce(list_transform(range(1, len(e) + 1),
                         i -> e[i] * e[i]), (a, b) -> a + b) AS nrm2
            FROM x, varr va
        )
        SELECT vec_id, proj, round(nrm2 - proj * proj, 6) AS resid2
        FROM scored ORDER BY resid2 DESC, vec_id LIMIT 25
    """,
    tags=("embedding", "pca", "outlier"),
)
def embedding_pc_residual_topk(spark, sf_dir):
    """100-TB shape: the PC itself costs one corpus pass (see
    embedding_top_pc); scoring is then a single narrow pass — the 64-float
    component vector broadcasts to every task and both folds run inside
    codegen per row — followed by TakeOrdered(25).  No shuffle touches
    vector data."""
    pc = embedding_top_pc(spark, sf_dir)
    varr = pc.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "loading"))),
            lambda s: s["loading"],
        ).alias("v")
    )
    e = T(spark, sf_dir, "embeddings")
    base = e.select("vec_id", V.as_double("embedding").alias("x")).crossJoin(
        F.broadcast(varr)
    )

    def with_x(x):
        n = F.size(x)
        dot = F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(x, i) * F.element_at(F.col("v"), i),
        )
        nrm2 = F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(x, i) * F.element_at(x, i),
        )
        return F.struct(
            F.round(dot, 9).alias("proj"), nrm2.alias("nrm2")
        )

    scored = base.select(
        "vec_id", TX.bind(F.col("x"), with_x).alias("s")
    ).select(
        "vec_id",
        F.col("s.proj").alias("proj"),
        F.round(F.col("s.nrm2") - F.col("s.proj") * F.col("s.proj"), 6).alias(
            "resid2"
        ),
    )
    return scored.orderBy(F.desc("resid2"), "vec_id").limit(25)

@register(
    "bitext_margin_mining",
    # Margin-based parallel-corpus mining (the CCMatrix/LASER shape): for
    # every "source-language" vector (label 0) find its best
    # "target-language" match (label 1) and score it by the DISTANCE
    # MARGIN — top-1 cosine minus the mean of the top-4 cosines — so a
    # vector that is merely close to everything (a hub) ranks below one
    # with a single standout match.  Determinism: cosines are the shared
    # strict-left-fold kernel (bit-equal across engines, so rank order
    # needs no rounding; ties break on tgt id); the top-4 mean sums
    # 9dp-pre-rounded cosines through exact DECIMAL; outputs round to 6dp.
    oracle=f"""
        WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        s AS (SELECT vec_id, v FROM v WHERE label = 0),
        t AS (SELECT vec_id, v FROM v WHERE label = 1),
        pairs AS (
            SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
                   {_cos_sql("s", "t")} AS cos
            FROM s CROSS JOIN t
        ),
        ranked AS (
            SELECT src_id, tgt_id, cos,
                   row_number() OVER (PARTITION BY src_id
                                      ORDER BY cos DESC, tgt_id) AS rnk
            FROM pairs
        ),
        top4 AS (
            SELECT src_id,
                   CAST(SUM(CAST(round(cos, 9) AS DECIMAL(12,9))) AS DOUBLE)
                       / 4 AS mean4
            FROM ranked WHERE rnk <= 4 GROUP BY 1
        ),
        top1 AS (SELECT src_id, tgt_id, cos FROM ranked WHERE rnk = 1)
        SELECT t1.src_id, t1.tgt_id,
               round(t1.cos, 6) AS cos_top1,
               round(t1.cos - t4.mean4, 6) AS margin
        FROM top1 t1 JOIN top4 t4 USING (src_id)
        ORDER BY margin DESC, src_id LIMIT 25
    """,
    tags=("embedding", "similarity", "mining"),
)
def bitext_margin_mining(spark, sf_dir):
    """100-TB shape: one language side is usually orders smaller (or
    IVF-blocked first — ann_ivf_topk is the candidate generator at scale),
    so the target side broadcasts and the source side streams
    partition-parallel: per-source scoring is narrow map work inside
    codegen, the per-source window runs after a shuffle on src_id whose
    width is k-bounded (only rnk <= 4 survives the aggregate), and the
    final top-25 is a TakeOrdered."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", "label", V.as_double("embedding").alias("v"))
    s = v.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("src_id"), F.col("v").alias("sv")
    )
    t = v.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("tgt_id"), F.col("v").alias("tv")
    )
    pairs = s.crossJoin(F.broadcast(t)).select(
        "src_id",
        "tgt_id",
        V.cosine(F.col("sv"), F.col("tv")).alias("cos"),
    )
    wnd = Window.partitionBy("src_id").orderBy(F.desc("cos"), "tgt_id")
    ranked = pairs.select(
        "src_id", "tgt_id", "cos", F.row_number().over(wnd).alias("rnk")
    )
    top4 = (
        ranked.filter(F.col("rnk") <= 4)
        .groupBy("src_id")
        .agg(
            (
                F.sum(F.round(F.col("cos"), 9).cast("decimal(12,9)")).cast(
                    "double"
                )
                / 4
            ).alias("mean4")
        )
    )
    top1 = ranked.filter(F.col("rnk") == 1).select("src_id", "tgt_id", "cos")
    res = top1.join(top4, "src_id").select(
        "src_id",
        "tgt_id",
        F.round(F.col("cos"), 6).alias("cos_top1"),
        F.round(F.col("cos") - F.col("mean4"), 6).alias("margin"),
    )
    return res.orderBy(F.desc("margin"), "src_id").limit(25)

_JL_PLANES = range(100, 116)  # 16 independent md5-parity component sets

# one projected coordinate: STRICT left-fold of v[j] * (+/-1 from md5
# parity) in index order — list_reduce, not list_sum (list_sum's summation
# order is unspecified, fine for the LSH sign threshold but not for
# bit-exact sketch ranks); Spark's F.aggregate init of 0.0 is absorbed
# exactly by the first add
_JL_COORD_SQL = (
    "list_reduce([v[j] * (CASE WHEN substr(md5({p}::VARCHAR || ':' || (j-1)::VARCHAR),"
    " 1, 1) IN ('8','9','a','b','c','d','e','f') THEN 1.0 ELSE -1.0 END)"
    " for j in generate_series(1, 64)], (acc, x) -> acc + x)"
)

@register(
    "jl_projection_recall",
    # Johnson-Lindenstrauss sketch quality, measured: project 64-dim
    # embeddings to 16 dims through deterministic md5-parity +/-1
    # components (the LSH plane kernel without the sign threshold), rank
    # neighbors in the sketch space, and report top-5 recall against the
    # exact ranking per query — the dimensionality-reduction counterpart
    # of ann_pq_recall / ann_ivf_recall.  Every projected coordinate is
    # the same strict left fold on both engines, so sketch cosines (and
    # therefore sketch ranks) are bit-identical; ties break on corpus id.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
            SELECT vec_id,
                   [{_JL_COORD_SQL.format(p='pp')} for pp in generate_series(100, 115)]
                       AS y
            FROM v
        ),
        q AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
        ex AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_cos_sql("a", "b")} DESC, c.vec_id
                   ) AS rnk
            FROM q JOIN v a ON a.vec_id = q.vec_id
            JOIN v b ON b.vec_id <> q.vec_id
            JOIN v c ON c.vec_id = b.vec_id
        ),
        sk AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_dot_product(a.y, b.y)
                                / (sqrt(list_dot_product(a.y, a.y))
                                   * sqrt(list_dot_product(b.y, b.y))) DESC,
                                c.vec_id
                   ) AS rnk
            FROM q JOIN p a ON a.vec_id = q.vec_id
            JOIN p b ON b.vec_id <> q.vec_id
            JOIN p c ON c.vec_id = b.vec_id
        )
        SELECT q.vec_id AS query_id,
               COALESCE(o.n, 0) AS n_overlap,
               CAST(COALESCE(o.n, 0) AS DOUBLE) / 5 AS recall_at_5
        FROM q LEFT JOIN (
            SELECT e.query_id, CAST(count(*) AS BIGINT) AS n
            FROM (SELECT query_id, corpus_id FROM ex WHERE rnk <= 5) e
            JOIN (SELECT query_id, corpus_id FROM sk WHERE rnk <= 5) s
              ON s.query_id = e.query_id AND s.corpus_id = e.corpus_id
            GROUP BY e.query_id
        ) o ON o.query_id = q.vec_id
    """,
    tags=("embedding", "ann", "sketch", "recall"),
)
def jl_projection_recall(spark, sf_dir):
    """100-TB shape: the 16x64 sign matrix is a compile-time constant baked
    into codegen (no table, nothing broadcast); projection is one narrow
    pass producing a 4x-smaller sketch column, the sketch ranking scans
    16-float vectors instead of 64, and the recall join touches only the
    two k-bounded top-5 lists per query.  The query batch is fixed-size,
    so both rankings are broadcast-side joins against the streamed
    corpus."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", V.as_double("embedding").alias("v"))

    hexhi = ("8", "9", "a", "b", "c", "d", "e", "f")

    # bind the plane id through a factory, NOT `lambda j, p=p: ...` — a
    # two-parameter lambda makes F.transform pass the ELEMENT INDEX as the
    # second argument, silently clobbering the default
    def plane_comp(p):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.when(
                F.substring(
                    F.md5(F.concat(F.lit(f"{p}:"), j.cast("string"))), 1, 1
                ).isin(*hexhi),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )

    def jl(vec):
        return F.array(*[V.dot(vec, plane_comp(p)) for p in _JL_PLANES])

    proj = v.select("vec_id", jl(F.col("v")).alias("y"))
    proj = stages.hold("jl_proj", proj)
    q_ids = v.orderBy("vec_id").limit(8).select(
        F.col("vec_id").alias("query_id")
    )

    def top5(tbl, col):
        a = tbl.select(F.col("vec_id").alias("query_id"), F.col(col).alias("qa"))
        b = tbl.select(F.col("vec_id").alias("corpus_id"), F.col(col).alias("qb"))
        pairs = (
            q_ids.join(a, "query_id")
            .crossJoin(b)
            .filter(F.col("corpus_id") != F.col("query_id"))
            .select(
                "query_id",
                "corpus_id",
                V.cosine(F.col("qa"), F.col("qb")).alias("cos"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "corpus_id")
        return (
            pairs.select(
                "query_id", "corpus_id", F.row_number().over(w).alias("rnk")
            )
            .filter(F.col("rnk") <= 5)
            .select("query_id", "corpus_id")
        )

    ex = top5(v, "v")
    sk = top5(proj, "y")
    overlap = (
        ex.join(sk, ["query_id", "corpus_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return q_ids.join(overlap, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_overlap"),
        (F.coalesce(F.col("n"), F.lit(0)).cast("double") / 5).alias(
            "recall_at_5"
        ),
    )

@register(
    "embedding_kmeans_refine",
    # One distributed Lloyd iteration of k-means (k=8) — the training step
    # behind every IVF coarse quantizer.  Determinism: seeds are the 8
    # vectors with the smallest md5(vec_id) (hash order, no RNG);
    # assignment uses squared L2 expanded as x.x - 2*x.c + c.c over the
    # shared strict-left-fold dot kernel (bit-equal across engines), so the
    # argmin with (d2, cid) tie-break picks identical clusters; the update
    # is the exact-decimal centroid mean (comp * 2^43 is an integer, sum is
    # order-free).
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS MATERIALIZED (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v
            FROM (SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, v
                  FROM v ORDER BY h, vec_id LIMIT 8)
        ),
        assign AS MATERIALIZED (
            SELECT vec_id, cid, v FROM (
                SELECT x.vec_id, s.cid, x.v,
                       row_number() OVER (PARTITION BY x.vec_id ORDER BY
                           list_dot_product(x.v, x.v)
                           - 2 * list_dot_product(x.v, s.v)
                           + list_dot_product(s.v, s.v), s.cid) AS rnk
                FROM v x CROSS JOIN seeds s
            ) WHERE rnk = 1
        ),
        c AS (
            SELECT cid, u.e.pos AS pos, u.e.comp AS comp FROM (
                SELECT cid,
                       unnest(list_transform(v, (c, i) ->
                           struct_pack(pos := i - 1, comp := c))) AS e
                FROM assign
            ) u
        )
        SELECT cid, pos,
               CAST(SUM(CAST(comp * {_POW2_43} AS DECIMAL(38,0))) AS DOUBLE)
                   / {_POW2_43} / COUNT(*) AS mean_val,
               COUNT(*) AS n
        FROM c GROUP BY cid, pos
    """,
    tags=("embedding", "kmeans", "similarity"),
)
def embedding_kmeans_refine(spark, sf_dir):
    """One Lloyd iteration of distributed k-means (k=8).  100-TB shape:
    seeding is a TakeOrderedAndProject (k rows, never a full-table window);
    the k-row centroid table broadcasts; per-vector assignment is narrow
    map work plus a k-bounded row_number keyed on vec_id; the update step
    is one partial+final aggregation on (cid, pos) -> k*dim output rows at
    any corpus size.  Iterating = feeding mean_val back in as next round's
    seeds (operators/similarity.py trains IVF lists with this step)."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", V.as_double("embedding").alias("v"))
    topk = (
        v.select(F.md5(F.col("vec_id").cast("string")).alias("h"), "vec_id", "v")
        .orderBy("h", "vec_id")
        .limit(8)
    )
    seeds = topk.select(
        (F.row_number().over(Window.orderBy("h", "vec_id")) - 1).alias("cid"),
        F.col("v").alias("cv"),
    )
    pairs = v.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "cid",
        "v",
        (
            V.dot(F.col("v"), F.col("v"))
            - 2 * V.dot(F.col("v"), F.col("cv"))
            + V.dot(F.col("cv"), F.col("cv"))
        ).alias("d2"),
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("cid", "v")
    )
    x = assign.select("cid", F.posexplode("v").alias("pos", "comp"))
    return x.groupBy("cid", "pos").agg(
        (
            F.sum((F.col("comp") * _POW2_43).cast("decimal(38,0)")).cast("double")
            / _POW2_43
            / F.count(F.lit(1))
        ).alias("mean_val"),
        F.count(F.lit(1)).alias("n"),
    )

@register(
    "ann_probe_recall_curve",
    # recall@3 as a function of n_probe in {1,2,4,8} over ONE shared IVF
    # index (same deterministic centroids as ann_ivf_topk) — the tuning
    # curve that picks the probe budget: candidates are generated once at
    # the max probe depth with their probe rank attached, each config is a
    # filter + k-bounded re-rank, and the exact truth set reuses the
    # registered brute-force oracle so all stay in lockstep.
    oracle=f"""
        WITH {_IVF_ASSIGNED_CTES},
        probes AS (
            SELECT query_id, qv, cid AS list_id, rn AS probe_rank FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_dot_product(q.v, c.cv)
                                    / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v q CROSS JOIN cents c
            ) WHERE rn <= 8
        ),
        cand AS MATERIALIZED (
            SELECT p.query_id, a.corpus_id, p.probe_rank,
                   list_dot_product(p.qv, a.v)
                       / (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(a.v, a.v))) AS cosine
            FROM probes p JOIN assigned a USING (list_id)
            WHERE p.query_id <> a.corpus_id
        ),
        cfg(p) AS (VALUES (1), (2), (4), (8)),
        ranked AS (
            SELECT cfg.p, query_id, corpus_id,
                   row_number() OVER (PARTITION BY cfg.p, query_id
                                      ORDER BY cosine DESC, corpus_id) AS rnk
            FROM cand JOIN cfg ON cand.probe_rank <= cfg.p
        ),
        exact AS MATERIALIZED (
            SELECT query_id, corpus_id FROM ({_Q["ann_brute_force_topk"].oracle}) x
        ),
        m AS (
            SELECT p, count(*) AS n_matched
            FROM ranked r JOIN exact e USING (query_id, corpus_id)
            WHERE r.rnk <= 3 GROUP BY p
        ),
        t AS (SELECT count(*) AS n_exact FROM exact)
        SELECT cfg.p AS n_probe, coalesce(m.n_matched, 0) AS n_matched,
               t.n_exact,
               CAST(coalesce(m.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
        FROM cfg LEFT JOIN m ON m.p = cfg.p CROSS JOIN t
    """,
    tags=("similarity", "ann", "ivf", "tuning"),
)
def ann_probe_recall_curve(spark, sf_dir):
    """IVF probe-budget sweep.  100-TB shape: the index (centroids +
    assignment) is built once; candidate generation runs once at the
    deepest probe rank with the rank attached, so each additional config
    costs only a filter plus a per-(config, query) k-bounded window — the
    corpus is never re-scanned per config.  The exact side is the sampled
    audit baseline (ann_ivf_recall's single-point check, widened to a
    curve)."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    cents, assigned = similarity.ivf_assign(
        e, "vec_id", "embedding", n_lists=16, refine_iters=1
    )
    # the assigned index feeds BOTH the candidate stage (collect on the
    # BLAS path / join on the fallback) and the exact re-score join —
    # without the persist the full assign pipeline re-executes per consumer
    assigned = stages.hold("probe_curve_assigned", assigned)
    q = e.select(
        F.col("vec_id").alias("query_id"), V.as_double("embedding").alias("qv")
    ).withColumn("nqv", V.norm(F.col("qv")))
    pr = q.crossJoin(F.broadcast(cents)).select(
        "query_id",
        "qv",
        "nqv",
        "cid",
        (V.dot(F.col("qv"), F.col("cv")) / (F.col("nqv") * F.col("ncv"))).alias("cc"),
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("cc"), "cid")
    probes = (
        pr.withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= 8)
        .select("query_id", "qv", "nqv", F.col("cid").alias("list_id"), "probe_rank")
    )
    # Candidate stage: BLAS bucket-shortlist + exact JVM re-score (the
    # brute_force_topk_vectorized two-stage shape).  The probed-list join
    # keyed on list_id has only n_lists=16 distinct keys — at bench scale
    # that serializes the 2M-candidate cosine folds onto <= 16 tasks
    # (measured 15 s of the 17 s pin).  Instead the (id, list, vector)
    # index is collected once (size-capped) and broadcast; each Arrow batch
    # of queries does ONE matmul against the whole index and emits per
    # probed bucket its top-5 candidate IDs only (5 > 3 buffers ulp-close
    # BLAS boundaries; the exact fold re-score + row_number below derive
    # the true per-bucket top-3, so output values are bit-identical to the
    # all-candidates plan).  Past the cap the operator degrades to the
    # list_id-co-partitioned join — the genuine shape when the index
    # outgrows a broadcast, where n_lists ~ sqrt(n) (auto_n_lists) also
    # makes the join key space wide enough to parallelize.
    if similarity._within_cap(assigned, similarity.MAX_BROADCAST_INDEX_ROWS):
        import numpy as np
        import pandas as pd

        rows = assigned.select("corpus_id", "list_id", "v").collect()
        if not rows:
            # 0 rows passes _within_cap but np.array([]) is 1-D and the
            # axis=1 norm would raise; an empty corpus has an empty curve
            return spark.createDataFrame(
                [],
                "n_probe int, n_matched bigint, n_exact bigint, recall double",
            )
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        lists = np.array([r[1] for r in rows], dtype=np.int64)
        mat = np.array([list(r[2]) for r in rows], dtype=np.float64)
        mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((ids, lists, mat_n))

        def bucket_topk(batches):
            c_ids, c_lists, c_mat = bc.value
            for pdf in batches:
                out_q, out_c, out_r = [], [], []
                for qid, qv, pl in zip(pdf["query_id"], pdf["qv"], pdf["pl"]):
                    qn = np.asarray(list(qv), dtype=np.float64)
                    qn = qn / np.linalg.norm(qn)
                    s = qn @ c_mat.T
                    for item in pl:
                        lid = int(item["list_id"])
                        mask = (c_lists == lid) & (c_ids != int(qid))
                        if not mask.any():
                            continue
                        order = np.lexsort((c_ids[mask], -s[mask]))[:5]
                        sel = c_ids[mask][order]
                        out_q.extend([int(qid)] * len(sel))
                        out_c.extend(sel)
                        out_r.extend([int(item["probe_rank"])] * len(sel))
                yield pd.DataFrame(
                    {"query_id": out_q, "corpus_id": out_c, "probe_rank": out_r}
                )

        per_query = probes.groupBy("query_id", "qv").agg(
            F.collect_list(F.struct("probe_rank", "list_id")).alias("pl")
        )
        cand_ids = per_query.mapInPandas(
            bucket_topk, "query_id long, corpus_id long, probe_rank int"
        )
        cv_t = assigned.select("corpus_id", "v").withColumn("nv", V.norm(F.col("v")))
        cand = (
            cand_ids.join(q, "query_id")
            .join(cv_t, "corpus_id")
            .select(
                "query_id",
                "corpus_id",
                "probe_rank",
                (V.dot(F.col("qv"), F.col("v")) / (F.col("nqv") * F.col("nv"))).alias(
                    "cosine"
                ),
            )
        )
    else:
        a2 = assigned.withColumn("nv", V.norm(F.col("v")))
        cand = (
            probes.join(a2, "list_id")
            .filter(F.col("query_id") != F.col("corpus_id"))
            .select(
                "query_id",
                "corpus_id",
                "probe_rank",
                (V.dot(F.col("qv"), F.col("v")) / (F.col("nqv") * F.col("nv"))).alias(
                    "cosine"
                ),
            )
        )
    # pre-top-3 per (query, probe_rank) BEFORE the config fan-out: any
    # config's top-3 is a subset of the union of its probe buckets' top-3s
    # (an element ranked 4th+ in its own bucket has >= 3 bucket-mates ahead
    # of it globally, same (cosine desc, corpus_id) tiebreak), so the
    # cumulative pass below runs over <= 3*8 rows per query instead of the
    # full candidate set
    wb = Window.partitionBy("query_id", "probe_rank").orderBy(
        F.desc("cosine"), "corpus_id"
    )
    shortlist = (
        cand.withColumn("brnk", F.row_number().over(wb))
        .filter(F.col("brnk") <= 3)
        .select("query_id", "corpus_id", "probe_rank", "cosine")
    )
    # single cumulative-rank pass (r07 VERDICT ask #8), replacing the 4x
    # config fan-out + per-config row_number windows: the shortlist is
    # sorted ONCE per query by (cosine desc, corpus_id) — a strict total
    # order, since each corpus vector lives in exactly one probed list —
    # and a candidate is in config p's top-3 iff its probe_rank <= p AND at
    # most 3 candidates with probe_rank <= p precede-or-equal it in that
    # order (the running count IS its rank within config p).  All four
    # configs come out of ONE window node (4 conditional running sums share
    # the frame) instead of four sorted subtrees over a 4x-multiplied join.
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "corpus_id"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cfgs = (1, 2, 4, 8)
    cums = [
        F.sum(
            F.when(F.col("probe_rank") <= p, F.lit(1)).otherwise(F.lit(0))
        ).over(wc).alias(f"cum{p}")
        for p in cfgs
    ]
    flagged = shortlist.select("query_id", "corpus_id", "probe_rank", *cums)
    in_top3 = [
        ((F.col("probe_rank") <= p) & (F.col(f"cum{p}") <= 3))
        .cast("long")
        .alias(f"in{p}")
        for p in cfgs
    ]
    # the exact truth set feeds BOTH the per-config match count and the
    # 1-row total; without the persist the brute-force scan runs twice.
    # Rotating persist (r07 ADVICE #2): released on the next call.
    bf = stages.hold(
        "probe_curve_bf",
        _Q["ann_brute_force_topk"].fn(spark, sf_dir).select("query_id", "corpus_id"),
    )
    hits = flagged.select("query_id", "corpus_id", *in_top3).join(
        bf, ["query_id", "corpus_id"]
    )
    m = hits.agg(
        *[F.coalesce(F.sum(f"in{p}"), F.lit(0)).alias(f"m{p}") for p in cfgs]
    )
    t = bf.agg(F.count(F.lit(1)).alias("n_exact"))
    stack_args = ", ".join(f"{p}, m{p}" for p in cfgs)
    return (
        m.crossJoin(F.broadcast(t))
        .select(
            F.expr(
                f"stack({len(cfgs)}, {stack_args}) AS (n_probe, n_matched)"
            ),
            "n_exact",
        )
        .select(
            "n_probe",
            "n_matched",
            "n_exact",
            (F.col("n_matched").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )

@register(
    "embedding_outlier_mahalanobis",
    # Top-20 embedding outliers by DIAGONAL Mahalanobis distance — the
    # distribution-aware anomaly scan (vs embedding_norm_extremes' raw
    # norms): per-dimension mean/variance come from the exact-decimal
    # moment pipeline (order-free), each dimension's standardized square is
    # rounded to 9dp and summed through DECIMAL (order-free again), so the
    # top-20 cut is bit-deterministic; zero-variance dims carry no signal
    # and are excluded on both engines.
    oracle=f"""
        WITH c AS (
            SELECT vec_id, u.e.pos AS pos, u.e.comp AS comp FROM (
                SELECT vec_id,
                       unnest(list_transform(embedding::DOUBLE[],
                              (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                FROM embeddings
            ) u
        ),
        s AS MATERIALIZED (
            SELECT pos, COUNT(*) AS n,
                   SUM(CAST(comp * {_POW2_43} AS DECIMAL(19,0))) AS s1,
                   SUM(CAST(comp * {_POW2_43} AS DECIMAL(19,0))
                       * CAST(comp * {_POW2_43} AS DECIMAL(19,0))) AS s2
            FROM c GROUP BY pos
        ),
        mv AS (
            SELECT pos,
                   CAST(s1 AS DOUBLE) / {_POW2_43} / n AS mean_val,
                   CAST(s2 AS DOUBLE) / {_POW2_43} / {_POW2_43} / n
                       - (CAST(s1 AS DOUBLE) / {_POW2_43} / n)
                         * (CAST(s1 AS DOUBLE) / {_POW2_43} / n) AS var_val
            FROM s
        ),
        md AS (
            SELECT c.vec_id,
                   round(CAST(SUM(CAST(round(
                       (c.comp - mv.mean_val) * (c.comp - mv.mean_val)
                           / mv.var_val, 9) AS DECIMAL(20,9))) AS DOUBLE), 6)
                       AS mahalanobis
            FROM c JOIN mv USING (pos)
            WHERE mv.var_val > 0
            GROUP BY c.vec_id
        )
        SELECT vec_id, mahalanobis FROM md
        ORDER BY mahalanobis DESC, vec_id LIMIT 20
    """,
    tags=("embedding", "anomaly", "stats"),
)
def embedding_outlier_mahalanobis(spark, sf_dir):
    """Diagonal-Mahalanobis outlier scan.  100-TB shape: one posexplode +
    (pos)-keyed exact-moment rollup (dim rows), broadcast back over a
    second narrow pass, a vec-keyed rollup, and a TakeOrderedAndProject
    top-20 — two corpus scans, no window over the full table."""
    e = T(spark, sf_dir, "embeddings")
    c = e.select("vec_id", F.posexplode(V.as_double("embedding")).alias("pos", "comp"))
    iv = (F.col("comp") * _POW2_43).cast("decimal(19,0)")
    s = c.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(iv).alias("s1"),
        F.sum(iv * iv).alias("s2"),
    )
    mean = F.col("s1").cast("double") / _POW2_43 / F.col("n")
    var = (
        F.col("s2").cast("double") / _POW2_43 / _POW2_43 / F.col("n")
        - (F.col("s1").cast("double") / _POW2_43 / F.col("n"))
        * (F.col("s1").cast("double") / _POW2_43 / F.col("n"))
    )
    mv = s.select("pos", mean.alias("mean_val"), var.alias("var_val"))
    term = F.round(
        (F.col("comp") - F.col("mean_val"))
        * (F.col("comp") - F.col("mean_val"))
        / F.col("var_val"),
        9,
    ).cast("decimal(20,9)")
    md = (
        c.join(F.broadcast(mv), "pos")
        .filter(F.col("var_val") > 0)
        .groupBy("vec_id")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("mahalanobis"))
    )
    return md.orderBy(F.desc("mahalanobis"), "vec_id").limit(20)

@register(
    "jl_recall_vs_dim_curve",
    # top-5 recall as a function of sketch width m in {4, 8, 16}: the JL
    # sketch is projected ONCE at 16 dims and each narrower config ranks
    # by the PREFIX slice (a JL matrix's first m rows are themselves a JL
    # matrix), so the curve costs one projection pass + three fold widths
    # over the same fixed-query pair table — jl_projection_recall's single
    # point widened into the dimension-budget tuning curve.
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
            SELECT vec_id,
                   [{_JL_COORD_SQL.format(p='pp')} for pp in generate_series(100, 115)]
                       AS y
            FROM v
        ),
        q AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8),
        ex AS (
            SELECT query_id, corpus_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_cos_sql("a", "b")} DESC, c.vec_id
                       ) AS rnk
                FROM q JOIN v a ON a.vec_id = q.vec_id
                JOIN v b ON b.vec_id <> q.vec_id
                JOIN v c ON c.vec_id = b.vec_id
            ) WHERE rnk <= 5
        ),
        cfg(m) AS (VALUES (4), (8), (16)),
        sk AS (
            SELECT m, query_id, corpus_id FROM (
                SELECT cfg.m, q.vec_id AS query_id, c.vec_id AS corpus_id,
                       row_number() OVER (
                           PARTITION BY cfg.m, q.vec_id
                           ORDER BY list_dot_product(a.y[1:cfg.m], b.y[1:cfg.m])
                                    / (sqrt(list_dot_product(a.y[1:cfg.m], a.y[1:cfg.m]))
                                       * sqrt(list_dot_product(b.y[1:cfg.m], b.y[1:cfg.m]))) DESC,
                                    c.vec_id
                       ) AS rnk
                FROM cfg, q
                JOIN p a ON a.vec_id = q.vec_id
                JOIN p b ON b.vec_id <> q.vec_id
                JOIN p c ON c.vec_id = b.vec_id
            ) WHERE rnk <= 5
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        mt AS (
            SELECT m, CAST(count(*) AS BIGINT) AS n_matched
            FROM sk JOIN ex USING (query_id, corpus_id) GROUP BY m
        )
        SELECT cfg.m AS sketch_dim, coalesce(mt.n_matched, 0) AS n_matched,
               t.n_exact,
               CAST(coalesce(mt.n_matched, 0) AS DOUBLE) / t.n_exact AS recall
        FROM cfg LEFT JOIN mt ON mt.m = cfg.m CROSS JOIN t
    """,
    tags=("embedding", "ann", "sketch", "tuning"),
)
def jl_recall_vs_dim_curve(spark, sf_dir):
    """JL dimension-budget sweep.  100-TB shape: one narrow projection
    pass (compile-time sign matrix), a fixed 8-query batch so the pair
    table is 8xN per config, per-config ranking k-bounded by the window
    filter, and the recall join touches only top-5 lists.  Widening
    jl_projection_recall's single operating point into the curve that
    picks the sketch width."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    v = e.select("vec_id", V.as_double("embedding").alias("v"))

    hexhi = ("8", "9", "a", "b", "c", "d", "e", "f")

    def plane_comp(p):
        return F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: F.when(
                F.substring(
                    F.md5(F.concat(F.lit(f"{p}:"), j.cast("string"))), 1, 1
                ).isin(*hexhi),
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)),
        )

    proj = v.select(
        "vec_id", F.array(*[V.dot(F.col("v"), plane_comp(p)) for p in _JL_PLANES]).alias("y")
    )
    proj = stages.hold("jl_curve_proj", proj)
    q_ids = v.orderBy("vec_id").limit(8).select(F.col("vec_id").alias("query_id"))

    ex_pairs = (
        q_ids.join(v.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qa")), "query_id")
        .crossJoin(v.select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("qb")))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id", V.cosine(F.col("qa"), F.col("qb")).alias("cos"))
    )
    wex = Window.partitionBy("query_id").orderBy(F.desc("cos"), "corpus_id")
    # persisted: the 40-row exact top-5 feeds both the recall join and the
    # 1-row total — without it the 8xN exact-cosine scan runs twice
    ex = stages.hold(
        "jl_curve_exact",
        ex_pairs.select(
            "query_id", "corpus_id", F.row_number().over(wex).alias("rnk")
        )
        .filter(F.col("rnk") <= 5)
        .select("query_id", "corpus_id"),
    )

    cfg = spark.createDataFrame([(4,), (8,), (16,)], "m int")
    sk_pairs = (
        q_ids.join(proj.select(F.col("vec_id").alias("query_id"), F.col("y").alias("ya")), "query_id")
        .crossJoin(proj.select(F.col("vec_id").alias("corpus_id"), F.col("y").alias("yb")))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .crossJoin(F.broadcast(cfg))
        .select(
            "m",
            "query_id",
            "corpus_id",
            V.cosine(
                F.slice("ya", F.lit(1), F.col("m")),
                F.slice("yb", F.lit(1), F.col("m")),
            ).alias("cos"),
        )
    )
    wsk = Window.partitionBy("m", "query_id").orderBy(F.desc("cos"), "corpus_id")
    sk = (
        sk_pairs.select("m", "query_id", "corpus_id", F.row_number().over(wsk).alias("rnk"))
        .filter(F.col("rnk") <= 5)
        .select("m", "query_id", "corpus_id")
    )
    t = ex.agg(F.count(F.lit(1)).alias("n_exact"))
    mt = sk.join(ex, ["query_id", "corpus_id"]).groupBy("m").agg(
        F.count(F.lit(1)).alias("n_matched")
    )
    return (
        cfg.join(mt, "m", "left")
        .crossJoin(F.broadcast(t))
        .select(
            F.col("m").alias("sketch_dim"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            "n_exact",
            (
                F.coalesce("n_matched", F.lit(0)).cast("double") / F.col("n_exact")
            ).alias("recall"),
        )
    )

@register(
    "ann_reciprocal_rate",
    # Mutual-kNN audit: the fraction of exact top-3 edges that are
    # reciprocated (a is in b's top-3 AND b is in a's top-3).  Hubness
    # diagnostic for the embedding space — a low rate means asymmetric hub
    # vectors dominate neighborhoods, which degrades kNN-graph dedup and
    # hard-negative mining.  Integer-ratio exact, composed from the
    # registered brute-force oracle.
    oracle=f"""
        WITH bf AS MATERIALIZED (
            SELECT query_id, corpus_id FROM ({_Q["ann_brute_force_topk"].oracle}) x
        )
        SELECT CAST((SELECT count(*) FROM bf) AS BIGINT) AS n_edges,
               CAST(count(*) AS BIGINT) AS n_mutual,
               CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM bf)
                   AS reciprocal_rate
        FROM bf a JOIN bf b
          ON a.query_id = b.corpus_id AND a.corpus_id = b.query_id
    """,
    tags=("similarity", "ann", "audit"),
)
def ann_reciprocal_rate(spark, sf_dir):
    """Reciprocal-kNN rate.  100-TB shape: the edge list is k rows per
    query (k-bounded, never corpus-sized); the reversal join is an
    equi-join on the pair key against itself."""
    bf = _Q["ann_brute_force_topk"].fn(spark, sf_dir).select("query_id", "corpus_id")
    bf = stages.hold("recip_bf", bf)
    rev = bf.select(
        F.col("corpus_id").alias("query_id"), F.col("query_id").alias("corpus_id")
    )
    mutual = bf.join(rev, ["query_id", "corpus_id"]).agg(
        F.count(F.lit(1)).alias("n_mutual")
    )
    t = bf.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        t.crossJoin(F.broadcast(mutual))
        .select(
            "n_edges",
            "n_mutual",
            (F.col("n_mutual").cast("double") / F.col("n_edges")).alias(
                "reciprocal_rate"
            ),
        )
    )

@register(
    "embedding_cluster_purity",
    # Label purity of the deterministic IVF clustering (the same refined
    # centroids ann_ivf_topk probes): per list, the majority-label share —
    # the unsupervised-quality audit run after every index rebuild, and
    # the quantitative check that SemDeDup-style semantic pruning operates
    # on label-coherent clusters.  Counts are integers; purity divides two
    # bigints once; majority ties break on the label.
    oracle=f"""
        WITH {_IVF_ASSIGNED_CTES},
        lab AS (SELECT vec_id, label FROM embeddings),
        per AS (
            SELECT a.list_id, l.label, CAST(count(*) AS BIGINT) AS c
            FROM assigned a JOIN lab l ON l.vec_id = a.corpus_id
            GROUP BY 1, 2
        ),
        tot AS (SELECT list_id, CAST(SUM(c) AS BIGINT) AS n FROM per GROUP BY 1),
        top AS (
            SELECT list_id, label AS top_label, c AS n_top FROM (
                SELECT list_id, label, c,
                       row_number() OVER (PARTITION BY list_id
                                          ORDER BY c DESC, label) AS rnk
                FROM per
            ) WHERE rnk = 1
        )
        SELECT t.list_id, tot.n, t.top_label, t.n_top,
               CAST(t.n_top AS DOUBLE) / tot.n AS purity
        FROM top t JOIN tot USING (list_id)
    """,
    tags=("embedding", "kmeans", "audit"),
)
def embedding_cluster_purity(spark, sf_dir):
    """IVF cluster label purity.  100-TB shape: the assignment is the
    shared broadcast-centroid pipeline; everything downstream is keyed on
    (list_id, label) — at most n_lists * n_labels rows — with a k-bounded
    argmax window."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    _, assigned = similarity.ivf_assign(
        e, "vec_id", "embedding", n_lists=16, refine_iters=1
    )
    per = (
        assigned.join(
            e.select(F.col("vec_id").alias("corpus_id"), "label"), "corpus_id"
        )
        .groupBy("list_id", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = per.groupBy("list_id").agg(F.sum("c").alias("n"))
    w = Window.partitionBy("list_id").orderBy(F.desc("c"), "label")
    top = (
        per.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("list_id", F.col("label").alias("top_label"), F.col("c").alias("n_top"))
    )
    return top.join(tot, "list_id").select(
        "list_id",
        "n",
        "top_label",
        "n_top",
        (F.col("n_top").cast("double") / F.col("n")).alias("purity"),
    )

@register(
    "embedding_mass_length_corr",
    # Cross-modal audit: Pearson correlation between a document's
    # embedding component sum ("mass" — the norms are unit here, so the
    # sum is the discriminative scalar) and its token count (vec_id i is
    # doc i's embedding in this fixture) — the sanity check that catches
    # length-biased embeddings before they skew cosine dedup.  The sum is
    # the shared strict-left-fold kernel rounded to 6dp; every moment then
    # sums through exact DECIMAL; the closed-form r runs one fixed double
    # sequence with a zero-variance guard on both engines.
    oracle=f"""
        WITH v AS (
            SELECT vec_id AS doc_id,
                   CAST(round(list_reduce(embedding::DOUBLE[],
                                          (acc, x) -> acc + x), 6)
                        AS DECIMAL(12,6)) AS x
            FROM embeddings
        ),
        d AS (
            SELECT doc_id, CAST(len({_toks()}) AS DECIMAL(12,0)) AS y
            FROM documents
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM v JOIN d USING (doc_id)
        )
        SELECT n,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                    THEN NULL
                    ELSE round((n * sxy - sx * sy)
                               / (sqrt(n * sxx - sx * sx)
                                  * sqrt(n * syy - sy * sy)), 6)
               END AS pearson_r
        FROM s
    """,
    tags=("embedding", "text", "audit", "stats"),
)
def embedding_mass_length_corr(spark, sf_dir):
    """Mass-vs-length Pearson.  100-TB shape: two narrow scans joined on
    the id key, one 1-row exact-decimal moment aggregate, closed-form r.
    The fold x0 differs from V.dot only by the 0.0 init (0.0 + x == x in
    IEEE), so both engines see identical sums."""
    e = T(spark, sf_dir, "embeddings")
    d = T(spark, sf_dir, "documents")
    mass = F.aggregate(
        V.as_double("embedding"), F.lit(0.0), lambda acc, x: acc + x
    )
    v = e.select(
        F.col("vec_id").alias("doc_id"),
        F.round(mass, 6).cast("decimal(12,6)").alias("x"),
    )
    dd = d.select("doc_id", F.size(TX.tokens("text")).cast("decimal(12,0)").alias("y"))
    s = v.join(dd, "doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return s.select(
        "n",
        F.when(
            (vx == 0) | (vy == 0), F.lit(None).cast("double")
        ).otherwise(
            F.round((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6)
        ).alias("pearson_r"),
    )

@register(
    "embedding_quant_bits_sweep",
    # Symmetric-quantization error as a function of bit width b in
    # {4, 6, 8}: per vector, scale = max|v| / (2^(b-1) - 1), q_i =
    # round(v_i / scale), err_i = |q_i * scale - v_i| — the storage-vs-
    # fidelity curve that picks the embedding wire format (the int8
    # operating point embedding_quantize_int8 ships is one row of it).
    # Every step is the same IEEE double sequence on both engines; the
    # mean error pre-rounds to 12dp and sums through exact DECIMAL.
    oracle="""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cfg(bits, qmax) AS (VALUES (4, 7.0), (6, 31.0), (8, 127.0)),
        pv AS (
            SELECT bits,
                   list_max(list_transform(v, x -> abs(x))) / qmax AS scale, v
            FROM v, cfg
        ),
        e AS (
            SELECT bits,
                   unnest(list_transform(v, x ->
                       abs(round(x / scale) * scale - x))) AS err
            FROM pv
        )
        SELECT bits,
               CAST(count(*) AS BIGINT) AS n_components,
               round(CAST(SUM(CAST(round(err, 12) AS DECIMAL(16,12)))
                          AS DOUBLE) / count(*), 9) AS mean_abs_err,
               round(max(err), 9) AS max_abs_err
        FROM e GROUP BY bits
    """,
    tags=("embedding", "quantize", "tuning"),
)
def embedding_quant_bits_sweep(spark, sf_dir):
    """Quantization bit-width sweep.  100-TB shape: one narrow pass per
    config over the same scan (no shuffle until the 3-key rollup); the
    curve says how many bits the corpus actually needs before the 4x-32x
    storage cut distorts neighborhoods."""
    e = T(spark, sf_dir, "embeddings")
    v = e.select(V.as_double("embedding").alias("v"))
    cfg = spark.createDataFrame([(4, 7.0), (6, 31.0), (8, 127.0)], "bits int, qmax double")
    pv = v.crossJoin(F.broadcast(cfg)).select(
        "bits",
        (F.array_max(F.transform("v", lambda x: F.abs(x))) / F.col("qmax")).alias(
            "scale"
        ),
        "v",
    )
    err = pv.select(
        "bits",
        F.explode(
            F.expr("transform(v, x -> abs(round(x / scale) * scale - x))")
        ).alias("err"),
    )
    return err.groupBy("bits").agg(
        F.count(F.lit(1)).alias("n_components"),
        F.round(
            F.sum(F.round(F.col("err"), 12).cast("decimal(16,12)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("mean_abs_err"),
        F.round(F.max("err"), 9).alias("max_abs_err"),
    )

@register(
    "embedding_temporal_drift",
    # Temporal embedding drift: the L2 distance between the centroid of
    # the first half of the corpus (by vec_id, the ingestion order) and
    # the second half, per the exact-decimal mean pipeline — the
    # re-embedding trigger for a drifting encoder or corpus (the temporal
    # twin of embedding_drift_by_label).  Per-dim means are exact; each
    # squared diff rounds to 12dp and sums through DECIMAL; the distance
    # rounds to 6dp.
    oracle=f"""
        WITH mx AS (SELECT max(vec_id) AS mx FROM embeddings),
        c AS (
            SELECT CASE WHEN vec_id * 2 <= mx THEN 0 ELSE 1 END AS half,
                   u.e.pos AS pos, u.e.comp AS comp FROM (
                SELECT vec_id,
                       unnest(list_transform(embedding::DOUBLE[],
                              (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                FROM embeddings
            ) u, mx
        ),
        m AS (
            SELECT half, pos,
                   CAST(SUM(CAST(comp * {_POW2_43} AS DECIMAL(38,0))) AS DOUBLE)
                       / {_POW2_43} / COUNT(*) AS mean_val
            FROM c GROUP BY half, pos
        ),
        d AS (
            SELECT a.pos,
                   CAST(round((a.mean_val - b.mean_val)
                              * (a.mean_val - b.mean_val), 12)
                        AS DECIMAL(16,12)) AS sq
            FROM m a JOIN m b ON a.pos = b.pos AND a.half = 0 AND b.half = 1
        )
        SELECT CAST(count(*) AS BIGINT) AS n_dims,
               round(sqrt(CAST(SUM(sq) AS DOUBLE)), 6) AS centroid_l2_shift
        FROM d
    """,
    tags=("embedding", "drift", "audit"),
)
def embedding_temporal_drift(spark, sf_dir):
    """First-half vs second-half centroid shift.  100-TB shape: one
    posexplode into a (half, pos)-keyed exact-decimal mean (2*dim output
    rows), a dim-keyed self-join, and a 1-row distance."""
    e = T(spark, sf_dir, "embeddings")
    mx = e.agg(F.max("vec_id").alias("mx"))
    c = (
        e.crossJoin(F.broadcast(mx))
        .select(
            F.when(F.col("vec_id") * 2 <= F.col("mx"), 0).otherwise(1).alias("half"),
            F.posexplode(V.as_double("embedding")).alias("pos", "comp"),
        )
    )
    m = c.groupBy("half", "pos").agg(
        (
            F.sum((F.col("comp") * _POW2_43).cast("decimal(38,0)")).cast("double")
            / _POW2_43
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    a = m.filter(F.col("half") == 0).select("pos", F.col("mean_val").alias("ma"))
    b = m.filter(F.col("half") == 1).select("pos", F.col("mean_val").alias("mb"))
    sq = F.round((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 12).cast(
        "decimal(16,12)"
    )
    return (
        a.join(b, "pos")
        .agg(
            F.count(F.lit(1)).alias("n_dims"),
            F.round(F.sqrt(F.sum(sq).cast("double")), 6).alias("centroid_l2_shift"),
        )
    )

@register(
    "embedding_knn_label_probe",
    # The 1-NN classification probe: does each vector's exact nearest
    # neighbor share its label?  Per-label accuracy — the standard quick
    # eval of embedding quality before training anything (and the
    # pass/fail gate on a re-embedding).  Composes the registered
    # brute-force oracle's rank-1 rows with the label column; counts and
    # the accuracy ratio are exact integers.
    oracle=f"""
        WITH nn AS MATERIALIZED (
            SELECT query_id, corpus_id
            FROM ({_Q["ann_brute_force_topk"].oracle}) x WHERE rank = 1
        ),
        lab AS (SELECT vec_id, label FROM embeddings)
        SELECT a.label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS accuracy
        FROM nn
        JOIN lab a ON a.vec_id = nn.query_id
        JOIN lab b ON b.vec_id = nn.corpus_id
        GROUP BY a.label
    """,
    tags=("embedding", "similarity", "audit"),
)
def embedding_knn_label_probe(spark, sf_dir):
    """1-NN label accuracy per class.  100-TB shape: the neighbor list is
    1 row per query (k-bounded); the label joins hit the id key; output is
    |labels| rows.  At cluster scale the exact top-1 swaps for the IVF
    candidate path — the probe's plan shape is unchanged."""
    bf = (
        _Q["ann_brute_force_topk"].fn(spark, sf_dir)
        .filter(F.col("rank") == 1)
        .select("query_id", "corpus_id")
    )
    e = T(spark, sf_dir, "embeddings")
    la = e.select(F.col("vec_id").alias("query_id"), F.col("label").alias("label"))
    lb = e.select(F.col("vec_id").alias("corpus_id"), F.col("label").alias("nn_label"))
    return (
        bf.join(la, "query_id")
        .join(lb, "corpus_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("label") == F.col("nn_label"), 1).otherwise(0)).alias(
                "n_correct"
            ),
            (
                F.sum(
                    F.when(F.col("label") == F.col("nn_label"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("accuracy"),
        )
    )

@register(
    "embedding_intrinsic_dimension",
    # Two-NN intrinsic-dimension estimate (Facco et al.): ID =
    # 1 / mean(ln(d2/d1)) over the exact top-2 cosine-distance neighbors —
    # the manifold-dimensionality probe that says how compressible the
    # embedding space really is (JL/PQ budgets key off it).  Distances
    # derive from the shared fold-kernel cosines (bit-equal); each
    # ln(d2/d1) pre-rounds to 9dp into DECIMAL sums; queries with d1 = 0
    # (exact duplicates) are excluded on both engines.
    oracle=f"""
        WITH top2 AS MATERIALIZED (
            SELECT query_id,
                   max(CASE WHEN rank = 1 THEN 1.0 - cosine END) AS d1,
                   max(CASE WHEN rank = 2 THEN 1.0 - cosine END) AS d2
            FROM ({_Q["ann_brute_force_topk"].oracle}) x
            WHERE rank <= 2 GROUP BY query_id
        ),
        r AS (
            SELECT CAST(round(ln(d2 / d1), 9) AS DECIMAL(16,9)) AS lr
            FROM top2 WHERE d1 > 0 AND d2 > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               round(CAST(SUM(lr) AS DOUBLE) / count(*), 6) AS mean_log_ratio,
               round(CAST(count(*) AS DOUBLE) / CAST(SUM(lr) AS DOUBLE), 6)
                   AS intrinsic_dim
        FROM r
    """,
    tags=("embedding", "stats", "similarity"),
)
def embedding_intrinsic_dimension(spark, sf_dir):
    """Two-NN intrinsic dimension.  100-TB shape: the neighbor list is
    2 rows per query (k-bounded; at cluster scale the exact top-2 swaps
    for the IVF path); the estimate is a 1-row exact-decimal aggregate."""
    bf = _Q["ann_brute_force_topk"].fn(spark, sf_dir).filter(F.col("rank") <= 2)
    top2 = bf.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, 1.0 - F.col("cosine"))).alias("d1"),
        F.max(F.when(F.col("rank") == 2, 1.0 - F.col("cosine"))).alias("d2"),
    )
    r = (
        top2.filter((F.col("d1") > 0) & (F.col("d2") > 0))
        .select(
            F.round(F.log(F.col("d2") / F.col("d1")), 9)
            .cast("decimal(16,9)")
            .alias("lr")
        )
    )
    return r.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.sum("lr").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_log_ratio"
        ),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("lr").cast("double"), 6
        ).alias("intrinsic_dim"),
    )


@register(
    "knn_mutual_components",
    # graph-based semantic clustering (the SemDeDup/SemDeDup-graph shape):
    # exact 3-NN graph -> MUTUAL edges only (a in kNN(b) AND b in kNN(a) —
    # the standard hubness filter: a hub vector that everyone ranks highly
    # but that ranks nobody back creates no edges) -> connected components
    # -> cluster census.  The oracle walks the same recursive closure over
    # the same brute-force kNN (cosine DESC, corpus_id tiebreak), so the
    # whole chain — ranking, mutuality, transitive closure — is graded in
    # one hash.
    oracle=f"""
        WITH RECURSIVE
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_COS} AS cosine
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT query_id, corpus_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS rank
            FROM pairs
        ),
        knn AS (SELECT query_id, corpus_id FROM ranked WHERE rank <= 3),
        mutual AS (
            SELECT a.query_id AS id_a, a.corpus_id AS id_b
            FROM knn a JOIN knn b
              ON a.query_id = b.corpus_id AND a.corpus_id = b.query_id
            WHERE a.query_id < a.corpus_id
        ),
        edges AS (
            SELECT id_a AS u, id_b AS w FROM mutual
            UNION ALL SELECT id_b AS u, id_a AS w FROM mutual
        ),
        walk AS (
            SELECT u AS node, u AS reach FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT wk.node, e.w AS reach FROM walk wk JOIN edges e ON e.u = wk.reach
        ),
        comp AS (SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node)
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_members,
               max(node) AS max_node
        FROM comp GROUP BY cluster_id ORDER BY cluster_id
    """,
    tags=("embedding", "similarity", "graph", "dedup", "knn"),
)
def knn_mutual_components(spark, sf_dir):
    """Mutual-kNN semantic clusters: the exact 3-NN graph (BLAS candidate
    + exact JVM re-score — the broadcast-capped path with the
    role-inverting distributed fallback), mutuality by one self-join on
    the (query, corpus) edge set, components by checkpointed min-label
    propagation (operators/graph.py — near-clique clusters converge in
    diameter rounds).  100-TB shape: the kNN build is the only O(n·k)
    stage; everything after is edge-set-sized (mutual edges <= 3n), and
    the component loop shuffles edges, never vectors."""
    from kwack_spark.operators import graph

    e = T(spark, sf_dir, "embeddings")
    topk = stages.hold(
        "knn_mutual_topk",
        similarity.brute_force_topk_vectorized(
            e, e, "vec_id", "embedding", k=3
        ).select("query_id", "corpus_id"),
    )
    b = topk.select(
        F.col("query_id").alias("corpus_id"), F.col("corpus_id").alias("query_id")
    )
    mutual = (
        topk.join(b, ["query_id", "corpus_id"])
        .filter(F.col("query_id") < F.col("corpus_id"))
        .select(F.col("query_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
    )
    # mutual-kNN graphs are NOT near-cliques: k<=3 mutuality produces long
    # chains whose diameter grows with n (56-vs-51 clusters at sf0.1 under
    # the dedup default of 20 rounds was an UNCONVERGED labeling, not a
    # ranking bug).  graph.py's shortcutting squares propagation distance
    # per round (O(log diameter) rounds); the loop breaks early, so a
    # high cap costs nothing.  The label table is <= 3n ids — partitions
    # sized to the edge set, not the session default, since per-round
    # cost here is scheduling, not data: the same 8-partition pin every
    # bounded streaming replay drains under (pipeline.drain).
    from kwack_spark.plans.pipeline import _few_shuffle_partitions

    with _few_shuffle_partitions(spark):
        comp = graph.connected_components(mutual, max_iter=256)
        comp = comp.localCheckpoint()
    return (
        comp.groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max("node").alias("max_node"),
        )
        .orderBy("cluster_id")
    )


@register(
    "cluster_balanced_sample",
    # semantic-diversity balanced sampling (the D4/DeepSeekMath-lineage
    # cluster-cap pass): assign every embedding to its deterministic
    # k-means cluster, then keep at most CAP=8 per cluster in a stable
    # pseudo-random order — oversampled semantic regions are capped while
    # rare regions survive whole, the embedding-space analogue of
    # source_cap_sample's per-source quota.  The rank key is md5-derived
    # (reproducible across runs/engines/cluster layouts), clusters are the
    # SAME integer-exact Lloyd assignment ann_ivf_topk grades, and every
    # row is emitted with its rank and kept flag so the cap's effect is
    # part of the graded output.
    oracle=f"""
        WITH {_IVF_ASSIGNED_CTES},
        ranked AS (
            SELECT a.corpus_id AS vec_id, a.list_id,
                   CAST(row_number() OVER (
                       PARTITION BY a.list_id
                       ORDER BY md5('cbs:' || a.corpus_id::VARCHAR),
                                a.corpus_id
                   ) AS BIGINT) AS rk
            FROM assigned a
        )
        SELECT vec_id, CAST(list_id AS BIGINT) AS list_id, rk,
               rk <= 8 AS kept
        FROM ranked
        ORDER BY vec_id
    """,
    tags=("embedding", "sampling", "cluster", "training-prep"),
)
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling over the embedding table.  100-TB shape:
    the cluster assignment is the IVF machinery's broadcast-centroid
    nearest-centroid scan (no corpus-keyed shuffle), the per-cluster rank
    is one window over the cluster key — k-means lists are size-bounded by
    construction so no window partition is corpus-sized — and the cap
    turns an arbitrarily skewed semantic distribution into <= CAP x
    n_lists training rows while touching every row exactly once."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "embeddings")
    _, assigned = similarity.ivf_assign(
        e, "vec_id", "embedding", n_lists=16, refine_iters=1
    )
    rk = F.row_number().over(
        Window.partitionBy("list_id").orderBy(
            F.md5(F.concat(F.lit("cbs:"), F.col("corpus_id").cast("string"))),
            "corpus_id",
        )
    )
    return (
        assigned.select(
            F.col("corpus_id").alias("vec_id"),
            F.col("list_id").cast("bigint").alias("list_id"),
            rk.cast("bigint").alias("rk"),
        )
        .withColumn("kept", F.col("rk") <= 8)
        .orderBy("vec_id")
    )
