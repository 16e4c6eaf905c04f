"""Training-data pipeline corpus: dedup, similarity search, text analysis,
as-of joins, event-time windows, multimodal binary plumbing.

These go beyond the reference's own operator set (SURVEY.md §2.C/§7.2 step 7)
— they are the operations a 100 TB training-data pipeline needs.  Every
operator hashes with md5 and folds doubles in fixed element order so a DuckDB
oracle can verify it bit-for-bit.
"""

from __future__ import annotations

import contextlib
import uuid

from pyspark.sql import functions as F

from kwack_spark import scratch
from kwack_spark.functions import text as TX
from kwack_spark.operators.dedup import LSH_MAX_BAND_DF
from kwack_spark.plans.relational import T

_NORM = "regexp_replace(lower({c}), '[^a-z ]', '', 'g')"

_TOKS = f"list_filter(string_split({_NORM}, ' '), t -> len(t) > 0)"

def _toks(c: str = "text") -> str:
    return _TOKS.format(c=c)

@contextlib.contextmanager
def _few_shuffle_partitions(spark):
    """Pin 8 shuffle partitions for the duration of a bounded streaming
    replay: the state store creates one instance per shuffle partition, so
    a caller session's default (e.g. 200) costs far more than the
    test-scale data justifies.  Restored afterward — a real deployment
    sizes this to the cluster, not to the replay fixture."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

# a bounded replay that has not drained by then is stuck, not slow
DRAIN_TIMEOUT_S = 300

def replay(
    df,
    tag: str,
    n: int | None = None,
    *cols,
    max_files_per_trigger: int | None = None,
    readers: int = 1,
):
    """The bounded stream every streaming query grades: ``df`` is written
    once under a fresh ``scratch.scratch_dir(spark, tag)`` (hash-partitioned
    on ``cols`` into ``n`` files when ``n`` is given, round-robin when no
    ``cols``) and returned as the file-source stream over it, at most
    ``max_files_per_trigger`` files per micro-batch.  ``readers=k`` returns
    a list of k independent streams over the one directory instead: Spark
    plans a self-join of ONE stream over a single shared source, so two
    sides that must replay as independent streams each need their own."""
    spark = df.sparkSession
    path = scratch.scratch_dir(spark, tag)
    (df if n is None else df.repartition(n, *cols)).write.mode("overwrite").parquet(path)

    def read():
        reader = spark.readStream.schema(df.schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(path)

    return read() if readers == 1 else [read() for _ in range(readers)]

def await_drain(q, query: str):
    """Wait for ``q``, a query started with ``Trigger.AvailableNow``, to
    drain its input.  After ``DRAIN_TIMEOUT_S`` it is stopped and a
    ``TimeoutError`` naming ``query`` is raised.  Returns ``q``."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"{query}: stream did not finish in {DRAIN_TIMEOUT_S}s")
    return q

def drain(df, query: str, output_mode: str = "append"):
    """Drain the bounded stream ``df`` into a fresh memory table under the
    shuffle pin and return the finished query (its table is
    ``spark.table(q.name)``)."""
    from kwack_spark.streaming import ingest as si

    with _few_shuffle_partitions(df.sparkSession):
        sink = f"{query}_{uuid.uuid4().hex[:8]}"
        return await_drain(si.to_memory_sink(df, sink, output_mode), query)

def drain_to_table(df, query: str, output_mode: str = "append"):
    """``drain`` ``df`` and return the memory table it landed in."""
    return df.sparkSession.table(drain(df, query, output_mode).name)

_SHINGLES = """
    CASE WHEN len(tk) >= 3
         THEN [array_to_string(tk[i:i+2], ' ') for i in generate_series(1, len(tk) - 2)]
         ELSE [array_to_string(tk, ' ')] END
"""

def _mh_sql(i: int) -> str:
    """MinHash member i oracle: the i-th 8-hex slice of the seeded md5
    (mirrors functions/text.py:minhash_seed_slice)."""
    seed = chr(ord("a") + i // 4)
    off = (i % 4) * 8 + 1
    return f"list_min(list_transform(sh, s -> substr(md5('{seed}:' || s), {off}, 8))) AS mh{i}"

_SHINGLES_2 = """
    [array_to_string(tk[i:i+1], ' ') for i in generate_series(1, len(tk) - 1)]
"""

# shared interpolated Kneser-Ney bigram scoring chain (toks -> bigrams ->
# count/context/predecessor tables -> per-bigram integer-scaled P_kn) —
# shared by text_kneser_ney_bigram (plans/pipeline_text.py) and the CCNet
# perplexity bucketing (plans/pipeline_curation.py); lives HERE so both
# family modules import it from the shared core (no cross-family imports)
_KN_SCORED_CTES = f"""toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        bg AS (
            SELECT doc_id, unnest(({_SHINGLES_2})) AS bg
            FROM toks WHERE len(tk) >= 2
        ),
        bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY bg),
        ctx AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   CAST(sum(c2) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS nf
            FROM bgc GROUP BY 1
        ),
        prec AS (
            SELECT string_split(bg, ' ')[2] AS w2,
                   CAST(count(*) AS BIGINT) AS np
            FROM bgc GROUP BY 1
        ),
        nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bgc),
        scored AS (
            SELECT b.doc_id,
                   CAST(round(1000000000.0 * (
                       greatest(CAST(c.c2 AS DOUBLE) - 0.75, 0.0)
                           / CAST(x.c1 AS DOUBLE)
                       + ((0.75 * CAST(x.nf AS DOUBLE)) / CAST(x.c1 AS DOUBLE))
                           * (CAST(p.np AS DOUBLE) / CAST(t.nt AS DOUBLE))
                   )) AS BIGINT) AS p_scaled
            FROM bg b
            JOIN bgc c USING (bg)
            JOIN ctx x ON x.w1 = string_split(b.bg, ' ')[1]
            JOIN prec p ON p.w2 = string_split(b.bg, ' ')[2]
            CROSS JOIN nt t
        )"""

# shared CTE chain producing MinHash-LSH candidate pairs + shingle sets
# (used by dedup_minhash_lsh and the connected-components oracle).  The
# chain compiles the SAME hot-band cap as the engine
# (operators/dedup.py:minhash_lsh_pairs, LSH_MAX_BAND_DF): `cand` pairs
# only under-cap bands, and `star_edges` recovers each over-cap band as a
# ready-made star cluster (canon = min id) — so engine and oracle agree
# at every scale, including past the cap (r11 ADVICE medium).  Split into
# head (through `exploded`) + parameterizable tail so the incremental
# admission oracles can count the band-df census over HISTORY rows only,
# matching incremental_lsh_new_dups' history-index cap.
_LSH_HEAD_CTES = f"""toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        shs AS (SELECT doc_id, ({_SHINGLES}) AS sh FROM toks),
        sigs AS (
            SELECT doc_id, {", ".join(_mh_sql(i) for i in range(8))} FROM shs
        ),
        banded AS (
            SELECT doc_id,
                   md5(concat_ws('|', mh0, mh1, mh2, mh3)) AS band0,
                   md5(concat_ws('|', mh4, mh5, mh6, mh7)) AS band1
            FROM sigs
        ),
        exploded AS (
            SELECT doc_id, unnest(['0:' || band0, '1:' || band1]) AS band_key FROM banded
        )"""


def _lsh_tail_ctes(census_join: str = "") -> str:
    """cand / star_edges / ssets tail of the LSH oracle chain.

    ``census_join`` parameterizes which rows the band-df census counts:
    '' counts every (id, band_key) row — the self-join family, matching
    ``minhash_lsh_pairs``; ``' JOIN hist USING (doc_id)'`` counts history
    rows only — the incremental probe family, matching
    ``incremental_lsh_new_dups``' history-side cap (a band absent from
    history then has no census row, so the inner join drops it from
    ``bkept`` — exactly the probe's view, and batch-batch pairs are never
    consumed by the incremental oracles)."""
    return f"""bdf AS (
            SELECT band_key, CAST(count(*) AS BIGINT) AS band_df
            FROM exploded e{census_join} GROUP BY band_key
        ),
        bkept AS (
            SELECT e.doc_id, e.band_key
            FROM exploded e JOIN bdf USING (band_key)
            WHERE band_df <= {LSH_MAX_BAND_DF}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bkept a JOIN bkept b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        overcap AS (
            SELECT e.band_key, e.doc_id
            FROM exploded e JOIN bdf USING (band_key)
            WHERE band_df > {LSH_MAX_BAND_DF}
        ),
        star_edges AS (
            SELECT DISTINCT m.canon AS id_a, o.doc_id AS id_b
            FROM overcap o
            JOIN (SELECT band_key, min(doc_id) AS canon
                  FROM overcap GROUP BY band_key) m USING (band_key)
            WHERE o.doc_id <> m.canon
        ),
        ssets AS (SELECT doc_id, list_distinct(sh) AS s FROM shs)"""


_LSH_CTES = _LSH_HEAD_CTES + ",\n        " + _lsh_tail_ctes()

_JAC = """CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                   / len(list_distinct(list_concat(x.s, y.s)))"""

# shared recursive-CTE chain: LSH pairs -> undirected edges -> transitive
# walk -> min-label components; used by dedup_cluster_components and
# dedup_keep_best_in_cluster (keep both oracles on ONE copy of the
# component semantics).  Edges include the over-cap bands' star edges, so
# every engine paired with this chain must feed components from
# dedup.minhash_lsh_dup_edges (pairs + stars), never bare pairs.
_COMP_CTES = f"""pairs AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN ssets x ON x.doc_id = c.id_a
            JOIN ssets y ON y.doc_id = c.id_b
            WHERE {_JAC} >= 0.5
        ),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM pairs
            UNION ALL
            SELECT id_a AS u, id_b AS v FROM star_edges
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM star_edges
        ),
        walk AS (
            SELECT u AS node, u AS reach FROM (SELECT DISTINCT u FROM edges)
            UNION
            SELECT w.node, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
        ),
        comp AS (SELECT node, min(reach) AS keep_id FROM walk GROUP BY node)"""

def _simhash64_sql(hh: str = "hh") -> str:
    """64-bit SimHash as a BIGINT, mirroring TX.simhash64: bit i of the
    fingerprint is the majority high-bit of nibble i of each token's
    64-nibble md5 stream; per-bit shiftleft terms sum into one long (bit
    63's term is the BIGINT sign value, matching JVM shiftleft wrap)."""
    hexhi = "('8','9','a','b','c','d','e','f')"

    def term(i: int) -> str:
        t = "-9223372036854775808" if i == 63 else f"(1::BIGINT << {i})"
        return (
            f"CASE WHEN 2 * len(list_filter({hh}, h -> substr(h, {i + 1}, 1) "
            f"IN {hexhi})) >= len({hh}) THEN {t} ELSE 0::BIGINT END"
        )

    return " + ".join(term(i) for i in range(64))

# per-token 64-nibble hash stream ('s0:'/'s1:' seed family, disjoint from
# the MinHash 'a:'.. and shingle 't<g>:' families) — mirrors TX.simhash64
_SIMHASH64_HASHES = "list_transform(tk, t -> md5('s0:' || t) || md5('s1:' || t))"

def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between aliased DOUBLE[] columns a.v and b.v — the one
    definition every similarity/dedup oracle shares."""
    return (
        f"list_dot_product({a}.v, {b}.v)"
        f" / (sqrt(list_dot_product({a}.v, {a}.v)) * sqrt(list_dot_product({b}.v, {b}.v)))"
    )

_COS = _cos_sql("q", "c")

def _lsh_plane_sign_sql(p: int) -> str:
    hexhi = "('8','9','a','b','c','d','e','f')"
    return (
        f"CASE WHEN list_sum([v[j] * (CASE WHEN substr(md5('{p}:' || (j-1)::VARCHAR),1,1)"
        f" IN {hexhi} THEN 1.0 ELSE -1.0 END) for j in generate_series(1,64)]) >= 0"
        " THEN '1' ELSE '0' END"
    )

# Deterministic IVF clustering as SQL (shared by ann_ivf_topk and
# semdedup_cluster_prune): lowest-id seeds, one integer-exact Lloyd
# refinement, nearest-centroid assignment with the tie -> smaller cid rule —
# mirrors operators/similarity.py:ivf_assign expression for expression.
_IVF_ASSIGNED_CTES = """
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents0 AS (
            SELECT vec_id AS cid, v AS cv FROM v ORDER BY vec_id LIMIT 16
        ),
        assigned0 AS (
            SELECT corpus_id, v, cid AS list_id FROM (
                SELECT a.vec_id AS corpus_id, a.v, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_dot_product(a.v, c.cv)
                                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v a CROSS JOIN cents0 c
            ) WHERE rn = 1
        ),
        cmeans AS (
            SELECT list_id, pos,
                   CAST(SUM(CAST(comp * 8796093022208.0 AS DECIMAL(38,0))) AS DOUBLE)
                       / 8796093022208.0 / COUNT(*) AS m
            FROM (
                SELECT list_id, u.e.pos AS pos, u.e.comp AS comp FROM (
                    SELECT list_id,
                           unnest(list_transform(v, (c, i) -> struct_pack(pos := i - 1, comp := c))) AS e
                    FROM assigned0
                ) u
            ) GROUP BY list_id, pos
        ),
        cents AS (
            SELECT list_id AS cid, list(m ORDER BY pos) AS cv
            FROM cmeans GROUP BY list_id
        ),
        assigned AS (
            SELECT corpus_id, v, cid AS list_id FROM (
                SELECT a.vec_id AS corpus_id, a.v, c.cid,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY list_dot_product(a.v, c.cv)
                                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                                    c.cid
                       ) AS rn
                FROM v a CROSS JOIN cents c
            ) WHERE rn = 1
        )"""

# quality-ensemble CTE chain ending in j(doc_id, n_words, score, stop_ratio,
# gopher_pass, score_ok, stop_ok) — shared by quality_ensemble_gate and the
# corpus_curation_e2e composition so both oracles hold ONE copy of the gate
# semantics
_ENSEMBLE_CTES = f"""w AS (
            SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws
            FROM documents
        ),
        g AS (
            SELECT doc_id, len(ws) AS n_words,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE) / len(ws) END AS mean_word_len,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE) / len(ws) END AS alpha_ratio,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) END AS distinct_ratio
            FROM w
        ),
        st AS (
            SELECT doc_id,
                   CASE WHEN len(tk) = 0 THEN NULL
                        ELSE CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE) / len(tk) END AS stop_ratio
            FROM (SELECT doc_id, {_toks()} AS tk FROM documents)
        ),
        weights AS (
            SELECT b, (((instr('0123456789abcdef', substr(md5('w:' || b::VARCHAR), 1, 1)) - 1) * 256
                        + (instr('0123456789abcdef', substr(md5('w:' || b::VARCHAR), 2, 1)) - 1) * 16
                        + (instr('0123456789abcdef', substr(md5('w:' || b::VARCHAR), 3, 1)) - 1)) % 2001) - 1000
                     AS w_mill
            FROM (SELECT unnest(range(0, 1024)) AS b)
        ),
        tok AS (
            SELECT doc_id, unnest({_toks()}) AS t FROM documents
        ),
        bucketed AS (
            SELECT doc_id, ((instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) * 256
                            + (instr('0123456789abcdef', substr(md5(t), 2, 1)) - 1) * 16
                            + (instr('0123456789abcdef', substr(md5(t), 3, 1)) - 1)) % 1024 AS b
            FROM tok
        ),
        sc AS (
            SELECT doc_id, CAST(SUM(w_mill) AS DOUBLE) / 1000.0 AS score
            FROM bucketed JOIN weights USING (b) GROUP BY doc_id
        ),
        j AS (
            SELECT g.doc_id, g.n_words, sc.score, st.stop_ratio,
                   COALESCE(g.n_words BETWEEN 50 AND 100000
                            AND g.mean_word_len BETWEEN 3.0 AND 10.0
                            AND g.alpha_ratio >= 0.8
                            AND g.distinct_ratio >= 0.1, FALSE) AS gopher_pass,
                   COALESCE(sc.score >= 0.0, FALSE) AS score_ok,
                   COALESCE(st.stop_ratio > 0.05, FALSE) AS stop_ok
            FROM g JOIN st USING (doc_id) LEFT JOIN sc USING (doc_id)
        )"""

def _ensemble_gate_df(spark, d):
    """The ensemble gate over an arbitrary (doc_id, text) frame — shared by
    quality_ensemble_gate (full corpus) and corpus_curation_e2e (gating the
    dedup survivors only; the gate is per-doc pure, so restricting its
    input restricts its output identically)."""
    ws = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    base = d.select("doc_id", "text", ws.alias("ws"))
    n = F.size("ws")
    guard = lambda c: F.when(n > 0, c)  # noqa: E731
    tk = TX.tokens("text")
    ntk = F.size(tk)
    sig = base.select(
        "doc_id",
        n.alias("n_words"),
        guard(
            F.aggregate("ws", F.lit(0), lambda a, t: a + F.length(t)).cast("double")
            / n
        ).alias("mean_word_len"),
        guard(
            F.size(F.filter("ws", lambda t: t.rlike("[a-zA-Z]"))).cast("double") / n
        ).alias("alpha_ratio"),
        guard(F.size(F.array_distinct("ws")).cast("double") / n).alias(
            "distinct_ratio"
        ),
        F.when(
            ntk > 0,
            F.size(F.filter(tk, lambda t: t.isin(*TX.STOPWORDS))).cast("double")
            / ntk,
        ).alias("stop_ratio"),
    )
    D = 1024  # quality_linear_score's hashing-trick width
    wr = spark.range(D).select(F.col("id").cast("int").alias("b"))
    h = F.md5(F.concat(F.lit("w:"), F.col("b").cast("string")))
    nib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(h, p, 1)) - 1  # noqa: E731
    weights = wr.select(
        "b", (((nib(1) * 256 + nib(2) * 16 + nib(3)) % 2001) - 1000).alias("w_mill")
    )
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("t"))
    th = F.md5(F.col("t"))
    tnib = lambda p: F.instr(F.lit("0123456789abcdef"), F.substring(th, p, 1)) - 1  # noqa: E731
    scores = (
        tok.select("doc_id", ((tnib(1) * 256 + tnib(2) * 16 + tnib(3)) % D).alias("b"))
        .join(F.broadcast(weights), "b")
        .groupBy("doc_id")
        .agg((F.sum("w_mill").cast("double") / F.lit(1000.0)).alias("score"))
    )
    out = sig.join(scores, "doc_id", "left")
    gopher_ok = F.coalesce(
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("alpha_ratio") >= 0.8)
        & (F.col("distinct_ratio") >= 0.1),
        F.lit(False),
    )
    score_ok = F.coalesce(F.col("score") >= 0.0, F.lit(False))
    stop_ok = F.coalesce(F.col("stop_ratio") > 0.05, F.lit(False))
    return out.select(
        "doc_id",
        "n_words",
        "score",
        "stop_ratio",
        gopher_ok.alias("gopher_pass"),
        (gopher_ok & score_ok & stop_ok).alias("keep"),
        (
            F.when(gopher_ok, 0).otherwise(1)
            + F.when(score_ok, 0).otherwise(2)
            + F.when(stop_ok, 0).otherwise(4)
        )
        .cast("int")
        .alias("reject_reasons"),
    )

# first md5 byte of 'ph:g:j:i' as an INTEGER 0..255 — the blocky fixture's
# base block value (multimodal.py:_blocky_grid states the same form)
_DHASH_CELL = (
    "(instr('0123456789abcdef', substr(md5('ph:' || g::VARCHAR || ':' "
    "|| j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1) * 16 "
    "+ (instr('0123456789abcdef', substr(md5('ph:' || g::VARCHAR || ':' "
    "|| j::VARCHAR || ':' || i::VARCHAR), 2, 1)) - 1)"
)

# closed-form dHash fingerprint chain (p -> grid -> bits -> fp), shared by
# multimodal_phash_dedup and corpus_curation_multimodal (one copy of the
# fingerprint semantics, re-rooted onto a survivor set via .replace on the
# FROM clause — the same composition idiom as _E2E_LSH_CTES)
_DHASH_FP_CTES = f"""p AS (
            SELECT doc_id, doc_id % 128 AS g, (doc_id // 128) % 4 AS v
            FROM documents
        ),
        grid AS (
            SELECT doc_id, j, i,
                   CASE WHEN v > 0 AND j = v - 1 AND i = 0
                        THEN 255 - ({_DHASH_CELL})
                        ELSE ({_DHASH_CELL}) END AS val
            FROM p,
                 (SELECT unnest(range(0, 8)) AS j),
                 (SELECT unnest(range(0, 9)) AS i)
        ),
        bits AS (
            SELECT a.doc_id,
                   CASE WHEN a.val >= b.val THEN 0::BIGINT
                        WHEN a.j * 8 + a.i = 63
                        THEN (-9223372036854775807 - 1)::BIGINT
                        ELSE (1::BIGINT << CAST(a.j * 8 + a.i AS INTEGER))
                   END AS term
            FROM grid a JOIN grid b
              ON a.doc_id = b.doc_id AND a.j = b.j AND b.i = a.i + 1
            WHERE a.i < 8
        ),
        fp AS (
            SELECT doc_id, CAST(SUM(term) AS BIGINT) AS fp
            FROM bits GROUP BY doc_id
        )"""

def _video_keyframes(spark, sf_dir):
    """The synthetic-video keyframe table (doc_id, frame_no, frame,
    frame_md5) shared by the batch and streaming video-dedup queries —
    one copy of the fixture semantics the closed-form oracles state."""
    return _video_keyframes_from(
        T(spark, sf_dir, "documents").select("doc_id")
    )

def _video_keyframes_from(d):
    """_video_keyframes re-rooted on an arbitrary doc_id frame (the
    curation DAG samples keyframes for funnel SURVIVORS only)."""
    from kwack_spark.operators import multimodal as mm

    g = (F.col("doc_id") % 64).cast("string")
    v = (F.col("doc_id") / 64).cast("long") % 4
    idx = F.sequence(F.lit(0), F.lit(31))
    frames = F.transform(
        idx,
        lambda i: F.when(
            (v > 0) & (i == (v - 1) * 4),
            F.unhex(
                F.md5(F.concat(F.lit("vv:"), g, F.lit(":"), v.cast("string")))
            ),
        ).otherwise(
            F.unhex(F.md5(F.concat(F.lit("vf:"), g, F.lit(":"), i.cast("string"))))
        ),
    )
    vid = d.select(
        "doc_id",
        F.aggregate(frames, F.lit(b""), lambda acc, x: F.concat(acc, x)).alias(
            "payload"
        ),
    )
    return mm.sample_frames(vid, "payload", "doc_id", frame_size=16, every_n=4)

def _video_pair_rollup(pairs):
    """(id_a, id_b) rows, one per shared keyframe -> the graded pair table
    (n_shared >= 6 gate + Jaccard over the 8+8 multiset union)."""
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 6)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (
                F.col("n_shared").cast("double") / (16 - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )

# shared 64-bit SimHash CTE chain: per-token hash stream -> BIGINT
# fingerprint -> 4x16-bit slice rows (65,536 buckets/block); mirrors
# operators/dedup.py:_simhash64_sliced
_SIMHASH64_CTES = f"""toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        hs AS (SELECT doc_id, {_SIMHASH64_HASHES} AS hh FROM toks),
        fps AS (SELECT doc_id, {_simhash64_sql()} AS fp FROM hs),
        sliced AS (
            SELECT doc_id, fp, blk, (fp >> (blk * 16)) & 65535 AS slc
            FROM fps, (SELECT unnest([0, 1, 2, 3]) AS blk)
        )"""

# The synthetic raw-URL column (documents carry no URL; the fixture derives
# one deterministically from doc_id with every surface-form variation the
# canonicalizer must collapse: scheme case, www., default ports, trailing
# slash, tracking params, param order, fragments).  Docs sharing doc_id//3
# are one logical page (same domain + path), so each family has 3 surface
# forms that must collapse to ONE canonical key.
_URL_DOM = "'example-' || CAST((doc_id // 3) % 7 AS VARCHAR) || '.com'"

_URL_PG = "'/articles/' || CAST(doc_id // 3 AS VARCHAR)"

_URL_RAW_SQL = f"""
    CASE doc_id % 6
      WHEN 0 THEN 'https://' || {_URL_DOM} || {_URL_PG}
      WHEN 1 THEN 'http://www.' || {_URL_DOM} || {_URL_PG} || '/'
      WHEN 2 THEN 'HTTPS://WWW.' || upper({_URL_DOM}) || {_URL_PG} || '#frag'
      WHEN 3 THEN 'https://' || {_URL_DOM} || {_URL_PG}
                  || '?utm_source=feed&b=2&a=1'
      WHEN 4 THEN 'https://' || {_URL_DOM} || ':443' || {_URL_PG} || '?b=2&a=1'
      ELSE 'http://' || {_URL_DOM} || ':80' || {_URL_PG}
           || '/?a=1&b=2&gclid=zz#sec'
    END
"""

# DuckDB mirror of functions/text.py:canonical_url as a CTE chain (same
# regexes; RE2 and Java regex agree on this subset)
_URL_CANON_CTES = r"""
        s AS (SELECT doc_id, raw_url,
                regexp_replace(regexp_replace(trim(raw_url), '#.*$', ''),
                               '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS nofrag
              FROM u),
        parts AS (SELECT doc_id, raw_url,
                regexp_replace(nofrag, '\?.*$', '') AS hostpath,
                CASE WHEN contains(nofrag, '?')
                     THEN regexp_replace(nofrag, '^[^?]*\?', '') ELSE '' END AS q
              FROM s),
        qs AS (SELECT doc_id, raw_url, hostpath,
                -- coalesce: DuckDB's array_to_string over an EMPTY list is
                -- NULL, which would null the whole concatenated key
                coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
                    p -> len(p) > 0 AND NOT regexp_matches(p,
                         '(?i)^(utm_[a-z]+|fbclid|gclid|msclkid|_ga)='))), '&'), '') AS qsort
              FROM parts),
        c AS (SELECT doc_id, raw_url,
                regexp_replace(regexp_replace(lower(
                    regexp_extract(hostpath, '^([^/]*)', 1)),
                    '^www\.', ''), ':(80|443)$', '')
                || regexp_replace(regexp_replace(hostpath, '^[^/]*', ''),
                                  '/+$', '')
                || CASE WHEN qsort = '' THEN '' ELSE '?' || qsort END AS canon_url
              FROM qs)
"""

def _url_raw_col():
    """The synthetic raw-URL column (Spark twin of _URL_RAW_SQL)."""
    dom = F.concat(
        F.lit("example-"),
        (F.expr("doc_id div 3") % 7).cast("string"),
        F.lit(".com"),
    )
    pg = F.concat(F.lit("/articles/"), F.expr("doc_id div 3").cast("string"))
    v = F.col("doc_id") % 6
    return (
        F.when(v == 0, F.concat(F.lit("https://"), dom, pg))
        .when(v == 1, F.concat(F.lit("http://www."), dom, pg, F.lit("/")))
        .when(v == 2, F.concat(F.lit("HTTPS://WWW."), F.upper(dom), pg, F.lit("#frag")))
        .when(v == 3, F.concat(F.lit("https://"), dom, pg,
                               F.lit("?utm_source=feed&b=2&a=1")))
        .when(v == 4, F.concat(F.lit("https://"), dom, F.lit(":443"), pg,
                               F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("http://"), dom, F.lit(":80"), pg,
                            F.lit("/?a=1&b=2&gclid=zz#sec")))
    )


# family modules register their queries on import; they import
# shared names from THIS module, so they must come last
import kwack_spark.plans.pipeline_dedup  # noqa: E402,F401
import kwack_spark.plans.pipeline_multimodal  # noqa: E402,F401
import kwack_spark.plans.pipeline_streaming  # noqa: E402,F401
import kwack_spark.plans.pipeline_embedding  # noqa: E402,F401
import kwack_spark.plans.pipeline_curation  # noqa: E402,F401
import kwack_spark.plans.pipeline_text  # noqa: E402,F401
import kwack_spark.plans.pipeline_analytics  # noqa: E402,F401
