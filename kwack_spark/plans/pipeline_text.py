"""Text-analysis family: quality scoring, language ID, token statistics, BPE, and collocation measures.

Split out of plans/pipeline.py (same registrations, same semantics);
shared helpers live in pipeline.py, the aggregator that imports this
module at the bottom.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark import stages
from kwack_spark.functions import text as TX
from kwack_spark.operators import dedup
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.plans.pipeline import (  # shared core
    _KN_SCORED_CTES,
    _SHINGLES_2,
    _ENSEMBLE_CTES,
    _JAC,
    _NORM,
    _SHINGLES,
    _ensemble_gate_df,
    _mh_sql,
    _toks,
)


# word bigrams (callers guard len(tk) >= 2)

@register(
    "tokenizer_vocab_coverage",
    # tokenizer-fit check before training: build the corpus's top-256 BPE
    # pre-tokenization pieces (count DESC, piece ASC tie-break — fully
    # deterministic), then report per-doc piece count, OOV count, and OOV
    # rate against that vocab.  The production question this answers: "how
    # much of the corpus does a vocab of size V actually cover?"
    oracle=r"""
        WITH pieces AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS p
            FROM documents
        ),
        vocab AS (
            SELECT p FROM (
                SELECT p, count(*) AS cnt,
                       row_number() OVER (ORDER BY count(*) DESC, p) AS rn
                FROM pieces GROUP BY p
            ) WHERE rn <= 256
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_pieces,
               CAST(count(*) FILTER (WHERE v.p IS NULL) AS BIGINT) AS n_oov,
               CAST(count(*) FILTER (WHERE v.p IS NULL) AS DOUBLE) / count(*) AS oov_rate
        FROM pieces LEFT JOIN vocab v USING (p)
        GROUP BY doc_id
    """,
    tags=("text", "tokens", "bpe", "vocab"),
)
def tokenizer_vocab_coverage(spark, sf_dir):
    """Vocab build = one piece-keyed aggregation + a deterministic top-256
    (natural-language piece frequencies are corpus-scale-free, so the
    vocab is always broadcastable); coverage = broadcast left join + one
    doc-keyed aggregation, map-side combinable.  No Python anywhere."""
    d = T(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    pieces = d.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(pat), 0)).alias("p"),
    )
    counts = pieces.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    # deterministic top-256 via sort+limit -> TakeOrderedAndProject (a
    # distributed top-k, not a single-partition window)
    vocab = (
        counts.orderBy(F.desc("cnt"), "p")
        .limit(256)
        .select("p", F.lit(True).alias("in_vocab"))
    )
    joined = pieces.join(F.broadcast(vocab), "p", "left")
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pieces"),
        oov.alias("n_oov"),
        (oov.cast("double") / F.count(F.lit(1))).alias("oov_rate"),
    )

@register(
    "text_token_rarity",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({_toks()}) AS tok FROM documents
        ),
        vocab AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
        total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_cnt FROM vocab),
        scored AS (
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   CAST(sum(v.cnt) AS BIGINT) AS sum_cnt
            FROM tok t JOIN vocab v USING (tok)
            GROUP BY t.doc_id
        )
        SELECT s.doc_id, s.n_tokens,
               CAST(s.sum_cnt AS DOUBLE) / s.n_tokens AS mean_tok_count,
               CAST(s.sum_cnt AS DOUBLE) / (CAST(s.n_tokens AS DOUBLE) * x.total_cnt)
                   AS commonness
        FROM scored s CROSS JOIN total x
    """,
    tags=("text", "quality"),
)
def text_token_rarity(spark, sf_dir):
    """Corpus-frequency rarity score per document — the structure of a
    CCNet-style LM-perplexity quality filter with the log-prob kernel
    replaced by an exact frequency ratio (a real deployment swaps in a
    KenLM/logprob Pandas UDF at the `vocab` join; logs are not
    oracle-exact across engines, ratios of integers are).

    Shape at scale: one shuffle builds the vocab (natural-language vocab is
    ~millions of rows even at 100 TB — broadcastable), token-level scoring
    is a broadcast-hash join, per-doc rollup shuffles on doc_id with
    partial aggregation.  All integer arithmetic until two final IEEE
    divisions."""
    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("tok"))
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total_cnt"))
    scored = (
        tok.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("cnt").alias("sum_cnt"))
    )
    return scored.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        (F.col("sum_cnt").cast("double") / F.col("n_tokens")).alias("mean_tok_count"),
        (
            F.col("sum_cnt").cast("double")
            / (F.col("n_tokens").cast("double") * F.col("total_cnt"))
        ).alias("commonness"),
    )

@register(
    "text_token_stats",
    # DuckDB's list_sum returns HUGEINT — a width a typed (Arrow) result
    # hasher folds differently from Spark's integer even when values are
    # equal, so both sides pin total_tok_chars to BIGINT.  Zero-token docs:
    # DuckDB yields NULL for ttr (0/0 -> NULL) and total_tok_chars
    # (list_sum([]) -> NULL); the Spark plan matches via F.when guards —
    # which also keeps the division legal under Spark 4's default ANSI mode
    # (unguarded x/0 would throw DIVIDE_BY_ZERO).
    oracle=f"""
        WITH toks AS (SELECT doc_id, n_chars, {_toks()} AS tk FROM documents)
        SELECT doc_id,
               len(tk) AS n_tokens,
               n_chars,
               CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
               CAST(list_sum(list_transform(tk, t -> len(t))) AS BIGINT)
                   AS total_tok_chars
        FROM toks
    """,
    tags=("text",),
)
def text_token_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tk = TX.tokens("text")
    n = F.size(tk)
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        "n_chars",
        F.when(n > 0, F.size(F.array_distinct(tk)).cast("double") / n).alias("ttr"),
        F.when(
            n > 0,
            F.aggregate(
                F.transform(tk, lambda t: F.length(t)),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ),
        ).alias("total_tok_chars"),
    )

@register(
    "text_token_count_bpe",
    # BPE-ish subword counting: letter runs / digit runs / single punctuation
    # marks, the pre-tokenization shape BPE vocabularies split on — all
    # JVM-side regexp, identical semantics in DuckDB
    oracle=r"""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_pieces,
               len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS n_unique_pieces,
               len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS n_punct_pieces
        FROM documents
    """,
    tags=("text", "tokens", "bpe"),
)
def text_token_count_bpe(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    pieces = F.regexp_extract_all(F.lower("text"), F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_unique_pieces"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[^a-z0-9\s]"), 0)).alias(
            "n_punct_pieces"
        ),
    )

@register(
    "gopher_quality_rules",
    # the Gopher/MassiveText repetition-free quality rules (public: Rae et
    # al. 2021, table A1), computed on RAW whitespace words: word count in
    # [50, 100000], mean word length in [3, 10], >= 80% words containing an
    # alphabetic character, distinct-word ratio >= 0.1.  All ratios are
    # int/int -> one double division each, bit-identical across engines.
    oracle="""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> len(t) > 0) AS ws
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(ws) AS n_words,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(list_sum(list_transform(ws, t -> len(t))) AS DOUBLE)
                             / len(ws) END AS mean_word_len,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_filter(ws, t -> regexp_matches(t, '[a-zA-Z]'))) AS DOUBLE)
                             / len(ws) END AS alpha_ratio,
                   CASE WHEN len(ws) = 0 THEN NULL
                        ELSE CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                        END AS distinct_ratio
            FROM w
        )
        SELECT doc_id, n_words, mean_word_len, alpha_ratio, distinct_ratio,
               (n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND alpha_ratio >= 0.8
                AND distinct_ratio >= 0.1) AS passes
        FROM m
    """,
    tags=("text", "quality", "gopher"),
)
def gopher_quality_rules(spark, sf_dir):
    """The published Gopher quality heuristics as one narrow pass: raw
    whitespace words (not normalized tokens — symbol-heavy words must count
    against the alpha ratio), four exact ratios, one composite boolean.
    Zero shuffles; at 100 TB this rides the scan like every other row-local
    quality gate and feeds the curation pipeline's WHERE clause."""
    d = T(spark, sf_dir, "documents")
    ws = F.filter(F.split("text", " "), lambda t: F.length(t) > 0)
    base = d.select("doc_id", ws.alias("ws"))
    n = F.size("ws")
    guard = lambda c: F.when(n > 0, c)  # noqa: E731
    mean_len = guard(
        F.aggregate("ws", F.lit(0), lambda acc, t: acc + F.length(t)).cast("double") / n
    )
    alpha = guard(
        F.size(F.filter("ws", lambda t: t.rlike("[a-zA-Z]"))).cast("double") / n
    )
    distinct_r = guard(F.size(F.array_distinct("ws")).cast("double") / n)
    m = base.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha.alias("alpha_ratio"),
        distinct_r.alias("distinct_ratio"),
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(50, 100000)
            & F.col("mean_word_len").between(3.0, 10.0)
            & (F.col("alpha_ratio") >= 0.8)
            & (F.col("distinct_ratio") >= 0.1)
        ).alias("passes"),
    )

@register(
    "text_quality",
    oracle=f"""
        WITH base AS (
            SELECT doc_id, text, {_toks()} AS tk,
                   length(lower(text)) AS nc,
                   length({_NORM.format(c='text')}) AS nn
            FROM documents
        ),
        m AS (
            SELECT doc_id,
                   len(tk) AS n_tokens,
                   CAST(nc - nn AS DOUBLE) / nc AS punct_ratio,
                   CAST(len(list_filter(tk, t -> t IN ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
                       / len(tk) AS stop_ratio
            FROM base
        )
        SELECT doc_id, n_tokens, punct_ratio, stop_ratio,
               CASE WHEN n_tokens >= 10 AND punct_ratio < 0.1 AND stop_ratio > 0.05 THEN 'good'
                    WHEN n_tokens >= 5 THEN 'fair'
                    ELSE 'poor' END AS quality
        FROM m
    """,
    tags=("text", "quality"),
)
def text_quality(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tk = TX.tokens("text")
    base = d.select(
        "doc_id",
        F.size(tk).alias("n_tokens"),
        TX.punct_ratio("text").alias("punct_ratio"),
        TX.stopword_ratio("text").alias("stop_ratio"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        "punct_ratio",
        "stop_ratio",
        F.when(
            (F.col("n_tokens") >= 10)
            & (F.col("punct_ratio") < 0.1)
            & (F.col("stop_ratio") > 0.05),
            "good",
        )
        .when(F.col("n_tokens") >= 5, "fair")
        .otherwise("poor")
        .alias("quality"),
    )

@register(
    "text_lang_id",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, list_distinct({_toks()}) AS ts FROM documents),
        s AS (
            SELECT doc_id, lang,
                   len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
                   len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
                   len(list_filter(ts, t -> t IN ('el','la','de','que','y'))) AS s_es,
                   len(list_filter(ts, t -> t IN ('le','la','et','les','des'))) AS s_fr
            FROM t
        )
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                    WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                    WHEN s_fr > 0 THEN 'fr'
                    ELSE 'und' END AS pred_lang
        FROM s
    """,
    tags=("text", "langid"),
)
def text_lang_id(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        TX.lang_id("text").alias("pred_lang"),
    )

@register(
    "langid_confusion_matrix",
    # classifier-quality audit: the lang-id heuristic scored against the
    # gold lang labels — full confusion matrix plus per-language precision
    # and recall (exact bigint ratios -> identical doubles, rounded 6dp).
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, list_distinct({_toks()}) AS ts FROM documents),
        s AS (
            SELECT doc_id, lang,
                   len(list_filter(ts, t -> t IN ('the','a','of','and','to'))) AS s_en,
                   len(list_filter(ts, t -> t IN ('der','die','das','und','ist'))) AS s_de,
                   len(list_filter(ts, t -> t IN ('el','la','de','que','y'))) AS s_es,
                   len(list_filter(ts, t -> t IN ('le','la','et','les','des'))) AS s_fr
            FROM t
        ),
        pred AS (
            SELECT lang AS labeled_lang,
                   CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                        WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                        WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                        WHEN s_fr > 0 THEN 'fr'
                        ELSE 'und' END AS pred_lang
            FROM s
        ),
        cell AS (
            SELECT labeled_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
            FROM pred GROUP BY labeled_lang, pred_lang
        ),
        row_tot AS (SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS label_total
                    FROM cell GROUP BY labeled_lang),
        col_tot AS (SELECT pred_lang, CAST(SUM(n) AS BIGINT) AS pred_total
                    FROM cell GROUP BY pred_lang)
        SELECT c.labeled_lang, c.pred_lang, c.n,
               round(CAST(c.n AS DOUBLE) / r.label_total, 6) AS recall_share,
               round(CAST(c.n AS DOUBLE) / p.pred_total, 6) AS precision_share
        FROM cell c
        JOIN row_tot r USING (labeled_lang)
        JOIN col_tot p USING (pred_lang)
        ORDER BY labeled_lang, pred_lang
    """,
    tags=("text", "langid", "evaluation"),
)
def langid_confusion_matrix(spark, sf_dir):
    """Confusion matrix for the n-gram lang-id heuristic vs gold labels —
    the eval table every classifier-driven curation gate needs beside its
    scores.  One narrow scoring pass over the corpus, one (label, pred)
    aggregation; the matrix is |langs|² rows, so both normalizing margins
    join back as broadcasts."""
    d = T(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("labeled_lang"),
        TX.lang_id("text").alias("pred_lang"),
    )
    cell = pred.groupBy("labeled_lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = cell.groupBy("labeled_lang").agg(F.sum("n").alias("label_total"))
    col_tot = cell.groupBy("pred_lang").agg(F.sum("n").alias("pred_total"))
    return (
        cell.join(F.broadcast(row_tot), "labeled_lang")
        .join(F.broadcast(col_tot), "pred_lang")
        .select(
            "labeled_lang",
            "pred_lang",
            "n",
            F.round(F.col("n").cast("double") / F.col("label_total"), 6).alias(
                "recall_share"
            ),
            F.round(F.col("n").cast("double") / F.col("pred_total"), 6).alias(
                "precision_share"
            ),
        )
        .orderBy("labeled_lang", "pred_lang")
    )

@register(
    "doc_fingerprints",
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        sh AS (SELECT doc_id, ({_SHINGLES}) AS sh FROM toks)
        SELECT s.doc_id,
               md5({_NORM.format(c='d.text')}) AS full_md5,
               list_min(list_transform(s.sh, x -> md5(x))) AS min_shingle_hash
        FROM sh s JOIN documents d ON d.doc_id = s.doc_id
    """,
    tags=("text", "fingerprint"),
)
def doc_fingerprints(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    sh = TX.shingles(TX.tokens("text"), 3)
    return d.select(
        "doc_id",
        F.md5(TX.normalize("text")).alias("full_md5"),
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("min_shingle_hash"),
    )

@register(
    "quality_ensemble_gate",
    # The assembled curation gate a production pipeline actually ships:
    # three independent signals — the Gopher structural rules, the hashed
    # bag-of-words linear score (quality_linear_score's model, applied to
    # ALL docs), and the stopword-density fluency check — combined into one
    # keep/drop verdict with a reject-reason BITMASK (bit0 gopher, bit1
    # negative model score, bit2 stopword density), so downstream audits
    # can count WHY documents were dropped, not just how many.  NULL
    # signals (empty docs) fail closed via COALESCE(..., FALSE).
    oracle=f"""
        WITH {_ENSEMBLE_CTES}
        SELECT doc_id, n_words, score, stop_ratio, gopher_pass,
               (gopher_pass AND score_ok AND stop_ok) AS keep,
               CAST((CASE WHEN gopher_pass THEN 0 ELSE 1 END)
                    + (CASE WHEN score_ok THEN 0 ELSE 2 END)
                    + (CASE WHEN stop_ok THEN 0 ELSE 4 END) AS INTEGER) AS reject_reasons
        FROM j
    """,
    tags=("quality", "pipeline", "gate"),
)
def quality_ensemble_gate(spark, sf_dir):
    """Plan shape at 100 TB: the structural and fluency signals ride the
    scan (narrow array ops, zero shuffles); the model score is the one
    doc-keyed aggregation (explode -> broadcast weight join -> map-side
    combinable sum); the final assembly is a doc_id join of a corpus-sized
    but column-thin signal table.  The weight table is O(D)=1024 rows
    regardless of corpus size — always a broadcast."""
    return _ensemble_gate_df(spark, T(spark, sf_dir, "documents"))

# Winnowing fingerprint relation (doc_id, pos, fp) as a DuckDB CTE body —
# shared by the winnowing_fingerprints and winnowing_common_spans oracles.
_WINNOW_ORACLE = f"""
        t AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        g AS (SELECT doc_id,
                CASE WHEN len(tk) >= 3
                     THEN list_transform(range(1, len(tk) - 1),
                            i -> substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 8))
                     ELSE [] END AS h
              FROM t),
        f AS (SELECT doc_id,
                list_transform(range(1, greatest(1, len(h) - 3) + 1),
                  i -> {{'pos': list_max(list_filter(range(i, least(i + 3, len(h)) + 1),
                                 j -> h[j] = list_min(list_transform(range(i, least(i + 3, len(h)) + 1), jj -> h[jj])))),
                        'fp': list_min(list_transform(range(i, least(i + 3, len(h)) + 1), jj -> h[jj]))}}) AS fps
              FROM g WHERE len(h) > 0),
        u AS (SELECT doc_id, unnest(fps) AS fpr FROM f),
        wfp AS (SELECT DISTINCT doc_id, CAST(fpr.pos AS INTEGER) AS pos, fpr.fp AS fp FROM u)
"""

@register(
    "winnowing_fingerprints",
    # Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    # 2003 — the MOSS scheme): hash every word 3-gram, slide a window of 4
    # hashes, keep the window minimum (RIGHTMOST position on ties), emit
    # the distinct (position, hash) fingerprints.  Guarantees any shared
    # run of >= w+k-1 = 6 tokens between two documents shares at least one
    # fingerprint — the local-dedup primitive between exact-hash (too
    # brittle) and MinHash (no positions).  md5 slices order identically
    # in both engines (hex is ASCII); positions are 1-based on both sides.
    oracle=f"WITH {_WINNOW_ORACLE} SELECT doc_id, pos, fp FROM wfp",
    tags=("text", "dedup", "fingerprint"),
)
def winnowing_fingerprints(spark, sf_dir):
    """Winnowing runs ENTIRELY inside whole-stage codegen as higher-order
    array functions over each document — gram hashes, window minima,
    rightmost-tie positions, and the per-doc distinct all happen before the
    explode, so the plan is a narrow 0-shuffle map over the corpus (the
    100 TB shape: fingerprint extraction is embarrassingly parallel; the
    downstream fingerprint JOIN is where a shuffle first appears)."""
    return _winnowing_fps(spark, sf_dir)

def _winnowing_fps(spark, sf_dir):
    from kwack_spark.operators.scale import widen_if_narrow

    # the fingerprint array pipeline is the per-row-expensive stage
    d = widen_if_narrow(T(spark, sf_dir, "documents"))

    # every intermediate array is let-bound (TX.bind) — Catalyst's
    # CollapseProject would otherwise substitute the token/hash arrays into
    # each of their O(windows) use sites, exploding the expression tree
    def with_tokens(tk):
        def gram(i):
            return F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(tk, i),
                        F.element_at(tk, i + F.lit(1)),
                        F.element_at(tk, i + F.lit(2)),
                    )
                ),
                1,
                8,
            )

        h_expr = F.when(
            F.size(tk) >= 3,
            F.transform(F.sequence(F.lit(1), F.size(tk) - 2), gram),
        ).otherwise(F.array().cast("array<string>"))

        def with_h(h):
            nh = F.size(h)

            def fp(i):
                def with_js(js):
                    def with_m(m):
                        pos = F.array_max(
                            F.filter(js, lambda j: F.element_at(h, j) == m)
                        )
                        return F.struct(pos.cast("int").alias("pos"), m.alias("fp"))

                    return TX.bind(
                        F.array_min(F.transform(js, lambda j: F.element_at(h, j))),
                        with_m,
                    )

                return TX.bind(F.sequence(i, F.least(i + F.lit(3), nh)), with_js)

            return F.when(
                nh > 0,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.greatest(F.lit(1), nh - 3)), fp
                    )
                ),
            )

        return TX.bind(h_expr, with_h)

    w = d.select("doc_id", TX.bind(TX.tokens("text"), with_tokens).alias("fps"))
    return w.select("doc_id", F.explode("fps").alias("f")).select(
        "doc_id", F.col("f.pos").alias("pos"), F.col("f.fp").alias("fp")
    )

@register(
    "winnowing_common_spans",
    # The application stage of winnowing: document pairs sharing >= 3
    # fingerprints (each fingerprint certifies a shared token run), with
    # boilerplate control — fingerprints appearing in > 10 documents are
    # dropped before pairing, the same frequency cap every LSH bucket-join
    # in this repo applies, so one viral phrase can't produce a quadratic
    # candidate blowup.
    oracle=f"""
        WITH {_WINNOW_ORACLE},
        d AS (SELECT DISTINCT doc_id, fp FROM wfp),
        rare AS (SELECT fp FROM d GROUP BY fp HAVING count(*) <= 10),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM d a JOIN d b USING (fp) JOIN rare USING (fp)
              WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS shared_fps
        FROM p GROUP BY id_a, id_b HAVING count(*) >= 3
    """,
    tags=("text", "dedup", "fingerprint", "pairs"),
)
def winnowing_common_spans(spark, sf_dir):
    """100-TB shape: ONE shuffle keyed on fp covers the frequency count
    and the self-join (co-partitioned); pair aggregation shuffles on the
    (id_a, id_b) key.  The frequency cap bounds every fp group at 10 docs
    -> at most 45 pairs per fingerprint, so the join output is linear in
    the fingerprint count, never quadratic in the corpus."""
    fp = _winnowing_fps(spark, sf_dir).select("doc_id", "fp").distinct()
    rare = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 10
    )
    keyed = fp.join(rare.select("fp"), "fp")
    a = keyed.select("fp", F.col("doc_id").alias("id_a"))
    b = keyed.select("fp", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )

@register(
    "winnowing_incremental_new_docs",
    # the INCREMENTAL form (same contract as dedup_incremental_new_docs /
    # incremental LSH): a new batch (odd doc_ids) is fingerprinted and
    # joined against the standing fingerprint store (even doc_ids) ONLY —
    # batch-vs-history pairs sharing >= 2 fingerprints, never re-pairing
    # history against itself.  At 100 TB the history side is a bucketed
    # fingerprint table; each ingest batch costs O(batch fingerprints),
    # not O(corpus).
    oracle=f"""
        WITH {_WINNOW_ORACLE},
        d AS (SELECT DISTINCT doc_id, fp FROM wfp),
        hist AS (SELECT * FROM d WHERE doc_id % 2 = 0),
        batch AS (SELECT * FROM d WHERE doc_id % 2 = 1),
        rare AS (SELECT fp FROM hist GROUP BY fp HAVING count(*) <= 10),
        p AS (SELECT b.doc_id AS batch_id, h.doc_id AS hist_id
              FROM batch b JOIN hist h USING (fp) JOIN rare USING (fp))
        SELECT batch_id, hist_id, CAST(count(*) AS BIGINT) AS shared_fps
        FROM p GROUP BY batch_id, hist_id HAVING count(*) >= 2
    """,
    tags=("text", "dedup", "fingerprint", "incremental"),
)
def winnowing_incremental_new_docs(spark, sf_dir):
    """One fp-keyed shuffle joins the batch's fingerprints against the
    (df-capped) history store; pair aggregation on (batch_id, hist_id).
    The incremental path may skip work, never change answers — the pairs
    equal winnowing_common_spans' cross-subset at the same thresholds."""
    fp = _winnowing_fps(spark, sf_dir).select("doc_id", "fp").distinct()
    hist = fp.filter(F.col("doc_id") % 2 == 0)
    batch = fp.filter(F.col("doc_id") % 2 == 1)
    rare = hist.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= 10
    )
    return (
        batch.select("fp", F.col("doc_id").alias("batch_id"))
        .join(hist.select("fp", F.col("doc_id").alias("hist_id")), "fp")
        .join(rare.select("fp"), "fp")
        .groupBy("batch_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )

@register(
    "text_pii_redact",
    # deterministic PII is synthesized from doc_id (the corpus itself is
    # clean), then scrubbed by the production redact chain; the oracle
    # applies the same RE2/Java-shared patterns with nested regexp_replace
    oracle="""
        WITH synth AS (
            SELECT doc_id,
                   text || ' Contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com or 555-123-4567 from host 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR) || '.1' AS raw
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(raw,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
                 '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS redacted,
               len(regexp_extract_all(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails
        FROM synth
    """,
    tags=("text", "pii"),
)
def text_pii_redact(spark, sf_dir):
    """PII scrub pass (functions/text.py:redact_pii): emails, phones, and
    IPv4 addresses replaced with typed tags before text enters a training
    corpus — JVM-side regexp chain, embarrassingly parallel at 100 TB."""
    d = T(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-123-4567 from host 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    return d.select(
        "doc_id",
        TX.redact_pii(raw).alias("redacted"),
        F.regexp_count(raw, F.lit(TX.PII_PATTERNS[0][0])).alias("n_emails"),
    )

@register(
    "text_repetition_filter",
    # gopher-style repetition quality gate: fraction of duplicated word
    # 3-grams within each document
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        sh AS (SELECT doc_id, ({_SHINGLES}) AS sh FROM toks)
        SELECT doc_id,
               len(sh) AS n_shingles,
               len(list_distinct(sh)) AS n_distinct,
               CASE WHEN len(sh) = 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END AS rep_ratio,
               (CASE WHEN len(sh) = 0 THEN 0.0
                     ELSE 1.0 - len(list_distinct(sh))::DOUBLE / len(sh) END) > 0.2
                 AS is_repetitive
        FROM sh
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_filter(spark, sf_dir):
    """Within-document repetition ratio (share of duplicate 3-gram
    shingles) — the classic quality gate against boilerplate/looping text.
    Narrow projection, no shuffle, no Python: safe at 100 TB."""
    d = T(spark, sf_dir, "documents")
    sh = TX.shingles(TX.tokens("text"), 3)
    n = F.size(sh)
    nd = F.size(F.array_distinct(sh))
    ratio = F.when(n == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - nd.cast("double") / n
    )
    return d.select(
        "doc_id",
        n.alias("n_shingles"),
        nd.alias("n_distinct"),
        ratio.alias("rep_ratio"),
        (ratio > 0.2).alias("is_repetitive"),
    )

@register(
    "decontaminate_ngram_overlap",
    # benchmark decontamination: corpus docs sharing >= 3 word-3-grams with
    # the benchmark suite (docs 0..19 stand in) are flagged
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        sh AS (SELECT doc_id, ({_SHINGLES}) AS sh FROM toks),
        bench AS (SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id < 20),
        corpus AS (
            SELECT doc_id, unnest(list_distinct(sh)) AS s FROM sh WHERE doc_id >= 20
        ),
        hits AS (
            SELECT c.doc_id, count(*) AS n_hits
            FROM corpus c JOIN bench b ON c.s = b.s
            GROUP BY c.doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n_hits, 0) AS n_overlap,
               coalesce(h.n_hits, 0) >= 3 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 20) d
        LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
    tags=("text", "decontamination"),
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: count distinct word-3-gram overlaps
    between each corpus doc and a benchmark suite, flag docs over the
    threshold.  The suite's shingle set is tiny relative to the corpus, so
    it broadcasts — the corpus side stays a narrow explode + broadcast-hash
    join + partial/final count, the right shape at 100 TB (no corpus
    shuffle besides the per-doc count)."""
    d = T(spark, sf_dir, "documents")
    shdf = d.select("doc_id", TX.shingles(TX.tokens("text"), 3).alias("sh"))
    bench = (
        shdf.filter(F.col("doc_id") < 20)
        .select(F.explode("sh").alias("s"))
        .distinct()
    )
    corpus = shdf.filter(F.col("doc_id") >= 20).select(
        "doc_id", F.explode(F.array_distinct("sh")).alias("s")
    )
    hits = (
        corpus.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        d.filter(F.col("doc_id") >= 20)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_hits", F.lit(0)) >= 3).alias("contaminated"),
        )
    )

@register(
    "tfidf_top_terms",
    # classic TF-IDF relevance: tf * ln(N/df), top-3 terms per doc.  Rounded
    # to 6dp BEFORE ranking so rank order cannot depend on the last ulp of
    # ln() (JVM vs libm); ties break on the term itself.
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(list_filter(
                string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                t -> len(t) > 0)) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, term, tf, df, tfidf,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term) AS rnk
            FROM scored
        )
        SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
    """,
    tags=("text", "tfidf"),
)
def tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms.  Scale shape: explode -> two
    partial+final aggregations (doc-term tf, term df) -> broadcast of the
    tiny N scalar -> per-doc top-k window.  The df table is vocabulary-sized
    (MBs at 100 TB), so its join broadcasts; only the tf table shuffles, on
    the uniform term key."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )

@register(
    "cooccurrence_window_counts",
    # skip-gram co-occurrence counts (window ±2, directed): the count table
    # word2vec/GloVe-style embedding pretraining consumes.  Pairs are
    # generated inside the token array (sequence+transform — no self-join,
    # no posexplode shuffle), so the only shuffle is the final pair-count
    # aggregation on the uniform (w1, w2) key.
    oracle=f"""
        WITH toks AS (SELECT doc_id, {{toks}} AS tk FROM documents),
        pairs AS (
            SELECT unnest(flatten([
                [struct_pack(w1 := tk[i], w2 := tk[i + 1], dist := 1)
                 FOR i IN range(1, greatest(len(tk), 1))],
                [struct_pack(w1 := tk[i], w2 := tk[i + 2], dist := 2)
                 FOR i IN range(1, greatest(len(tk) - 1, 1))]
            ]), recursive := true)
            FROM toks
        )
        SELECT w1, w2, dist, CAST(count(*) AS BIGINT) AS cnt
        FROM pairs GROUP BY w1, w2, dist
        ORDER BY cnt DESC, w1, w2, dist
    """.format(toks=_toks()),
    tags=("text", "cooccurrence", "embedding-prep"),
)
def cooccurrence_window_counts(spark, sf_dir):
    """Directed (w1, w2, distance) co-occurrence counts for a ±2 window.
    Scale shape: pair generation is per-row array arithmetic riding the
    scan (a doc of n tokens emits 2n-3 pairs with no join); the single
    shuffle is the pair-count groupBy, whose key space is vocabulary², far
    smaller than the corpus — the canonical map-side-combine winner."""
    toks = T(spark, sf_dir, "documents").select(
        "doc_id", TX.tokens("text").alias("tk")
    )
    p1 = (
        "CASE WHEN size(tk) > 1 THEN transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] AS w1, tk[i + 1] AS w2, 1 AS dist)) "
        "ELSE array() END"
    )
    p2 = (
        "CASE WHEN size(tk) > 2 THEN transform(sequence(0, size(tk) - 3), "
        "i -> struct(tk[i] AS w1, tk[i + 2] AS w2, 2 AS dist)) "
        "ELSE array() END"
    )
    return (
        toks.select(
            F.explode(F.expr(f"concat({p1}, {p2})")).alias("p")
        )
        .select("p.w1", "p.w2", "p.dist")
        .groupBy("w1", "w2", "dist")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "w1", "w2", "dist")
    )

@register(
    "length_percentile_trim",
    # outlier trim: keep documents inside the exact [p05, p95] length band.
    # Spark percentile() and DuckDB quantile_cont share the (n-1)*q linear
    # interpolation; bounds are rounded to 6dp on both sides so the integer
    # n_chars comparisons cannot straddle an ulp.
    oracle="""
        WITH b AS (
            SELECT round(quantile_cont(n_chars, 0.05), 6) AS lo,
                   round(quantile_cont(n_chars, 0.95), 6) AS hi
            FROM documents
        )
        SELECT d.doc_id, d.n_chars, b.lo, b.hi
        FROM documents d CROSS JOIN b
        WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi
    """,
    tags=("text", "curation"),
)
def length_percentile_trim(spark, sf_dir):
    """Length-outlier removal, the standard pre-training trim.  The bounds
    aggregate is one tiny scalar (broadcast); the filter itself is a narrow
    pass that rides the scan at any scale."""
    d = T(spark, sf_dir, "documents")
    b = d.agg(
        F.round(F.percentile("n_chars", F.lit(0.05)), 6).alias("lo"),
        F.round(F.percentile("n_chars", F.lit(0.95)), 6).alias("hi"),
    )
    return (
        d.crossJoin(F.broadcast(b))
        .filter((F.col("n_chars") >= F.col("lo")) & (F.col("n_chars") <= F.col("hi")))
        .select("doc_id", "n_chars", "lo", "hi")
    )

@register(
    "source_lang_gini",
    # per-source language-mix report: how concentrated is each source's
    # language distribution?  Gini impurity 1 - sum(p_i^2) computed as
    # (total^2 - sum(cnt^2)) / total^2 — all-integer numerator, ONE double
    # division, bit-identical across engines (entropy would need log(),
    # whose last-ulp behavior libm does not pin down across engines).
    oracle="""
        WITH c AS (
            SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang
        ),
        s AS (
            SELECT source,
                   CAST(SUM(cnt) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_langs,
                   CAST(SUM(cnt * cnt) AS BIGINT) AS sq
            FROM c GROUP BY source
        )
        SELECT source, n_docs, n_langs,
               CAST(n_docs * n_docs - sq AS DOUBLE) / (n_docs * n_docs) AS gini
        FROM s
    """,
    tags=("text", "lang", "stats"),
)
def source_lang_gini(spark, sf_dir):
    """Two stacked partial-aggregations ((source, lang) then source) —
    metadata-sized output, map-side combinable all the way; the mixture
    monitoring every multi-source corpus runs per snapshot."""
    d = T(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.groupBy("source").agg(
        F.sum("cnt").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        (
            (F.col("n_docs") * F.col("n_docs") - F.col("sq")).cast("double")
            / (F.col("n_docs") * F.col("n_docs"))
        ).alias("gini"),
    )

@register(
    "vocab_coverage_curve",
    # tokenizer-design curve: what fraction of the corpus's token MASS does
    # a vocab of the top N pieces cover, for N in (16, 64, 256, 1024)?  The
    # rank order is fully deterministic (count DESC, piece ASC), the
    # cumulative mass is an integer window sum, and the ratio is one double
    # division — bit-exact.  This is the plot a team reads before fixing a
    # vocab size.
    oracle=r"""
        WITH pieces AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS p
            FROM documents
        ),
        counts AS (SELECT p, count(*) AS cnt FROM pieces GROUP BY p),
        ranked AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt DESC, p) AS rn FROM counts
        ),
        cum AS (
            SELECT rn, CAST(SUM(cnt) OVER (ORDER BY rn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_mass
            FROM ranked
        ),
        total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total_mass FROM counts)
        SELECT n.vocab_size,
               COALESCE((SELECT max(cum_mass) FROM cum WHERE rn <= n.vocab_size), 0) AS covered_mass,
               total_mass,
               CAST(COALESCE((SELECT max(cum_mass) FROM cum WHERE rn <= n.vocab_size), 0) AS DOUBLE)
                   / total_mass AS coverage
        FROM (SELECT unnest([16, 64, 256, 1024]) AS vocab_size) n, total
    """,
    tags=("text", "tokens", "vocab", "curve"),
)
def vocab_coverage_curve(spark, sf_dir):
    """Vocab build = one piece-keyed aggregation; only ranks <= 1024 feed
    the curve, so the ranked table is BOUNDED FIRST with
    ``orderBy(cnt DESC, p).limit(1024)`` — a TakeOrderedAndProject that
    ships at most 1024 rows per partition to the driver-side top-k merge,
    never a global sort.  The row_number/cumsum windows then run over that
    <=1024-row result (single tiny partition by construction), not the full
    piece vocabulary, which at 100 TB is 10^8-10^9 distinct pieces and
    would serialize one executor under an unpartitioned window (r05 VERDICT
    "What's wrong" #3).  Total mass stays a separate 1-row full aggregate.
    Output: 4 rows, bit-identical to the unbounded formulation."""
    from pyspark.sql.window import Window

    d = T(spark, sf_dir, "documents")
    pat = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    pieces = d.select(
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(pat), 0)).alias("p")
    )
    counts = pieces.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc("p")).limit(1024)
    w = Window.orderBy(F.desc("cnt"), "p")
    ranked = top.select(
        "cnt", F.row_number().over(w).alias("rn")
    ).withColumn(
        "cum_mass",
        F.sum("cnt").over(
            Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    total = counts.agg(F.sum("cnt").alias("total_mass"))
    # one conditional aggregation instead of a theta join: max(cum_mass)
    # under each rn <= N predicate, then unpivoted to rows — no nested-loop
    # join in the plan, and the agg input is the vocab-sized count table
    sizes = [16, 64, 256, 1024]
    covs = ranked.agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rn") <= s, F.col("cum_mass"))), F.lit(0)
            ).alias(f"c{s}")
            for s in sizes
        ]
    )
    row = covs.crossJoin(F.broadcast(total))
    curve = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("vocab_size"),
                    F.col(f"c{s}").cast("long").alias("covered_mass"),
                )
                for s in sizes
            ]
        )
    ).alias("e")
    return row.select(curve, "total_mass").select(
        F.col("e.vocab_size").alias("vocab_size"),
        F.col("e.covered_mass").alias("covered_mass"),
        "total_mass",
        (F.col("e.covered_mass").cast("double") / F.col("total_mass")).alias(
            "coverage"
        ),
    )

@register(
    "text_bigram_logprob",
    # bigram LM fluency score with an exact kernel: mean conditional
    # probability sum( c(w1 w2) / c(w1) ) / n_bigrams.  Each division is
    # pre-scaled to an integer (round(1e9 * c2 / c1) — the same IEEE divide
    # and round on both engines), so the per-doc sum is order-independent
    # integer arithmetic; only the final two divisions are IEEE.
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        bg AS (
            SELECT doc_id, unnest(({_SHINGLES_2})) AS bg
            FROM toks WHERE len(tk) >= 2
        ),
        uni AS (
            SELECT w, count(*) AS c1
            FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
        ),
        bgc AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        scored AS (
            SELECT b.doc_id,
                   CAST(round(1000000000.0 * c.c2 / u.c1) AS BIGINT) AS p_scaled
            FROM bg b
            JOIN bgc c USING (bg)
            JOIN uni u ON u.w = string_split(b.bg, ' ')[1]
        )
        SELECT doc_id,
               count(*) AS n_bigrams,
               CAST(sum(p_scaled) AS DOUBLE) / 1000000000.0 / count(*)
                   AS mean_condprob
        FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "lm"),
)
def text_bigram_logprob(spark, sf_dir):
    """Bigram language-model fluency filter (the CCNet/KenLM shape with an
    exact conditional-probability kernel — a real deployment swaps a logprob
    Pandas UDF into the same joins).  Scale shape: bigram and unigram count
    tables are vocabulary-sized (broadcastable at 100 TB); the corpus side
    is one explode feeding two broadcast-hash joins and a per-doc partial+
    final rollup — a single doc_id shuffle."""
    from pyspark.sql import Window  # noqa: F401  (kept for parity with siblings)

    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens("text").alias("tk")).where(F.size("tk") >= 2)
    bg = toks.select("doc_id", F.explode(TX.shingles(F.col("tk"), 2)).alias("bg"))
    uni = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    scored = (
        bg.join(F.broadcast(bgc), "bg")
        .join(
            F.broadcast(uni),
            F.element_at(F.split(F.col("bg"), " "), 1) == F.col("w"),
        )
        .select(
            "doc_id",
            F.round(F.lit(1_000_000_000.0) * F.col("c2") / F.col("c1"))
            .cast("bigint")
            .alias("p_scaled"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("p_scaled").cast("double") / 1_000_000_000.0 / F.count(F.lit(1))
        ).alias("mean_condprob"),
    )



@register(
    "text_kneser_ney_bigram",
    # interpolated Kneser-Ney bigram scoring — the smoothing the
    # CCNet/KenLM quality filter actually ships (absolute discount
    # D=0.75, continuation probability from distinct-predecessor counts):
    #   P_kn(w2|w1) = max(c(w1w2) - D, 0)/c(w1.)
    #               + (D * N1+(w1,.)/c(w1.)) * (N1+(.,w2) / N1+(..))
    # Every input is an integer count, the probability is ONE fixed-shape
    # IEEE expression evaluated identically here and in Spark, and each
    # per-bigram value is round-scaled to an integer (1e9) so the per-doc
    # sum is order-independent — the text_bigram_logprob determinism
    # recipe applied to a smoothed model.
    oracle=f"""
        WITH {_KN_SCORED_CTES}
        SELECT doc_id,
               count(*) AS n_bigrams,
               CAST(sum(p_scaled) AS DOUBLE) / 1000000000.0 / count(*)
                   AS mean_kn_prob
        FROM scored GROUP BY doc_id
    """,
    tags=("text", "quality", "lm", "smoothing"),
)
def text_kneser_ney_bigram(spark, sf_dir):
    scored = _kn_bigram_scored(T(spark, sf_dir, "documents"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (
            F.sum("p_scaled").cast("double") / 1_000_000_000.0 / F.count(F.lit(1))
        ).alias("mean_kn_prob"),
    )


def _kn_bigram_scored(d):
    """Per-bigram integer-scaled interpolated Kneser-Ney probabilities —
    ``(doc_id, p_scaled)`` — factored out of text_kneser_ney_bigram (the
    smoothed upgrade of text_bigram_logprob: raw conditional probability
    assigns mass only to seen bigrams; KN's continuation term is what
    makes an LM-based quality filter usable on held-out text) and shared
    with the CCNet-style perplexity bucketing
    (plans/pipeline_curation.py:ccnet_perplexity_buckets).  Scale shape:
    the bigram-type, context, and predecessor tables are all
    VOCABULARY-sized (broadcastable at 100 TB — they grow ~Heaps, not
    with the corpus), the type total is a 1-row broadcast, and the corpus
    side is one explode feeding broadcast-hash joins."""
    toks = d.select("doc_id", TX.tokens("text").alias("tk")).where(F.size("tk") >= 2)
    bg = toks.select("doc_id", F.explode(TX.shingles(F.col("tk"), 2)).alias("bg"))
    bgc = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    w1 = F.element_at(F.split(F.col("bg"), " "), 1)
    w2 = F.element_at(F.split(F.col("bg"), " "), 2)
    ctx = bgc.groupBy(w1.alias("w1")).agg(
        F.sum("c2").alias("c1"), F.count(F.lit(1)).alias("nf")
    )
    prec = bgc.groupBy(w2.alias("w2")).agg(F.count(F.lit(1)).alias("np"))
    nt = bgc.agg(F.count(F.lit(1)).alias("nt"))
    pkn = (
        F.greatest(F.col("c2").cast("double") - 0.75, F.lit(0.0))
        / F.col("c1").cast("double")
        + ((0.75 * F.col("nf").cast("double")) / F.col("c1").cast("double"))
        * (F.col("np").cast("double") / F.col("nt").cast("double"))
    )
    scored = (
        bg.join(F.broadcast(bgc), "bg")
        .join(F.broadcast(ctx), w1 == F.col("w1"))
        .join(F.broadcast(prec), w2 == F.col("w2"))
        .crossJoin(F.broadcast(nt))
        .select(
            "doc_id",
            F.round(F.lit(1_000_000_000.0) * pkn).cast("bigint").alias("p_scaled"),
        )
    )
    return scored

@register(
    "textrank_keywords",
    # TextRank (PageRank over the ±2-window co-occurrence graph, 5 fixed
    # iterations, d=0.85): the classic unsupervised keyword extractor.
    # Every iteration's neighbor sum goes through exact DECIMAL (the only
    # order-dependent step), so the 5-step fixpoint is bit-identical on
    # both engines; ranks read off the 9dp-rounded final score.
    oracle="""
        WITH toks AS (
            SELECT doc_id, list_filter(
                string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' '),
                t -> len(t) > 0) AS tk
            FROM documents
        ),
        prs AS (
            SELECT unnest(flatten([
                [struct_pack(w1 := tk[i], w2 := tk[i + 1])
                 FOR i IN range(1, greatest(len(tk), 1))],
                [struct_pack(w1 := tk[i], w2 := tk[i + 2])
                 FOR i IN range(1, greatest(len(tk) - 1, 1))]
            ]), recursive := true)
            FROM toks
        ),
        edges AS (
            SELECT w1 AS src, w2 AS dst FROM prs WHERE w1 <> w2
            UNION
            SELECT w2 AS src, w1 AS dst FROM prs WHERE w1 <> w2
        ),
        deg AS (SELECT src AS token, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY src),
        n AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM deg),
        p0 AS (SELECT d.token, 1.0 / n.nt AS p FROM deg d CROSS JOIN n),
        p1 AS (
            SELECT e.dst AS token,
                   0.15 / n.nt + 0.85 * CAST(SUM(CAST(pp.p / d.deg
                       AS DECIMAL(28,15))) AS DOUBLE) AS p
            FROM edges e
            JOIN p0 pp ON pp.token = e.src
            JOIN deg d ON d.token = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.nt
        ),
        p2 AS (
            SELECT e.dst AS token,
                   0.15 / n.nt + 0.85 * CAST(SUM(CAST(pp.p / d.deg
                       AS DECIMAL(28,15))) AS DOUBLE) AS p
            FROM edges e
            JOIN p1 pp ON pp.token = e.src
            JOIN deg d ON d.token = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.nt
        ),
        p3 AS (
            SELECT e.dst AS token,
                   0.15 / n.nt + 0.85 * CAST(SUM(CAST(pp.p / d.deg
                       AS DECIMAL(28,15))) AS DOUBLE) AS p
            FROM edges e
            JOIN p2 pp ON pp.token = e.src
            JOIN deg d ON d.token = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.nt
        ),
        p4 AS (
            SELECT e.dst AS token,
                   0.15 / n.nt + 0.85 * CAST(SUM(CAST(pp.p / d.deg
                       AS DECIMAL(28,15))) AS DOUBLE) AS p
            FROM edges e
            JOIN p3 pp ON pp.token = e.src
            JOIN deg d ON d.token = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.nt
        ),
        p5 AS (
            SELECT e.dst AS token,
                   0.15 / n.nt + 0.85 * CAST(SUM(CAST(pp.p / d.deg
                       AS DECIMAL(28,15))) AS DOUBLE) AS p
            FROM edges e
            JOIN p4 pp ON pp.token = e.src
            JOIN deg d ON d.token = e.src
            CROSS JOIN n
            GROUP BY e.dst, n.nt
        )
        SELECT token, round(p, 9) AS score
        FROM p5
        ORDER BY score DESC, token
        LIMIT 15
    """,
    tags=("text", "graph", "textrank", "iterative"),
)
def textrank_keywords(spark, sf_dir):
    """TextRank keywords: 5 unrolled PageRank steps over the undirected
    co-occurrence graph.  Scale shape: the graph is vocabulary-sized (far
    below the corpus after the one explode+distinct pass), every iteration
    is one token-keyed join+agg whose shuffle AQE reuses across steps, and
    the damping scalar broadcasts; the corpus itself is scanned exactly
    once.  Exact-decimal neighbor sums keep the fixpoint deterministic
    under any partial-aggregation order."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(TX.tokens("text").alias("tk"))
    p1 = (
        "CASE WHEN size(tk) > 1 THEN transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) ELSE array() END"
    )
    p2 = (
        "CASE WHEN size(tk) > 2 THEN transform(sequence(0, size(tk) - 3), "
        "i -> struct(tk[i] AS w1, tk[i + 2] AS w2)) ELSE array() END"
    )
    prs = (
        toks.select(F.explode(F.expr(f"concat({p1}, {p2})")).alias("pr"))
        .select("pr.w1", "pr.w2")
        .filter(F.col("w1") != F.col("w2"))
    )
    edges = stages.hold(
        "textrank_edges",
        prs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(prs.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct(),
    )
    deg = stages.hold(
        "textrank_deg",
        edges.groupBy(F.col("src").alias("token")).agg(
            F.count(F.lit(1)).alias("deg")
        ),
    )
    n = deg.agg(F.count(F.lit(1)).alias("nt"))
    p = deg.crossJoin(F.broadcast(n)).select(
        "token", (F.lit(1.0) / F.col("nt")).alias("p")
    )
    for _ in range(5):
        contrib = (
            edges.join(p.withColumnRenamed("token", "src_t"),
                       F.col("src") == F.col("src_t"))
            .join(deg.withColumnRenamed("token", "deg_t"),
                  F.col("src") == F.col("deg_t"))
            .select(
                F.col("dst").alias("token"),
                (F.col("p") / F.col("deg")).cast("decimal(28,15)").alias("c"),
            )
        )
        p = (
            contrib.groupBy("token")
            .agg(F.sum("c").cast("double").alias("s"))
            .crossJoin(F.broadcast(n))
            .select(
                "token",
                (F.lit(0.15) / F.col("nt") + F.lit(0.85) * F.col("s")).alias("p"),
            )
        )
    return (
        p.select("token", F.round("p", 9).alias("score"))
        .orderBy(F.desc("score"), "token")
        .limit(15)
    )

@register(
    "bpe_merge_candidates",
    # one BPE training iteration: adjacent character-pair frequencies over
    # the word distribution (pair count weighted by word frequency) — the
    # primitive a byte-pair-encoding tokenizer trainer loops on.  Top-20
    # merge candidates by count, ties on the pair string.
    oracle=f"""
        WITH words AS (
            SELECT unnest({{toks}}) AS w FROM documents
        ),
        wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w),
        prs AS (
            SELECT substr(w, i, 2) AS pair, freq
            FROM wf, unnest(range(1, greatest(length(w), 1))) AS t(i)
        )
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
        FROM prs
        GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 20
    """.format(toks=_toks()),
    tags=("text", "tokenizer", "bpe"),
)
def bpe_merge_candidates(spark, sf_dir):
    """Top BPE merge candidates: the word-frequency table collapses the
    corpus to vocabulary size FIRST (one shuffle on the word key, map-side
    combinable), then adjacent-pair expansion runs on that tiny table —
    the two-level aggregation that keeps a tokenizer-training iteration
    corpus-scan-bound rather than pair-explosion-bound at 100 TB."""
    d = T(spark, sf_dir, "documents")
    words = d.select(F.explode(TX.tokens("text")).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    prs = wf.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) > 1 THEN transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) ELSE array() END"
            )
        ).alias("pair"),
        "freq",
    )
    return (
        prs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )

# 5-step BPE training oracle: the word-frequency table (ONE corpus scan)
# is re-expressed as canonical symbol strings (2-space separators, 2-space
# wrapped: '  a  b  c  ' — a match of ' a  b ' then forces both symbols to
# be COMPLETE, and the shared boundary keeps one space per side so greedy
# left-to-right replace() preserves the canonical form), then five chained
# (pairs -> argmax -> replace) blocks apply each winning merge before
# counting the next — real BPE iteration, not five independent censuses.
def _bpe_step_ctes(steps: int, carry_w: bool = False) -> str:
    """The k chained (pairs -> argmax -> replace) CTE blocks; with
    ``carry_w`` each state row keeps its word, so a consumer can read the
    final per-word segmentation (the apply pass) instead of the merge
    list (the trainer).  Each replace LEFT JOINs its (0-or-1-row) argmax
    and no-ops on NULL, so a corpus that exhausts merges in fewer than
    ``steps`` iterations carries its state through the remaining blocks
    unchanged — matching the engine's early loop break — instead of a
    CROSS JOIN against an empty argmax emptying the state."""
    keep = "w, " if carry_w else ""
    blocks = []
    for i in range(1, steps + 1):
        blocks.append(f"""
        p{i} AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
                SELECT unnest([syms[i] || ' ' || syms[i+1]
                               for i in generate_series(1, len(syms) - 1)])
                           AS pair,
                       freq
                FROM (SELECT string_split(trim(s), '  ') AS syms, freq
                      FROM s{i - 1})
            ) GROUP BY pair
        ),
        w{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair LIMIT 1),
        s{i} AS (
            SELECT {keep}CASE WHEN pair IS NULL THEN s ELSE
                       replace(s, ' ' || replace(pair, ' ', '  ') || ' ',
                               ' ' || replace(pair, ' ', '') || ' ') END AS s,
                   freq
            FROM s{i - 1} LEFT JOIN w{i} ON TRUE
        )""")
    return ",".join(blocks)

def _bpe_steps_sql(steps: int) -> str:
    union = "\n            UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS step, pair, n FROM w{i}"
        for i in range(1, steps + 1)
    )
    return _bpe_step_ctes(steps) + f"""
        SELECT step, pair, n FROM ({union}) ORDER BY step
    """

@register(
    "bpe_merge_training_5steps",
    # iterated BPE trainer (r08 VERDICT ask #8): unroll 5 training
    # iterations — each step counts adjacent symbol pairs over the
    # vocabulary-sized word-frequency state, picks the argmax merge
    # (count DESC, pair ASC — bpe_merge_candidates' tiebreak), and APPLIES
    # it before the next count, producing the actual ordered merge list a
    # tokenizer would ship.  The corpus is scanned exactly once (the wf
    # CTE); every iteration is vocabulary-sized.
    oracle=f"""
        WITH wf AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest({{toks}}) AS w FROM documents) GROUP BY w
        ),
        s0 AS (
            SELECT regexp_replace(w, '(.)', '  \\1', 'g') || '  ' AS s, freq
            FROM wf
        ),{{steps}}
    """.format(toks=_toks(), steps=_bpe_steps_sql(5)),
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def bpe_merge_training_5steps(spark, sf_dir):
    """Five APPLIED BPE merge iterations (TextRank-style unroll): state is
    the word-frequency table re-coded as canonical symbol strings
    ('  a  b  ' — 2-space separators so replace(' a  b ', ' ab ') matches
    only complete symbols, consumes one boundary space per side, and
    therefore applies the merge greedily left-to-right while preserving
    the canonical form — exactly BPE's leftmost-first merge order, with
    overlapping runs like 'a a a' merging (1,2) and leaving 3).

    100-TB shape identical to bpe_merge_candidates: the corpus is scanned
    ONCE into the vocabulary-sized (word, freq) state (map-side
    combinable groupBy); each of the 5 iterations is a pair-explode +
    groupBy over the vocabulary (thousands of rows at any corpus size),
    and the 1-row argmax per step is the allowed scalar collect (the
    merge must be known to build the next step's plan — same pattern as
    ann_ivf_adaptive_recall's count).  The state frame is persisted once;
    steps 2-5 recompute only k cheap vocabulary-sized replaces from that
    cache, never the corpus scan."""
    d = T(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = stages.hold(
        "bpe_state0",
        wf.select(
            F.concat(
                F.regexp_replace("w", "(.)", "  $1"), F.lit("  ")
            ).alias("s"),
            "freq",
        ),
    )
    merges: list[tuple[int, str, int]] = []
    for step in range(1, 6):
        prs = state.select(
            F.split(F.trim("s"), "  ").alias("syms"), "freq"
        ).select(
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) > 1 THEN "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> concat(element_at(syms, i), ' ', "
                    "element_at(syms, i + 1))) "
                    "ELSE array() END"
                )
            ).alias("pair"),
            "freq",
        )
        top = (
            prs.groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0]["pair"], int(top[0]["n"])
        merges.append((step, pair, n))
        a, b = pair.split(" ")
        state = state.select(
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("s"),
            "freq",
        )
    return spark.createDataFrame(
        merges, "step bigint, pair string, n bigint"
    ).orderBy("step")

@register(
    "bpe_apply_merges",
    # the APPLY half of the tokenizer story (train -> apply): the 5 trained
    # merges re-segment every word, and each document reports its token
    # count under the trained tokenizer plus chars-per-token — the
    # compression measurement that decides whether a merge list ships.
    # The oracle reuses the trainer's own CTE chain carrying the word
    # column, so trainer and applier stay in lockstep by construction.
    oracle=f"""
        WITH wf AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest({{toks}}) AS w FROM documents) GROUP BY w
        ),
        s0 AS (
            SELECT w, regexp_replace(w, '(.)', '  \\1', 'g') || '  ' AS s, freq
            FROM wf
        ),{{steps}},
        seg AS (
            SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym
            FROM s5
        ),
        docw AS (SELECT doc_id, unnest({{toks}}) AS w FROM documents)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_sym) AS BIGINT) AS n_tokens,
               CAST(sum(len(w)) AS DOUBLE) / sum(n_sym) AS chars_per_token
        FROM docw JOIN seg USING (w)
        GROUP BY doc_id
    """.format(toks=_toks(), steps=_bpe_step_ctes(5, carry_w=True)),
    tags=("text", "tokenizer", "bpe", "apply"),
)
def bpe_apply_merges(spark, sf_dir):
    """Apply the 5 trained BPE merges back to the corpus: per document, the
    token count under the trained tokenizer and the chars-per-token
    compression it buys.  100-TB shape — the part that actually runs at
    scale: training state is vocabulary-sized (one corpus scan, then 5
    vocab-sized iterations, same as the trainer); the APPLY is a
    word -> n_symbols segmentation map BROADCAST to one exploded-corpus
    pass with a per-doc rollup — the corpus never sees the merge loop, and
    a production tokenizer service does exactly this with its shipped
    merge table."""
    d = T(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(TX.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = stages.hold(
        "bpe_apply_state0",
        wf.select(
            "w",
            F.concat(
                F.regexp_replace("w", "(.)", "  $1"), F.lit("  ")
            ).alias("s"),
            "freq",
        ),
    )
    for _step in range(5):
        prs = state.select(
            F.split(F.trim("s"), "  ").alias("syms"), "freq"
        ).select(
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) > 1 THEN "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> concat(element_at(syms, i), ' ', "
                    "element_at(syms, i + 1))) "
                    "ELSE array() END"
                )
            ).alias("pair"),
            "freq",
        )
        top = (
            prs.groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        state = state.select(
            "w",
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("s"),
            "freq",
        )
    seg = state.select(
        "w", F.size(F.split(F.trim("s"), "  ")).cast("long").alias("n_sym")
    )
    docw = d.select("doc_id", F.explode(TX.tokens("text")).alias("w"))
    return (
        docw.join(F.broadcast(seg), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_tokens"),
            (
                F.sum(F.length("w")).cast("double") / F.sum("n_sym")
            ).alias("chars_per_token"),
        )
    )

@register(
    "dedup_longest_common_span",
    # suffix-array-style exact substring dedup, re-expressed for dataflow:
    # position-tagged 8-token shingle hashes; cross-doc matches on rare
    # hashes (2 <= df <= 10 — the frequency cap every pair join here uses);
    # then longest-match extension as gaps-and-islands on the (pa - pb)
    # DIAGONAL: a shared substring of L tokens is exactly a run of
    # consecutive shingle matches on one diagonal, so max-run + 7 = L.
    # This finds the long verbatim overlaps (licenses, boilerplate,
    # syndicated paragraphs) that winnowing certifies only probabilistically.
    oracle=f"""
        WITH t AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        g AS (SELECT doc_id,
                CASE WHEN len(tk) >= 8
                     THEN list_transform(range(1, len(tk) - 6),
                            i -> {{'pos': i, 'h': md5(array_to_string(tk[i:i+7], ' '))}})
                     ELSE [] END AS shs
              FROM t),
        sh AS (SELECT doc_id, CAST(u.s.pos AS INTEGER) AS pos, u.s.h AS h
               FROM (SELECT doc_id, unnest(shs) AS s FROM g) u),
        rare AS (SELECT h FROM sh GROUP BY h
                 HAVING count(DISTINCT doc_id) BETWEEN 2 AND 10),
        m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
              FROM sh a JOIN sh b USING (h) JOIN rare USING (h)
              WHERE a.doc_id < b.doc_id),
        isl AS (SELECT id_a, id_b, pa - pb AS diag, pa,
                       pa - row_number() OVER (
                           PARTITION BY id_a, id_b, pa - pb ORDER BY pa) AS grp
                FROM m),
        runs AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS run
                 FROM isl GROUP BY id_a, id_b, diag, grp)
        SELECT id_a, id_b,
               CAST(max(run) + 7 AS BIGINT) AS max_span_tokens,
               CAST(count(*) AS BIGINT) AS n_runs
        FROM runs GROUP BY id_a, id_b
        ORDER BY max_span_tokens DESC, id_a, id_b
    """,
    tags=("text", "dedup", "substring", "pairs"),
)
def dedup_longest_common_span(spark, sf_dir):
    """100-TB shape: shingle extraction is a narrow 0-shuffle map (array
    HOFs inside codegen, TX.bind against CollapseProject re-substitution);
    the df cap bounds every hash group at 10 docs => <= 45 pairs per hash,
    so the self-join output is linear in shingle count, never quadratic in
    the corpus; island detection windows partition on (pair, diagonal) —
    thousands of small groups, no global sort anywhere."""
    from kwack_spark.operators.scale import widen_if_narrow
    from pyspark.sql.window import Window

    K = 8
    d = widen_if_narrow(T(spark, sf_dir, "documents"))

    def with_tk(tk):
        return F.when(
            F.size(tk) >= K,
            F.transform(
                F.sequence(F.lit(1), F.size(tk) - K + 1),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice(tk, i, K))).alias("h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))

    sh = (
        d.select("doc_id", TX.bind(TX.tokens("text"), with_tk).alias("shs"))
        .select("doc_id", F.explode("shs").alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    rare = (
        sh.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df").between(2, 10))
        .select("h")
    )
    keyed = sh.join(rare, "h")
    a = keyed.select("h", F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"))
    b = keyed.select("h", F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"))
    m = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(F.count(F.lit(1)).alias("run"))
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            (F.max("run") + F.lit(K - 1)).cast("long").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_runs"),
        )
        .orderBy(F.desc("max_span_tokens"), "id_a", "id_b")
    )

@register(
    "bpe_train_two_steps",
    # TWO BPE training iterations, not just pair mining: pick the argmax
    # merge from iteration 1 (count DESC, pair ASC — bpe_merge_candidates'
    # exact criterion), APPLY it to the word-frequency table (greedy
    # leftmost non-overlapping, via ONE global regex pass over a
    # '||'-separated symbol string — the doubled separator lets adjacent
    # matches in a run share boundaries, exact on runs of any length —
    # identical regex semantics on both engines), then recount
    # adjacent SYMBOL pairs.  Output: the chosen merge1 and the top-20
    # second-iteration candidates ('+'-joined symbols, so multi-char
    # symbols are unambiguous).
    oracle=f"""
        WITH words AS (SELECT unnest({_toks()}) AS w FROM documents),
        wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY w),
        prs AS (
            SELECT substr(w, i, 2) AS pair, freq
            FROM wf, unnest(range(1, greatest(length(w), 1))) AS t(i)
        ),
        top1 AS (
            SELECT pair AS m1 FROM prs GROUP BY pair
            ORDER BY SUM(freq) DESC, pair LIMIT 1
        ),
        applied AS (
            -- DOUBLED-separator greedy merge: symbols joined by '||', the
            -- pattern consumes one '|' from each side, so adjacent matches
            -- in a symbol run share boundaries correctly and ONE global
            -- pass is exactly leftmost non-overlapping BPE (a single-'|'
            -- two-pass scheme under-merges runs >= 5)
            SELECT regexp_replace(
                       '||' || regexp_replace(w, '(.)', '\\1||', 'g'),
                       '\\|' || substr(m1, 1, 1) || '\\|\\|' || substr(m1, 2, 1) || '\\|',
                       '|' || m1 || '|', 'g') AS sym,
                   freq, m1
            FROM wf, top1
        ),
        syms AS (
            SELECT list_filter(string_split(sym, '|'), s -> len(s) > 0) AS ss,
                   freq, m1
            FROM applied
        ),
        p2 AS (
            SELECT ss[i] || '+' || ss[i + 1] AS pair, freq, m1
            FROM syms, unnest(range(1, greatest(len(ss), 1))) AS t(i)
        )
        SELECT m1 AS merge1, pair, CAST(SUM(freq) AS BIGINT) AS n
        FROM p2 GROUP BY m1, pair
        ORDER BY n DESC, pair LIMIT 20
    """,
    tags=("text", "tokenizer", "bpe", "iterative"),
)
def bpe_train_two_steps(spark, sf_dir):
    """100-TB shape identical to bpe_merge_candidates: the corpus
    collapses to the vocabulary-sized word-frequency table FIRST (one
    map-side-combinable shuffle); both the merge application (regex over
    vocab words) and both pair counts run on that tiny table; the chosen
    merge is a 1-row broadcast, never a collect."""
    d = T(spark, sf_dir, "documents")
    words = d.select(F.explode(TX.tokens("text")).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    prs = wf.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) > 1 THEN transform(sequence(1, length(w) - 1), "
                "i -> substring(w, i, 2)) ELSE array() END"
            )
        ).alias("pair"),
        "freq",
    )
    top1 = (
        prs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(1)
        .select(F.col("pair").alias("m1"))
    )
    pat = F.concat(
        F.lit(r"\|"), F.substring("m1", 1, 1), F.lit(r"\|\|"),
        F.substring("m1", 2, 1), F.lit(r"\|"),
    )
    repl = F.concat(F.lit("|"), F.col("m1"), F.lit("|"))
    sym0 = F.concat(F.lit("||"), F.regexp_replace("w", F.lit("(.)"), F.lit("$1||")))
    applied = wf.crossJoin(F.broadcast(top1)).select(
        F.regexp_replace(sym0, pat, repl).alias("sym"),
        "freq",
        "m1",
    )
    syms = applied.select(
        F.filter(F.split("sym", r"\|"), lambda s: F.length(s) > 0).alias("ss"),
        "freq",
        "m1",
    )
    p2 = syms.select(
        F.explode(
            F.expr(
                "CASE WHEN size(ss) > 1 THEN transform(sequence(1, size(ss) - 1), "
                "i -> concat(element_at(ss, i), '+', element_at(ss, i + 1))) "
                "ELSE array() END"
            )
        ).alias("pair"),
        "freq",
        "m1",
    )
    return (
        p2.groupBy("m1", "pair")
        .agg(F.sum("freq").alias("n"))
        .select(F.col("m1").alias("merge1"), "pair", "n")
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )

@register(
    "tfidf_cosine_topk",
    # All-pairs sparse TF-IDF cosine, top-20 most-similar document pairs —
    # the sparse-vector complement of dedup_embedding_cosine (dense) and
    # dedup_ngram_jaccard (set overlap).  Determinism discipline (the
    # tfidf_top_terms / bm25_topk_search pattern): each weight is rounded
    # to 6dp BEFORE any sum (so ln()'s last ulp cannot leak), and every
    # dot/norm accumulates through exact DECIMAL, so partial-aggregation
    # order cannot change a bit.  Stop terms are excluded by an ABSOLUTE
    # posting-length cap (df <= 256): per-term self-join fan-out is df^2,
    # so a relative cap (df <= N/2) lets the worst term's pair volume grow
    # quadratically with the corpus — the absolute cap is what production
    # all-pairs systems ship, and it bounds every term's work at any N.
    oracle=f"""
        WITH tok AS (SELECT doc_id, unnest({_toks()}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents),
        w AS (
            SELECT doc_id, term,
                   CAST(round(t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6)
                        AS DECIMAL(18,6)) AS w
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
            WHERE d.df <= 256
        ),
        n2 AS (
            SELECT doc_id,
                   CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE) AS n2
            FROM w GROUP BY 1
        ),
        dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(SUM(CAST(a.w * b.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
            FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
        FROM dots
        JOIN n2 na ON na.doc_id = id_a
        JOIN n2 nb ON nb.doc_id = id_b
        ORDER BY cosine DESC, id_a, id_b LIMIT 20
    """,
    tags=("text", "tfidf", "similarity"),
)
def tfidf_cosine_topk(spark, sf_dir):
    """Sparse all-pairs similarity via the inverted index: pair partial
    products are generated ONLY where two docs share a term, i.e. a
    self-equi-join of the (doc, term, w) posting table on the term key —
    never a doc x doc cross product.  100-TB shape: tf shuffles once on
    (doc, term); df is vocabulary-sized and broadcasts; the ABSOLUTE
    posting-length cap (df <= 256) bounds every term's self-join fan-out
    at 256^2 pair partials regardless of corpus size — THE skew knob for
    all-pairs similarity (a relative N/2 cap measured ~quadratic under
    tools/scale_stress.py replication; absolute cap restored ~linear);
    norms are doc-count-sized and shuffle-join on doc id; the final
    top-20 is a TakeOrdered.  Exact DECIMAL sums of 6dp-pre-rounded
    weights keep Spark and DuckDB bit-identical."""
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= 256)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    # the posting table feeds three subtrees (both sides of the pair join
    # + the norms) — persist it once or the tokenize+tf+df pipeline runs
    # 3x (the minhash_lsh_pairs shingle-set discipline)
    w = stages.hold("tfidf_cos_w", w)
    n2 = w.groupBy("doc_id").agg(
        F.sum((F.col("w") * F.col("w")).cast("decimal(38,12)"))
        .cast("double")
        .alias("n2")
    )
    dots = (
        w.alias("a")
        .join(
            w.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(
            F.sum((F.col("a.w") * F.col("b.w")).cast("decimal(38,12)"))
            .cast("double")
            .alias("dot")
        )
    )
    res = (
        dots.join(
            n2.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("n2a")),
            "id_a",
        )
        .join(
            n2.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("n2b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot") / (F.sqrt("n2a") * F.sqrt("n2b")), 6
            ).alias("cosine"),
        )
    )
    return res.orderBy(F.desc("cosine"), "id_a", "id_b").limit(20)

@register(
    "event_robust_outliers",
    # Robust per-type outlier scan: median/MAD z-scores (the
    # mean/stddev-free counterpart of daily_anomaly_zscore — a single
    # corrupt shard cannot drag the center the way it drags a mean).
    # Determinism: median on both engines is the same interpolated
    # selection (avg of the two middle values — one IEEE add + halve on
    # identical inputs); every downstream step is +,-,*,/ on identical
    # doubles, rounded to 6dp at the end; mad = 0 groups are excluded
    # (their z-score would be an infinity whose formatting differs).
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med FROM events GROUP BY 1
        ),
        dev AS (
            SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m USING (event_type)
        ),
        mad AS (SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1)
        SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
               round((d.value - d.med) / (1.4826 * m.mad), 6) AS rz
        FROM dev d JOIN mad m USING (event_type)
        WHERE m.mad > 0
          AND abs((d.value - d.med) / (1.4826 * m.mad)) > 3.5
    """,
    tags=("quality", "outlier", "robust"),
)
def event_robust_outliers(spark, sf_dir):
    """100-TB shape: two key-partitioned aggregations over the fact (the
    per-type exact median; then the median of absolute deviations) with the
    tiny per-type center/scale tables broadcast back — the fact shuffles on
    the bounded event_type key only for the medians, and the scoring pass
    is narrow map work.  At cluster scale the exact median swaps for
    percentile_approx with a pinned accuracy — the plan shape (two
    partial+final aggs + broadcast enrich) is unchanged."""
    e = T(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    scored = dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        "mad",
        F.round(
            (F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 6
        ).alias("rz"),
    )
    return scored.filter(
        (F.col("mad") > 0)
        & (
            F.abs(
                (F.col("value") - F.col("med"))
                / (F.lit(1.4826) * F.col("mad"))
            )
            > 3.5
        )
    )

@register(
    "zipf_fit_slope",
    # Zipf's-law fit over the top-100 corpus terms: OLS of ln(freq) on
    # ln(rank).  Determinism: ln() is not correctly-rounded, so both
    # engines round ln to 6dp FIRST and sum through exact DECIMAL (the
    # established discipline); the closed-form slope/intercept/r2 then run
    # the identical double sequence over identical decimal sums.
    oracle=f"""
        WITH tf AS MATERIALIZED (
            SELECT t AS term, count(*) AS cnt
            FROM (SELECT unnest({_toks()}) AS t FROM documents)
            GROUP BY 1 ORDER BY cnt DESC, term LIMIT 100
        ),
        xy AS (
            SELECT CAST(round(ln(row_number()
                       OVER (ORDER BY cnt DESC, term)), 6)
                       AS DECIMAL(12,6)) AS x,
                   CAST(round(ln(cnt), 6) AS DECIMAL(12,6)) AS y
            FROM tf
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM xy
        )
        SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                     6) AS intercept,
               round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        FROM s
    """,
    tags=("text", "stats", "corpus"),
)
def zipf_fit_slope(spark, sf_dir):
    """Zipf fit over the term-frequency head.  100-TB shape: one
    token-explode + term rollup (partial+final agg on the term key), a
    TakeOrderedAndProject top-100 head, then rank/regression on the
    bounded 100-row table — the corpus is scanned once and everything
    downstream is metadata-sized."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(TX.tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(100)
    )
    xy = tf.select(
        F.round(F.log(F.row_number().over(Window.orderBy(F.desc("cnt"), "term"))), 6)
        .cast("decimal(12,6)")
        .alias("x"),
        F.round(F.log("cnt"), 6).cast("decimal(12,6)").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            * (n * sxy - sx * sy)
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )

@register(
    "ngram_novelty_curve",
    # Corpus-saturation curve: bucket documents into 10 ingestion-order
    # deciles (doc_id ranges, no window) and measure the fraction of each
    # decile's distinct 3-gram shingles seen for the FIRST time there —
    # the diminishing-novelty signal a data-mixing pipeline watches to
    # decide when another crawl snapshot stops adding information.
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        shs AS (SELECT doc_id, ({_SHINGLES}) AS sh FROM toks),
        ex AS MATERIALIZED (
            SELECT doc_id, unnest(list_distinct(sh)) AS s FROM shs
        ),
        first AS (SELECT s, min(doc_id) AS first_doc FROM ex GROUP BY s),
        per_doc AS (
            SELECT e.doc_id, count(*) AS n_sh,
                   SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                       AS n_novel
            FROM ex e JOIN first f USING (s) GROUP BY 1
        ),
        mx AS (SELECT max(doc_id) AS mx FROM documents)
        SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS BIGINT) AS decile,
               count(*) AS n_docs,
               CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
               CAST(SUM(n_novel) AS BIGINT) AS n_novel,
               CAST(SUM(n_novel) AS DOUBLE) / SUM(n_sh) AS novelty_rate
        FROM per_doc, mx
        GROUP BY 1
    """,
    tags=("text", "dedup", "corpus"),
)
def ngram_novelty_curve(spark, sf_dir):
    """Novelty-by-decile.  100-TB shape: one explode + min-agg on the
    shingle key (uniform md5-like distribution), one equi-join back on the
    same key (the shuffle is reused), then a doc-keyed rollup into a
    10-row output; deciles come from doc_id ranges against a broadcast
    1-row max — no full-table window anywhere."""
    d = T(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id",
        F.explode(F.array_distinct(TX.shingles(TX.tokens("text"), 3))).alias("s"),
    )
    first = ex.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ex.join(first, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    mx = d.agg(F.max("doc_id").alias("mx"))
    return (
        per_doc.join(F.broadcast(mx))
        .groupBy(
            F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1))
            .cast("bigint")
            .alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
            (F.sum("n_novel").cast("double") / F.sum("n_sh")).alias("novelty_rate"),
        )
    )

@register(
    "cooccurrence_pmi_topk",
    # Top-25 adjacent-bigram associations by pointwise mutual information —
    # the collocation ranking (word2vec-era phrase mining) built from the
    # same in-array bigrams as cooccurrence_window_counts.  Determinism:
    # every count is an exact integer; PMI combines six 6dp-pre-rounded
    # ln() values in one fixed left-to-right expression, so the ranking is
    # bit-identical across engines (ties break on the words).
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        bi AS (
            SELECT unnest([struct_pack(w1 := tk[i], w2 := tk[i + 1])
                           FOR i IN range(1, greatest(len(tk), 1))],
                          recursive := true)
            FROM toks
        ),
        c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bi GROUP BY w1, w2),
        uni AS (
            SELECT t AS w, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY t
        ),
        tot AS (
            SELECT CAST(SUM(len(tk)) AS BIGINT) AS ntok,
                   CAST(SUM(greatest(len(tk) - 1, 0)) AS BIGINT) AS nbig
            FROM toks
        )
        SELECT w1, w2, c12,
               round(round(ln(c12), 6) - round(ln(nbig), 6)
                     - round(ln(a.c), 6) - round(ln(b.c), 6)
                     + round(ln(ntok), 6) + round(ln(ntok), 6), 6) AS pmi
        FROM c12
        JOIN uni a ON a.w = c12.w1
        JOIN uni b ON b.w = c12.w2
        CROSS JOIN tot
        WHERE c12 >= 5
        ORDER BY pmi DESC, w1, w2 LIMIT 25
    """,
    tags=("text", "cooccurrence", "stats"),
)
def cooccurrence_pmi_topk(spark, sf_dir):
    """PMI collocations.  100-TB shape: bigrams ride the scan in-array (no
    join), the count tables are vocabulary-sized rollups, the unigram
    joins hit vocab-keyed tables, the two totals are a broadcast 1-row
    aggregate, and the final cut is a TakeOrderedAndProject top-25."""
    toks = T(spark, sf_dir, "documents").select(TX.tokens("text").alias("tk"))
    bi_expr = (
        "CASE WHEN size(tk) >= 2 THEN transform(sequence(0, size(tk) - 2), "
        "i -> struct(tk[i] AS w1, tk[i + 1] AS w2)) ELSE array() END"
    )
    c12 = (
        toks.select(F.explode(F.expr(bi_expr)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = toks.agg(
        F.sum(F.size("tk")).alias("ntok"),
        F.sum(F.greatest(F.size("tk") - 1, F.lit(0))).alias("nbig"),
    )
    rln = lambda c: F.round(F.log(c), 6)  # noqa: E731
    pmi = F.round(
        rln(F.col("c12"))
        - rln(F.col("nbig"))
        - rln(F.col("ca"))
        - rln(F.col("cb"))
        + rln(F.col("ntok"))
        + rln(F.col("ntok")),
        6,
    )
    return (
        c12.filter(F.col("c12") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )

@register(
    "term_entropy_by_source",
    # Shannon entropy of each source's term distribution — the diversity
    # check a mixture designer runs per corpus slice (low entropy =
    # templated/boilerplate source).  Determinism: p is bigint/bigint;
    # each p*ln(p) term pre-rounds ln to 6dp, rounds the product to 12dp
    # and sums through exact DECIMAL; entropy rounds to 6dp.
    oracle=f"""
        WITH tf AS (
            SELECT source, t AS term, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT source, unnest({_toks()}) AS t FROM documents)
            GROUP BY 1, 2
        ),
        st AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot
               FROM tf GROUP BY source)
        SELECT tf.source, count(*) AS n_terms,
               round(-CAST(SUM(CAST(round(
                   (CAST(cnt AS DOUBLE) / tot)
                       * round(ln(CAST(cnt AS DOUBLE) / tot), 6), 12)
                   AS DECIMAL(16,12))) AS DOUBLE), 6) AS entropy
        FROM tf JOIN st USING (source)
        GROUP BY tf.source
    """,
    tags=("text", "stats", "mixture"),
)
def term_entropy_by_source(spark, sf_dir):
    """Per-source term entropy.  100-TB shape: one token explode into a
    (source, term)-keyed rollup (vocabulary-sized per source), source
    totals broadcast back, and a source-keyed final rollup — output is
    |sources| rows at any corpus size."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(TX.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    st = tf.groupBy("source").agg(F.sum("cnt").alias("tot"))
    pcol = F.col("cnt").cast("double") / F.col("tot")
    term = F.round(pcol * F.round(F.log(pcol), 6), 12).cast("decimal(16,12)")
    return (
        tf.join(F.broadcast(st), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )

@register(
    "text_burstiness",
    # Top-25 bursty terms by variance-to-mean ratio of per-document counts
    # (df >= 20): VMR ~1 is Poisson background (function words), VMR >> 1
    # is topical clustering — the statistic behind content-word weighting
    # and boilerplate screens.  All moments are exact integers (count,
    # sum, sum of squares over bigints); the VMR double expression runs in
    # one fixed order and rounds to 6dp; ties break on the term.
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS c
            FROM (SELECT doc_id, unnest({_toks()}) AS t FROM documents)
            GROUP BY 1, 2
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        st AS (
            SELECT term, CAST(count(*) AS BIGINT) AS df,
                   CAST(SUM(c) AS BIGINT) AS tf_total,
                   CAST(SUM(c * c) AS BIGINT) AS tf_sq
            FROM tf GROUP BY term
        )
        SELECT term, df, tf_total,
               round((CAST(tf_sq AS DOUBLE) / n_docs
                      - (CAST(tf_total AS DOUBLE) / n_docs)
                        * (CAST(tf_total AS DOUBLE) / n_docs))
                     / (CAST(tf_total AS DOUBLE) / n_docs), 6) AS vmr
        FROM st, n
        WHERE df >= 20
        ORDER BY vmr DESC, term LIMIT 25
    """,
    tags=("text", "stats", "quality"),
)
def text_burstiness(spark, sf_dir):
    """Term burstiness (VMR).  100-TB shape: one token explode into a
    (doc, term) rollup, a term-keyed moment rollup (vocabulary-sized), a
    broadcast 1-row corpus count, and a TakeOrderedAndProject top-25 —
    single corpus scan, integer-exact moments."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("tf_total"),
        F.sum(F.col("c") * F.col("c")).alias("tf_sq"),
    )
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    mean = F.col("tf_total").cast("double") / F.col("n_docs")
    vmr = F.round(
        (F.col("tf_sq").cast("double") / F.col("n_docs") - mean * mean) / mean, 6
    )
    return (
        st.filter(F.col("df") >= 20)
        .crossJoin(F.broadcast(n))
        .select("term", "df", "tf_total", vmr.alias("vmr"))
        .orderBy(F.desc("vmr"), "term")
        .limit(25)
    )

@register(
    "token_oov_rate_by_source",
    # Out-of-vocabulary rate per source against the global top-1024 term
    # vocabulary — the per-feed tokenizer-coverage audit (a source whose
    # OOV spikes is drifting away from the trained vocab).  The vocab cut
    # is a TakeOrdered head; counts and rates are integer-exact.
    oracle=f"""
        WITH tf AS (
            SELECT source, t AS term
            FROM (SELECT source, unnest({_toks()}) AS t FROM documents)
        ),
        vocab AS MATERIALIZED (
            SELECT term FROM (
                SELECT term, count(*) AS cnt FROM tf GROUP BY term
            ) ORDER BY cnt DESC, term LIMIT 1024
        )
        SELECT tf.source,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS oov_rate
        FROM tf LEFT JOIN vocab v USING (term)
        GROUP BY tf.source
    """,
    tags=("text", "tokenizer", "audit"),
)
def token_oov_rate_by_source(spark, sf_dir):
    """Per-source OOV rate.  100-TB shape: one token explode feeding both
    the vocab head (term rollup + TakeOrdered) and the broadcast-vocab
    left join; output is |sources| rows."""
    d = T(spark, sf_dir, "documents")
    tf = d.select("source", F.explode(TX.tokens("text")).alias("term"))
    vocab = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term")
        .limit(1024)
        .select("term")
        .withColumn("in_vocab", F.lit(1))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            (
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )

@register(
    "corpus_data_card",
    # The one-row dataset card: corpus size, token volume, vocabulary,
    # near-dup rate, language/source spread — the summary block a dataset
    # release publishes, composed from the pipeline's own primitives
    # (exact integers; the dup-id set is the verified LSH pair union).
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
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
            SELECT doc_id, unnest(['0:' || band0, '1:' || band1]) AS band_key
            FROM banded
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM exploded a JOIN exploded b
              ON a.band_key = b.band_key AND a.doc_id < b.doc_id
        ),
        ssets AS (SELECT doc_id, list_distinct(sh) AS s FROM shs),
        dup_ids AS (
            SELECT DISTINCT id_a AS doc_id FROM cand c
            JOIN ssets x ON x.doc_id = c.id_a
            JOIN ssets y ON y.doc_id = c.id_b
            WHERE {_JAC} >= 0.5
            UNION
            SELECT DISTINCT id_b FROM cand c
            JOIN ssets x ON x.doc_id = c.id_a
            JOIN ssets y ON y.doc_id = c.id_b
            WHERE {_JAC} >= 0.5
        ),
        tok_stats AS (
            SELECT CAST(SUM(len(tk)) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM toks
        ),
        vocab AS (
            SELECT CAST(count(DISTINCT t) AS BIGINT) AS n_vocab
            FROM (SELECT unnest(tk) AS t FROM toks)
        ),
        spread AS (
            SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sources
            FROM documents
        ),
        dups AS (SELECT CAST(count(*) AS BIGINT) AS n_dup FROM dup_ids)
        SELECT n_docs, n_tokens, n_vocab, n_langs, n_sources, n_dup,
               CAST(n_dup AS DOUBLE) / n_docs AS dup_rate,
               CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens
        FROM tok_stats, vocab, spread, dups
    """,
    tags=("text", "audit", "analytics"),
)
def corpus_data_card(spark, sf_dir):
    """One-row dataset card.  100-TB shape: each block is an independent
    bounded rollup (1-row aggregates, a vocab distinct count, the blocked
    dup pipeline); the final assembly is a cross join of 1-row frames."""
    d = T(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens("text").alias("tk"))
    tok_stats = toks.agg(
        F.sum(F.size("tk")).alias("n_tokens"), F.count(F.lit(1)).alias("n_docs")
    )
    vocab = toks.select(F.explode("tk").alias("t")).agg(
        F.countDistinct("t").alias("n_vocab")
    )
    spread = d.agg(
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
    )
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", "text", k=8, bands=2, threshold=0.5)
    dups = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    return (
        tok_stats.crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(spread))
        .crossJoin(F.broadcast(dups))
        .select(
            "n_docs",
            "n_tokens",
            "n_vocab",
            "n_langs",
            "n_sources",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_docs")).alias("dup_rate"),
            (F.col("n_tokens").cast("double") / F.col("n_docs")).alias("mean_tokens"),
        )
    )

@register(
    "heaps_law_fit",
    # Heaps' law (vocabulary growth V ~ K * T^beta) fitted over 10
    # ingestion-order deciles: cumulative distinct terms vs cumulative
    # tokens, OLS in log-log space — Zipf's companion corpus statistic and
    # the vocabulary-budget forecast for tokenizer training.  Both axes
    # are exact integers (first-occurrence counting, the novelty-curve
    # machinery); the fit pre-rounds ln to 6dp and sums through DECIMAL.
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        mx AS (SELECT max(doc_id) AS mx FROM documents),
        per_doc AS (
            SELECT CAST(floor(doc_id * 10 / (mx + 1)) AS BIGINT) AS decile,
                   doc_id, tk
            FROM toks, mx
        ),
        tok_cum AS (
            SELECT decile, SUM(SUM(len(tk))) OVER (ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS t_cum
            FROM per_doc GROUP BY decile
        ),
        first AS (
            SELECT t, min(doc_id) AS first_doc
            FROM (SELECT doc_id, unnest(tk) AS t FROM per_doc)
            GROUP BY t
        ),
        voc AS (
            SELECT CAST(floor(first_doc * 10 / (mx + 1)) AS BIGINT) AS decile,
                   CAST(count(*) AS BIGINT) AS new_terms
            FROM first, mx GROUP BY 1
        ),
        voc_cum AS (
            SELECT t.decile,
                   SUM(coalesce(v.new_terms, 0)) OVER (ORDER BY t.decile
                       ROWS UNBOUNDED PRECEDING) AS v_cum
            FROM tok_cum t LEFT JOIN voc v USING (decile)
        ),
        xy AS (
            SELECT CAST(round(ln(t_cum), 6) AS DECIMAL(12,6)) AS x,
                   CAST(round(ln(v_cum), 6) AS DECIMAL(12,6)) AS y
            FROM tok_cum JOIN voc_cum USING (decile)
            WHERE v_cum > 0
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx
            FROM xy
        )
        SELECT n AS n_points,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               END AS beta,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round(exp((sy - (n * sxy - sx * sy)
                                    / (n * sxx - sx * sx) * sx) / n), 6)
               END AS k
        FROM s
    """,
    tags=("text", "stats", "corpus"),
)
def heaps_law_fit(spark, sf_dir):
    """Heaps' law fit.  100-TB shape: one token pass for decile token
    counts, one first-occurrence rollup on the term key (the novelty-curve
    shuffle), then 10-row cumulations and a closed-form OLS — deciles via
    broadcast max, no full-table window anywhere."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("mx"))
    toks = d.select("doc_id", TX.tokens("text").alias("tk")).crossJoin(
        F.broadcast(mx)
    )
    dec = F.floor(F.col("doc_id") * 10 / (F.col("mx") + 1)).cast("bigint")
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tok_cum = (
        toks.groupBy(dec.alias("decile"))
        .agg(F.sum(F.size("tk")).alias("t"))
        .withColumn("t_cum", F.sum("t").over(w))
    )
    first = (
        toks.select("doc_id", F.explode("tk").alias("t"))
        .groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    voc = (
        first.crossJoin(F.broadcast(mx))
        .groupBy(
            F.floor(F.col("first_doc") * 10 / (F.col("mx") + 1))
            .cast("bigint")
            .alias("decile")
        )
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    # forward-fill: cumulative vocab at every TOKEN decile (a tiny corpus
    # can first-see every term in decile 0)
    voc_cum = (
        tok_cum.select("decile")
        .join(voc, "decile", "left")
        .withColumn("v_cum", F.sum(F.coalesce("new_terms", F.lit(0))).over(w))
    )
    xy = tok_cum.join(voc_cum.filter(F.col("v_cum") > 0), "decile").select(
        F.round(F.log("t_cum"), 6).cast("decimal(12,6)").alias("x"),
        F.round(F.log("v_cum"), 6).cast("decimal(12,6)").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx = F.col("sxy"), F.col("sxx")
    vx = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / vx
    return s.select(
        F.col("n").alias("n_points"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("beta"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.exp((sy - slope * sx) / n), 6))
        .alias("k"),
    )

@register(
    "doc_length_lognormal_fit",
    # Lognormal fit of the document token-length distribution (the
    # standard length prior for web corpora): mu and sigma of ln(length)
    # with 6dp-pre-rounded logs decimal-summed, plus the min/max for the
    # support — the parameters a length-based quality filter is tuned
    # against.
    oracle=f"""
        WITH x AS (
            SELECT CAST(round(ln(len({_toks()})), 6) AS DECIMAL(12,6)) AS lx,
                   len({_toks()}) AS n_tokens
            FROM documents
            WHERE len({_toks()}) > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(SUM(lx) AS DOUBLE) / count(*), 6) AS mu,
               round(sqrt(CAST(SUM(lx * lx) AS DOUBLE) / count(*)
                          - (CAST(SUM(lx) AS DOUBLE) / count(*))
                            * (CAST(SUM(lx) AS DOUBLE) / count(*))), 6) AS sigma,
               CAST(min(n_tokens) AS BIGINT) AS min_tokens,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM x
    """,
    tags=("text", "stats", "quality"),
)
def doc_length_lognormal_fit(spark, sf_dir):
    """Lognormal length fit.  100-TB shape: one narrow scan into a 1-row
    exact-decimal moment aggregate."""
    d = T(spark, sf_dir, "documents")
    n = F.size(TX.tokens("text"))
    x = d.select(
        F.round(F.log(n), 6).cast("decimal(12,6)").alias("lx"),
        n.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    cnt = F.count(F.lit(1))
    mean = F.sum("lx").cast("double") / cnt
    return x.agg(
        cnt.alias("n_docs"),
        F.round(mean, 6).alias("mu"),
        F.round(
            F.sqrt(
                F.sum(F.col("lx") * F.col("lx")).cast("double") / cnt - mean * mean
            ),
            6,
        ).alias("sigma"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )

@register(
    "source_vocab_overlap",
    # Pairwise vocabulary Jaccard between sources (top-20 most-overlapping
    # pairs): which feeds speak the same language about the same things —
    # the vocabulary-level redundancy diagnostic that complements
    # source_dedup_rate's document-level one.  Incidence sets are exact;
    # Jaccard is a bigint ratio; ties break on the pair.
    oracle=f"""
        WITH inc AS MATERIALIZED (
            SELECT DISTINCT source, t AS term
            FROM (SELECT source, unnest({_toks()}) AS t FROM documents)
        ),
        sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM inc GROUP BY 1),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM inc a JOIN inc b
              ON a.term = b.term AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT src_a, src_b, n_common,
               sa.n AS n_a, sb.n AS n_b,
               round(CAST(n_common AS DOUBLE)
                     / (sa.n + sb.n - n_common), 6) AS vocab_jaccard
        FROM inter
        JOIN sz sa ON sa.source = src_a
        JOIN sz sb ON sb.source = src_b
        ORDER BY vocab_jaccard DESC, src_a, src_b LIMIT 20
    """,
    tags=("text", "mixture", "audit"),
)
def source_vocab_overlap(spark, sf_dir):
    """Pairwise source vocabulary Jaccard.  100-TB shape: the incidence
    table is |sources| x vocab (distinct-collapsed early), the self-join
    shuffles on the term key with per-term fan-out bounded by the source
    count, and the cut is a TakeOrderedAndProject top-20."""
    d = T(spark, sf_dir, "documents")
    inc = d.select("source", F.explode(TX.tokens("text")).alias("term")).distinct()
    sz = inc.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = inc.select(F.col("source").alias("src_a"), "term")
    b = inc.select(F.col("source").alias("src_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("vocab_jaccard"),
        )
        .orderBy(F.desc("vocab_jaccard"), "src_a", "src_b")
        .limit(20)
    )

@register(
    "word_length_distribution",
    # Token length spectrum (1..9, 10+ capped): the tokenizer-facing
    # character-length profile (subword fertility and byte-fallback rates
    # track it).  Pure integer counts with an exact share ratio.
    oracle=f"""
        WITH w AS (
            SELECT least(length(t), 10) AS wlen
            FROM (SELECT unnest({_toks()}) AS t FROM documents)
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM w)
        SELECT wlen, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) AS DOUBLE) / ANY_VALUE(total) AS share
        FROM w, t GROUP BY wlen
    """,
    tags=("text", "tokenizer", "stats"),
)
def word_length_distribution(spark, sf_dir):
    """Token length spectrum.  100-TB shape: one explode into a 10-key
    rollup with a broadcast total."""
    d = T(spark, sf_dir, "documents")
    w = d.select(F.explode(TX.tokens("text")).alias("t")).select(
        F.least(F.length("t"), F.lit(10)).alias("wlen")
    )
    t = w.agg(F.count(F.lit(1)).alias("total"))
    return (
        w.crossJoin(F.broadcast(t))
        .groupBy("wlen")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)).cast("double") / F.first("total")).alias("share"),
        )
    )

@register(
    "hapax_ratio_by_source",
    # Hapax legomena share per source: the fraction of each source's
    # vocabulary seen exactly once IN THAT SOURCE — high hapax with low
    # entropy flags noisy/garbled feeds; low hapax flags templated ones.
    # Pure integer counts and one exact ratio.
    oracle=f"""
        WITH tf AS (
            SELECT source, t AS term, CAST(count(*) AS BIGINT) AS cnt
            FROM (SELECT source, unnest({_toks()}) AS t FROM documents)
            GROUP BY 1, 2
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_terms,
               CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
               CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS hapax_ratio
        FROM tf GROUP BY source
    """,
    tags=("text", "stats", "quality"),
)
def hapax_ratio_by_source(spark, sf_dir):
    """Per-source hapax share.  100-TB shape: one (source, term) rollup
    (vocabulary-sized per source) into a source-keyed census."""
    d = T(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(TX.tokens("text")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hap = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return tf.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_terms"),
        hap.alias("n_hapax"),
        (hap.cast("double") / F.count(F.lit(1))).alias("hapax_ratio"),
    )

@register(
    "tokenizer_fertility_by_lang",
    # Tokenizer fertility (pieces per word) by language — the standard
    # multilingual tokenizer-eval table (a language whose fertility is 2x
    # another's pays 2x the context budget for the same text).  Words are
    # whitespace tokens; pieces are the BPE pre-tokenization classes
    # (letter runs / digit runs / single punctuation), the same regex as
    # text_token_count_bpe.  All counts exact ints; the two ratios are one
    # int/int division each — bit-identical across engines.
    oracle=r"""
        WITH m AS (
            SELECT lang,
                   len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_w,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_p
            FROM documents
        )
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_w) AS BIGINT) AS n_words,
               CAST(SUM(n_p) AS BIGINT) AS n_pieces,
               CAST(SUM(n_p) AS DOUBLE) / SUM(n_w) AS fertility,
               CAST(SUM(n_p) AS DOUBLE) / count(*) AS pieces_per_doc
        FROM m GROUP BY lang ORDER BY lang
    """,
    tags=("text", "tokens", "tokenizer", "eval"),
)
def tokenizer_fertility_by_lang(spark, sf_dir):
    """Per-language tokenizer fertility.  100-TB shape: two per-row regex
    counts riding the corpus scan, then a |langs|-keyed rollup with
    map-side partial aggregation — no shuffle carries row-level data."""
    d = T(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    )
    pieces = F.size(
        F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
    )
    m = d.select("lang", words.alias("n_w"), pieces.alias("n_p"))
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_w").alias("n_words"),
            F.sum("n_p").alias("n_pieces"),
            (F.sum("n_p").cast("double") / F.sum("n_w")).alias("fertility"),
            (F.sum("n_p").cast("double") / F.count(F.lit(1))).alias(
                "pieces_per_doc"
            ),
        )
        .orderBy("lang")
    )
