"""Deduplication operators for training-data pipelines.

Four families, each a composition of built-in DataFrame ops (no UDFs):

1. exact       — hash-groupBy on a canonical fingerprint.  One shuffle on the
                 fingerprint; at 100 TB the md5 keys are uniformly distributed
                 so no skew, and partial aggregation keeps the shuffle small.
2. minhash-LSH — shingle -> k MinHash values -> band keys -> self-join per
                 band bucket -> exact-Jaccard verify.  The self-join shuffles
                 on the (tiny) band hash; candidate pairs << n², which is the
                 whole point vs. the O(n²) naive compare.
3. simhash     — bitwise-majority fingerprint; equal fingerprints = near-dups.
                 Single narrow projection + one groupBy.
4. n-gram Jaccard — exact set similarity for candidate pairs inside a blocking
                 key (never run unblocked at scale).

All hashing is md5 so each operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kwack_spark import stages
from kwack_spark.functions import text as TX

# Default hot-band cap for the MinHash-LSH family.  The SAME constant is
# compiled into the DuckDB oracle chain (plans/pipeline.py:_LSH_CTES), so
# engine and oracle agree on which bands are pruned at EVERY scale — a
# silently-capped engine against an uncapped oracle would diverge exactly
# when the cap starts working (r11 ADVICE medium).
LSH_MAX_BAND_DF = 4096


def exact_dedup_mapping(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Map every row to the canonical (min-id) row of its exact-duplicate
    group, keyed on md5 of normalized text."""
    h = F.md5(TX.normalize(text_col)).alias("fp")
    fps = df.select(F.col(id_col), h)
    canon = fps.groupBy("fp").agg(
        F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return fps.join(canon, "fp").select(id_col, "canonical_id", "group_size", "fp")


def _minhash_sig_frame(
    frame: DataFrame,
    id_col: str,
    k: int,
    sh_col: str = "sh",
    carry: tuple[str, ...] = (),
    seed_slice=None,
) -> DataFrame:
    """Per-row MinHash signature columns ``mh0..mh{k-1}`` over a shingle
    ARRAY column — NO aggregation, NO exchange (r13, guide §2.4: the former
    explode + groupBy-min form paid a corpus-wide shuffle purely to compute
    a per-row reduction).  One md5 array per seed group (4 slice members
    share one hash — the same 4x hashing economy as the exploded form; the
    arrays are real columns in a separate Project, which CollapseProject
    keeps un-inlined because each is referenced 4 times, so md5 still runs
    once per (seed, shingle)), then ``array_min`` per member.  min over the
    same slice multiset == the groupBy-min, so outputs are bit-identical.
    ``carry`` columns pass through (the streaming prep keeps ``sh``).
    ``seed_slice`` maps member index -> (seed prefix, 1-based hex offset);
    defaults to the LSH 'a:'.. family (``TX.minhash_seed_slice``)."""
    if seed_slice is None:
        seed_slice = TX.minhash_seed_slice
    seeds: list[str] = []
    for i in range(k):
        s, _ = seed_slice(i)
        if s not in seeds:
            seeds.append(s)

    def _seed_hash(seed: str):
        def f(x):
            return F.md5(F.concat(F.lit(f"{seed}:"), x))

        return f

    with_arrs = frame.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        *[
            F.transform(F.col(sh_col), _seed_hash(s)).alias(f"_h_{s}")
            for s in seeds
        ],
    )

    def member(i: int):
        seed, off = seed_slice(i)

        def slc(h):
            return F.substring(h, off, 8)

        return F.array_min(F.transform(F.col(f"_h_{seed}"), slc)).alias(f"mh{i}")

    return with_arrs.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        *[member(i) for i in range(k)],
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, shingle_n: int = 3
) -> DataFrame:
    """k MinHash values per row.

    Shape (r13): the shingle array is computed once per row and the k
    members are per-row ``array_min`` reductions over shared per-seed md5
    arrays (``_minhash_sig_frame``) — one md5 per 4 members, NO shuffle.
    The former explode + groupBy-min form produced the same values through
    a corpus-wide exchange; min over the exploded multiset equals the
    per-row array_min, so results are unchanged."""
    base = df.select(
        F.col(id_col),
        F.array_distinct(TX.shingles(TX.tokens(text_col), shingle_n)).alias("sh"),
    )
    return _minhash_sig_frame(base, id_col, k)


def _lsh_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    max_band_df: int,
    pre_tokenized: bool = False,
):
    """Shared persisted LSH base: ``(shingle_sets, exploded, kept)``.

    - ``shingle_sets``: (id, distinct shingle array) — feeds the signature
      chain AND both sides of any verify join; the tokenize+shingle
      projection is the dominant cost, so it computes once.  min over the
      distinct set equals min over the multiset, so signatures (and the
      oracle) are unchanged.
    - ``exploded``: (id, band_key) — 2 short strings per doc; feeds the
      band-df census, the over-cap recovery, and ``kept``.
    - ``kept``: ``exploded`` minus rows of bands with df > ``max_band_df``
      — the hot-bucket guard applied on the INPUT side, so a saturated
      band contributes zero rows to any downstream self-join instead of
      O(df²).  The guard is an ANTI-join against the OVER-cap band set
      (census rows with _df > cap), not a semi-join against the rare set:
      the over-cap set is the small side by construction (each member
      holds > max_band_df ids, so there are at most n_rows/cap of them vs
      ~one rare band per document), so AQE plans a broadcast anti-join
      and ``exploded`` is never exchanged for the guard — the semi-join
      form shuffled the full band table on band_key once per call
      (measured: one Exchange removed, r12).  Set-identical output:
      df <= cap  <=>  NOT df > cap, and band_key is never null (md5-
      derived).  ``kept`` is NOT persisted: both self-join sides re-run
      the broadcast anti-join over the CACHED ``exploded`` (narrow, no
      exchange), which is cheaper than materializing a third corpus-sized
      cache — and at 100 TB a kept-persist would be corpus-scale storage.

    - ``census``: per-band ``(band_key, _df, _canon)`` — ONE aggregation
      feeds the cap's over-cap filter, the over-cap star-edge recovery,
      and the occupancy audit (computing it twice was two extra shuffle
      stages per dup-edges call).

    The three materialized frames persist ROTATING (r11 ADVICE low): tags
    derive from the call parameters, so repeated invocations in a
    long-lived session reuse the cache when the plan is identical (bench
    reps) and release the previous family member when it isn't — while
    distinct parameterizations (e.g. dedup_shingle_size_sensitivity's
    three shingle widths, alive in one action) keep distinct tags and
    coexist.

    ``pre_tokenized=True`` (r13): ``text_col`` names a TOKEN-ARRAY column
    the caller already computed — the shingle stage derives directly from
    it, so a sweep running several shingle widths over one corpus
    tokenizes ONCE (one persisted token frame feeding three width
    pipelines) instead of once per width.  The caller is responsible for
    the token frame's width (no widen here: a persisted token frame is
    already materialized wide, and a repartition on top of the cache
    would be a wasted shuffle).  Token values are identical to the
    inline ``TX.tokens`` path, so signatures, band keys and verified
    pairs are unchanged."""
    from kwack_spark.operators.scale import widen_if_narrow

    if not pre_tokenized:
        # md5 signature stage must not run single-task
        df = widen_if_narrow(df)
    tok_col = F.col(text_col) if pre_tokenized else TX.tokens(text_col)
    tag = f"k{k}b{bands}n{shingle_n}" + ("t" if pre_tokenized else "")
    shingle_sets = stages.hold(
        f"lsh_sets:{tag}",
        df.select(
            F.col(id_col),
            F.array_distinct(TX.shingles(tok_col, shingle_n)).alias("sh"),
        ),
    )
    exploded = stages.hold(
        f"lsh_bands:{tag}",
        lsh_band_keys(shingle_sets, id_col, k, bands, narrow=True),
    )
    census = stages.hold(
        f"lsh_census:{tag}",
        exploded.groupBy("band_key").agg(
            F.count(F.lit(1)).alias("_df"), F.min(id_col).alias("_canon")
        ),
    )
    hot = census.filter(F.col("_df") > max_band_df).select("band_key")
    kept = exploded.join(hot, "band_key", "left_anti")
    return shingle_sets, exploded, kept, census


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_band_df: int = LSH_MAX_BAND_DF,
    pre_tokenized: bool = False,
) -> DataFrame:
    """Candidate pairs whose signatures collide in >=1 band, verified with
    exact shingle-set Jaccard >= threshold.  ``pre_tokenized=True`` makes
    ``text_col`` a precomputed token-array column (see ``_lsh_base``).

    Scale shape: explode to (band_key, id) — shuffle on band_key; the
    within-bucket self-join is cheap because buckets are duplicate-cluster
    sized BY CONSTRUCTION: ``max_band_df`` prunes bands held by more ids
    than that BEFORE the self-join (the same stop-word control as
    ``key_collision_pairs``' ``max_key_df`` and the SimHash slice cap — a
    real web corpus has million-member boilerplate clusters, empty docs and
    error pages, whose identical signatures land in ONE band bucket and
    would otherwise generate O(bucket²) pairs on a single shuffle key).
    The DuckDB oracle chain compiles the SAME default cap
    (plans/pipeline.py:_LSH_CTES), so pruned output is the GRADED
    semantics, not a silent engine-side delta (r11 ADVICE medium).  An
    over-cap band IS one giant duplicate cluster — its membership is
    recovered as ready-made star edges by :func:`lsh_overcap_star_edges`,
    and :func:`minhash_lsh_dup_edges` is the pairs+stars union the
    component/keep-min consumers feed from so over-cap clusters are never
    silently lost; ``lsh_band_occupancy`` (plans/pipeline_dedup.py) is the
    graded audit that watches whether the cap is dormant or load-bearing.
    The final verify re-joins the shingle sets by id.
    """
    shingle_sets, _, kept, _ = _lsh_base(
        df, id_col, text_col, k, bands, shingle_n, max_band_df, pre_tokenized
    )
    a = kept.alias("a")
    b = kept.alias("b")
    cand = (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # verify joins are PINNED to shuffle-hash: the shingle-set side carries
    # the corpus's full shingle arrays, and AQE — misled by the band
    # self-join's pessimistic output estimate for `cand` — can pick that
    # array-heavy side for a broadcast, which overruns a single-box driver
    # at 500k docs (measured: OOM or 130 s mis-broadcast vs 19 s shuffled
    # at x100, SCALING.md).  At 100 TB the shuffle join is the only right
    # plan anyway (both sides are corpus-scale); at bench scale the extra
    # id-keyed exchange is noise.
    sa = shingle_sets.select(
        F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")
    ).hint("shuffle_hash")
    sb = shingle_sets.select(
        F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")
    ).hint("shuffle_hash")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _band_key_cols(bands: int, rows_per_band: int) -> list:
    """The per-band md5-of-signature-slice columns over ``mh*`` inputs."""
    return [
        F.md5(
            F.concat_ws(
                "|", *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)]
            )
        ).alias(f"band{b}")
        for b in range(bands)
    ]


def lsh_band_keys(
    shingle_sets: DataFrame,
    id_col: str,
    k: int = 8,
    bands: int = 2,
    narrow: bool = False,
) -> DataFrame:
    """Exploded ``(id, band_key)`` rows from an ``(id, sh)`` shingle-set
    DataFrame — the LSH index side shared by self-join dedup and incremental
    (batch-vs-history) dedup.  Same 'a:'.. seed family and band hashing as
    ``minhash_lsh_pairs`` so both produce identical keys.

    Two plan shapes, identical keys (r13):

    - ``narrow=True``: signatures are per-row ``array_min`` reductions
      (``_minhash_sig_frame``) — NO exchange.  Right when the output is
      immediately persisted (``_lsh_base``) or consumed once: the
      groupBy's corpus-wide shuffle bought nothing there (measured: 5
      Exchanges off dedup_minhash_lsh's plan).
    - ``narrow=False`` (default): the explode + groupBy-min form.  Right
      for UN-persisted frames consumed by BOTH sides of a self-join or by
      several downstream aggregations: the groupBy's Exchange is the
      materialization point Spark's ReusedExchange dedupes the consumers
      on — without it each consumer recomputes the whole scan+md5 subtree
      (measured: dedup_incremental_lsh 1.8 -> 2.9 s when its 3-consumer
      history index lost the exchange, r13)."""
    rows_per_band = k // bands
    if narrow:
        sigs = _minhash_sig_frame(shingle_sets, id_col, k)
    else:
        exploded_sh = shingle_sets.select(
            F.col(id_col), F.explode("sh").alias("s")
        )

        def _member(i: int):
            seed, off = TX.minhash_seed_slice(i)
            return F.min(
                F.substring(
                    F.md5(F.concat(F.lit(f"{seed}:"), F.col("s"))), off, 8
                )
            ).alias(f"mh{i}")

        sigs = exploded_sh.groupBy(id_col).agg(*[_member(i) for i in range(k)])
    banded = sigs.select(id_col, *_band_key_cols(bands, rows_per_band))
    return banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[F.concat(F.lit(f"{b}:"), F.col(f"band{b}")) for b in range(bands)]
            )
        ).alias("band_key"),
    )


def lsh_overcap_band_clusters(
    shingle_sets: DataFrame, id_col: str, k: int = 8, bands: int = 2,
    max_band_df: int = 4096,
) -> DataFrame:
    """Membership of the band buckets ``minhash_lsh_pairs`` PRUNES: one
    ``(band_key, id, band_df)`` row per member of each over-cap band.  An
    over-cap band is by definition one giant near-duplicate cluster (its
    members share a full band of MinHash values — boilerplate, empty docs,
    error pages), so the cluster IS the answer: downstream keep-min policy
    can consume these rows directly, with no O(n²) pair enumeration and no
    components pass.  One shuffle on band_key; output is only the
    saturated buckets' membership."""
    exploded = lsh_band_keys(shingle_sets, id_col, k, bands)
    hot = (
        exploded.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("band_df"))
        .filter(F.col("band_df") > max_band_df)
    )
    return exploded.join(hot, "band_key").select("band_key", id_col, "band_df")


def lsh_overcap_star_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    max_band_df: int = LSH_MAX_BAND_DF,
) -> DataFrame:
    """Star edges recovering the clusters ``minhash_lsh_pairs`` prunes: one
    ``(id_a, id_b)`` edge from each over-cap band's min-id canonical to
    every other member.  An over-cap band's members share a FULL band of
    MinHash values (boilerplate, empty docs, error pages) — the band IS
    one giant near-duplicate cluster, so a star to its min id carries the
    same connected-component information as the O(df²) pair list at O(df)
    rows.  Unioned with the verified pairs by
    :func:`minhash_lsh_dup_edges`, this is what keeps component/keep-min
    consumers lossless under the cap (r11 ADVICE medium).  Shares
    ``_lsh_base``'s rotating caches with ``minhash_lsh_pairs`` — calling
    both on the same input reuses one shingle/band materialization."""
    _, exploded, _, census = _lsh_base(
        df, id_col, text_col, k, bands, shingle_n, max_band_df
    )
    hot = census.filter(F.col("_df") > max_band_df).select("band_key", "_canon")
    # no trailing distinct: a member sharing BOTH over-cap bands with the
    # same canon yields a duplicate edge, which min-label propagation (the
    # only consumer, via minhash_lsh_dup_edges) absorbs for free — a
    # distinct here would spend a full shuffle deduplicating it
    return (
        exploded.join(hot, "band_key")
        .filter(F.col(id_col) != F.col("_canon"))
        .select(F.col("_canon").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def minhash_lsh_dup_edges(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_band_df: int = LSH_MAX_BAND_DF,
) -> DataFrame:
    """Near-duplicate EDGES for graph consumers: the verified under-cap
    pair list plus one star edge per over-cap-band member — the complete
    edge set connected-components / keep-best / leakage-safe-split
    consumers must feed from, so the hot-band cap never silently drops a
    cluster (r11 ADVICE medium; mirrored in the oracle chain's
    ``star_edges`` CTE and ``_COMP_CTES``).  A (canon, member) star edge
    can coincide with a verified pair when the two also collide in an
    under-cap band — harmless to min-label propagation, so no distinct
    shuffle is spent removing the overlap."""
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, k, bands, shingle_n, threshold, max_band_df
    ).select("id_a", "id_b")
    stars = lsh_overcap_star_edges(
        df, id_col, text_col, k, bands, shingle_n, max_band_df
    )
    return pairs.unionAll(stars)


def lsh_band_keys_narrow(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Exploded ``(id, sh, band_key)`` computed with NO aggregation:
    ``array_min`` over the per-row shingle transform replaces the
    explode+groupBy-min of ``lsh_band_keys``, so the projection is legal in
    a streaming plan ahead of a stateful operator (aggregations cannot
    precede applyInPandasWithState).  Same seed family and band hashing, so
    keys are identical to the batch path's (min over the distinct shingle
    set == min over the multiset).

    The 8 per-row array-transform md5 chains are the dominant cost and the
    whole projection is narrow, so a narrow input (one bench-scale parquet
    split) would run it on ONE core — widen first (no-op at scale, where
    the scan already has thousands of splits; measured 5.4 -> 1.5 s on
    streaming_lsh_neardup's replay staging at sf0.1, r12)."""
    from kwack_spark.operators.scale import widen_if_narrow

    df = widen_if_narrow(df)
    rows_per_band = k // bands
    base = df.select(
        F.col(id_col),
        F.array_distinct(TX.shingles(TX.tokens(text_col), shingle_n)).alias("sh"),
    )
    # r13: per-seed shared md5 arrays (_minhash_sig_frame) — the former 8
    # independent transform chains hashed every shingle once per MEMBER
    # (8x); sharing the seed array restores the 4-members-per-md5 economy
    # while staying aggregation-free (still legal ahead of stateful ops)
    sigs = _minhash_sig_frame(base, id_col, k, carry=("sh",))
    banded = sigs.select(id_col, "sh", *_band_key_cols(bands, rows_per_band))
    return banded.select(
        F.col(id_col),
        "sh",
        F.explode(
            F.array(
                *[F.concat(F.lit(f"{b}:"), F.col(f"band{b}")) for b in range(bands)]
            )
        ).alias("band_key"),
    )


def _inc_lsh_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int, side: str
) -> DataFrame:
    """Rotating-persisted ``(id, distinct shingle set)`` frame for one side
    of the incremental LSH probe — tag keyed by side+width so history and
    batch caches coexist."""
    return stages.hold(
        f"lsh_inc_{side}:n{shingle_n}",
        df.select(
            F.col(id_col),
            F.array_distinct(TX.shingles(TX.tokens(text_col), shingle_n)).alias(
                "sh"
            ),
        ),
    )


def _inc_lsh_history(
    history: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    max_band_df: int,
):
    """History side of the incremental LSH probe: the rotating-persisted
    shingle sets and the df-capped ``(hist_id, band_key)`` index.  The
    band-key frame RIDES a prefetched cache when one exists
    (``warm_incremental_lsh_history`` from a curation DAG's index-build
    thread pool; Spark's CacheManager swaps in the held frame by plan
    match) but is NOT persisted standalone: measured at sf0.1,
    forcing the persist costs more than the census+probe double-compute
    it saves (2.43 vs 2.06 s median on dedup_incremental_lsh) — at
    100 TB the landed band-key table is a bucketed table written once,
    which the warm path models.  The hot-band guard anti-joins the
    (small by construction) OVER-cap set so AQE broadcasts the guard and
    the index is never exchanged for it (same move as ``_lsh_base``,
    r12): a band ubiquitous in landed history (boilerplate cluster)
    carries no "is this NEW?" signal and would contribute O(df) rows per
    probing batch item on one shuffle key."""
    hist_base = _inc_lsh_sets(history, id_col, text_col, shingle_n, "hist")
    hist_keys_all = lsh_band_keys(hist_base, id_col, k, bands)
    hot = (
        hist_keys_all.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_band_df)
        .select("band_key")
    )
    hist_keys = hist_keys_all.join(hot, "band_key", "left_anti").select(
        F.col(id_col).alias("hist_id"), "band_key"
    )
    return hist_base, hist_keys


def warm_incremental_lsh_history(
    history: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
) -> None:
    """Materialize the history-side LSH index caches ahead of time — the
    prefetch hook for DAGs that overlap independent index builds from a
    driver thread pool (guide §2.6): a later ``incremental_lsh_new_dups``
    call over the SAME history frame plan-matches the rotating persists
    and reuses them.  The count() action materializes both caches (the
    band-key frame computes through the shingle-set frame); its value is
    discarded.  The warmed index is deliberately UN-capped: the hot-band
    df-cap is applied by the consumer (``_inc_lsh_history``), so one warm
    cache serves any ``max_band_df`` (r12 ADVICE — the former
    ``max_band_df`` parameter here was never used and invited the false
    expectation that the warm index was cap-filtered)."""
    hist_base = _inc_lsh_sets(history, id_col, text_col, shingle_n, "hist")
    keys = stages.hold(
        f"lsh_inc_histkeys:k{k}b{bands}n{shingle_n}",
        lsh_band_keys(hist_base, id_col, k, bands),
    )
    keys.count()


def incremental_lsh_new_dups(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_band_df: int = LSH_MAX_BAND_DF,
) -> DataFrame:
    """Incremental near-duplicate detection: which documents of an arriving
    ``batch`` are near-dups of the ``history`` corpus?  Returns
    ``(id, hist_id, jaccard)`` — one row per verified (batch, historical)
    near-dup pair.

    The daily-ingest shape of MinHash-LSH dedup: history's band keys form a
    persistent index (at 100 TB a bucketed table written once per day, NOT
    recomputed — only the new batch is shingled+hashed), and the candidate
    stage is a band-key equi join of batch keys against that index.  Work is
    O(|batch|) + index probe, vs. O(|corpus|) for a full-corpus self-join
    re-run.  ``max_band_df`` prunes bands held by more than that many
    HISTORY items before the probe (the hot-band stop-word control, same
    policy as ``key_collision_probe``'s history-side cap and the batch
    self-join's band cap; the DuckDB admission oracles compile the same
    history-counted census).  Verification re-joins both sides' shingle
    sets by id (the batch side is small -> broadcast; AQE decides)."""
    hist_base, hist_keys = _inc_lsh_history(
        history, id_col, text_col, k, bands, shingle_n, max_band_df
    )
    batch_base = _inc_lsh_sets(batch, id_col, text_col, shingle_n, "batch")
    # single consumer -> the exchange-free form (see lsh_band_keys)
    batch_keys = lsh_band_keys(batch_base, id_col, k, bands, narrow=True)
    cand = (
        batch_keys.join(hist_keys, "band_key")
        .select(F.col(id_col), "hist_id")
        .distinct()
    )
    sb = batch_base.select(F.col(id_col), F.col("sh").alias("sh_b"))
    sh = hist_base.select(F.col(id_col).alias("hist_id"), F.col("sh").alias("sh_h"))
    jac = F.size(F.array_intersect("sh_b", "sh_h")) / F.size(
        F.array_union("sh_b", "sh_h")
    )
    return (
        cand.join(sb, id_col)
        .join(sh, "hist_id")
        .select(id_col, "hist_id", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    return df.select(
        F.col(id_col), TX.simhash_bits(TX.tokens(text_col), bits).alias("simhash")
    )


def _shingle_band_base(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """Persisted (id, token set, distinct shingle set) base shared by the
    band-candidate stage and the verify joins — computed once, not four
    times.  Rotating persist: one outstanding cache per shingle width."""
    from kwack_spark.operators.scale import widen_if_narrow

    df = widen_if_narrow(df)  # shingle/token-set stage must not run single-task
    return stages.hold(
        f"shband:n{shingle_n}",
        df.select(
            F.col(id_col),
            TX.token_set(text_col).alias("ts"),
            F.array_distinct(TX.shingles(TX.tokens(text_col), shingle_n)).alias(
                "sh"
            ),
        ),
    )


def _shingle_band_candidates(
    base: DataFrame, id_col: str, k: int = 8, bands: int = 4
) -> DataFrame:
    """Distinct (id_a < id_b) pairs colliding in >= 1 shingle-MinHash band.

    Bands are built over the *shingle* set ('t<g>:' seed family, disjoint
    from the LSH operator's 'a:'.. family).  Token-set MinHash degenerates on
    natural corpora — the globally-min-hashing token is a stopword shared by
    most documents, so a band bucket holds over half the corpus and the
    self-join is ~n² again (measured: 2 buckets of ~3000 docs / 7.3M
    candidate pairs at sf0.1).  Shingle space is diverse, so shingle-band
    buckets stay small (max ~9 at sf0.1, 787 candidates).  With 4 bands of 2
    rows, a pair at shingle-Jaccard j collides with prob 1-(1-j^2)^4 (≈0.98
    at j=0.8)."""
    rows_per_band = k // bands

    def _t_seed_slice(i: int) -> tuple[str, int]:
        # 't<group>:' seed family (disjoint from the LSH 'a:'.. family);
        # one md5 per 4 members sliced into 8-hex values
        return f"t{i // 4}", (i % 4) * 8 + 1

    # r13: shared per-seed md5 arrays (_minhash_sig_frame) — the former 8
    # independent transform chains re-hashed every shingle once per member
    sigs = _minhash_sig_frame(base, id_col, k, seed_slice=_t_seed_slice)
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[f"mh{b * rows_per_band + r}" for r in range(rows_per_band)],
                    )
                ),
            )
            for b in range(bands)
        ]
    )
    exploded = sigs.select(F.col(id_col), F.explode(band_keys).alias("band_key"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact token-set Jaccard for shingle-MinHash-band candidate pairs —
    blocking over the shingle set (see _shingle_band_candidates for why not
    token-set bands), verification over the token set.  Near-identical token
    sets imply near-identical shingle sets, so token-threshold 0.9 pairs are
    comfortably inside the banding's high-recall regime."""
    base = _shingle_band_base(df, id_col, text_col, shingle_n)
    cand = _shingle_band_candidates(base, id_col, k, bands)
    sa = base.select(F.col(id_col).alias("id_a"), F.col("ts").alias("ts_a"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col("ts").alias("ts_b"))
    jac = F.size(F.array_intersect("ts_a", "ts_b")) / F.size(F.array_union("ts_a", "ts_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.cast("double").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Directed shingle-set containment |sh_src ∩ sh_dst| / |sh_src| over
    band candidates: catches a document *embedded inside* a larger one,
    which symmetric Jaccard misses (a 50-shingle doc quoted verbatim in a
    1000-shingle doc has containment 1.0 but Jaccard ~0.05).

    Scale shape: identical to ngram_jaccard_pairs — band-blocked candidates,
    one verify join — plus a cheap both-directions expansion of each
    undirected candidate pair before thresholding."""
    base = _shingle_band_base(df, id_col, text_col, shingle_n)
    cand = _shingle_band_candidates(base, id_col, k, bands)
    # expand (a<b) candidates to both directions
    directed = cand.select(
        F.col("id_a").alias("src_id"), F.col("id_b").alias("dst_id")
    ).unionAll(cand.select(F.col("id_b").alias("src_id"), F.col("id_a").alias("dst_id")))
    ss = base.select(F.col(id_col).alias("src_id"), F.col("sh").alias("sh_src"))
    sd = base.select(F.col(id_col).alias("dst_id"), F.col("sh").alias("sh_dst"))
    cont = F.size(F.array_intersect("sh_src", "sh_dst")) / F.size("sh_src")
    return (
        directed.join(ss, "src_id")
        .join(sd, "dst_id")
        .select("src_id", "dst_id", cont.cast("double").alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 16,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bit flips, blocked by
    the multi-block pigeonhole trick (Manku/Jain/Sarma, "Detecting
    Near-Duplicates for Web Crawling", WWW'07): split the fingerprint into
    ``blocks`` equal slices; any pair within distance ``max_hamming <
    blocks`` must agree EXACTLY on at least one slice, so candidates come
    from ``blocks`` narrow equality self-joins (one explode + one shuffle on
    (slice_idx, slice_bits)) — never an all-pairs compare.  The Hamming
    verify then runs only on the candidate set.

    At 100 TB: fingerprints are 16-64 bits/doc, slices hash-partition
    uniformly (simhash bits are balanced by construction), and the verify
    is O(candidates * bits) bit arithmetic — the same bounded-candidates
    contract as MinHash-LSH but for the Hamming metric.
    """
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got {max_hamming} >= {blocks}): a pair could differ in every slice"
        )
    width = bits // blocks
    fps = simhash_fingerprints(df, id_col, text_col, bits)
    sliced = fps.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.substring("simhash", b * width + 1, width).alias("bitsv"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("s"),
    ).select(id_col, "simhash", F.col("s.blk").alias("blk"), F.col("s.bitsv").alias("bitsv"))
    a = sliced.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "blk", "bitsv"
    )
    b = sliced.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "blk", "bitsv"
    )
    cand = (
        a.join(b, ["blk", "bitsv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.substring("sh_a", i, 1) != F.substring("sh_b", i, 1),
        )
    )
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def simhash64_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, 64-bit LONG fingerprint) — 8 bytes/doc, the persisted index
    row for the production SimHash family (see ``TX.simhash64``).  The 64
    per-bit array filters are CPU-heavy, so a narrow scan is widened first
    (no-op at scale where the scan already has thousands of splits)."""
    from kwack_spark.operators.scale import widen_if_narrow

    df = widen_if_narrow(df)
    return df.select(F.col(id_col), TX.simhash64(TX.tokens(text_col)).alias("fp"))


def _simhash64_sliced(fps: DataFrame, id_col: str, blocks: int) -> DataFrame:
    """Explode (id, fp) into ``blocks`` rows of (id, fp, blk, slc) where
    ``slc`` is the blk-th width-bit slice: ``(fp >> blk*width) & mask``.
    Arithmetic shift + mask extracts the same bits on Spark and DuckDB."""
    width = 64 // blocks
    mask = (1 << width) - 1
    return fps.select(
        id_col,
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright("fp", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("slc"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("s"),
    ).select(id_col, "fp", F.col("s.blk").alias("blk"), F.col("s.slc").alias("slc"))


def simhash64_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs within ``max_hamming`` bit flips of a 64-bit SimHash —
    the production configuration of ``simhash_hamming_pairs`` (Manku/Jain/
    Sarma WWW'07 run 64-bit fingerprints in a 8B-page index): 4 blocks of
    16-bit slices give 65,536 buckets per block (vs 256 for the 32-bit/
    8-bit-slice variant, whose skewed slice self-join measured 112 s at
    sf0.1 — simhash majority-bits concentrate on homogeneous corpora, so
    bucket count is the only lever that keeps the fan-out flat), and the
    verify is one ``bit_count(fp_a ^ fp_b)`` LONG instruction per candidate
    instead of 32 substring compares.

    At 100 TB: the fingerprint index is 8 bytes/doc; expected bucket
    occupancy stays <= target up to ~65536 * target docs per block — past
    that, widen slices by raising ``max_hamming`` tolerance via block-combo
    tables (match on C(m, m-d) block groups), the same occupancy-holding
    move ``auto_planes`` makes for cosine LSH.  ``simhash64_block_occupancy``
    is the measured-occupancy audit that tells you when."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got {max_hamming} >= {blocks}): a pair could differ in every slice"
        )
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")

    # persist the fingerprint index: both sides of the slice self-join (and
    # the verify) read it, and at 100 TB this IS the written-once 8B/doc
    # index — without the persist Spark recomputes the 64-filter md5
    # pipeline once per join side.  Rotating persist (r07 ADVICE #2): a
    # long-lived session (multi-rep bench) keeps at most ONE cached index
    # per operator family instead of accumulating one per call.
    fps = stages.hold(
        "sh64_pairs_fps", simhash64_fingerprints(df, id_col, text_col)
    )
    return fingerprint_hamming_pairs(fps, id_col, max_hamming, blocks)


def fingerprint_hamming_pairs(
    fps: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Hamming near-dup pairs over a PRECOMPUTED 64-bit ``(id, fp)``
    fingerprint table — the blocking core of ``simhash64_hamming_pairs``,
    factored out so any 64-bit perceptual fingerprint (text SimHash, image
    dHash — see plans/pipeline.py:multimodal_phash_dedup) rides the same
    pigeonhole slice machinery: ``blocks`` 16-bit-slice equi-joins (65,536
    buckets/block), one ``bit_count(fp_a ^ fp_b)`` verify per distinct
    collision, candidates never all-pairs."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got {max_hamming} >= {blocks}): a pair could differ in every slice"
        )
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")
    sliced = _simhash64_sliced(fps, id_col, blocks)
    a = sliced.select(F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"), "blk", "slc")
    b = sliced.select(F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"), "blk", "slc")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # verify BEFORE the dedup shuffle: bit_count(xor) is one instruction per
    # collision, while distinct is a full shuffle of the collision set — at
    # 500k docs the slice self-join emits ~60M candidate rows but only the
    # true <= max_hamming pairs (orders of magnitude fewer) need to travel.
    # Filter-then-distinct equals distinct-then-filter for a deterministic
    # row-level predicate; measured second-decade exponent drops from 1.13
    # to ~linear (SCALING.md).
    return (
        a.join(b, ["blk", "slc"])
        .filter(
            (F.col("id_a") < F.col("id_b")) & (hamming <= max_hamming)
        )
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


def simhash64_block_occupancy(
    df: DataFrame, id_col: str, text_col: str, blocks: int = 4
) -> DataFrame:
    """Per-block bucket-occupancy audit for the 64-bit SimHash index — the
    observability a blocked join needs at 100 TB to PROVE its buckets stayed
    flat (the Hamming-metric sibling of the ``auto_planes`` occupancy
    policy): for each block, the bucket count, max and mean occupancy, and
    the candidate-pair mass ``sum(c*(c-1)/2)`` the slice self-join will
    generate.  A block whose n_cand_pairs grows superlinearly in corpus size
    is the signal to move to block-combo tables."""
    sliced = _simhash64_sliced(simhash64_fingerprints(df, id_col, text_col), id_col, blocks)
    per_bucket = sliced.groupBy("blk", "slc").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_bucket.groupBy("blk")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("c").alias("max_occupancy"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean_occupancy"),
            F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("long")).cast("long").alias(
                "n_cand_pairs"
            ),
        )
        .orderBy("blk")
    )


def key_collision_pairs(
    df: DataFrame, key_col: str, id_col: str, max_key_df: int = 4096
) -> DataFrame:
    """Exact-key collision pairs with a hot-key guard — the batch twin of
    ``streaming/ingest.py:stateful_key_collision_pairs`` and the generic
    core under any hash-blocked dedup where the blocking key IS the
    evidence (video keyframe hashes, exact content hashes): one
    ``(id_a, id_b)`` row per shared key, so a downstream count per pair
    recovers the shared-key count.

    ``max_key_df`` drops keys appearing in more than that many ids BEFORE
    the self-join — the stop-word control of hash blocking: a ubiquitous
    key (a black video frame, a studio logo card, boilerplate content)
    carries no dedup signal and would otherwise generate O(df²) pairs on
    one shuffle key.  Same policy as winnowing's fingerprint df-cap and
    the streaming kernel's ``max_ids`` state bound.  100-TB shape: ONE
    shuffle keyed on ``key_col`` covers both the frequency count and the
    pair join (the count broadcasts back onto the co-partitioned side)."""
    ids = df.select(F.col(id_col), F.col(key_col)).distinct()
    rare = (
        ids.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_key_df)
        .select(key_col)
    )
    # the cap joins onto the INPUT, not the pair output: Catalyst does not
    # reorder joins here (no CBO stats), so a post-pair `join(rare)` would
    # still materialize O(df²) rows for an over-cap key on one shuffle key
    # before dropping them (r10 ADVICE) — pruning each side first is what
    # makes the guard an actual skew/OOM protection
    kept = ids.join(rare, key_col)
    a = kept.select(F.col(id_col).alias("id_a"), key_col)
    b = kept.select(F.col(id_col).alias("id_b"), key_col)
    return (
        a.join(b, key_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def key_collision_probe(
    history: DataFrame,
    batch: DataFrame,
    key_col: str,
    id_col: str,
    max_key_df: int = 4096,
) -> DataFrame:
    """Cross-table exact-key collision probe — the incremental core of
    ``key_collision_pairs`` (like ``fingerprint_hamming_probe`` for the
    Hamming family): one ``(batch_id, hist_id)`` row per key the batch
    item shares with a history item, so a downstream count per pair
    recovers the shared-key count against a PERSISTED index the caller
    wrote once.  ``max_key_df`` drops keys held by more than that many
    HISTORY items before the join (the hot-key stop-word control; the
    history side is where a ubiquitous key accumulates mass).  100-TB
    shape: O(|batch|) probe rows shuffle on ``key_col``; history is
    read from its index, payload bytes never re-read."""
    h = history.select(F.col(id_col).alias("hist_id"), F.col(key_col)).distinct()
    b = batch.select(F.col(id_col).alias("batch_id"), F.col(key_col)).distinct()
    rare = (
        h.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_key_df)
        .select(key_col)
    )
    # prune the HISTORY side before the probe join (not the pair output):
    # with the hot keys gone from h, a saturated key contributes zero rows
    # to the b×h join instead of O(df) rows per probing batch item
    return b.join(h.join(rare, key_col), key_col).select("batch_id", "hist_id")


def key_occupancy_audit(
    df: DataFrame, key_col: str, max_key_df: int = 4096
) -> DataFrame:
    """One-row bucket-occupancy audit for an exact-key blocking index —
    ``simhash64_block_occupancy`` generalized to ANY blocking key (video
    frame hashes, content hashes, LSH band keys): bucket count, max and
    mean occupancy, the candidate-pair mass ``sum(c*(c-1)/2)`` an
    UNCAPPED self-join would generate, and how many buckets the
    ``max_key_df`` cap would drop.  At 100 TB this is the observability
    run BEFORE the pair join: n_cand_pairs growing superlinearly in
    corpus size, or n_over_cap leaving zero, is the signal that the key
    is saturating (ubiquitous frames / boilerplate) and the cap is load-
    bearing rather than dormant."""
    per = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("c"))
    return per.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("c").alias("max_occupancy"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean_occupancy"),
        F.sum((F.col("c") * (F.col("c") - 1) / 2).cast("long"))
        .cast("long")
        .alias("n_cand_pairs"),
        F.sum((F.col("c") > max_key_df).cast("long"))
        .cast("long")
        .alias("n_over_cap"),
    )


def incremental_simhash_new_dups(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Incremental SimHash near-dup detection: which ``batch`` documents are
    within ``max_hamming`` bit flips of a ``history`` document?  The Hamming
    twin of ``incremental_lsh_new_dups``: both sides are fingerprinted and
    sliced HERE, from raw text, on every call — at 100 TB use
    ``incremental_simhash64_new_dups`` instead, whose history argument IS a
    precomputed (id, fp) fingerprint table the caller persists once and
    probes per batch.  The arriving batch probes with ``blocks``
    (slice_idx, slice_bits) equi-joins (pigeonhole: distance < blocks
    forces an exact slice match), and only collisions pay the O(bits)
    Hamming verify."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got {max_hamming} >= {blocks})"
        )
    width = bits // blocks

    def sliced(df: DataFrame, side: str) -> DataFrame:
        fps = simhash_fingerprints(df, id_col, text_col, bits)
        return fps.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col("simhash").alias(f"sh_{side}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("blk"),
                            F.substring("simhash", b * width + 1, width).alias(
                                "bitsv"
                            ),
                        )
                        for b in range(blocks)
                    ]
                )
            ).alias("s"),
        ).select(
            f"id_{side}",
            f"sh_{side}",
            F.col("s.blk").alias("blk"),
            F.col("s.bitsv").alias("bitsv"),
        )

    cand = (
        sliced(batch, "b")
        .join(sliced(history, "h"), ["blk", "bitsv"])
        .select("id_b", "id_h", "sh_b", "sh_h")
        .distinct()
    )
    hamming = F.size(
        F.filter(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.substring("sh_b", i, 1) != F.substring("sh_h", i, 1),
        )
    )
    return (
        cand.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_h").alias("hist_id"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )

def incremental_simhash64_new_dups(
    history_fps: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Incremental Hamming near-dup detection against a PERSISTED 64-bit
    fingerprint index: ``history_fps`` is a precomputed ``(id, fp)`` table
    (from ``simhash64_fingerprints``, 8 bytes/doc) that the caller writes
    once and keeps — this function never touches history text, so per batch
    the work is O(|batch|) fingerprinting + ``blocks`` slice-keyed equi-join
    probes + one ``bit_count(fp_b ^ fp_h)`` per collision.

    The production form of ``incremental_simhash_new_dups`` (which
    re-fingerprints history from raw text on every call): at 100 TB the
    history index is a bucketed table keyed by (blk, slc) so batch probes
    shuffle only the batch side, and 16-bit slices (blocks=4) keep the
    65,536 buckets/block occupancy flat — ``simhash64_block_occupancy`` is
    the audit that proves it."""
    batch_fps = simhash64_fingerprints(batch, id_col, text_col)
    return fingerprint_hamming_probe(
        history_fps, batch_fps, id_col, max_hamming, blocks
    )


def fingerprint_hamming_probe(
    history_fps: DataFrame,
    batch_fps: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    blocks: int = 4,
) -> DataFrame:
    """Cross-table Hamming probe over two PRECOMPUTED 64-bit ``(id, fp)``
    tables — the incremental core of ``incremental_simhash64_new_dups``,
    factored out (like ``fingerprint_hamming_pairs`` for the self-join
    case) so any 64-bit perceptual fingerprint — text SimHash, image
    dHash, audio energy hash — probes a persisted index with the same
    pigeonhole slice machinery.  Emits ``(doc_id, hist_id, hamming)`` for
    every batch row within ``max_hamming`` of a history row."""
    if max_hamming >= blocks:
        raise ValueError(
            f"pigeonhole blocking needs max_hamming < blocks "
            f"(got {max_hamming} >= {blocks})"
        )
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")
    hist_sliced = _simhash64_sliced(history_fps, id_col, blocks).select(
        F.col(id_col).alias("id_h"), F.col("fp").alias("fp_h"), "blk", "slc"
    )
    batch_sliced = _simhash64_sliced(batch_fps, id_col, blocks).select(
        F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"), "blk", "slc"
    )
    hamming = F.bit_count(F.col("fp_b").bitwiseXOR(F.col("fp_h")))
    # verify before the dedup shuffle (see fingerprint_hamming_pairs)
    return (
        batch_sliced.join(hist_sliced, ["blk", "slc"])
        .filter(hamming <= max_hamming)
        .select(
            F.col("id_b").alias("doc_id"),
            F.col("id_h").alias("hist_id"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )

def exact_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
) -> DataFrame:
    """Exact-substring (suffix-array-style) dedup in the spirit of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"
    (the ExactSubstr operator; r07 VERDICT ask #2).  Returns one row per
    MAXIMAL run of tokens in which EVERY width-``min_tokens`` window is
    duplicated corpus-wide:
    ``(id, span_start, span_tokens, span_text)`` (token positions 1-based).

    Semantics, precisely: a token position p is a duplicated ANCHOR when
    the width-``min_tokens`` window starting at p occurs >= 2 times in the
    corpus; runs of consecutive anchors p..q merge into the emitted span
    [p, q + min_tokens - 1].  Every verbatim-duplicated span of length >=
    ``min_tokens`` is contained in an emitted span (all its windows are
    duplicated), so the output is a SUPERSET of verbatim duplicates — but
    an emitted span need not itself occur verbatim twice as a whole:
    consecutive anchors may chain overlapping matches against DIFFERENT
    partner documents (doc A shares its first 8 windows with doc B and the
    next one with doc C — the merged 9-window span exists only in A).
    This is the same over-merge Lee et al.'s run-merging exhibits, and the
    right dedup behavior: every token inside the span sits in SOME
    duplicated window.  A single-node suffix array finds the same windows
    by sorting all suffixes; here the "sort" is a distributed hash bucket
    groupBy over the window anchors.

    Distributed shape (never a global suffix array):
    1. anchor stage — one narrow pass emits md5(window) per token position
       (the hash rides the scan; the 128-bit anchor, not the window text,
       is what shuffles), one uniform-key groupBy keeps anchors seen >= 2
       times;
    2. exact verify — only CANDIDATE positions (a vanishing fraction of
       the corpus) re-derive their window text and must agree on the full
       string, so an md5 collision can only DROP a false candidate, never
       invent a span: output spans are exact by construction;
    3. islands merge — per-document gaps-and-islands (window keyed by doc,
       bounded by doc length), then one doc-keyed join slices the span
       text back out of the token array.
    Work is O(total tokens) hashing + candidate-sized verification; every
    shuffle key (anchor hash, doc id) is uniform."""
    from kwack_spark.operators.scale import widen_if_narrow
    from pyspark.sql import Window

    w = min_tokens
    # token arrays feed the anchor stage AND the final span-text slice —
    # persisted so tokenization runs once (rotating: one cache per family)
    toks = stages.hold(
        "exact_span_toks",
        widen_if_narrow(df)
        .select(F.col(id_col), TX.tokens(text_col).alias("tk"))
        .filter(F.size("tk") >= w),
    )
    anchor_hashes = F.transform(
        F.sequence(F.lit(1), F.size("tk") - (w - 1)),
        lambda p: F.md5(F.array_join(F.slice("tk", p, w), " ")),
    )
    anch = toks.select(
        id_col, F.posexplode(anchor_hashes).alias("idx", "h")
    ).select(id_col, (F.col("idx") + 1).cast("long").alias("pos"), "h")
    dup = anch.groupBy("h").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= 2
    )
    hits0 = anch.join(dup.select("h"), "h").select(id_col, "pos")
    # exact verify: candidates re-slice their window text and must agree
    # on the FULL string (not just the hash) to stay duplicated
    hver = hits0.join(toks, id_col).select(
        id_col,
        "pos",
        F.array_join(F.slice("tk", F.col("pos").cast("int"), w), " ").alias("s"),
    )
    sdup = hver.groupBy("s").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= 2
    )
    hits = hver.join(sdup.select("s"), "s").select(id_col, "pos")
    # gaps-and-islands: consecutive duplicated positions merge into one
    # maximal span (the window is per-document — bounded by doc length)
    grp = F.col("pos") - F.row_number().over(
        Window.partitionBy(id_col).orderBy("pos")
    )
    spans = (
        hits.withColumn("grp", grp)
        .groupBy(id_col, "grp")
        .agg(F.min("pos").alias("a"), (F.max("pos") + (w - 1)).alias("b"))
    )
    return spans.join(toks, id_col).select(
        id_col,
        F.col("a").alias("span_start"),
        (F.col("b") - F.col("a") + 1).alias("span_tokens"),
        F.array_join(
            F.slice(
                "tk",
                F.col("a").cast("int"),
                (F.col("b") - F.col("a") + 1).cast("int"),
            ),
            " ",
        ).alias("span_text"),
    )


def simhash64_hamming_pairs_combo(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    blocks: int = 8,
) -> DataFrame:
    """Near-dup pairs for Hamming budgets BEYOND the single-slice pigeonhole
    (Manku/Jain/Sarma WWW'07 §3's block-combination tables): split the
    64-bit fingerprint into ``blocks`` slices and key candidates on every
    PAIR of slices (C(blocks, 2) tables, key = both slices' bits).  A pair
    within distance ``max_hamming <= blocks - 2`` has >= 2 untouched slices
    (pigeonhole), so some slice pair matches exactly — the blocking stays
    lossless at budgets where the single-slice scheme would need so few,
    so-wide slices that buckets degenerate.

    With blocks=8: 28 combo tables, each keyed by 16 bits (two 8-bit
    slices) — the same 65,536-bucket width that keeps the d<=3 family's
    fan-out flat, now for d<=6.  Work is C(blocks,2)/blocks times the
    single-slice explode (3.5x at 8 blocks) but still n-linear; the verify
    stays one bit_count(a ^ b) per distinct collision.  This is the
    documented escape hatch for when a corpus outgrows the slice space
    (``simhash64_block_occupancy`` turning superlinear is the trigger)."""
    if max_hamming > blocks - 2:
        raise ValueError(
            f"combo blocking needs max_hamming <= blocks - 2 "
            f"(got {max_hamming} > {blocks - 2}): a pair could touch all "
            "but one slice, leaving no matching slice PAIR"
        )
    if 64 % blocks:
        raise ValueError(f"blocks must divide 64 (got {blocks})")

    width = 64 // blocks
    mask = (1 << width) - 1
    # rotating persist (r07 ADVICE #2): one cached fingerprint index per
    # operator family, released on the next call
    fps = stages.hold(
        "sh64_combo_fps", simhash64_fingerprints(df, id_col, text_col)
    )

    def slc(b: int):
        return F.shiftright("fp", b * width).bitwiseAND(F.lit(mask))

    combos = [
        F.struct(
            F.lit(b1 * blocks + b2).alias("combo"),
            (slc(b1) * F.lit(mask + 1) + slc(b2)).alias("key"),
        )
        for b1 in range(blocks)
        for b2 in range(b1 + 1, blocks)
    ]
    sliced = fps.select(
        id_col, "fp", F.explode(F.array(*combos)).alias("s")
    ).select(id_col, "fp", F.col("s.combo").alias("combo"), F.col("s.key").alias("key"))
    a = sliced.select(F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"), "combo", "key")
    b = sliced.select(F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"), "combo", "key")
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # verify before the dedup shuffle (see fingerprint_hamming_pairs): the
    # 28-table explode multiplies collision volume 3.5x, so shuffling only
    # verified pairs matters even more here
    return (
        a.join(b, ["combo", "key"])
        .filter(
            (F.col("id_a") < F.col("id_b")) & (hamming <= max_hamming)
        )
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )
