"""Round-12 unit tests: DECIMAL(38,0) mixture-reweight arithmetic at
100-TB magnitudes (r11 VERDICT what's-wrong #1 / next #1), the MinHash
band-df cap's oracle parity + over-cap star-edge recovery (r11 ADVICE
medium), and Bloom paragraph dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# mixture_reweight_step arithmetic at 100-TB magnitudes
# ---------------------------------------------------------------------------


def test_reweight_update_exact_at_100tb_magnitudes(spark):
    """The DoReMi update must stay EXACT when 1e6·s_chars·n_all ≈ 1e31 —
    far past int64 (9.2e18), where the pre-r12 BIGINT form wrapped
    silently.  Fixture: two domains at the advertised 100-TB shape
    (s_all = 1e14 chars, n_all = 1e11 docs); expectations are Python
    bigints, which cannot overflow."""
    from kwack_spark.plans.pipeline_curation import _reweight_from_domains

    n_a, s_a = 40_000_000_000, 60_000_000_000_000   # 4e10 docs, 6e13 chars
    n_b, s_b = 60_000_000_000, 40_000_000_000_000   # 6e10 docs, 4e13 chars
    dom = spark.createDataFrame(
        [("a", n_a, s_a), ("b", n_b, s_b)],
        "lang string, n_docs long, s_chars long",
    )
    n_all, s_all = n_a + n_b, s_a + s_b
    ppm_a = (1_000_000 * s_a * n_all) // (s_all * n_a)   # 1_500_000
    ppm_b = (1_000_000 * s_b * n_all) // (s_all * n_b)   # 666_666
    u_a, u_b = (3_000_000 + ppm_a) // 4, (3_000_000 + ppm_b) // 4
    rows = {r.lang: r for r in _reweight_from_domains(dom).collect()}
    assert rows["a"].loss_ppm == ppm_a == 1_500_000
    assert rows["b"].loss_ppm == ppm_b == 666_666
    assert rows["a"].w_after == pytest.approx(u_a / (u_a + u_b), abs=1e-12)
    assert rows["b"].w_after == pytest.approx(u_b / (u_a + u_b), abs=1e-12)
    assert rows["a"].w_before == pytest.approx(0.5)


def test_reweight_update_matches_duckdb_hugeint_oracle(spark):
    """Same fixture through the oracle's HUGEINT arithmetic: the DuckDB //
    and Spark div forms must agree digit-for-digit past int64."""
    import duckdb

    from kwack_spark.plans.pipeline_curation import _reweight_from_domains

    dom_rows = [("a", 40_000_000_000, 60_000_000_000_000),
                ("b", 35_000_000_000, 23_000_000_000_001),
                ("c", 25_000_000_000, 17_000_000_000_007)]
    dom = spark.createDataFrame(
        dom_rows, "lang string, n_docs long, s_chars long"
    )
    got = {
        r.lang: (r.loss_ppm, r.w_after)
        for r in _reweight_from_domains(dom).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d(lang VARCHAR, n_docs BIGINT, s_chars BIGINT)"
    )
    con.executemany("INSERT INTO d VALUES (?, ?, ?)", dom_rows)
    exp = con.execute(
        """
        WITH tot AS (
            SELECT CAST(sum(n_docs) AS BIGINT) AS n_all,
                   CAST(sum(s_chars) AS BIGINT) AS s_all,
                   CAST(count(*) AS BIGINT) AS n_domains
            FROM d
        ),
        u AS (
            SELECT lang,
                   (CAST(1000000 AS HUGEINT) * s_chars * n_all)
                       // (CAST(s_all AS HUGEINT) * n_docs) AS loss_ppm,
                   (3000000 + (CAST(1000000 AS HUGEINT) * s_chars * n_all)
                              // (CAST(s_all AS HUGEINT) * n_docs)) // 4 AS u_d
            FROM d CROSS JOIN tot
        )
        SELECT lang, CAST(loss_ppm AS BIGINT),
               CAST(u_d AS DOUBLE) / (SELECT sum(u_d) FROM u)
        FROM u
        """
    ).fetchall()
    con.close()
    for lang, ppm, w in exp:
        assert got[lang][0] == ppm
        assert got[lang][1] == pytest.approx(w, abs=1e-12)


# ---------------------------------------------------------------------------
# over-cap star edges + dup-edges wiring (r11 ADVICE medium)
# ---------------------------------------------------------------------------


def _boilerplate_docs(spark):
    """12 byte-identical boilerplate docs (one giant band bucket) plus one
    genuine near-dup pair and one unique doc (test_round11_ops fixture)."""
    rows = [(i, "error page not found please try again later") for i in range(12)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
        (200, "completely unrelated text about spark partitions and shuffles"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_overcap_star_edges_recover_pruned_cluster(spark):
    """Each over-cap band collapses to a star rooted at its min id — O(df)
    rows instead of the O(df^2) pair list the cap pruned."""
    from kwack_spark.operators.dedup import lsh_overcap_star_edges

    df = _boilerplate_docs(spark)
    got = {
        (r.id_a, r.id_b)
        for r in lsh_overcap_star_edges(
            df, "doc_id", "text", max_band_df=8
        ).collect()
    }
    assert got == {(0, i) for i in range(1, 12)}


def test_dup_edges_keep_components_lossless_under_cap(spark):
    """minhash_lsh_dup_edges = capped pairs + star edges: connected
    components over it must resolve the SAME clusters as uncapped pairs —
    the cap changes the edge count, never the component structure."""
    from kwack_spark.operators import graph
    from kwack_spark.operators.dedup import (
        minhash_lsh_dup_edges,
        minhash_lsh_pairs,
    )

    df = _boilerplate_docs(spark)
    capped_edges = minhash_lsh_dup_edges(
        df, "doc_id", "text", threshold=0.5, max_band_df=8
    )
    comp_capped = {
        (r.doc_id, r.keep_id) for r in graph.dedup_clusters(capped_edges).collect()
    }
    uncapped_pairs = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_band_df=10_000
    ).select("id_a", "id_b")
    comp_full = {
        (r.doc_id, r.keep_id) for r in graph.dedup_clusters(uncapped_pairs).collect()
    }
    assert comp_capped == comp_full
    assert {(i, 0) for i in range(1, 12)} <= comp_capped  # boilerplate cluster
    assert (101, 100) in comp_capped  # genuine near-dup pair intact


def test_incremental_lsh_history_band_cap(spark):
    """The incremental probe prunes bands ubiquitous in HISTORY: with the
    cap below the boilerplate band's history df, a batch boilerplate doc is
    not flagged (the band carries no novelty signal), while a genuine
    near-dup of a rare history doc still is."""
    from kwack_spark.operators.dedup import incremental_lsh_new_dups

    hist_rows = [
        (i, "error page not found please try again later") for i in range(12)
    ] + [(100, "the quick brown fox jumps over the lazy dog today")]
    batch_rows = [
        (500, "error page not found please try again later"),
        (501, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    hist = spark.createDataFrame(hist_rows, ["doc_id", "text"])
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    capped = {
        (r.doc_id, r.hist_id)
        for r in incremental_lsh_new_dups(
            hist, batch, "doc_id", "text", threshold=0.5, max_band_df=8
        ).collect()
    }
    assert capped == {(501, 100)}
    uncapped = {
        (r.doc_id, r.hist_id)
        for r in incremental_lsh_new_dups(
            hist, batch, "doc_id", "text", threshold=0.5, max_band_df=10_000
        ).collect()
    }
    assert {(500, i) for i in range(12)} <= uncapped


def test_lsh_oracle_chain_compiles_the_engine_cap(spark):
    """The DuckDB oracle chain must carry the SAME cap constant as the
    engine default — a drifted constant recreates the silent divergence
    this round closed."""
    from kwack_spark.operators.dedup import LSH_MAX_BAND_DF
    from kwack_spark.plans.pipeline import _LSH_CTES

    assert f"band_df <= {LSH_MAX_BAND_DF}" in _LSH_CTES
    assert f"band_df > {LSH_MAX_BAND_DF}" in _LSH_CTES
    assert "star_edges" in _LSH_CTES


# ---------------------------------------------------------------------------
# scratch path-locality resolution (r11 ADVICE low)
# ---------------------------------------------------------------------------


def test_scratch_scheme_parsing_and_local_part():
    """Explicit schemes decide locality directly — including Hadoop's
    single-slash file:/p form makeQualified emits — and _local_part strips
    both file: spellings so shutil sees a real OS path."""
    from kwack_spark import scratch

    assert scratch._scheme("hdfs://nn:8020/warehouse") == "hdfs"
    assert scratch._scheme("s3a://bucket/key") == "s3a"
    assert scratch._scheme("file:///tmp/x") == "file"
    assert scratch._scheme("file:/tmp/x") == "file"
    assert scratch._scheme("/tmp/x") is None
    assert scratch._scheme("relative/dir") is None
    assert not scratch._is_local_path(None, "hdfs://nn/x")
    assert scratch._is_local_path(None, "file:/tmp/x")
    assert scratch._local_part("file:/tmp/x") == "/tmp/x"
    assert scratch._local_part("file:///tmp/x") == "/tmp/x"
    assert scratch._local_part("/tmp/x") == "/tmp/x"


def test_scratch_schemeless_path_resolves_through_hadoop_fs(spark):
    """A scheme-less path asks the session's Hadoop FileSystem (fs.defaultFS
    resolution — the same one Spark's writers use), instead of assuming
    driver-local: under the test session's file: default it IS local, and
    the allocated root comes back fully qualified so post-JVM cleanup still
    knows its filesystem."""
    from kwack_spark import scratch

    import os

    assert scratch._is_local_path(spark, "/tmp/kwack-schemeless-probe")
    # a scheme-less CONFIGURED base is qualified at allocation time, so
    # post-JVM cleanup still knows its filesystem
    import tempfile

    base = tempfile.mkdtemp(prefix="kwack_r12_sl_")
    spark.conf.set("kwack.scratch.dir", base)
    try:
        d = scratch.scratch_dir(spark, "r12probe")
        assert scratch._scheme(d) == "file", d
        assert os.path.isdir(scratch._local_part(d))
        scratch.remove(spark, d)
        assert not os.path.isdir(scratch._local_part(d))
    finally:
        spark.conf.unset("kwack.scratch.dir")
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def test_stage_checkpoint_rotates_and_preserves_rows(spark):
    """stages.checkpoint truncates lineage (LogicalRDD leaf), preserves the
    rows exactly, reuses the held checkpoint for a sameResult plan, and
    rotates (unpersists) the previous checkpoint when the plan changes."""
    from kwack_spark import stages

    src = spark.range(10).withColumn("v", F.col("id") * 2)
    a = stages.checkpoint("t_ckpt_test", src)
    assert [r.v for r in a.orderBy("id").collect()] == [i * 2 for i in range(10)]
    # lineage truncated: the analyzed plan is a scan of a materialized RDD
    assert "LogicalRDD" in a._jdf.queryExecution().analyzed().toString()
    # same logical plan -> the held checkpoint is returned, no re-materialize
    b = stages.checkpoint(
        "t_ckpt_test", spark.range(10).withColumn("v", F.col("id") * 2)
    )
    assert b is a
    # new plan under the same tag rotates: old blocks released, new rows served
    c = stages.checkpoint("t_ckpt_test", spark.range(3))
    assert c is not a and c.count() == 3
    assert not stages._resident("checkpoint", a)
    with stages._LOCK:
        del stages._HELD[spark][("checkpoint", "t_ckpt_test")]
