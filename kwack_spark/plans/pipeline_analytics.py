"""Analytics family: event/EDA measures — funnels, cohorts, change points, distribution fits, concentration audits.

Split out of plans/pipeline.py (same registrations, same semantics);
shared helpers live in pipeline.py, the aggregator that imports this
module at the bottom.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kwack_spark.functions import text as TX
from kwack_spark.operators import asof, dedup
from kwack_spark import scratch, stages
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.plans.pipeline import (  # shared core
    _JAC,
    _LSH_CTES,
    _few_shuffle_partitions,
    _toks,
)


@register(
    "range_join_clicks_before_purchase",
    oracle="""
        SELECT p.user_id AS user_id,
               p.event_id AS purchase_id,
               c.event_id AS click_id,
               epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
        FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 1800000000
    """,
    tags=("join", "range"),
)
def range_join_clicks_before_purchase(spark, sf_dir):
    """Range (band) join: every (purchase, click) pair of the same user
    where the click precedes the purchase by at most 30 minutes — the
    bounded-interval twin of as-of's latest-only semantics.  Runs as a pure
    equi join on (user_id, time-bucket) via operators/rangejoin.py — one
    shuffle per side, no nested loop, <= 2 bucket probes per purchase."""
    from kwack_spark.operators.rangejoin import band_join

    e = T(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    out = band_join(p, c, ["user_id"], "p_us", "c_us", 0, 1_800_000_000)
    return out.select(
        "user_id",
        "purchase_id",
        "click_id",
        (F.col("p_us") - F.col("c_us")).alias("delta_us"),
    )

@register(
    "asof_purchase_attribution",
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM (
                SELECT user_id, ts, event_id,
                       row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'click'
            ) WHERE rn = 1
        ),
        purchases AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id AS user_id, p.ts AS purchase_ts, p.event_id AS purchase_id,
               c.event_id AS click_id, c.ts AS click_ts
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    tags=("asof", "join"),
)
def asof_purchase_attribution(spark, sf_dir):
    """Last-click attribution: DuckDB's native ASOF JOIN vs our union-merge
    single-shuffle implementation (operators/asof.py)."""
    e = T(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof.asof_join_backward(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id", "ts"],
        left_vals=["event_id"],
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("t").alias("purchase_ts"),
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        F.col("r_ts").alias("click_ts"),
    )

@register(
    "asof_nearest_click",
    # nearest-in-time as-of (either direction, ties -> backward): DuckDB
    # has no nearest ASOF, so the oracle composes its backward and forward
    # ASOF JOINs and picks by integer-microsecond distance — exactly the
    # rule the operator's single-sort two-frame window implements
    # (operators/asof.py:asof_join_nearest).  Clicks dedup per (user, ts)
    # keeping max event_id so tie rows are unique on both engines.
    oracle="""
        WITH clicks AS (
            SELECT user_id, ts, event_id FROM (
                SELECT user_id, ts, event_id,
                       row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
                FROM events WHERE event_type = 'click'
            ) WHERE rn = 1
        ),
        purchases AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        ),
        b AS (
            SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                   c.event_id AS bid, c.ts AS bts
            FROM purchases p
            ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
        ),
        f AS (
            SELECT p.event_id AS purchase_id, c.event_id AS fid, c.ts AS fts
            FROM purchases p
            ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
        ),
        j AS (
            SELECT b.user_id, b.purchase_ts, b.purchase_id, b.bid, b.bts, f.fid, f.fts,
                   (b.bid IS NOT NULL AND (f.fid IS NULL
                        OR epoch_us(b.purchase_ts) - epoch_us(b.bts)
                           <= epoch_us(f.fts) - epoch_us(b.purchase_ts))) AS take_b
            FROM b JOIN f USING (purchase_id)
        )
        SELECT user_id, purchase_ts, purchase_id,
               CASE WHEN take_b THEN bid ELSE fid END AS click_id,
               CASE WHEN take_b THEN bts ELSE fts END AS click_ts,
               CASE WHEN take_b THEN 'backward'
                    WHEN fid IS NOT NULL THEN 'forward' END AS asof_dir
        FROM j
    """,
    tags=("asof", "join", "nearest"),
)
def asof_nearest_click(spark, sf_dir):
    """Nearest-click attribution: the either-direction completion of the
    as-of family.  Single shuffle on the key; both directional fills share
    one (t, side) sort."""
    e = T(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    clicks = (
        e.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    out = asof.asof_join_nearest(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id", "ts"],
        left_vals=["event_id"],
        right_ts_val="ts",
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("t").alias("purchase_ts"),
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        F.col("r_ts").alias("click_ts"),
        "asof_dir",
    )

@register(
    "asof_forward_next_purchase",
    # forward as-of: earliest purchase at-or-after each view, per user —
    # DuckDB's ASOF with <= vs our union-merge forward window
    oracle="""
        WITH purchases AS (
            SELECT user_id, ts, event_id FROM (
                SELECT user_id, ts, event_id,
                       row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
                FROM events WHERE event_type = 'purchase'
            ) WHERE rn = 1
        ),
        views AS (
            SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'
        )
        SELECT v.user_id AS user_id, v.ts AS view_ts, v.event_id AS view_id,
               p.event_id AS next_purchase_id, p.ts AS next_purchase_ts
        FROM views v
        ASOF LEFT JOIN purchases p ON v.user_id = p.user_id AND v.ts <= p.ts
    """,
    tags=("asof", "join", "forward"),
)
def asof_forward_next_purchase(spark, sf_dir):
    """Forward as-of (operators/asof.py:asof_join_forward): same
    single-shuffle union-merge plan as the backward variant, window looking
    at following rows.  Purchases deduped per (user, ts) by min event_id so
    tie-handling is deterministic on both engines."""
    e = T(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_id")
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    out = asof.asof_join_forward(
        views,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_vals=["event_id", "ts"],
        left_vals=["event_id"],
    )
    return out.select(
        F.col("k").alias("user_id"),
        F.col("t").alias("view_ts"),
        F.col("l_event_id").alias("view_id"),
        F.col("r_event_id").alias("next_purchase_id"),
        F.col("r_ts").alias("next_purchase_ts"),
    )

@register(
    "window_tumbling_hourly",
    oracle=f"""
        SELECT event_type,
               date_trunc('hour', ts) AS window_start,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY event_type, date_trunc('hour', ts)
    """,
    tags=("window", "streaming-equivalent"),
)
def window_tumbling_hourly(spark, sf_dir):
    """Tumbling event-time window — same F.window operator works unchanged in
    Structured Streaming with a watermark (streaming/ingest.py)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,3)")).cast("double").alias("total_value"),
        )
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            "n",
            "total_value",
        )
    )

@register(
    "session_windows",
    oracle="""
        WITH m AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ),
        s AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        )
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events
        FROM s GROUP BY user_id, sid
    """,
    tags=("window", "session"),
)
def session_windows(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )

@register(
    "funnel_three_step",
    # ordered funnel view -> click -> purchase: each stage's timestamp must
    # be strictly after the previous stage's EARLIEST qualifying time.
    # One groupBy(user) with conditional min aggregates — no joins, no
    # window, one shuffle; the canonical event-analytics query on the
    # reference's own domain (SQL over event topics).
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_view_click,
               (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
    tags=("events", "funnel", "analytics"),
)
def funnel_three_step(spark, sf_dir):
    """Ordered three-step funnel over the events table: users who viewed,
    then clicked after their first view, then purchased after that first
    qualifying click.  Three conditional-min aggregations on user_id — the
    same shuffle key each stage, so AQE reuses the partitioning; at 100 TB
    this is one scan plus user-keyed aggregation, never a self-join
    explosion."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    # single job: three 1-row count aggs cross-joined (each side is exactly
    # one row, so the "cross join" is a free broadcast) — the driver never
    # triggers v/c/p separately, and AQE's exchange reuse shares the
    # user-keyed shuffles between the stages within the one plan
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )

@register(
    "user_path_trigrams",
    # user-journey mining: the most common 3-step event paths.  Per-user
    # event sequences are built ONCE as ordered arrays (sort_array of a
    # (ts, event_id, type) struct — collect_list alone has no order
    # guarantee), trigrams are generated in-array, and only the tiny
    # path-count table shuffles.
    oracle="""
        WITH seqs AS (
            SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        ),
        tri AS (
            SELECT unnest([seq[i] || '>' || seq[i+1] || '>' || seq[i+2]
                           FOR i IN range(1, greatest(len(seq) - 1, 1))]) AS path
            FROM seqs
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n
        FROM tri GROUP BY path
        ORDER BY n DESC, path
        LIMIT 25
    """,
    tags=("events", "paths", "analytics"),
)
def user_path_trigrams(spark, sf_dir):
    """Top 3-step user journeys.  One user-keyed aggregation builds each
    ordered sequence; trigram expansion is per-row array arithmetic (a user
    with n events emits n-2 paths, no self-join); the final count groups on
    the path-vocabulary key (|event_types|³ at most) — map-side combine
    collapses the volume before the only other shuffle."""
    e = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .select(F.expr("transform(s, x -> x.event_type)").alias("seq"))
    )
    tri = (
        "CASE WHEN size(seq) >= 3 THEN transform(sequence(0, size(seq) - 3), "
        "i -> concat(seq[i], '>', seq[i+1], '>', seq[i+2])) ELSE array() END"
    )
    return (
        seqs.select(F.explode(F.expr(tri)).alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "path")
        .limit(25)
    )

@register(
    "event_transition_matrix",
    # first-order Markov transition matrix over per-user event streams:
    # P(next | prev) from ordered bigrams.  The probability divisions are
    # bigint/bigint -> the same IEEE double on both engines.
    oracle="""
        WITH seqs AS (
            SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        ),
        bi AS (
            SELECT unnest([struct_pack(src := seq[i], dst := seq[i+1])
                           FOR i IN range(1, greatest(len(seq), 1))],
                          recursive := true)
            FROM seqs
        ),
        cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                FROM bi GROUP BY src, dst),
        tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY src)
        SELECT c.src, c.dst, c.n, CAST(c.n AS DOUBLE) / t.total AS p
        FROM cnt c JOIN tot t USING (src)
        ORDER BY src, dst
    """,
    tags=("events", "markov", "analytics"),
)
def event_transition_matrix(spark, sf_dir):
    """Event-type transition probabilities.  Same ordered-sequence build as
    user_path_trigrams, bigrams in-array; the count table is
    |event_types|² rows, so the normalizing row-sum joins back as a
    broadcast — nothing beyond the first user-keyed agg is corpus-sized."""
    e = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .select(F.expr("transform(s, x -> x.event_type)").alias("seq"))
    )
    bi = (
        "CASE WHEN size(seq) >= 2 THEN transform(sequence(0, size(seq) - 2), "
        "i -> struct(seq[i] AS src, seq[i+1] AS dst)) ELSE array() END"
    )
    cnt = (
        seqs.select(F.explode(F.expr(bi)).alias("b"))
        .select("b.src", "b.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("src").agg(F.sum("n").alias("total"))
    return (
        cnt.join(F.broadcast(tot), "src")
        .select(
            "src",
            "dst",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("p"),
        )
        .orderBy("src", "dst")
    )

@register(
    "daily_anomaly_zscore",
    # time-series anomaly detection: daily per-type totals z-scored against
    # that type's own distribution; |z| > 2 days flagged.  Totals and
    # second moments go through exact DECIMAL (order-independent), the
    # z expression is the same IEEE double formula on both engines, and z
    # is rounded to 6dp before the threshold compare.
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   SUM(CAST(value AS DECIMAL(18,3))) AS total
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(total) AS DOUBLE) / count(*) AS mu,
                   CAST(SUM(total * total) AS DOUBLE) AS ss
            FROM d GROUP BY event_type
        )
        SELECT d.event_type, d.day,
               CAST(d.total AS DOUBLE) AS total,
               round((CAST(d.total AS DOUBLE) - s.mu)
                     / sqrt(s.ss / s.n - s.mu * s.mu), 6) AS z
        FROM d JOIN s USING (event_type)
        WHERE s.ss / s.n - s.mu * s.mu > 0
          AND abs(round((CAST(d.total AS DOUBLE) - s.mu)
                        / sqrt(s.ss / s.n - s.mu * s.mu), 6)) > 2
        ORDER BY event_type, day
    """,
    tags=("events", "timeseries", "anomaly"),
)
def daily_anomaly_zscore(spark, sf_dir):
    """Daily-total anomaly flags per event type.  Two aggregations — day
    grain, then type grain over the already-tiny day table — and a
    broadcast join back; the corpus is scanned once and everything after
    the first agg is days x types sized.  Mean/variance come from exact
    decimal first/second moments, so the flags are identical regardless of
    partial-aggregation order."""
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,3)")).alias("total"))
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("total").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sum(F.col("total") * F.col("total")).cast("double").alias("ss"),
    )
    variance = F.col("ss") / F.col("n") - F.col("mu") * F.col("mu")
    z = F.round(
        (F.col("total").cast("double") - F.col("mu")) / F.sqrt(variance), 6
    )
    return (
        d.join(F.broadcast(s), "event_type")
        # a zero-variance type (e.g. a single active day) must be dropped
        # BEFORE the z projection: under ANSI mode x/0.0 raises instead of
        # yielding inf like the DuckDB side
        .filter(variance > 0)
        .select(
            "event_type",
            "day",
            F.col("total").cast("double").alias("total"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 2)
        .orderBy("event_type", "day")
    )

@register(
    "sax_weekly_symbols",
    # SAX (symbolic aggregate approximation) over the daily series: weekly
    # PAA segment means, z-normalized against the type's own daily
    # distribution, mapped to a 4-symbol alphabet at the standard-normal
    # quartile breakpoints (-0.6745, 0, 0.6745).  The discretized strings
    # are what similarity search / motif mining index instead of raw
    # floats (Keogh's SAX; cf. the streaming time-series similarity line
    # of work in PAPERS.md).
    oracle="""
        WITH d AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   SUM(CAST(value AS DECIMAL(18,3))) AS total
            FROM events GROUP BY event_type, CAST(ts AS DATE)
        ),
        b AS (SELECT event_type, min(day) AS d0 FROM d GROUP BY event_type),
        s AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(SUM(total) AS DOUBLE) / count(*) AS mu,
                   CAST(SUM(total * total) AS DOUBLE) AS ss
            FROM d GROUP BY event_type
        ),
        seg AS (
            SELECT d.event_type,
                   CAST(datediff('day', b.d0, d.day) // 7 AS BIGINT) AS seg_idx,
                   d.total
            FROM d JOIN b USING (event_type)
        ),
        p AS (
            SELECT event_type, seg_idx,
                   SUM(total) AS seg_sum,
                   CAST(count(*) AS BIGINT) AS seg_n
            FROM seg GROUP BY event_type, seg_idx
        ),
        zs AS (
            SELECT p.event_type, p.seg_idx,
                   round((CAST(p.seg_sum AS DOUBLE) / p.seg_n - s.mu)
                         / sqrt(s.ss / s.n - s.mu * s.mu), 6) AS paa_z
            FROM p JOIN s USING (event_type)
            WHERE s.ss / s.n - s.mu * s.mu > 0
        )
        SELECT event_type, seg_idx, paa_z,
               CASE WHEN paa_z < -0.6745 THEN 'a'
                    WHEN paa_z < 0 THEN 'b'
                    WHEN paa_z < 0.6745 THEN 'c'
                    ELSE 'd' END AS symbol
        FROM zs
        ORDER BY event_type, seg_idx
    """,
    tags=("events", "timeseries", "sax"),
)
def sax_weekly_symbols(spark, sf_dir):
    """SAX discretization of per-type daily totals into weekly symbols.
    One corpus scan (day grain), then everything runs at days-x-types
    scale: per-type origin and moments broadcast, weekly PAA is a second
    tiny agg, the alphabet mapping is a CASE riding the rows.  Exact
    decimal sums make segment means order-independent; z is rounded to 6dp
    before the breakpoint CASE, the same discipline as
    daily_anomaly_zscore."""
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    d = (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,3)")).alias("total"))
    )
    b = d.groupBy("event_type").agg(F.min("day").alias("d0"))
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("total").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sum(F.col("total") * F.col("total")).cast("double").alias("ss"),
    )
    seg = d.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.floor(F.datediff(F.col("day"), F.col("d0")) / 7).cast("long").alias(
            "seg_idx"
        ),
        "total",
    )
    p = seg.groupBy("event_type", "seg_idx").agg(
        F.sum("total").alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    sax_variance = F.col("ss") / F.col("n") - F.col("mu") * F.col("mu")
    zs = (
        p.join(F.broadcast(s), "event_type")
        # same ANSI divide-by-zero guard as daily_anomaly_zscore: a type
        # with zero daily variance is dropped before the z projection
        .filter(sax_variance > 0)
        .select(
            "event_type",
            "seg_idx",
            F.round(
                (F.col("seg_sum").cast("double") / F.col("seg_n") - F.col("mu"))
                / F.sqrt(sax_variance),
                6,
            ).alias("paa_z"),
        )
    )
    return zs.select(
        "event_type",
        "seg_idx",
        "paa_z",
        F.when(F.col("paa_z") < -0.6745, "a")
        .when(F.col("paa_z") < 0, "b")
        .when(F.col("paa_z") < 0.6745, "c")
        .otherwise("d")
        .alias("symbol"),
    ).orderBy("event_type", "seg_idx")

@register(
    "retention_cohorts",
    # day-0 cohort retention: users bucketed by first-seen day, activity
    # matrix per (cohort_day, day_offset) with distinct-user counts — the
    # standard growth-analytics rollup, exact on both engines
    oracle="""
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_day,
                   datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
            FROM events e JOIN first_seen f ON f.user_id = e.user_id
        )
        SELECT cohort_day, day_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM activity
        GROUP BY cohort_day, day_offset
    """,
    tags=("events", "retention", "analytics"),
)
def retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: first-seen day per user (one user-keyed
    agg), then distinct (user, day-offset) activity joined back and rolled
    up per (cohort, offset).  Two shuffles — user key then cohort key; the
    distinct collapses per-user-per-day event volume early so the final
    rollup sees at most users x active-days rows."""
    e = T(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("cohort_day")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_active")
    )

@register(
    "udx_chunk_vowels",
    # §2.D surface: UDTF (word chunker, lateral fan-out) -> vectorized
    # pandas UDF (vowel count per chunk) -> GROUPED_AGG pandas UDAF
    # (max-min span per doc).  All-integer outputs, so the oracle is exact.
    oracle=f"""
        WITH toks AS (SELECT doc_id, {_toks()} AS tk FROM documents),
        starts AS (
            SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 20)) AS i
            FROM toks WHERE len(tk) > 0
        ),
        chunks AS (
            SELECT doc_id,
                   array_to_string(
                       list_slice(tk, i, least(i + 19, len(tk))), ' '
                   ) AS chunk
            FROM starts
        ),
        scored AS (
            SELECT doc_id,
                   CAST(length(chunk)
                        - length(regexp_replace(chunk, '[aeiou]', '', 'g'))
                        AS BIGINT) AS vowels
            FROM chunks
        )
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(vowels) AS BIGINT) AS total_vowels,
               CAST(max(vowels) - min(vowels) AS BIGINT) AS vowel_span
        FROM scored GROUP BY doc_id
    """,
    tags=("udf", "udtf", "udaf"),
)
def udx_chunk_vowels(spark, sf_dir):
    """The full §2.D UDx surface in one plan: a Python UDTF fans each doc
    into 20-word chunks (lateral join, same narrow stage as the scan), an
    Arrow-vectorized pandas UDF scores each chunk, and a GROUPED_AGG pandas
    UDAF reduces per doc.  Everything Python is Arrow-batched — no
    row-at-a-time UDFs anywhere."""
    import uuid

    from kwack_spark.functions import udx

    udx.register_udx(spark)
    d = T(spark, sf_dir, "documents").select(
        "doc_id", TX.normalize("text").alias("nt")
    )
    # uuid-suffixed view: a fixed name would leak past the plan and rebind
    # under concurrent invocations with different sf_dirs
    view = f"udx_docs_{uuid.uuid4().hex[:8]}"
    d.createOrReplaceTempView(view)
    chunked = spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, kw_vowel_count(c.chunk) AS vowels
        FROM {view} d, LATERAL kw_chunk_words(d.nt, 20) c
        """
    )
    # a GROUPED_AGG pandas UDAF cannot share an agg() with built-in
    # aggregates — two groupBys over the same shuffle key, joined back
    # (AQE plans the join shuffle-free since both sides are partitioned
    # on doc_id already)
    stats = chunked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("vowels").cast("bigint").alias("total_vowels"),
    )
    spans = chunked.groupBy("doc_id").agg(
        F.expr("kw_int_span(vowels)").alias("vowel_span")
    )
    return stats.join(spans, "doc_id")

@register(
    "zorder_layout_key",
    # Z-order (Morton) interleave of two 8-bit key dimensions — the
    # data-layout key that makes min/max file statistics prune on EITHER
    # dimension.  Pure integer bit arithmetic, identical on both engines.
    oracle="""
        WITH k AS (
            SELECT event_id,
                   CAST(user_id % 256 AS BIGINT) AS ux,
                   CAST((event_id // 16) % 256 AS BIGINT) AS tb
            FROM events
        )
        SELECT event_id, ux, tb,
               CAST(((((ux >> 0) & 1) << 0) |
                   (((tb >> 0) & 1) << 1) |
                   (((ux >> 1) & 1) << 2) |
                   (((tb >> 1) & 1) << 3) |
                   (((ux >> 2) & 1) << 4) |
                   (((tb >> 2) & 1) << 5) |
                   (((ux >> 3) & 1) << 6) |
                   (((tb >> 3) & 1) << 7) |
                   (((ux >> 4) & 1) << 8) |
                   (((tb >> 4) & 1) << 9) |
                   (((ux >> 5) & 1) << 10) |
                   (((tb >> 5) & 1) << 11) |
                   (((ux >> 6) & 1) << 12) |
                   (((tb >> 6) & 1) << 13) |
                   (((ux >> 7) & 1) << 14) |
                   (((tb >> 7) & 1) << 15)) AS BIGINT) AS zkey,
               CAST(((((ux >> 0) & 1) << 0) |
                   (((tb >> 0) & 1) << 1) |
                   (((ux >> 1) & 1) << 2) |
                   (((tb >> 1) & 1) << 3) |
                   (((ux >> 2) & 1) << 4) |
                   (((tb >> 2) & 1) << 5) |
                   (((ux >> 3) & 1) << 6) |
                   (((tb >> 3) & 1) << 7) |
                   (((ux >> 4) & 1) << 8) |
                   (((tb >> 4) & 1) << 9) |
                   (((ux >> 5) & 1) << 10) |
                   (((tb >> 5) & 1) << 11) |
                   (((ux >> 6) & 1) << 12) |
                   (((tb >> 6) & 1) << 13) |
                   (((ux >> 7) & 1) << 14) |
                   (((tb >> 7) & 1) << 15)) >> 10 AS BIGINT) AS file_bucket
        FROM k
    """,
    tags=("scale", "layout", "zorder"),
)
def zorder_layout_key(spark, sf_dir):
    """Multi-dimensional data clustering: interleave the bits of two scan
    dimensions (user, time bucket) into one Morton key, then range-write on
    it (here surfaced as file_bucket = zkey >> 10).  Files become
    rectangles in (user, time) space, so min/max parquet statistics prune
    scans filtered on EITHER dimension — the layout trick behind
    Delta/Iceberg Z-ORDER, expressed as plain columnar bit arithmetic that
    rides the scan with zero shuffles (the real write adds one
    repartitionByRange on zkey)."""
    e = T(spark, sf_dir, "events")
    ux = (F.col("user_id") % 256).cast("long")
    # integer floor division (`div`), NOT double division + cast: the double
    # path truncates toward zero for negative ids and loses exactness past
    # 2^53, diverging from the oracle's integer `//`
    tb = (F.expr("event_id div 16") % 256).cast("long")
    k = e.select("event_id", ux.alias("ux"), tb.alias("tb"))
    z = None
    for i in range(8):
        for pos, src in ((2 * i, "ux"), (2 * i + 1, "tb")):
            term = F.shiftleft(F.shiftright(F.col(src), i).bitwiseAND(F.lit(1)), pos)
            z = term if z is None else z.bitwiseOR(term)
    return k.select(
        "event_id",
        "ux",
        "tb",
        z.cast("long").alias("zkey"),
        F.shiftright(z, 10).cast("long").alias("file_bucket"),
    )

@register(
    "scale_heavy_hitters",
    # corpus heavy hitters (vocabulary head) through the two-phase salted
    # aggregation: the partial runs per (token, salt) so one hot token — and
    # natural corpora are Zipfian, the head token IS hot — never lands on a
    # single reducer; the final re-agg sees at most `salt` rows per token.
    # Top-20 by (count desc, token) so the cut is deterministic.
    oracle=f"""
        WITH tok AS (
            SELECT unnest({_toks()}) AS token FROM documents
        ),
        counts AS (
            SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY token
        )
        SELECT token, n FROM counts
        ORDER BY n DESC, token LIMIT 20
    """,
    tags=("scale", "agg", "skew", "text"),
)
def scale_heavy_hitters(spark, sf_dir):
    """Zipf-head token counts via operators/scale.py:salted_agg — the
    skew-safe two-phase shape for hot grouping keys, graded for correctness
    (output must equal the plain GROUP BY).  At 100 TB, partial counts per
    (token, salt) bound any single reducer's load to 1/salt of the hottest
    token before the tiny final re-agg."""
    from kwack_spark.operators import scale

    d = T(spark, sf_dir, "documents")
    # doc_id rides along ONLY to feed the salt hash: salted_agg salts by
    # xxhash64 of the whole row, and a salt derived from the grouping key
    # alone would be constant per token — no skew mitigation at all
    tok = d.select("doc_id", F.explode(TX.tokens("text")).alias("token"))
    counts = scale.salted_agg(
        tok,
        ["token"],
        [(F.count(F.lit(1)).alias("pn"), "sum", "n")],
        salt=16,
    )
    return (
        counts.select("token", F.col("n").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )

@register(
    "cms_merge_shards",
    # merge-invariance gate for the CMS family (the HLL one exists as
    # hll_merge_shards; counters add where registers max): per-parity-shard
    # sketches summed elementwise must equal the whole-corpus sketch
    # counter-for-counter, and the estimates read off the MERGED sketch
    # must match the oracle's direct whole-table estimates.  The property
    # that makes the 4x256 counter table safe running state under sharded
    # ingest.
    oracle="""
        WITH keyed AS (
            SELECT user_id, d,
                   ((instr('0123456789abcdef',
                           substr(md5('cms' || d || ':' || user_id::VARCHAR), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef',
                            substr(md5('cms' || d || ':' || user_id::VARCHAR), 2, 1)) - 1) % 256 AS b
            FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS d)
        ),
        sketch AS (SELECT d, b, count(*) AS cnt FROM keyed GROUP BY d, b),
        h0 AS (SELECT d, b, count(*) AS cnt FROM keyed WHERE user_id % 2 = 0 GROUP BY d, b),
        h1 AS (SELECT d, b, count(*) AS cnt FROM keyed WHERE user_id % 2 = 1 GROUP BY d, b),
        mrg AS (
            SELECT d, b, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM (SELECT * FROM h0 UNION ALL SELECT * FROM h1) GROUP BY d, b
        ),
        mism AS (
            SELECT count(*) AS mism FROM (
                (SELECT d, b, cnt FROM sketch EXCEPT SELECT d, b, cnt FROM mrg)
                UNION ALL
                (SELECT d, b, cnt FROM mrg EXCEPT SELECT d, b, cnt FROM sketch)
            )
        ),
        kb AS (SELECT DISTINCT user_id, d, b FROM keyed),
        est AS (
            SELECT user_id, CAST(min(cnt) AS BIGINT) AS cms_est
            FROM kb JOIN mrg USING (d, b) GROUP BY user_id
        )
        SELECT user_id, cms_est,
               (SELECT mism FROM mism) = 0 AS merge_invariant
        FROM est WHERE cms_est >= 20
    """,
    tags=("scale", "sketch", "mergeable"),
)
def cms_merge_shards(spark, sf_dir):
    """CMS merge invariance, graded in-query (the frequency twin of
    hll_merge_shards): the two parity-shard sketches are built and MERGED
    engine-side (operators/scale.py:cms_merge — elementwise counter add),
    diffed against the direct whole-corpus sketch, and the heavy-hitter
    estimates are read off the merged table.  Constant-size everything:
    sketches are 4x256 rows whatever the corpus, the merge is a
    1024-row union-sum, estimates join a broadcast sketch."""
    from kwack_spark.operators import scale

    e = T(spark, sf_dir, "events").select("user_id")
    h0 = scale.cms_sketch(e.filter(F.col("user_id") % 2 == 0), "user_id")
    h1 = scale.cms_sketch(e.filter(F.col("user_id") % 2 == 1), "user_id")
    mrg = scale.cms_merge(h0, h1)

    # the merged 1024-row sketch feeds the estimate join AND the diff gate
    mrg = stages.hold("cms_mrg", mrg)
    direct = scale.cms_sketch(e, "user_id")
    a = direct.select("d", "b", "cnt")
    b = mrg.select("d", "b", "cnt")
    mism = (
        a.exceptAll(b)
        .union(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias("mism"))
    )
    est = scale.cms_estimates(e, "user_id", sketch=mrg)
    return (
        est.filter(F.col("cms_est") >= 20)
        .crossJoin(F.broadcast(mism))
        .select(
            "user_id",
            F.col("cms_est").cast("bigint").alias("cms_est"),
            (F.col("mism") == 0).alias("merge_invariant"),
        )
    )

@register(
    "cms_heavy_hitters",
    # count-min sketch frequency estimates vs exact counts: the sketch is a
    # FIXED 4x256 counter table whatever the key cardinality — the state
    # that still fits when billions of distinct keys make the exact per-key
    # groupBy the bottleneck.  Buckets from keyed md5 nibbles, so the whole
    # estimate (including every collision) is exact integer arithmetic on
    # both engines; min-of-counters never undercounts by construction.
    oracle="""
        WITH keyed AS (
            SELECT user_id, d,
                   ((instr('0123456789abcdef',
                           substr(md5('cms' || d || ':' || user_id::VARCHAR), 1, 1)) - 1) * 16
                    + instr('0123456789abcdef',
                            substr(md5('cms' || d || ':' || user_id::VARCHAR), 2, 1)) - 1) % 256 AS b
            FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS d)
        ),
        sketch AS (SELECT d, b, count(*) AS cnt FROM keyed GROUP BY d, b),
        kb AS (SELECT DISTINCT user_id, d, b FROM keyed),
        est AS (
            SELECT user_id, min(cnt) AS cms_est
            FROM kb JOIN sketch USING (d, b) GROUP BY user_id
        ),
        exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id)
        SELECT user_id, exact_n, cms_est,
               cms_est >= exact_n AS never_undercounts
        FROM exact JOIN est USING (user_id)
        WHERE cms_est >= 20
    """,
    tags=("scale", "sketch", "approx"),
)
def cms_heavy_hitters(spark, sf_dir):
    """Approximate heavy hitters via a count-min sketch
    (operators/scale.py:cms_estimates), graded against the exact counts it
    approximates: every estimate must be >= its true count (min-of-counters
    overcounts only).  The exact groupBy here exists purely as the grading
    yardstick; at 100 TB only the constant-size sketch aggregation and its
    broadcast estimate join survive."""
    from kwack_spark.operators import scale

    e = T(spark, sf_dir, "events").select("user_id")
    est = scale.cms_estimates(e, "user_id", depth=4, width=256, seed="cms")
    exact = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    return (
        exact.join(est, "user_id")
        .filter(F.col("cms_est") >= 20)
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_n")).alias("never_undercounts"),
        )
    )

@register(
    "scale_salted_join",
    # skew-mitigated join graded for CORRECTNESS: the salted plan's output
    # must equal the plain join.  Left side salted by retry-stable xxhash64,
    # right side replicated per salt; the shuffle spreads every hot key over
    # 8 partitions.  Aggregated to a compact, decimal-exact result.
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(38,2))) AS DOUBLE) AS sum_qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
    tags=("scale", "join", "skew"),
)
def scale_salted_join(spark, sf_dir):
    """Salting under the oracle gate (operators/scale.py:salted_join): the
    anti-skew rewrite is only admissible because its result is IDENTICAL to
    the plain join — this query proves it on real data.  At 100 TB salting
    is the manual fallback when AQE's skew splitting can't help (e.g. a
    single key above the split threshold inside one reducer)."""
    from kwack_spark.operators import scale

    li = T(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_quantity"
    )
    o = T(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    joined = scale.salted_join(li, o, "orderkey", salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(38,2)"))
        .cast("double")
        .alias("sum_qty"),
    )

@register(
    "scale_bucketed_join",
    # bucketed co-located join graded for CORRECTNESS: both sides written
    # bucketed+sorted on the join key (explicit path, so it works under any
    # caller session's warehouse), then joined with zero Exchange (the plan
    # property test_scale_patterns pins); the result must equal the plain
    # join.
    oracle="""
        SELECT o.o_orderstatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(38,2))) AS DOUBLE) AS sum_price
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("scale", "join", "bucketed"),
)
def scale_bucketed_join(spark, sf_dir):
    """Bucketed tables as the zero-shuffle join strategy, graded end to end:
    write lineitem and orders bucketed identically on the order key, join
    the bucketed tables, aggregate with exact decimals.  At 100 TB this is
    the repeated-join workhorse — pay one bucketed write, then every later
    join on that key is exchange-free."""
    import uuid

    from kwack_spark.operators import scale

    tag = uuid.uuid4().hex[:8]
    tmp = scratch.scratch_dir(spark, "bucketed")
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    lb = scale.bucket_table(
        spark, li, f"li_b_{tag}", ["l_orderkey"], num_buckets=8, path=f"{tmp}/li"
    )
    ob = scale.bucket_table(
        spark, o, f"o_b_{tag}", ["o_orderkey"], num_buckets=8, path=f"{tmp}/o"
    )
    joined = lb.join(ob, lb["l_orderkey"] == ob["o_orderkey"])
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,2)"))
        .cast("double")
        .alias("sum_price"),
    )

@register(
    "k_anonymity_suppress",
    # privacy-preserving export: aggregate cells backed by fewer than k=5
    # distinct users are suppressed entirely (the k-anonymity small-cell
    # rule) — the governance gate that runs before any per-segment stats
    # leave the pipeline.  Pairs with text_pii_redact on the content side.
    oracle="""
        WITH cells AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE) AS total_value
            FROM events
            GROUP BY event_type, CAST(ts AS DATE)
        )
        SELECT event_type, day, n_users, n_events, total_value
        FROM cells
        WHERE n_users >= 5
        ORDER BY event_type, day
    """,
    tags=("events", "privacy", "governance"),
)
def k_anonymity_suppress(spark, sf_dir):
    """Small-cell suppression for k-anonymity (k=5): one aggregation at the
    export grain computes the distinct-user backing count alongside the
    published measures, and under-backed cells are dropped before anything
    leaves the engine.  Exactly one corpus-keyed shuffle; the suppression
    filter rides the aggregated (tiny) result."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)"))
            .cast("double")
            .alias("total_value"),
        )
        .filter(F.col("n_users") >= 5)
        .orderBy("event_type", "day")
    )

@register(
    "pagerank_dup_graph",
    # Link analysis over the near-duplicate graph: two PageRank iterations
    # (alpha = 0.85, dangling mass redistributed uniformly) on the
    # undirected LSH pair graph — surfaces template/boilerplate HUBS whose
    # influence a per-pair dedup verdict can't see.  Exact iterative
    # kernel (the embedding_top_pc discipline): per-edge contributions are
    # rounded to 12dp BEFORE summing and accumulate through exact DECIMAL,
    # dangling mass likewise, and each iteration's rank is re-rounded to
    # 12dp — so both engines walk bit-identical rank vectors.
    oracle=f"""
        WITH {_LSH_CTES},
        pairs AS (
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
        ),
        nodes AS (SELECT doc_id FROM documents),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
        r0 AS (SELECT doc_id, 1.0 / n.n AS r FROM nodes, n),
        c1 AS (
            SELECT e.v, CAST(round(r.r / g.d, 12) AS DECIMAL(16,12)) AS c
            FROM edges e JOIN r0 r ON r.doc_id = e.u JOIN deg g ON g.u = e.u
        ),
        in1 AS (SELECT v, CAST(SUM(c) AS DOUBLE) AS inflow FROM c1 GROUP BY 1),
        dang1 AS (
            SELECT COALESCE(CAST(SUM(CAST(round(r.r, 12) AS DECIMAL(16,12)))
                                 AS DOUBLE), 0.0) AS dang
            FROM r0 r LEFT JOIN deg g ON g.u = r.doc_id WHERE g.u IS NULL
        ),
        r1 AS (
            SELECT nd.doc_id,
                   round(0.15 / n.n + 0.85 * (COALESCE(i.inflow, 0.0)
                         + dang1.dang / n.n), 12) AS r
            FROM nodes nd CROSS JOIN n CROSS JOIN dang1
            LEFT JOIN in1 i ON i.v = nd.doc_id
        ),
        c2 AS (
            SELECT e.v, CAST(round(r.r / g.d, 12) AS DECIMAL(16,12)) AS c
            FROM edges e JOIN r1 r ON r.doc_id = e.u JOIN deg g ON g.u = e.u
        ),
        in2 AS (SELECT v, CAST(SUM(c) AS DOUBLE) AS inflow FROM c2 GROUP BY 1),
        dang2 AS (
            SELECT COALESCE(CAST(SUM(CAST(round(r.r, 12) AS DECIMAL(16,12)))
                                 AS DOUBLE), 0.0) AS dang
            FROM r1 r LEFT JOIN deg g ON g.u = r.doc_id WHERE g.u IS NULL
        ),
        r2 AS (
            SELECT nd.doc_id,
                   round(0.15 / n.n + 0.85 * (COALESCE(i.inflow, 0.0)
                         + dang2.dang / n.n), 12) AS r
            FROM nodes nd CROSS JOIN n CROSS JOIN dang2
            LEFT JOIN in2 i ON i.v = nd.doc_id
        )
        SELECT r2.doc_id, COALESCE(g.d, 0) AS degree,
               round(r2.r, 9) AS pr
        FROM r2 LEFT JOIN deg g ON g.u = r2.doc_id
        ORDER BY pr DESC, doc_id LIMIT 25
    """,
    tags=("graph", "pagerank", "dedup"),
)
def pagerank_dup_graph(spark, sf_dir):
    """100-TB shape: the edge list (LSH candidate pairs — already bounded
    by dedup_minhash_lsh's banding) shuffles once on the source node to
    attach (rank, degree), once on the destination to sum inflow — the
    classic Pregel message exchange as two key-partitioned joins per
    iteration; the dangling-mass and 1/N scalars are one-row aggregates
    that broadcast.  Iterations compose lazily into one Catalyst plan; a
    production run checkpoints the rank vector every few iterations to cut
    lineage."""
    d = T(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=8, bands=2, threshold=0.5
    ).select("id_a", "id_b")
    # persist the PAIR list (not the unioned edge list): the union reads
    # pairs through two projection branches, so persisting upstream of it
    # runs the whole LSH shingle/signature pipeline once instead of twice;
    # every iteration then reads the cached pairs, never the corpus
    pairs = stages.hold("pagerank_pairs", pairs)
    edges = pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionAll(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    nodes = d.select("doc_id")
    # n is a SCALAR — resolve it driver-side once (Python float division
    # is the same IEEE-754 double op both engines run) instead of carrying
    # a one-row broadcast subquery through every iteration
    n = float(nodes.count())
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # the STATIC per-node degree rides inside the checkpointed rank frame
    # (doc_id, d, r): each iteration then needs no degree join at all —
    # contributions read r/d off one row, and the dangling mass is a
    # filter-aggregate over the checkpoint (d = 0), not an anti-join
    rank = (
        nodes.join(deg.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.lit(1.0 / n).alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    # iteration rounds run at graph width, not corpus width: the rank/edge
    # exchanges here carry node- and edge-count rows, far below the scan's
    # data volume — the dedup_cluster_components sizing rule.  A cluster
    # deployment sets this to the graph's own scale instead.
    with _few_shuffle_partitions(spark):
        for _ in range(2):
            rank = _pagerank_step(edges, n, rank)
    res = rank.select(
        "doc_id",
        F.col("d").alias("degree"),
        F.round(F.col("r"), 9).alias("pr"),
    )
    return res.orderBy(F.desc("pr"), "doc_id").limit(25)

def _pagerank_step(edges, n, rank):
    """One exact PageRank iteration (alpha = 0.85): 12dp-pre-rounded
    per-edge contributions summed through DECIMAL, dangling mass as a
    driver-side scalar filter-aggregate off the checkpointed rank
    (degree rides in the frame), rank re-rounded to 12dp — then
    lineage-truncated.  The update joins inflow back onto the checkpointed
    rank itself (it carries every node), so no step touches the corpus
    scan again."""
    contrib = edges.join(rank.withColumnRenamed("doc_id", "u"), "u").select(
        "v",
        F.round(F.col("r") / F.col("d"), 12).cast("decimal(16,12)").alias("c"),
    )
    inflow = contrib.groupBy("v").agg(
        F.sum("c").cast("double").alias("inflow")
    )
    # one-row scalar aggregate over the checkpoint: collect it rather than
    # carrying a broadcast-subquery stage through the plan.  The downstream
    # arithmetic applies the SAME IEEE op tree as the oracle: 0.15/n,
    # dang/n, inflow + dm, *0.85, +jump.
    dang = (
        rank.filter(F.col("d") == 0)
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("r"), 12).cast("decimal(16,12)")).cast(
                    "double"
                ),
                F.lit(0.0),
            ).alias("dang")
        )
        .collect()[0][0]
    )
    jump = 0.15 / n
    dm = dang / n
    out = rank.join(
        inflow.withColumnRenamed("v", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        "d",
        F.round(
            F.lit(jump)
            + F.lit(0.85)
            * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.lit(dm)),
            12,
        ).alias("r"),
    )
    # rank is referenced three times next iteration (contrib, dangling,
    # output) and embeds inflow which references the PREVIOUS rank —
    # truncate lineage per step (the embedding_top_pc discipline) or the
    # plan doubles per iteration
    return out.localCheckpoint(eager=True)

@register(
    "dup_graph_triangles",
    # Triangle census of the near-duplicate graph: per-node triangle
    # counts + local clustering coefficient — distinguishes tight
    # template cliques (coefficient ~1: safe to collapse to one keeper)
    # from chain-like spurious LSH paths (coefficient ~0: verify before
    # collapsing).  Complements dedup_cluster_components (membership) and
    # pagerank_dup_graph (centrality).  Exact: triangle enumeration is
    # id-ordered (a < b < c, each triangle counted once), the coefficient
    # is one IEEE divide of integers, rounded to 6dp.
    oracle=f"""
        WITH {_LSH_CTES},
        pairs AS (
            SELECT c.id_a, c.id_b
            FROM cand c
            JOIN ssets x ON x.doc_id = c.id_a
            JOIN ssets y ON y.doc_id = c.id_b
            WHERE {_JAC} >= 0.5
        ),
        tri AS (
            SELECT p1.id_a AS a, p1.id_b AS b, p2.id_b AS c
            FROM pairs p1
            JOIN pairs p2 ON p2.id_a = p1.id_b
            JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
        ),
        tn AS (
            SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
            ) GROUP BY node
        ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT id_a AS node FROM pairs
                UNION ALL SELECT id_b FROM pairs
            ) GROUP BY node
        )
        SELECT g.node AS doc_id, g.d AS degree,
               COALESCE(t.n_tri, 0) AS n_triangles,
               round(2.0 * COALESCE(t.n_tri, 0) / (g.d * (g.d - 1)), 6)
                   AS clustering
        FROM deg g LEFT JOIN tn t USING (node)
        WHERE g.d >= 2
        ORDER BY n_triangles DESC, doc_id LIMIT 25
    """,
    tags=("graph", "dedup", "triangles"),
)
def dup_graph_triangles(spark, sf_dir):
    """100-TB shape: the pair list is the persisted LSH sketch (built
    once); triangle enumeration is two self-joins on a shared vertex with
    the a < b < c orientation so each triangle materializes exactly once —
    at cluster scale the standard refinement is degree-ordered orientation
    (direct each edge toward the higher-degree endpoint), which bounds the
    join fan-out by arboricity instead of max degree; the node-level
    rollup shuffles triangle-count rows, not the corpus."""
    d = T(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", k=8, bands=2, threshold=0.5
    ).select("id_a", "id_b")
    pairs = stages.hold("tri_pairs", pairs)
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = (
        p1.join(p2, F.col("p2.id_a") == F.col("p1.id_b"))
        .join(
            p3,
            (F.col("p3.id_a") == F.col("p1.id_a"))
            & (F.col("p3.id_b") == F.col("p2.id_b")),
        )
        .select(
            F.col("p1.id_a").alias("a"),
            F.col("p1.id_b").alias("b"),
            F.col("p2.id_b").alias("c"),
        )
    )
    # the triangle list feeds THREE unionAll branches (one per corner);
    # unpersisted, the two-hop self-join executes three times
    tri = stages.hold("tri_tri", tri)
    tn = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("id_a").alias("node"))
        .unionAll(pairs.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    res = (
        deg.join(tn, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("node").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_tri"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("clustering"),
        )
    )
    return res.orderBy(F.desc("n_triangles"), "doc_id").limit(25)

@register(
    "histogram_quantile_estimate",
    # Single-pass binned quantile estimation audited against the exact
    # percentile — the scale pattern for quantiles over data too large to
    # sort: one min/max pass, one 256-bin histogram pass (bounded rollup),
    # linear interpolation inside the crossing bin.  Both engines run the
    # identical double expression sequence over the identical integer bin
    # counts; exact percentiles interpolate the same two order statistics
    # and are rounded to 6dp to absorb formula-form low bits.
    oracle="""
        WITH s AS MATERIALIZED (
            SELECT min(value) AS lo, max(value) AS hi, count(*) AS n FROM events
        ),
        hist AS MATERIALIZED (
            SELECT least(CAST(floor((value - lo) / (hi - lo) * 256) AS INT),
                         255) AS bin,
                   count(*) AS cnt
            FROM events, s GROUP BY 1
        ),
        cum AS (
            SELECT bin, cnt,
                   SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist
        ),
        probes(qi, q) AS (VALUES (0, 0.25), (1, 0.5), (2, 0.75),
                                 (3, 0.9), (4, 0.99)),
        est AS (
            SELECT qi, q,
                   lo + (bin + (q * n - (cum - cnt)) / cnt) * (hi - lo) / 256
                       AS est_raw
            FROM probes, cum, s
            WHERE cum >= q * n AND cum - cnt < q * n
        ),
        ex AS (
            SELECT u.x.qi AS qi, u.x.ex AS ex FROM (
                SELECT unnest(list_transform(
                           quantile_cont(value, [0.25, 0.5, 0.75, 0.9, 0.99]),
                           (e, i) -> struct_pack(qi := i - 1, ex := e))) AS x
                FROM events
            ) u
        )
        SELECT CAST(q AS DOUBLE) AS q, round(est_raw, 6) AS est_q,
               round(ex, 6) AS exact_q,
               round(abs(round(est_raw, 6) - round(ex, 6)), 6) AS abs_err
        FROM est JOIN ex USING (qi)
    """,
    tags=("quantile", "sketch", "scale"),
)
def histogram_quantile_estimate(spark, sf_dir):
    """Approximate quantiles from a 256-bin histogram, audited against the
    exact percentile.  100-TB shape: the estimate needs two narrow scans
    (min/max, then bin counts -> a 256-row rollup) and never sorts the
    fact; the exact side is the audit baseline (at cluster scale it swaps
    for percentile_approx with pinned accuracy — the histogram path is the
    answer to 'quantiles without a sort')."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    s = e.agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    hist = (
        e.join(F.broadcast(s))
        .select(
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 256
                ).cast("int"),
                F.lit(255),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    probes = spark.createDataFrame(
        [(0, 0.25), (1, 0.5), (2, 0.75), (3, 0.9), (4, 0.99)], "qi int, q double"
    )
    est = (
        probes.crossJoin(F.broadcast(cum))
        .crossJoin(F.broadcast(s))
        .filter(
            (F.col("cum") >= F.col("q") * F.col("n"))
            & (F.col("cum") - F.col("cnt") < F.col("q") * F.col("n"))
        )
        .select(
            "qi",
            "q",
            (
                F.col("lo")
                + (
                    F.col("bin")
                    + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
                    / F.col("cnt")
                )
                * (F.col("hi") - F.col("lo"))
                / 256
            ).alias("est_raw"),
        )
    )
    ex = (
        e.agg(
            F.percentile(
                "value", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.9, 0.99)])
            ).alias("exs")
        )
        .select(F.posexplode("exs").alias("qi", "ex"))
    )
    return est.join(ex, "qi").select(
        "q",
        F.round("est_raw", 6).alias("est_q"),
        F.round("ex", 6).alias("exact_q"),
        F.round(F.abs(F.round("est_raw", 6) - F.round("ex", 6)), 6).alias("abs_err"),
    )

@register(
    "interval_overlap_join",
    # Interval-overlap join WITHOUT a range cross-join: gap-sessionized
    # user sessions joined to the 3 busiest campaign hours by exploding
    # each session into the hour bins it covers and equi-joining on the
    # bin key.  Overlap is computed in integral epoch-microseconds, so the
    # compare is exact.  Session end = last event + 30min (the
    # F.session_window contract, mirrored by the gap-CTE here).
    oracle="""
        WITH m AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ),
        sid AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ),
        sess AS MATERIALIZED (
            SELECT user_id, min(ts) AS s,
                   max(ts) + INTERVAL 30 MINUTE AS en,
                   count(*) AS n_events
            FROM sid GROUP BY user_id, sid
        ),
        camp AS MATERIALIZED (
            SELECT date_trunc('hour', ts) AS h FROM events
            GROUP BY 1 ORDER BY count(*) DESC, h LIMIT 3
        ),
        bins AS (
            SELECT user_id, s, en, n_events,
                   unnest(generate_series(date_trunc('hour', s),
                                          date_trunc('hour', en),
                                          INTERVAL 1 HOUR)) AS hb
            FROM sess
        )
        SELECT user_id, s AS session_start, c.h AS campaign_hour,
               least(epoch_us(en), epoch_us(c.h + INTERVAL 1 HOUR))
                   - greatest(epoch_us(s), epoch_us(c.h)) AS overlap_us,
               n_events
        FROM bins b JOIN camp c ON b.hb = c.h
        WHERE least(epoch_us(en), epoch_us(c.h + INTERVAL 1 HOUR))
                  - greatest(epoch_us(s), epoch_us(c.h)) > 0
    """,
    tags=("join", "interval", "session"),
)
def interval_overlap_join(spark, sf_dir):
    """Interval-overlap join via hour-bin bucketing.  100-TB shape: the
    classic overlap predicate (s < h_end AND en > h) is a range theta-join
    that degenerates to a cartesian at scale; binning each session into
    the hour buckets it covers (explode factor = session length / bin
    width, bounded) turns it into an equi-join on the bin key — shuffle on
    a uniform key, campaign side broadcast.  Overlap math is integral
    epoch-microseconds (exact)."""
    e = T(spark, sf_dir, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("en"),
            "n_events",
        )
    )
    camp = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).alias("hn"))
        .orderBy(F.desc("hn"), "h")
        .limit(3)
        .select("h")
    )
    bins = sess.select(
        "user_id",
        "s",
        "en",
        "n_events",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "en"),
                F.expr("interval 1 hour"),
            )
        ).alias("hb"),
    )
    overlap = F.least(
        F.unix_micros("en"), F.unix_micros(F.col("h") + F.expr("interval 1 hour"))
    ) - F.greatest(F.unix_micros("s"), F.unix_micros("h"))
    return (
        bins.join(F.broadcast(camp), F.col("hb") == F.col("h"))
        .select(
            "user_id",
            F.col("s").alias("session_start"),
            F.col("h").alias("campaign_hour"),
            overlap.alias("overlap_us"),
            "n_events",
        )
        .filter(F.col("overlap_us") > 0)
    )

@register(
    "market_basket_lift",
    # Top-25 co-purchased part pairs by lift — the association-rule scan
    # over order baskets (support >= 2).  Lift divides exact integers in
    # one fixed double sequence ((pair * n_orders) / cnt_a) / cnt_b, so
    # the ranking is deterministic; ties break on the part keys.
    oracle="""
        WITH items AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(count(*) AS BIGINT) AS pair_cnt
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        ),
        icnt AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
                 FROM items GROUP BY 1),
        t AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
              FROM items)
        SELECT part_a, part_b, pair_cnt,
               round(CAST(pair_cnt AS DOUBLE) * n_orders / a.c / b.c, 6) AS lift
        FROM pairs
        JOIN icnt a ON a.l_partkey = part_a
        JOIN icnt b ON b.l_partkey = part_b
        CROSS JOIN t
        WHERE pair_cnt >= 2
        ORDER BY lift DESC, part_a, part_b LIMIT 25
    """,
    tags=("join", "mining", "tpch"),
)
def market_basket_lift(spark, sf_dir):
    """Market-basket lift over order baskets.  100-TB shape: the in-basket
    self-join is keyed on l_orderkey and bounded by basket size squared
    (TPC-H baskets are <= 7 lines), pair counting is a uniform-key rollup,
    the per-part counts join on the part key, the order total broadcasts,
    and the cut is a TakeOrderedAndProject top-25 — never an all-pairs
    part join."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= 2)
    )
    icnt = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    t = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    lift = F.round(
        F.col("pair_cnt").cast("double")
        * F.col("n_orders")
        / F.col("ca")
        / F.col("cb"),
        6,
    )
    return (
        pairs.join(
            icnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca")),
            "part_a",
        )
        .join(
            icnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb")),
            "part_b",
        )
        .crossJoin(F.broadcast(t))
        .select("part_a", "part_b", "pair_cnt", lift.alias("lift"))
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(25)
    )

# shared transition-probability CTE chain (same ordered-bigram build as
# event_transition_matrix) for the stationary-distribution power iteration
_TRANS_CTES = """seqs AS (
            SELECT user_id, list(event_type ORDER BY ts, event_id) AS seq
            FROM events GROUP BY user_id
        ),
        bi AS (
            SELECT unnest([struct_pack(src := seq[i], dst := seq[i+1])
                           FOR i IN range(1, greatest(len(seq), 1))],
                          recursive := true)
            FROM seqs
        ),
        cnt AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                FROM bi GROUP BY src, dst),
        tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS total FROM cnt GROUP BY src),
        p AS MATERIALIZED (
            SELECT c.src, c.dst, CAST(c.n AS DOUBLE) / t.total AS p
            FROM cnt c JOIN tot t USING (src)
        ),
        k AS (SELECT count(DISTINCT src) AS k FROM p),
        v0 AS (SELECT src AS t, 1.0 / k AS v FROM (SELECT DISTINCT src FROM p), k)"""

_STEP_SQL = """v{i} AS MATERIALIZED (
            SELECT p.dst AS t,
                   CAST(SUM(CAST(round(v.v * p.p, 12) AS DECIMAL(16,12)))
                       AS DOUBLE) AS v
            FROM v{j} v JOIN p ON p.src = v.t GROUP BY p.dst
        )"""

@register(
    "markov_stationary_power",
    # stationary distribution of the per-user event-type Markov chain via
    # 4 unrolled power-iteration steps over the transition matrix (the
    # long-run occupancy forecast behind event_transition_matrix).
    # Determinism: transition probabilities are bigint/bigint doubles; each
    # step's mass products are rounded to 12dp and summed through exact
    # DECIMAL, so every iterate is bit-identical across engines.
    oracle=f"""
        WITH {_TRANS_CTES},
        {", ".join(_STEP_SQL.format(i=i, j=i - 1 if i > 1 else 0) for i in range(1, 5))}
        SELECT t AS event_type, round(v, 6) AS stationary_prob FROM v4
    """,
    tags=("events", "markov", "analytics"),
)
def markov_stationary_power(spark, sf_dir):
    """Power iteration to the stationary distribution.  100-TB shape: one
    corpus-sized pass builds the |event_types|²-row transition matrix;
    every iteration thereafter joins two type-keyed metadata tables —
    iteration cost is independent of corpus size (the same argument as
    textrank/pagerank, on an even smaller graph)."""
    e = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    seqs = (
        e.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .select(F.expr("transform(s, x -> x.event_type)").alias("seq"))
    )
    bi_expr = (
        "CASE WHEN size(seq) >= 2 THEN transform(sequence(0, size(seq) - 2), "
        "i -> struct(seq[i] AS src, seq[i + 1] AS dst)) ELSE array() END"
    )
    cnt = (
        seqs.select(F.explode(F.expr(bi_expr)).alias("b"))
        .select("b.src", "b.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.groupBy("src").agg(F.sum("n").alias("total"))
    p = stages.hold(
        "markov_p",
        cnt.join(F.broadcast(tot), "src").select(
            "src", "dst", (F.col("n").cast("double") / F.col("total")).alias("p")
        ),
    )
    k = p.agg(F.countDistinct("src").alias("k"))
    v = (
        p.select("src").distinct()
        .crossJoin(F.broadcast(k))
        .select(F.col("src").alias("t"), (F.lit(1.0) / F.col("k")).alias("v"))
    )
    for _ in range(4):
        v = (
            v.join(p, F.col("t") == F.col("src"))
            .groupBy(F.col("dst"))
            .agg(
                F.sum(
                    F.round(F.col("v") * F.col("p"), 12).cast("decimal(16,12)")
                )
                .cast("double")
                .alias("v")
            )
            .select(F.col("dst").alias("t"), "v")
        )
    return v.select(
        F.col("t").alias("event_type"), F.round("v", 6).alias("stationary_prob")
    )

@register(
    "rfm_segmentation",
    # Classic RFM customer segmentation with quartile boundaries from
    # percentiles instead of an ntile window: the three per-customer
    # metrics (days since epoch of last order, order count, exact-decimal
    # spend) are quartiled against a broadcast 1-row boundary table, so no
    # full-table sort/window exists anywhere.  Segment assignment is three
    # integer comparisons against identical boundary doubles (percentile
    # interpolation parity is pinned by histogram_quantile_estimate).
    oracle="""
        WITH cust AS MATERIALIZED (
            SELECT o_custkey,
                   CAST(date_diff('day', DATE '1992-01-01',
                                  CAST(max(o_orderdate) AS DATE)) AS BIGINT)
                       AS rec_days,
                   CAST(count(*) AS BIGINT) AS freq,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS monetary
            FROM orders GROUP BY o_custkey
        ),
        q AS (
            SELECT quantile_cont(CAST(rec_days AS DOUBLE), [0.25, 0.5, 0.75]) AS qr,
                   quantile_cont(CAST(freq AS DOUBLE), [0.25, 0.5, 0.75]) AS qf,
                   quantile_cont(monetary, [0.25, 0.5, 0.75]) AS qm
            FROM cust
        )
        SELECT (1 + CASE WHEN rec_days > qr[1] THEN 1 ELSE 0 END
                  + CASE WHEN rec_days > qr[2] THEN 1 ELSE 0 END
                  + CASE WHEN rec_days > qr[3] THEN 1 ELSE 0 END) AS r_seg,
               (1 + CASE WHEN freq > qf[1] THEN 1 ELSE 0 END
                  + CASE WHEN freq > qf[2] THEN 1 ELSE 0 END
                  + CASE WHEN freq > qf[3] THEN 1 ELSE 0 END) AS f_seg,
               (1 + CASE WHEN monetary > qm[1] THEN 1 ELSE 0 END
                  + CASE WHEN monetary > qm[2] THEN 1 ELSE 0 END
                  + CASE WHEN monetary > qm[3] THEN 1 ELSE 0 END) AS m_seg,
               CAST(count(*) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_monetary
        FROM cust, q
        GROUP BY 1, 2, 3
    """,
    tags=("tpch", "analytics", "segmentation"),
)
def rfm_segmentation(spark, sf_dir):
    """RFM quartile segmentation.  100-TB shape: one customer-keyed rollup
    over the fact, one 1-row percentile aggregate broadcast back, narrow
    segment assignment, and a <=64-row final rollup — the ntile-window
    formulation this replaces would single-partition-sort every customer
    three times."""
    o = T(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
    )
    probs = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    q = cust.agg(
        F.percentile(F.col("rec_days").cast("double"), probs).alias("qr"),
        F.percentile(F.col("freq").cast("double"), probs).alias("qf"),
        F.percentile("monetary", probs).alias("qm"),
    )

    def seg(v, b):
        return (
            F.lit(1)
            + (F.col(v) > F.col(b)[0]).cast("int")
            + (F.col(v) > F.col(b)[1]).cast("int")
            + (F.col(v) > F.col(b)[2]).cast("int")
        )

    return (
        cust.crossJoin(F.broadcast(q))
        .groupBy(
            seg("rec_days", "qr").alias("r_seg"),
            seg("freq", "qf").alias("f_seg"),
            seg("monetary", "qm").alias("m_seg"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_monetary"),
        )
    )

@register(
    "events_change_point",
    # CUSUM change-point detection per event type over daily counts.  The
    # cumulative sum of (count - mean) is kept INTEGER-EXACT by scaling by
    # n_days: S_d * n_days = n_days * cumsum(cnt) - rank_d * total, all
    # bigints, so the argmax day is deterministic without any double
    # accumulation; the reported cusum divides back down once.  The only
    # windows are partitioned by event_type over day-count rows.
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        ),
        cum AS (
            SELECT d.event_type, d.d,
                   t.n_days * SUM(d.cnt) OVER (PARTITION BY d.event_type
                                               ORDER BY d.d
                                               ROWS UNBOUNDED PRECEDING)
                       - (row_number() OVER (PARTITION BY d.event_type
                                             ORDER BY d.d)) * t.total
                       AS s_scaled,
                   t.n_days, t.total
            FROM daily d JOIN tot t USING (event_type)
        )
        SELECT event_type, d AS change_day,
               CAST(s_scaled AS BIGINT) AS s_scaled,
               CAST(s_scaled AS DOUBLE) / n_days AS cusum
        FROM (
            SELECT event_type, d, s_scaled, n_days,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY abs(s_scaled) DESC, d) AS rnk
            FROM cum
        ) WHERE rnk = 1
    """,
    tags=("events", "timeseries", "anomaly"),
)
def events_change_point(spark, sf_dir):
    """CUSUM change points.  100-TB shape: one corpus pass into a
    (type, day) rollup; everything after runs on day-count-sized tables
    with type-partitioned windows (never unpartitioned); the scaled-integer
    trick keeps the cumulative statistic order-free so partial aggregation
    cannot perturb the argmax."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = daily.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    cum = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "d",
        (
            F.col("n_days") * F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(w) * F.col("total")
        ).alias("s_scaled"),
        "n_days",
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc(F.abs(F.col("s_scaled"))), "d")
    return (
        cum.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("d").alias("change_day"),
            "s_scaled",
            (F.col("s_scaled").cast("double") / F.col("n_days")).alias("cusum"),
        )
    )

@register(
    "session_duration_survival",
    # Survival curve of session durations on a fixed time grid: the
    # fraction of sessions still active at t in {0, 1, 5, 15, 30} minutes.
    # Durations are integral epoch-microsecond spans (last event - first
    # event within the 30-min-gap session), so every count and ratio is
    # exact.
    oracle="""
        WITH m AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ),
        sid AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM m
        ),
        sess AS MATERIALIZED (
            SELECT user_id, epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
            FROM sid GROUP BY user_id, sid
        ),
        grid(t_seconds) AS (VALUES (0), (60), (300), (900), (1800)),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM sess)
        SELECT t_seconds,
               CAST(SUM(CASE WHEN dur_us >= t_seconds * 1000000::BIGINT
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_surviving,
               n_sessions,
               CAST(SUM(CASE WHEN dur_us >= t_seconds * 1000000::BIGINT
                        THEN 1 ELSE 0 END) AS DOUBLE) / n_sessions
                   AS survival_rate
        FROM grid, sess, t
        GROUP BY t_seconds, n_sessions
    """,
    tags=("events", "session", "timeseries"),
)
def session_duration_survival(spark, sf_dir):
    """Session survival curve.  100-TB shape: sessionize once (the same
    user-keyed session_window aggregation every session op shares), then a
    5-point grid cross-joins against the session table into a 5-row
    rollup — counts and ratios are integer-exact."""
    e = T(spark, sf_dir, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us")
        )
        .select("dur_us")
    )
    grid = spark.createDataFrame([(0,), (60,), (300,), (900,), (1800,)], "t_seconds int")
    t = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    surv = F.sum(
        F.when(F.col("dur_us") >= F.col("t_seconds").cast("bigint") * 1000000, 1).otherwise(0)
    )
    return (
        sess.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(t))
        .groupBy("t_seconds", "n_sessions")
        .agg(
            surv.alias("n_surviving"),
            (surv.cast("double") / F.col("n_sessions")).alias("survival_rate"),
        )
        .select("t_seconds", "n_surviving", "n_sessions", "survival_rate")
    )

@register(
    "orders_pareto_share",
    # Pareto concentration check: what revenue share the top decile of
    # customers holds.  Per-customer revenue sums through exact DECIMAL;
    # the decile boundary is a percentile against the customer-level
    # table (interpolation parity pinned by histogram_quantile_estimate);
    # the share divides two exact decimal sums cast to double once.
    oracle="""
        WITH cust AS MATERIALIZED (
            SELECT o_custkey,
                   SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
            FROM orders GROUP BY o_custkey
        ),
        q AS (SELECT quantile_cont(CAST(rev AS DOUBLE), 0.9) AS q90 FROM cust)
        SELECT CAST(count(*) AS BIGINT) AS n_customers,
               CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) > q90 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_top,
               round(ANY_VALUE(q90), 6) AS q90_revenue,
               CAST(SUM(CASE WHEN CAST(rev AS DOUBLE) > q90 THEN rev
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(SUM(rev) AS DOUBLE) AS top_decile_share
        FROM cust, q
    """,
    tags=("tpch", "analytics", "stats"),
)
def orders_pareto_share(spark, sf_dir):
    """Top-decile revenue concentration.  100-TB shape: one customer-keyed
    rollup, a broadcast 1-row percentile, and a 1-row final aggregate —
    no sort, no window."""
    o = T(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    q = cust.agg(F.percentile(F.col("rev").cast("double"), F.lit(0.9)).alias("q90"))
    top = F.col("rev").cast("double") > F.col("q90")
    return (
        cust.crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(top, 1).otherwise(0)).alias("n_top"),
            F.round(F.first("q90"), 6).alias("q90_revenue"),
            (
                F.sum(F.when(top, F.col("rev")).otherwise(F.lit(0).cast("decimal(18,2)"))).cast("double")
                / F.sum("rev").cast("double")
            ).alias("top_decile_share"),
        )
    )

@register(
    "events_periodicity_autocorr",
    # Autocorrelation of the daily event-count series at lags 1..7 — the
    # weekly-seasonality detector.  Exactness: with x the daily counts,
    # r_L = Σ(n·x_d − T)(n·x_{d−L} − T) / Σ(n·x_d − T)² where T = Σx —
    # every factor is an integer (scaled by n, the day count), products
    # sum through DECIMAL(38,0), and the single ratio rounds to 6dp.
    oracle="""
        WITH daily AS MATERIALIZED (
            SELECT CAST(epoch_us(date_trunc('day', ts)) // 86400000000 AS BIGINT)
                       AS dint,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1
        ),
        t AS (SELECT CAST(SUM(x) AS BIGINT) AS tot,
                     CAST(count(*) AS BIGINT) AS n FROM daily),
        lags(lag) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
        den AS (
            SELECT SUM(CAST((n * x - tot) AS DECIMAL(38,0))
                       * CAST((n * x - tot) AS DECIMAL(38,0))) AS den
            FROM daily, t
        ),
        num AS (
            SELECT lag,
                   SUM(CAST((t.n * a.x - t.tot) AS DECIMAL(38,0))
                       * CAST((t.n * b.x - t.tot) AS DECIMAL(38,0))) AS num
            FROM lags, daily a
            JOIN daily b ON b.dint = a.dint - lag
            CROSS JOIN t
            GROUP BY lag
        )
        SELECT lags.lag,
               round(CAST(coalesce(num.num, 0) AS DOUBLE)
                     / CAST(den.den AS DOUBLE), 6) AS autocorr
        FROM lags LEFT JOIN num USING (lag) CROSS JOIN den
    """,
    tags=("events", "timeseries", "stats"),
)
def events_periodicity_autocorr(spark, sf_dir):
    """Daily-count autocorrelation.  100-TB shape: one corpus pass into the
    day rollup; the lag joins and moment sums run on the day-count table
    (weeks of days, not events).  The scaled-integer trick keeps both
    moments order-free, so partial aggregation cannot move the ratio."""
    e = T(spark, sf_dir, "events")
    daily = e.groupBy(
        (F.unix_micros(F.date_trunc("day", "ts")) / F.lit(86400000000))
        .cast("bigint")
        .alias("dint")
    ).agg(F.count(F.lit(1)).alias("x"))
    t = daily.agg(F.sum("x").alias("tot"), F.count(F.lit(1)).alias("n"))
    dt = daily.crossJoin(F.broadcast(t))
    dev = (F.col("n") * F.col("x") - F.col("tot")).cast("decimal(38,0)")
    den = dt.agg(F.sum(dev * dev).alias("den"))
    lags = spark.createDataFrame([(i,) for i in range(1, 8)], "lag int")
    a = dt.select("dint", "x", "tot", "n")
    b = daily.select(F.col("dint").alias("dint_b"), F.col("x").alias("xb"))
    deva = (F.col("n") * F.col("x") - F.col("tot")).cast("decimal(38,0)")
    devb = (F.col("n") * F.col("xb") - F.col("tot")).cast("decimal(38,0)")
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("dint_b") == F.col("dint") - F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(deva * devb).alias("num"))
    )
    return (
        lags.join(num, "lag", "left")
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            F.round(
                F.coalesce(F.col("num"), F.lit(0)).cast("double")
                / F.col("den").cast("double"),
                6,
            ).alias("autocorr"),
        )
    )

@register(
    "event_hour_dow_heatmap",
    # The weekly activity heatmap: event counts by (ISO day-of-week, hour
    # of day) with each cell's share of the total — 168 rows whatever the
    # corpus size.  ISO day numbering is used on BOTH engines (Spark
    # dayofweek() and DuckDB dow() disagree on Sunday; isodow/
    # DAYOFWEEK_ISO agree).
    oracle="""
        WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
        SELECT CAST(isodow(ts) AS INTEGER) AS dow,
               CAST(extract(hour FROM ts) AS INTEGER) AS hour,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) AS DOUBLE) / ANY_VALUE(total) AS share
        FROM events, t
        GROUP BY 1, 2
    """,
    tags=("events", "timeseries", "analytics"),
)
def event_hour_dow_heatmap(spark, sf_dir):
    """Hour × weekday heatmap.  100-TB shape: one partial+final rollup on
    a 168-value key, total via a broadcast 1-row aggregate."""
    e = T(spark, sf_dir, "events")
    t = e.agg(F.count(F.lit(1)).alias("total"))
    return (
        e.crossJoin(F.broadcast(t))
        .groupBy(
            F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)).cast("double") / F.first("total")).alias("share"),
        )
    )

@register(
    "scd2_user_state_intervals",
    # Slowly-changing-dimension type-2 build: compress each user's event
    # stream to state-CHANGE rows (event_type != previous) and emit
    # validity intervals [valid_from, valid_to) with NULL valid_to on the
    # current state — the warehouse dimension-maintenance primitive.
    # Ordering ties break on event_id, so lag/lead agree across engines.
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ),
        changes AS (
            SELECT user_id, event_type AS state, ts AS valid_from
            FROM o WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, state, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from) AS valid_to
        FROM changes
    """,
    tags=("events", "scd", "warehouse"),
)
def scd2_user_state_intervals(spark, sf_dir):
    """SCD-2 interval build.  100-TB shape: both windows are keyed on
    user_id (never unpartitioned); the change compression collapses
    per-user volume before the second window, so the interval table is
    state-change sized."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", F.col("event_type").alias("state"), F.col("ts").alias("valid_from"))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
    )

@register(
    "grouped_quantile_estimate",
    # Per-group single-pass quantiles: the 64-bin histogram estimate vs the
    # exact percentile, PER EVENT TYPE — the grouped version of
    # histogram_quantile_estimate (the realistic shape: one tiny rollup
    # per group, cumulated inside the group key, never a global sort).
    oracle="""
        WITH s AS MATERIALIZED (
            SELECT event_type, min(value) AS lo, max(value) AS hi,
                   count(*) AS n
            FROM events GROUP BY event_type
        ),
        hist AS MATERIALIZED (
            SELECT e.event_type,
                   least(CAST(floor((value - lo) / (hi - lo) * 64) AS INT), 63)
                       AS bin,
                   count(*) AS cnt
            FROM events e JOIN s USING (event_type)
            GROUP BY 1, 2
        ),
        cum AS (
            SELECT event_type, bin, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM hist
        ),
        probes(qi, q) AS (VALUES (0, 0.5), (1, 0.9)),
        est AS (
            SELECT s.event_type, qi, q,
                   lo + (bin + (q * n - (cum - cnt)) / cnt) * (hi - lo) / 64
                       AS est_raw
            FROM probes, cum
            JOIN s USING (event_type)
            WHERE cum >= q * n AND cum - cnt < q * n
        ),
        ex AS (
            SELECT event_type, u.x.qi AS qi, u.x.ex AS ex FROM (
                SELECT event_type,
                       unnest(list_transform(quantile_cont(value, [0.5, 0.9]),
                              (e, i) -> struct_pack(qi := i - 1, ex := e))) AS x
                FROM events GROUP BY event_type
            ) u
        )
        SELECT est.event_type, CAST(q AS DOUBLE) AS q,
               round(est_raw, 6) AS est_q, round(ex, 6) AS exact_q,
               round(abs(round(est_raw, 6) - round(ex, 6)), 6) AS abs_err
        FROM est JOIN ex USING (event_type, qi)
    """,
    tags=("quantile", "sketch", "scale"),
)
def grouped_quantile_estimate(spark, sf_dir):
    """Per-type histogram quantiles vs exact.  100-TB shape: two narrow
    scans into (type)- and (type, bin)-keyed rollups, the cumulation
    window partitioned by the group key over <=64 rows per group, and the
    exact side one percentile aggregate per group for the audit."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    hist = (
        e.join(F.broadcast(s), "event_type")
        .select(
            "event_type",
            F.least(
                F.floor(
                    (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 64
                ).cast("int"),
                F.lit(63),
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    probes = spark.createDataFrame([(0, 0.5), (1, 0.9)], "qi int, q double")
    est = (
        probes.crossJoin(F.broadcast(cum))
        .join(F.broadcast(s), "event_type")
        .filter(
            (F.col("cum") >= F.col("q") * F.col("n"))
            & (F.col("cum") - F.col("cnt") < F.col("q") * F.col("n"))
        )
        .select(
            "event_type",
            "qi",
            "q",
            (
                F.col("lo")
                + (
                    F.col("bin")
                    + (F.col("q") * F.col("n") - (F.col("cum") - F.col("cnt")))
                    / F.col("cnt")
                )
                * (F.col("hi") - F.col("lo"))
                / 64
            ).alias("est_raw"),
        )
    )
    ex = (
        e.groupBy("event_type")
        .agg(
            F.percentile("value", F.array(F.lit(0.5), F.lit(0.9))).alias("exs")
        )
        .select("event_type", F.posexplode("exs").alias("qi", "ex"))
    )
    return est.join(ex, ["event_type", "qi"]).select(
        "event_type",
        "q",
        F.round("est_raw", 6).alias("est_q"),
        F.round("ex", 6).alias("exact_q"),
        F.round(F.abs(F.round("est_raw", 6) - F.round("ex", 6)), 6).alias("abs_err"),
    )

@register(
    "cohort_revenue_matrix",
    # Cohort lifetime-value matrix: customers bucketed by first-order
    # month, revenue per (cohort_month, month_offset) through exact
    # DECIMAL — the revenue twin of retention_cohorts.  Month arithmetic
    # is integer (year*12+month), so offsets agree across engines.
    oracle="""
        WITH first_order AS (
            SELECT o_custkey,
                   CAST(min(year(o_orderdate) * 12 + month(o_orderdate))
                       AS BIGINT) AS cohort_m
            FROM orders GROUP BY o_custkey
        )
        SELECT f.cohort_m,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate)
                    AS BIGINT) - f.cohort_m AS month_offset,
               CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_customers,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders o JOIN first_order f USING (o_custkey)
        GROUP BY 1, 2
    """,
    tags=("tpch", "analytics", "retention"),
)
def cohort_revenue_matrix(spark, sf_dir):
    """Cohort LTV matrix.  100-TB shape: one customer-keyed first-order
    rollup joined back on the customer key, then a (cohort, offset)-keyed
    rollup — the matrix is months², not order-volume, sized."""
    o = T(spark, sf_dir, "orders")
    mexpr = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    first = o.groupBy("o_custkey").agg(F.min(mexpr).alias("cohort_m"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_m",
            (mexpr - F.col("cohort_m")).alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )

@register(
    "events_user_entropy",
    # Per-user event-type Shannon entropy — the exploration-vs-habit
    # behavioral feature (and the same decimal-summed p*ln(p) discipline
    # as term_entropy_by_source, keyed by user instead of source).
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2
        ),
        t AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS tot
              FROM c GROUP BY user_id)
        SELECT c.user_id, count(*) AS n_types,
               round(-CAST(SUM(CAST(round(
                   (CAST(cnt AS DOUBLE) / tot)
                       * round(ln(CAST(cnt AS DOUBLE) / tot), 6), 12)
                   AS DECIMAL(16,12))) AS DOUBLE), 6) AS entropy
        FROM c JOIN t USING (user_id)
        GROUP BY c.user_id
    """,
    tags=("events", "stats", "analytics"),
)
def events_user_entropy(spark, sf_dir):
    """Per-user behavioral entropy.  100-TB shape: one (user, type)-keyed
    rollup (types are bounded, so this is ~users-sized), totals joined
    back on the user key, one more user-keyed rollup."""
    e = T(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("user_id").agg(F.sum("cnt").alias("tot"))
    pcol = F.col("cnt").cast("double") / F.col("tot")
    term = F.round(pcol * F.round(F.log(pcol), 6), 12).cast("decimal(16,12)")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.round(-F.sum(term).cast("double"), 6).alias("entropy"),
        )
    )

@register(
    "events_tukey_fences",
    # Tukey-fence outlier census per event type: counts outside
    # [q1 - 1.5*IQR, q3 + 1.5*IQR] — the boxplot rule, complementing
    # event_robust_outliers' median/MAD z-scores.  Quartiles come from the
    # parity-pinned percentile; fence comparisons run against identical
    # boundary doubles, so the counts are exact integers.
    oracle="""
        WITH q AS MATERIALIZED (
            SELECT event_type,
                   quantile_cont(value, 0.25) AS q1,
                   quantile_cont(value, 0.75) AS q3
            FROM events GROUP BY event_type
        )
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value < q1 - 1.5 * (q3 - q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
               CAST(SUM(CASE WHEN value > q3 + 1.5 * (q3 - q1)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
               round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
               round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
        FROM events e JOIN q USING (event_type)
        GROUP BY e.event_type, q1, q3
    """,
    tags=("events", "anomaly", "stats"),
)
def events_tukey_fences(spark, sf_dir):
    """Boxplot-rule outlier counts.  100-TB shape: one percentile rollup
    per type broadcast back over a second narrow pass — same two-pass
    broadcast-enrich shape as event_robust_outliers."""
    e = T(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("value") < F.col("q1") - 1.5 * iqr, 1).otherwise(0)
            ).alias("n_low"),
            F.sum(
                F.when(F.col("value") > F.col("q3") + 1.5 * iqr, 1).otherwise(0)
            ).alias("n_high"),
        )
        .select(
            "event_type",
            "n",
            "n_low",
            "n_high",
            F.round(F.col("q1") - 1.5 * iqr, 6).alias("lo_fence"),
            F.round(F.col("q3") + 1.5 * iqr, 6).alias("hi_fence"),
        )
    )

@register(
    "orders_priority_mix_shift",
    # Categorical distribution drift: each month's order-priority mix
    # versus the global mix, scored by L1 distance — the relational twin
    # of embedding_drift_by_label (is this month's traffic composed
    # differently?).  Shares are bigint ratios; the L1 sum pre-rounds each
    # |share - global_share| to 9dp and sums through exact DECIMAL.
    oracle="""
        WITH m AS (
            SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                       AS ym,
                   o_orderpriority AS pri, CAST(count(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2
        ),
        mt AS (SELECT ym, CAST(SUM(c) AS BIGINT) AS mtot FROM m GROUP BY ym),
        g AS (
            SELECT pri, CAST(SUM(c) AS BIGINT) AS gc FROM m GROUP BY pri
        ),
        gt AS (SELECT CAST(SUM(gc) AS BIGINT) AS gtot FROM g)
        SELECT m.ym, mt.mtot AS n_orders,
               round(CAST(SUM(CAST(round(abs(
                   CAST(m.c AS DOUBLE) / mt.mtot
                       - CAST(g.gc AS DOUBLE) / gt.gtot), 9)
                   AS DECIMAL(12,9))) AS DOUBLE), 6) AS l1_drift
        FROM m
        JOIN mt USING (ym)
        JOIN g USING (pri)
        CROSS JOIN gt
        GROUP BY m.ym, mt.mtot
    """,
    tags=("tpch", "drift", "analytics"),
)
def orders_priority_mix_shift(spark, sf_dir):
    """Monthly priority-mix L1 drift.  100-TB shape: one (month, priority)
    rollup, month/global totals broadcast back, a month-keyed final
    rollup — everything after the first pass is months x priorities
    sized."""
    o = T(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint")
    m = o.groupBy(ym.alias("ym"), F.col("o_orderpriority").alias("pri")).agg(
        F.count(F.lit(1)).alias("c")
    )
    mt = m.groupBy("ym").agg(F.sum("c").alias("mtot"))
    g = m.groupBy("pri").agg(F.sum("c").alias("gc"))
    gt = g.agg(F.sum("gc").alias("gtot"))
    term = F.round(
        F.abs(
            F.col("c").cast("double") / F.col("mtot")
            - F.col("gc").cast("double") / F.col("gtot")
        ),
        9,
    ).cast("decimal(12,9)")
    return (
        m.join(F.broadcast(mt), "ym")
        .join(F.broadcast(g), "pri")
        .crossJoin(F.broadcast(gt))
        .groupBy("ym", F.col("mtot").alias("n_orders"))
        .agg(F.round(F.sum(term).cast("double"), 6).alias("l1_drift"))
    )

@register(
    "user_interevent_gap_histogram",
    # Arrival-process profile: the distribution of per-user inter-event
    # gaps over fixed integral-microsecond buckets (<1s, <1m, <10m, <1h,
    # >=1h) — the table that picks sessionization gaps and watermark
    # widths.  Gaps are exact integers; bucket edges are literals, so the
    # census is bit-free.
    oracle="""
        WITH g AS (
            SELECT epoch_us(ts) - epoch_us(lag(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
            FROM events
        )
        SELECT CASE WHEN gap_us < 1000000 THEN 'a_lt_1s'
                    WHEN gap_us < 60000000 THEN 'b_lt_1m'
                    WHEN gap_us < 600000000 THEN 'c_lt_10m'
                    WHEN gap_us < 3600000000 THEN 'd_lt_1h'
                    ELSE 'e_ge_1h' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY 1
    """,
    tags=("events", "session", "stats"),
)
def user_interevent_gap_histogram(spark, sf_dir):
    """Inter-event gap census.  100-TB shape: one user-keyed lag window
    (key-partitioned, never global) into a 5-key rollup."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    bucket = (
        F.when(F.col("gap_us") < 1000000, "a_lt_1s")
        .when(F.col("gap_us") < 60000000, "b_lt_1m")
        .when(F.col("gap_us") < 600000000, "c_lt_10m")
        .when(F.col("gap_us") < 3600000000, "d_lt_1h")
        .otherwise("e_ge_1h")
    )
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )

@register(
    "nation_revenue_hhi",
    # Market-concentration audit: the Herfindahl-Hirschman index of
    # supplier revenue shares within each nation (lineitem x supplier x
    # nation, the q5-family join tree).  Revenue sums through exact
    # DECIMAL; each squared share pre-rounds to 12dp and sums through
    # DECIMAL, so the index is deterministic.
    oracle="""
        WITH sr AS MATERIALIZED (
            SELECT s.s_nationkey, l.l_suppkey,
                   SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                       AS DECIMAL(18,4))) AS rev
            FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
            GROUP BY 1, 2
        ),
        nt AS (SELECT s_nationkey, SUM(rev) AS tot FROM sr GROUP BY 1)
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               round(CAST(SUM(CAST(round(
                   (CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE))
                       * (CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE)), 12)
                   AS DECIMAL(16,12))) AS DOUBLE), 6) AS hhi
        FROM sr
        JOIN nt USING (s_nationkey)
        JOIN nation n ON n.n_nationkey = sr.s_nationkey
        GROUP BY n.n_name
    """,
    tags=("tpch", "analytics", "stats"),
)
def nation_revenue_hhi(spark, sf_dir):
    """Per-nation supplier-revenue HHI.  100-TB shape: the fact rolls up
    on (nation, supplier) first (partial+final agg), nation totals and the
    25-row nation dim broadcast back, and the index is a nation-keyed
    rollup of squared shares."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    sr = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(rev).alias("rev"))
    )
    nt = sr.groupBy("s_nationkey").agg(F.sum("rev").alias("tot"))
    share = F.col("rev").cast("double") / F.col("tot").cast("double")
    term = F.round(share * share, 12).cast("decimal(16,12)")
    return (
        sr.join(F.broadcast(nt), "s_nationkey")
        .join(F.broadcast(n), sr.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(term).cast("double"), 6).alias("hhi"),
        )
    )

@register(
    "join_key_skew_profile",
    # The skew diagnostic run BEFORE a big join: per-key frequency profile
    # of lineitem's order key — row count, distinct keys, max/mean
    # frequency, the skew factor that decides between a plain shuffle
    # join, AQE skew splitting, or salting (scale_salted_join is the
    # treatment; this is the diagnosis).  All counts are integers; the
    # ratios divide exact bigints once.
    oracle="""
        WITH c AS MATERIALIZED (
            SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               CAST(SUM(cnt) AS DOUBLE) / count(*) AS mean_cnt,
               round(CAST(max(cnt) AS DOUBLE)
                     / (CAST(SUM(cnt) AS DOUBLE) / count(*)), 6) AS skew_factor,
               round(quantile_cont(CAST(cnt AS DOUBLE), 0.99), 6) AS p99_cnt
        FROM c
    """,
    tags=("join", "scale", "stats"),
)
def join_key_skew_profile(spark, sf_dir):
    """Join-key skew profile.  100-TB shape: one partial+final rollup on
    the join key, then a 1-row aggregate over the key-cardinality-sized
    count table — the cheap pass that decides the join strategy."""
    li = T(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return c.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("mean_cnt"),
        F.round(
            F.max("cnt").cast("double")
            / (F.sum("cnt").cast("double") / F.count(F.lit(1))),
            6,
        ).alias("skew_factor"),
        F.round(F.percentile(F.col("cnt").cast("double"), F.lit(0.99)), 6).alias(
            "p99_cnt"
        ),
    )

@register(
    "order_to_ship_leadtime",
    # Order-to-ship lead time by order month: lineitem joined back to its
    # order, whole-day lead = ship date - order date (exact integers),
    # mean through DECIMAL and exact median (6dp-rounded interpolation) —
    # the fulfillment-SLA trend line.
    oracle="""
        SELECT CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) AS BIGINT)
                   AS ym,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                       CAST(l.l_shipdate AS DATE))
                        AS DECIMAL(18,0))) AS DOUBLE) / count(*)
                   AS mean_lead_days,
               round(median(date_diff('day', CAST(o.o_orderdate AS DATE),
                                      CAST(l.l_shipdate AS DATE))), 6)
                   AS median_lead_days
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1
    """,
    tags=("tpch", "analytics", "timeseries"),
)
def order_to_ship_leadtime(spark, sf_dir):
    """Monthly fulfillment lead time.  100-TB shape: the fact-fact join
    shuffles on the shared order key (or rides bucketing when both sides
    are bucketed by it — scale_bucketed_join is the layout), then a
    months-sized rollup with integer-exact day arithmetic."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    lead = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
            .cast("bigint")
            .alias("ym")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (
                F.sum(lead.cast("decimal(18,0)")).cast("double") / F.count(F.lit(1))
            ).alias("mean_lead_days"),
            F.round(F.median(lead), 6).alias("median_lead_days"),
        )
    )

@register(
    "orders_seasonal_ma_decompose",
    # Classical decomposition of the monthly order-count series: a
    # centered 3-month moving average as the trend and the residual
    # against it.  Counts are integers; the MA multiplies by 3 instead of
    # dividing (trend3 = sum of the window, an exact integer), so trend
    # and residual are emitted as exact scaled integers plus one final
    # double division — bit-free on both engines.  The month table is
    # bounded, so its window is metadata-sized by construction.
    oracle="""
        WITH m AS (
            SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
                       AS ym,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        w AS (
            SELECT ym, n,
                   CAST(SUM(n) OVER (ORDER BY ym ROWS BETWEEN 1 PRECEDING
                                     AND 1 FOLLOWING) AS BIGINT) AS win_sum,
                   CAST(count(*) OVER (ORDER BY ym ROWS BETWEEN 1 PRECEDING
                                       AND 1 FOLLOWING) AS BIGINT) AS win_n
            FROM m
        )
        SELECT ym, n,
               CAST(win_sum AS DOUBLE) / win_n AS trend,
               n - CAST(win_sum AS DOUBLE) / win_n AS residual
        FROM w
    """,
    tags=("tpch", "timeseries", "analytics"),
)
def orders_seasonal_ma_decompose(spark, sf_dir):
    """Monthly trend/residual decomposition.  100-TB shape: one corpus
    pass into the months-sized rollup; the centered-window stage runs on
    the bounded month table (the same bounded-input exemption
    vocab_coverage_curve uses)."""
    from pyspark.sql import Window

    o = T(spark, sf_dir, "orders")
    m = o.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("ym")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("ym").rowsBetween(-1, 1)
    trend = F.sum("n").over(w).cast("double") / F.count(F.lit(1)).over(w)
    return m.select(
        "ym",
        "n",
        trend.alias("trend"),
        (F.col("n") - trend).alias("residual"),
    )

@register(
    "customer_balance_revenue_corr",
    # Does a customer's account balance predict their spend?  Pearson
    # between c_acctbal and total order revenue over the customer-key
    # join, with both variables carried as exact DECIMAL into the moment
    # sums — the cross-table feature-correlation probe (customers with no
    # orders contribute zero revenue via the left join).
    oracle="""
        WITH cr AS MATERIALIZED (
            SELECT c.c_custkey,
                   CAST(c.c_acctbal AS DECIMAL(18,2)) AS x,
                   coalesce(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))),
                            CAST(0 AS DECIMAL(18,2))) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey, c.c_acctbal
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM cr
        )
        SELECT n AS n_customers,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                    THEN NULL
                    ELSE round((n * sxy - sx * sy)
                               / (sqrt(n * sxx - sx * sx)
                                  * sqrt(n * syy - sy * sy)), 6)
               END AS pearson_r
        FROM s
    """,
    tags=("tpch", "stats", "analytics"),
)
def customer_balance_revenue_corr(spark, sf_dir):
    """Balance-vs-revenue Pearson.  100-TB shape: one customer-keyed
    rollup over the left join, one 1-row exact-decimal moment aggregate,
    closed-form r with a zero-variance guard."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    cr = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            ).alias("y")
        )
        .select(F.col("c_acctbal").cast("decimal(18,2)").alias("x"), "y")
    )
    s = cr.agg(
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
        F.col("n").alias("n_customers"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(F.round((n * sxy - sx * sy) / (F.sqrt(vx) * F.sqrt(vy)), 6))
        .alias("pearson_r"),
    )

@register(
    "dau_mau_stickiness",
    # The growth-analytics stickiness table: per month, distinct monthly
    # actives (MAU), the mean daily-active count (sum of per-day DAU over
    # days, exact integers), and their ratio — how much of the monthly
    # audience shows up on an average day.
    oracle="""
        WITH dau AS (
            SELECT CAST(year(ts) * 12 + month(ts) AS BIGINT) AS ym,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM events GROUP BY 1, 2
        ),
        mau AS (
            SELECT CAST(year(ts) * 12 + month(ts) AS BIGINT) AS ym,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS mau
            FROM events GROUP BY 1
        )
        SELECT dau.ym, ANY_VALUE(mau.mau) AS mau,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(SUM(dau.dau) AS DOUBLE) / count(*) AS mean_dau,
               round(CAST(SUM(dau.dau) AS DOUBLE) / count(*)
                     / ANY_VALUE(mau.mau), 6) AS stickiness
        FROM dau JOIN mau USING (ym)
        GROUP BY dau.ym
    """,
    tags=("events", "retention", "analytics"),
)
def dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness.  100-TB shape: two distinct-user rollups (day
    and month keys — partial aggregation collapses per-user volume early),
    joined on the month key into a months-sized output."""
    e = T(spark, sf_dir, "events")
    ym = (F.year("ts") * 12 + F.month("ts")).cast("bigint")
    dau = e.groupBy(
        ym.alias("ym"), F.date_trunc("day", "ts").alias("d")
    ).agg(F.countDistinct("user_id").alias("dau"))
    mau = e.groupBy(ym.alias("ym")).agg(F.countDistinct("user_id").alias("mau"))
    return (
        dau.join(F.broadcast(mau), "ym")
        .groupBy("ym")
        .agg(
            F.first("mau").alias("mau"),
            F.count(F.lit(1)).alias("n_days"),
            (F.sum("dau").cast("double") / F.count(F.lit(1))).alias("mean_dau"),
            F.round(
                F.sum("dau").cast("double") / F.count(F.lit(1)) / F.first("mau"), 6
            ).alias("stickiness"),
        )
    )

# Benford expected frequencies log10(1 + 1/d), computed once here and
# injected into both engines as identical literals (log10 is not
# correctly-rounded, so neither engine computes it at query time)
_BENFORD = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}

@register(
    "benford_first_digit",
    # Benford's-law audit of order totals: observed first-significant-
    # digit frequencies against the expected log10(1 + 1/d) — the
    # fabricated-data screen.  The digit extracts from the decimal's text
    # form (exact); expected frequencies are module-level literals shared
    # by both engines; the deviation differences two 6dp-rounded values.
    oracle=f"""
        WITH d AS (
            SELECT CAST(substr(regexp_extract(
                       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                       '[1-9]', 0), 1, 1) AS INT) AS digit
            FROM orders
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        exp_f(digit, expected) AS (VALUES {", ".join(
            f"({k}, {v!r})" for k, v in _BENFORD.items())})
        SELECT e.digit,
               CAST(coalesce(c.cnt, 0) AS BIGINT) AS n_obs,
               round(CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.n, 6) AS observed,
               round(CAST(e.expected AS DOUBLE), 6) AS expected,
               round(abs(round(CAST(coalesce(c.cnt, 0) AS DOUBLE) / t.n, 6)
                         - round(CAST(e.expected AS DOUBLE), 6)), 6) AS abs_dev
        FROM exp_f e
        LEFT JOIN (SELECT digit, CAST(count(*) AS BIGINT) AS cnt
                   FROM d GROUP BY digit) c USING (digit)
        CROSS JOIN t
    """,
    tags=("tpch", "audit", "stats"),
)
def benford_first_digit(spark, sf_dir):
    """Benford first-digit audit.  100-TB shape: one narrow digit-extract
    pass into a 9-key rollup against a broadcast literal table."""
    o = T(spark, sf_dir, "orders")
    digit = F.substring(
        F.regexp_extract(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), "[1-9]", 0
        ),
        1,
        1,
    ).cast("int")
    d = o.select(digit.alias("digit"))
    t = d.agg(F.count(F.lit(1)).alias("n"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    exp_f = spark.createDataFrame(
        [(k, v) for k, v in _BENFORD.items()], "digit int, expected double"
    )
    obs = F.round(F.coalesce("cnt", F.lit(0)).cast("double") / F.col("n"), 6)
    return (
        exp_f.join(c, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("cnt", F.lit(0)).alias("n_obs"),
            obs.alias("observed"),
            F.round("expected", 6).alias("expected"),
            F.round(F.abs(obs - F.round("expected", 6)), 6).alias("abs_dev"),
        )
    )

@register(
    "sessions_per_user_distribution",
    # How many 30-min sessions a user generates over the window — the
    # engagement-depth histogram (1, 2-5, 6-20, 21+ buckets) built on the
    # same gap-sessionization every session operator shares.  Counts are
    # exact integers.
    oracle="""
        WITH m AS (
            SELECT user_id, ts,
                   CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             < INTERVAL 30 MINUTE
                        THEN 0 ELSE 1 END AS new_s
            FROM events
        ),
        per_user AS (
            SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions
            FROM m GROUP BY user_id
        )
        SELECT CASE WHEN n_sessions = 1 THEN 'a_1'
                    WHEN n_sessions <= 5 THEN 'b_2_5'
                    WHEN n_sessions <= 20 THEN 'c_6_20'
                    ELSE 'd_21_plus' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(SUM(n_sessions) AS BIGINT) AS n_sessions
        FROM per_user GROUP BY 1
    """,
    tags=("events", "session", "analytics"),
)
def sessions_per_user_distribution(spark, sf_dir):
    """Engagement-depth histogram.  100-TB shape: the user-keyed lag
    window (key-partitioned) collapses to one row per user, then a 4-key
    rollup."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    m = e.select(
        "user_id",
        F.when(
            (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)))
            < 1800 * 1000000,
            0,
        )
        .otherwise(1)
        .alias("new_s"),
    )
    per_user = m.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))
    bucket = (
        F.when(F.col("n_sessions") == 1, "a_1")
        .when(F.col("n_sessions") <= 5, "b_2_5")
        .when(F.col("n_sessions") <= 20, "c_6_20")
        .otherwise("d_21_plus")
    )
    return per_user.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_sessions").alias("n_sessions"),
    )

@register(
    "conversion_lag_distribution",
    # Click-to-purchase lag spectrum: for every purchase, the most recent
    # strictly-earlier click by the same user (the attribution pairing),
    # bucketed by exact microsecond lag — the table that sizes attribution
    # windows.  The last-click lookup is a user-keyed running max over
    # (ts, event_id) order excluding the current row, identical on both
    # engines; unattributed purchases land in their own bucket.
    oracle="""
        WITH u AS (
            SELECT user_id, ts, event_id, event_type
            FROM events WHERE event_type IN ('click', 'purchase')
        ),
        w AS (
            SELECT user_id, ts, event_id, event_type,
                   max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_us
            FROM u
        ),
        lags AS (
            SELECT epoch_us(ts) - last_click_us AS lag_us
            FROM w WHERE event_type = 'purchase'
        )
        SELECT CASE WHEN lag_us IS NULL THEN 'z_no_click'
                    WHEN lag_us < 60000000 THEN 'a_lt_1m'
                    WHEN lag_us < 600000000 THEN 'b_lt_10m'
                    WHEN lag_us < 3600000000 THEN 'c_lt_1h'
                    WHEN lag_us < 21600000000 THEN 'd_lt_6h'
                    ELSE 'e_ge_6h' END AS bucket,
               CAST(count(*) AS BIGINT) AS n_purchases
        FROM lags GROUP BY 1
    """,
    tags=("events", "asof", "analytics"),
)
def conversion_lag_distribution(spark, sf_dir):
    """Attribution-lag spectrum.  100-TB shape: one user-keyed window over
    the click/purchase subset (filter pushed to the scan), then a 6-key
    rollup — the distribution behind asof_purchase_attribution's pairing."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    u = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lag_us = F.unix_micros("ts") - F.max(
        F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    ).over(w)
    lags = (
        u.withColumn("lag_us", lag_us)
        .filter(F.col("event_type") == "purchase")
        .select("lag_us")
    )
    bucket = (
        F.when(F.col("lag_us").isNull(), "z_no_click")
        .when(F.col("lag_us") < 60000000, "a_lt_1m")
        .when(F.col("lag_us") < 600000000, "b_lt_10m")
        .when(F.col("lag_us") < 3600000000, "c_lt_1h")
        .when(F.col("lag_us") < 21600000000, "d_lt_6h")
        .otherwise("e_ge_6h")
    )
    return lags.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_purchases")
    )

_LN2 = 0.6931471805599453  # ln(2), shared literal for both engines

@register(
    "retention_halflife_fit",
    # Retention half-life: the share of the user base active at day
    # offset d (0..20) from each user's first-seen day, fitted as
    # ln(share) ~ d — the exponential-decay summary of the retention
    # matrix (retention_cohorts is the full table; this is its one-number
    # forecast).  Shares are bigint ratios, ln pre-rounds to 6dp into
    # DECIMAL sums, ln(2) is a shared literal, and a non-negative-slope
    # guard returns NULL half-life on both engines.
    oracle=f"""
        WITH first_seen AS (
            SELECT user_id, CAST(min(ts) AS DATE) AS d0 FROM events
            GROUP BY user_id
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM first_seen),
        act AS (
            SELECT DISTINCT e.user_id,
                   datediff('day', f.d0, CAST(e.ts AS DATE)) AS off
            FROM events e JOIN first_seen f USING (user_id)
        ),
        sh AS (
            SELECT off, CAST(count(*) AS BIGINT) AS n_active FROM act
            WHERE off BETWEEN 0 AND 20 GROUP BY off
        ),
        xy AS (
            SELECT CAST(off AS DECIMAL(12,6)) AS x,
                   CAST(round(ln(CAST(n_active AS DOUBLE) / n_users), 6)
                        AS DECIMAL(12,6)) AS y
            FROM sh, t WHERE n_active > 0
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx
            FROM xy
        )
        SELECT n AS n_points,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
               CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) >= 0
                    THEN NULL
                    ELSE round(-{_LN2!r}
                               / ((n * sxy - sx * sy) / (n * sxx - sx * sx)), 6)
               END AS halflife_days
        FROM s
    """,
    tags=("events", "retention", "stats"),
)
def retention_halflife_fit(spark, sf_dir):
    """Retention half-life.  100-TB shape: the same two shuffles as
    retention_cohorts (user key, then the offset rollup), a 21-row fit
    table, closed-form OLS."""
    e = T(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min("ts").cast("date").alias("d0"))
    t = first.agg(F.count(F.lit(1)).alias("n_users"))
    act = (
        e.join(first, "user_id")
        .select(
            "user_id", F.datediff(F.col("ts").cast("date"), F.col("d0")).alias("off")
        )
        .distinct()
    )
    sh = (
        act.filter((F.col("off") >= 0) & (F.col("off") <= 20))
        .groupBy("off")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    xy = (
        sh.crossJoin(F.broadcast(t))
        .filter(F.col("n_active") > 0)
        .select(
            F.col("off").cast("decimal(12,6)").alias("x"),
            F.round(
                F.log(F.col("n_active").cast("double") / F.col("n_users")), 6
            )
            .cast("decimal(12,6)")
            .alias("y"),
        )
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
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        F.col("n").alias("n_points"),
        F.round(slope, 6).alias("slope"),
        F.when(slope >= 0, F.lit(None).cast("double"))
        .otherwise(F.round(-F.lit(_LN2) / slope, 6))
        .alias("halflife_days"),
    )

@register(
    "weekly_value_wow_growth",
    # Week-over-week growth of total event value: weekly exact-DECIMAL
    # sums with the previous week's total lagged over the bounded week
    # table — the growth dashboard line.  The ratio divides two exact
    # decimal-derived doubles once and rounds to 6dp; the first week emits
    # NULL growth on both engines.
    oracle="""
        WITH wk AS (
            SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
                   SUM(CAST(value AS DECIMAL(18,3))) AS total
            FROM events GROUP BY 1
        )
        SELECT week_start,
               CAST(total AS DOUBLE) AS total_value,
               round(CAST(total AS DOUBLE)
                     / lag(CAST(total AS DOUBLE)) OVER (ORDER BY week_start)
                     - 1, 6) AS wow_growth
        FROM wk
    """,
    tags=("events", "timeseries", "analytics"),
)
def weekly_value_wow_growth(spark, sf_dir):
    """Week-over-week value growth.  100-TB shape: one corpus pass into
    the weeks-sized rollup; the lag window runs on the bounded week
    table."""
    from pyspark.sql import Window

    e = T(spark, sf_dir, "events")
    wk = e.groupBy(F.date_trunc("week", "ts").alias("week_start")).agg(
        F.sum(F.col("value").cast("decimal(18,3)")).alias("total")
    )
    w = Window.orderBy("week_start")
    total_d = F.col("total").cast("double")
    return wk.select(
        "week_start",
        total_d.alias("total_value"),
        F.round(total_d / F.lag(total_d).over(w) - 1, 6).alias("wow_growth"),
    )

@register(
    "part_size_price_regression",
    # OLS of retail price on part size — the quick pricing-curve probe
    # (and the relational sibling of zipf/heaps' closed-form fits).  Both
    # variables enter as exact DECIMAL, so the moment sums are order-free;
    # slope/intercept/r2 run one fixed double sequence with a
    # zero-variance guard.
    oracle="""
        WITH xy AS (
            SELECT CAST(p_size AS DECIMAL(12,2)) AS x,
                   CAST(p_retailprice AS DECIMAL(18,2)) AS y
            FROM part
        ),
        s AS (
            SELECT count(*) AS n,
                   CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
                   CAST(SUM(x * y) AS DOUBLE) AS sxy,
                   CAST(SUM(x * x) AS DOUBLE) AS sxx,
                   CAST(SUM(y * y) AS DOUBLE) AS syy
            FROM xy
        )
        SELECT n AS n_parts,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
               END AS slope,
               CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                    ELSE round((sy - (n * sxy - sx * sy)
                                / (n * sxx - sx * sx) * sx) / n, 6)
               END AS intercept,
               CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
                    THEN NULL
                    ELSE round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                               / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               END AS r2
        FROM s
    """,
    tags=("tpch", "stats", "analytics"),
)
def part_size_price_regression(spark, sf_dir):
    """Price-vs-size OLS.  100-TB shape: one narrow scan into a 1-row
    exact-decimal moment aggregate, closed-form fit."""
    p = T(spark, sf_dir, "part")
    xy = p.select(
        F.col("p_size").cast("decimal(12,2)").alias("x"),
        F.col("p_retailprice").cast("decimal(18,2)").alias("y"),
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
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    slope = (n * sxy - sx * sy) / vx
    return s.select(
        F.col("n").alias("n_parts"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("slope"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round((sy - slope * sx) / n, 6))
        .alias("intercept"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(
            F.round((n * sxy - sx * sy) * (n * sxy - sx * sy) / (vx * vy), 6)
        )
        .alias("r2"),
    )

@register(
    "error_purchase_cooccurrence",
    # Do errors cluster around purchases?  The (user, hour) contingency
    # table of error-vs-purchase presence with the lift of observing both
    # — the reliability-impact probe (errors co-occurring with revenue
    # hours matter more).  All cell counts are integers; lift divides
    # exact bigint products in one fixed double sequence.
    oracle="""
        WITH uh AS (
            SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
                   CAST(max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS BIGINT) AS has_err,
                   CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS BIGINT) AS has_buy
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_user_hours,
               CAST(SUM(has_err) AS BIGINT) AS n_err,
               CAST(SUM(has_buy) AS BIGINT) AS n_buy,
               CAST(SUM(has_err * has_buy) AS BIGINT) AS n_both,
               round(CAST(SUM(has_err * has_buy) AS DOUBLE) * count(*)
                     / SUM(has_err) / SUM(has_buy), 6) AS lift
        FROM uh
    """,
    tags=("events", "stats", "analytics"),
)
def error_purchase_cooccurrence(spark, sf_dir):
    """Error-purchase lift over (user, hour) cells.  100-TB shape: one
    (user, hour)-keyed rollup collapsing event volume, then a 1-row
    contingency aggregate."""
    e = T(spark, sf_dir, "events")
    uh = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "has_err"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "has_buy"
        ),
    )
    return uh.agg(
        F.count(F.lit(1)).alias("n_user_hours"),
        F.sum("has_err").alias("n_err"),
        F.sum("has_buy").alias("n_buy"),
        F.sum(F.col("has_err") * F.col("has_buy")).alias("n_both"),
        F.round(
            F.sum(F.col("has_err") * F.col("has_buy")).cast("double")
            * F.count(F.lit(1))
            / F.sum("has_err")
            / F.sum("has_buy"),
            6,
        ).alias("lift"),
    )
