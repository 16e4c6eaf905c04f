"""The workloads.  Each drives the program only through its public
functions, from one client thread, and returns its samples and checks.

Common shape of a run:
  1. set up once, cold, as every CLI invocation does: process start ->
     imports -> JVM launch and session start -> ``KwackSpark.init()`` ->
     every view/topic registered (input generation, which precedes set-up,
     is not counted);
  2. the first query after set-up is the cold ``first_query_s`` sample;
  3. unrecorded warm-up, counted in work done rather than in time (the JIT
     compiles after a number of invocations, however long they take);
  4. the measured window of ``seconds``: per operation its wall time and
     the CPU time the whole program spent on it (this process, the Spark
     JVM and its Python workers); outputs are checked after the clocks stop.
In a traced run (``ctx.tracer.enabled``) each stage's output is materialized
on its own inside its span, so Spark's laziness does not move one layer's
work into the next one's span.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import checks, gen
from perfbench.envpin import program_cpu_s
from perfbench.trace import Tracer

DRAIN_TIMEOUT_S = 30.0


@dataclass
class Ctx:
    workload: str
    seconds: float
    work: str
    inputs: str
    truth: dict
    tracer: Tracer
    cores: int
    import_s: float
    eventlog: str | None = None


@dataclass
class Result:
    setup_s: float = 0.0
    first_query_s: float = 0.0
    first_query_cpu_s: float = 0.0
    op_ms: list[float] = field(default_factory=list)  # wall time per operation
    op_cpu_ms: list[float] = field(default_factory=list)  # CPU time per operation
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def fail(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:3])


# --- shared plumbing -----------------------------------------------------------


def new_session(ctx: Ctx, cores: int | None = None):
    from kwack_spark.session import get_session

    n = cores or ctx.cores
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.eventlog:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ctx.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    ctx.tracer.bind(None)
    with ctx.tracer.span("session.start"):
        spark = get_session(
            app_name=f"perfbench-{ctx.workload}",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.bind(spark)
    return spark


def new_engine(ctx: Ctx, spark, registry):
    from kwack_spark.engine import KwackConfig, KwackSpark

    with ctx.tracer.span("engine.init"):
        return KwackSpark(KwackConfig(), spark=spark, registry=registry).init()


def load_registry(inputs: str):
    from kwack_spark.schema.registry import MockSchemaRegistry

    reg = MockSchemaRegistry()
    with open(os.path.join(inputs, "schemas.json")) as fh:
        for subject, schema, kind in json.load(fh):
            reg.register(subject, schema, kind)
    return reg


def read_frames(spark, path: str):
    from kwack_spark.sources.kafka import KAFKA_FRAME_SCHEMA

    return spark.read.schema(KAFKA_FRAME_SCHEMA).parquet(path)


def query(ctx: Ctx, engine, sql: str, op: int | None = None) -> list[str]:
    """``KwackSpark.query_json`` drained to a list.  Traced, the same two
    steps are timed apart: ``engine.sql`` (parse/analyze) and collect."""
    if not ctx.tracer.enabled:
        return list(engine.query_json(sql))
    with ctx.tracer.span("engine.sql", op):
        df = engine.sql(sql)
    with ctx.tracer.span("engine.collect", op):
        return list(df.toJSON().toLocalIterator())


def set_up(ctx: Ctx, res: Result, setup_fn):
    """Run the workload's set-up; ``setup_s`` adds the process's imports."""
    t0 = time.perf_counter()
    state = setup_fn()
    res.setup_s = ctx.import_s + time.perf_counter() - t0
    if ctx.tracer.enabled:
        tr = ctx.tracer
        res.layer.update(
            {
                "session.import_s": ctx.import_s,
                "session.start_s": median(tr.durations("session.start")),
                "engine.init_ms": median(tr.durations("engine.init")) * 1000.0,
                "parquet.register_views_ms": median(tr.durations("parquet.register_views")) * 1000.0,
            }
        )
    return state


def first_query(res: Result, fn):
    """The cold first query: its wall and CPU time."""
    c0, t0 = program_cpu_s(), time.perf_counter()
    out = fn()
    res.first_query_s = time.perf_counter() - t0
    res.first_query_cpu_s = program_cpu_s() - c0
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def stop_spark(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def _avro_decode_us(frames: str, reg, sample: int = 2000) -> float:
    """Single-thread ``schema.avro.decode`` over a sample of the payloads in
    the frame files under ``frames``, microseconds per record."""
    import pyarrow.parquet as pq

    from kwack_spark.schema import avro as avro_schema
    from kwack_spark.sources.kafka import split_frame

    values = pq.read_table(frames, columns=["value"]).column("value").to_pylist()
    bodies = [split_frame(v) for v in values if v is not None][:sample]
    writers = {sid: avro_schema.parse_schema(reg.by_id(sid).schema_str) for sid, _ in bodies}
    t0 = time.perf_counter()
    for sid, body in bodies:
        avro_schema.decode(body, writers[sid])
    return (time.perf_counter() - t0) / len(bodies) * 1e6


# --- sql_interactive -------------------------------------------------------------

# Unrecorded rounds of the mix before the window, the cold query's included.
# Per-round CPU time still fell by about a third over the first rounds after
# two warm-up rounds (JIT compilation).
SQL_WARMUP_ROUNDS = 5


def run_sql_interactive(ctx: Ctx, res: Result) -> None:
    """One closed-loop client runs the seeded mix round by round: a round is
    one query of each of the ``gen.SQL_KINDS`` shapes, each through
    ``query_json``.  The operation is a round, reported per query (round
    time / ``SQL_KINDS``): a median over single queries would fall between
    the shapes' latencies."""
    from kwack_spark.schema.registry import MockSchemaRegistry
    from kwack_spark.sources.parquet import register_views

    tables = ctx.truth["tables"]
    mix = ctx.truth["mix"]
    k = gen.SQL_KINDS

    def setup():
        spark = new_session(ctx)
        engine = new_engine(ctx, spark, MockSchemaRegistry())
        with ctx.tracer.span("parquet.register_views"):
            register_views(spark, tables)
        return spark, engine

    spark, engine = set_up(ctx, res, setup)
    answers: list[tuple[str, list[str] | None]] = []
    query_ms: list[float] = []

    def op(i) -> float:
        sql = mix[i % len(mix)]
        t0 = time.perf_counter()
        try:
            rows = query(ctx, engine, sql, i)
        except Exception as exc:  # a failed query is counted, the loop goes on
            res.errors.append(f"{sql}: {exc}")
            rows = None
        done = time.perf_counter()
        answers.append((sql, rows))
        return done - t0

    first_query(res, lambda: op(0))
    for i in range(1, SQL_WARMUP_ROUNDS * k):
        op(i)
    i = SQL_WARMUP_ROUNDS * k
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline:
        c0 = program_cpu_s()
        walls = [op(j) for j in range(i, i + k)]
        res.op_cpu_ms.append((program_cpu_s() - c0) * 1000.0 / k)
        res.op_ms.append(sum(walls) * 1000.0 / k)
        query_ms.extend(w * 1000.0 for w in walls)
        i += k
    if ctx.tracer.enabled:
        res.layer.update(_engine_layer(ctx, sum(len(r or ()) for _, r in answers)))
        res.layer.update(_curation_layer(ctx, res, spark, engine))
    stop_spark(spark)
    _check_sql_answers(res, tables, answers)
    res.info.update(
        {
            "query_ms_samples": [round(x, 1) for x in query_ms],
            "qps": len(query_ms) / (sum(query_ms) / 1000.0) if query_ms else 0.0,
            "query_p50_ms": median(query_ms),
            "query_p90_ms": statistics.quantiles(query_ms, n=10)[-1] if len(query_ms) > 1 else 0.0,
        }
    )


def _check_sql_answers(res: Result, tables: str, answers) -> None:
    """Every answer against DuckDB on the same parquet, outside the timed
    region; each distinct query runs once there."""
    import duckdb

    con = duckdb.connect()
    for name in os.listdir(tables):
        path = os.path.join(tables, name).replace("'", "''")
        con.execute(f"CREATE VIEW {name.split('.')[0]} AS SELECT * FROM read_parquet('{path}')")
    ref: dict[str, tuple[list[str], list[tuple]]] = {}
    for sql, rows in answers:
        if rows is None:
            res.fail(["query raised"])
            continue
        if sql not in ref:
            cur = con.execute(sql)
            ref[sql] = ([d[0] for d in cur.description], cur.fetchall())
        cols, want = ref[sql]
        res.fail(checks.check_sql(sql, rows, want, cols))
    con.close()


def _engine_layer(ctx: Ctx, rows_out: int) -> dict:
    return {
        "engine.sql_ms": median(ctx.tracer.durations("engine.sql")) * 1000.0,
        "engine.collect_ms": median(ctx.tracer.durations("engine.collect")) * 1000.0,
        "engine.rows_out": rows_out,
    }


# --- live_topic ---------------------------------------------------------------------

LIVE_SQL = "SELECT file_no, count(*) AS n FROM live_orders GROUP BY file_no"
LIVE_COUNT_SQL = "SELECT count(*) AS n FROM live_orders"
LIVE_TOTAL_SQL = "SELECT count(*) AS n, count(DISTINCT seq) AS d FROM live_orders"

def land(staged: str, frames: str, f: int) -> None:
    """Move staged frame file ``f`` into the stream's directory; ``os.replace``
    makes it appear whole."""
    name = f"f{f:05d}.parquet"
    os.replace(os.path.join(staged, name), os.path.join(frames, name))


def run_live_topic(ctx: Ctx, res: Result) -> None:
    """After set-up and the cold first query (a count of the still empty
    table), ``gen.LIVE_WARMUP_FILES`` files land one every
    ``gen.LIVE_WARMUP_INTERVAL_S`` while the reader queries per-file counts
    back to back, until all of them are visible (unmeasured warm-up).  Then
    the measured window goes in ticks of ``gen.LIVE_INTERVAL_S`` for
    ``seconds``: at the start of each tick the next file lands (open loop,
    on schedule) and half a tick later the reader queries (like a dashboard
    refresh).  The operation is one tick, that is one landed file: the CPU
    the program spent over the tick (the file's micro-batch, one read and
    the stream's idle polling), and the file's freshness, from when it was
    due to the end of the first read that sees all of its records.  Landing
    and reading on one fixed clock gives every tick the same work however
    fast the program runs; with reads and landings on different periods a
    tick's CPU depended on how they overlapped."""
    from kwack_spark.config import Serde

    t = ctx.truth
    visible = t["visible_per_file"]
    staged = os.path.join(ctx.inputs, "staged")
    frames = os.path.join(ctx.work, "frames")
    sink_dir = os.path.join(ctx.work, "land")
    os.makedirs(frames, exist_ok=True)

    def setup():
        spark = new_session(ctx)
        reg = load_registry(ctx.inputs)
        engine = new_engine(ctx, spark, reg)
        with ctx.tracer.span("streaming.start"):
            q = engine.register_live_topic(
                "live_orders",
                value_serde=Serde(kind="latest"),
                key_serde=Serde(kind="string"),
                frames_dir=frames,
                durable_path=sink_dir,
            )
        return spark, reg, engine, q

    spark, reg, engine, q = set_up(ctx, res, setup)
    first_query(res, lambda: query(ctx, engine, LIVE_COUNT_SQL))

    landed: list[int] = []
    reads = [0]

    def read() -> set[int]:
        """The files whose records are all visible."""
        rows = query(ctx, engine, LIVE_SQL, reads[0])
        reads[0] += 1
        return {r["file_no"] for r in map(json.loads, rows) if r["n"] == visible[r["file_no"]]}

    n0 = gen.LIVE_WARMUP_FILES
    t0 = time.perf_counter()
    deadline = t0 + n0 * gen.LIVE_WARMUP_INTERVAL_S + DRAIN_TIMEOUT_S
    complete: set[int] = set()
    while not set(range(n0)) <= complete and time.perf_counter() < deadline:
        while len(landed) < n0 and time.perf_counter() >= t0 + len(landed) * gen.LIVE_WARMUP_INTERVAL_S:
            land(staged, frames, len(landed))
            landed.append(len(landed))
        complete = read()

    tick = gen.LIVE_INTERVAL_S
    window = range(n0, len(visible))
    seen: dict[int, float] = {}
    late: list[float] = []  # how late each landing ran
    read_late: list[float] = []
    backlog: list[int] = []
    cpu: list[float] = []  # CPU reading at the start of each window tick and at its end
    t0 = time.perf_counter()
    for j in range(len(window) + int(DRAIN_TIMEOUT_S / tick)):
        at = t0 + j * tick
        time.sleep(max(0.0, at - time.perf_counter()))
        if j <= len(window):
            cpu.append(program_cpu_s())
        if j >= len(window) and seen.keys() >= set(window):
            break
        if j < len(window):
            late.append(time.perf_counter() - at)
            land(staged, frames, n0 + j)
            landed.append(n0 + j)
        at += tick / 2
        time.sleep(max(0.0, at - time.perf_counter()))
        read_late.append(time.perf_counter() - at)
        complete = read()
        done = time.perf_counter()
        for f in (complete & set(window)) - seen.keys():
            seen[f] = done - (t0 + (f - n0) * tick)
        backlog.append(len(landed) - len(complete))
    q.processAllAvailable()
    final = {r["file_no"]: r["n"] for r in map(json.loads, query(ctx, engine, LIVE_SQL))}
    tot = json.loads(query(ctx, engine, LIVE_TOTAL_SQL)[0])
    # attempted: every read plus every landed file's visibility
    res.attempted += reads[0] + len(landed)
    errs = checks.check_live(final, landed, visible, (tot["n"], tot["d"]))
    missed = len(set(window) - seen.keys())
    if missed:
        errs.append(f"{missed} landed files never became visible within the drain timeout")
    res.failed += max(missed, 1 if errs else 0)
    res.errors.extend(errs)
    res.op_ms = [seen[f] * 1000.0 for f in window if f in seen]
    res.op_cpu_ms = [(b - a) * 1000.0 for a, b in zip(cpu, cpu[1:])]
    res.info.update(
        {
            "fresh_p50_ms": median(res.op_ms),
            "fresh_max_ms": max(res.op_ms, default=0.0),
            "reads": reads[0],
            "files_landed": len(landed),
            "files_in_window": len(window),
            "generator_late_ms_max": max(late, default=0.0) * 1000.0,
            "read_late_ms_max": max(read_late, default=0.0) * 1000.0,
        }
    )
    if ctx.tracer.enabled:
        layer = _engine_layer(ctx, sum(final.values()))
        layer.update(_stream_layer(q))
        layer["streaming.backlog_files"] = median(backlog)
        layer["streaming.generator_late_ms"] = median(late) * 1000.0
        q.stop()
        layer["sink.files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(sink_dir) for f in fs
        )
        from kwack_spark.streaming.sink import compact_sink

        with ctx.tracer.span("sink.compact"):
            t1 = time.perf_counter()
            compact_sink(spark, sink_dir, os.path.join(ctx.work, "compacted"))
            layer["sink.compact_ms"] = (time.perf_counter() - t1) * 1000.0
        spark, decode = _batch_decode_layer(
            ctx, spark, reg, frames, len(landed) * t["records_per_file"]
        )
        res.layer.update(layer)
        res.layer.update(decode)
    stop_spark(spark)


def _batch_decode_layer(ctx: Ctx, spark, reg, frames: str, records: int):
    """The landed frames decoded again in batch (``decode_topic``,
    materialized), to time the Avro decode layer on its own: on all cores,
    then on ``local[1]`` (the single-thread baseline), the second of two
    passes each; plus single-thread ``schema.avro.decode`` per record.
    Replaces ``spark`` by a ``local[1]`` session; returns (that session,
    the layer metrics)."""
    from kwack_spark.config import Serde
    from kwack_spark.sources.kafka import decode_topic

    layer = {"kafka.records_in": records, "schema.avro.decode_us": _avro_decode_us(frames, reg)}
    for cores, name in ((ctx.cores, "kafka.decode_s.avro_py"), (1, "kafka.decode_s.avro_py.local1")):
        if cores == 1:
            stop_spark(spark)
            spark = new_session(ctx, cores=1)
        df = decode_topic(
            read_frames(spark, frames), "live_orders", Serde(kind="latest"), Serde(kind="string"), registry=reg
        )
        for _ in range(2):
            with ctx.tracer.span("kafka.decode"):
                t0 = time.perf_counter()
                mat = df.localCheckpoint(eager=True)
                layer[name] = time.perf_counter() - t0
        layer["kafka.rows_out"] = mat.count()
    layer["kafka.tombstones_skipped"] = records - layer["kafka.rows_out"]
    return spark, layer


def _stream_layer(q) -> dict:
    """Micro-batch numbers from the public ``StreamingQuery.recentProgress``."""
    progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    return {
        "streaming.batch_ms": median([p["batchDuration"] for p in busy]),
        "streaming.add_batch_ms": median([p["durationMs"].get("addBatch", 0) for p in busy]),
        "streaming.rows_per_batch": median([p["numInputRows"] for p in busy]),
        "streaming.batches": len(busy),
    }


# --- curation pipeline (traced sql_interactive runs) -------------------------------

LSH = {"k": 16, "bands": 8, "threshold": 0.5}
CURATION_RUNS = 3  # the first one cold


def _quality_gate(df):
    """Keep documents with at least 10 tokens, under 10% punctuation and
    over 5% stopwords (``functions.text``)."""
    from pyspark.sql import functions as F

    from kwack_spark.functions import text as TX

    return df.filter(
        (F.size(TX.tokens("text")) >= 10)
        & (TX.punct_ratio("text") < 0.1)
        & (TX.stopword_ratio("text") > 0.05)
    )


def _curation_layer(ctx: Ctx, res: Result, spark, engine) -> dict:
    """The curation pipeline in the same session, after the SQL window: a
    documents topic (JSON-Schema frames, decoded by the JVM ``from_json``
    path) with planted near-duplicates -> quality gate (``functions.text``)
    -> ``dedup.minhash_lsh_dup_edges`` -> ``graph.connected_components`` ->
    keep the min id per cluster, each stage materialized in its span.  It
    runs ``CURATION_RUNS`` times; the layer times are medians over the warm
    runs, and every kept set is checked against the planted clusters."""
    from pyspark.sql import functions as F

    from kwack_spark.config import Serde
    from kwack_spark.operators import dedup, graph
    from kwack_spark.session import register_view
    from kwack_spark.sources.kafka import decode_topic

    tr = ctx.tracer
    truth = ctx.truth["curation"]
    reg = load_registry(truth["inputs"])
    frames = read_frames(spark, os.path.join(truth["inputs"], "frames", "documents"))
    with tr.span("kafka.decode_plan"):
        docs = decode_topic(frames, "documents", Serde(kind="latest"), registry=reg)
    register_view(docs, "documents")

    def stage(name, make_df, i):
        """``make_df()`` (which may itself run jobs) materialized in span
        ``name``."""
        with tr.span(name, i):
            return make_df().localCheckpoint(eager=True)

    pipeline_s = []
    for i in range(CURATION_RUNS):
        t0 = time.perf_counter()
        docs = stage("kafka.decode", lambda: engine.sql("SELECT doc_id, text FROM documents"), i)
        gated = stage("functions.text.quality", lambda: _quality_gate(docs), i)
        edges = stage(
            "operators.dedup.lsh",
            lambda: dedup.minhash_lsh_dup_edges(
                gated, "doc_id", "text", LSH["k"], LSH["bands"], threshold=LSH["threshold"]
            ),
            i,
        )
        comps = stage("operators.graph.components", lambda: graph.connected_components(edges), i)
        dropped = comps.filter(F.col("component") != F.col("node")).select(F.col("node").alias("doc_id"))
        register_view(gated.select("doc_id").join(dropped, "doc_id", "left_anti"), "curated")
        kept = [json.loads(r)["doc_id"] for r in engine.query_json("SELECT doc_id FROM curated")]
        pipeline_s.append(time.perf_counter() - t0)
        res.fail(checks.check_curation(kept, truth))

    # candidate volume: the same LSH with verification switched off
    gated = _quality_gate(engine.sql("SELECT doc_id, text FROM documents"))
    with tr.span("operators.dedup.candidates"):
        cand = dedup.minhash_lsh_pairs(
            gated, "doc_id", "text", LSH["k"], LSH["bands"], threshold=0.0
        ).localCheckpoint(eager=True)
        n_cand = cand.count()
        n_ver = cand.filter(F.col("jaccard") >= LSH["threshold"]).count()

    def warm(name: str) -> float:
        return median(tr.durations(name)[1:])

    return {
        "kafka.decode_plan_ms": median(tr.durations("kafka.decode_plan")) * 1000.0,
        "kafka.decode_s.json_jvm": warm("kafka.decode"),
        "functions.text.quality_s": warm("functions.text.quality"),
        "operators.dedup.lsh_s": warm("operators.dedup.lsh"),
        "operators.dedup.candidate_pairs": n_cand,
        "operators.dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
        "operators.graph.components_s": warm("operators.graph.components"),
        "curation.pipeline_s": median(pipeline_s[1:]),
        "curation.pipeline_cold_s": pipeline_s[0],
    }


RUNNERS = {
    "sql_interactive": run_sql_interactive,
    "live_topic": run_live_topic,
}


def run(ctx: Ctx) -> Result:
    res = Result()
    RUNNERS[ctx.workload](ctx, res)
    return res


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
