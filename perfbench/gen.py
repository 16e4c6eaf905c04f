"""Seeded input generator: every file a workload reads, written before timing.

The program under test receives only these files.  Everything here is a pure
function of its arguments (workload, seed, seconds, traced): the same
arguments give byte-identical files (checked by ``test_perfbench.py``).

Kafka frames are built with the program's public encoders
(``schema.avro.encode``, ``sources.kafka.confluent_frame``) and written in
exactly ``sources.kafka.KAFKA_FRAME_SCHEMA`` (converted to Arrow by PySpark's
own mapping), then checked against it: pyarrow would otherwise infer an
all-null ``headers`` column as a null/int column, and a nanosecond or INT96
timestamp would collide with the session's ``nanosAsLong`` setting.
"""

from __future__ import annotations

import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TS0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

# --- live_topic ---------------------------------------------------------------

# One frame file of 1,000 records lands every 2.5 s (400 records/s).  Each
# landing is one micro-batch while a batch takes well under the interval, so
# a run's work does not depend on how fast the stream runs: with smaller
# files landing more often, a slower stream would take more files per batch
# and spend less CPU per file.
LIVE_INTERVAL_S = 2.5
LIVE_RECORDS_PER_FILE = 1000
# Before the measured window this many files land, one a second, while the
# reader queries back to back, to bring the JIT along: after four warm-up
# ticks at the window's pace, CPU per tick still halved across the window.
LIVE_WARMUP_FILES = 12
LIVE_WARMUP_INTERVAL_S = 1.0
TOMBSTONE_SHARE = 0.01
LIVE_EVENT = {
    "type": "record",
    "name": "LiveEvent",
    "fields": [
        {"name": "seq", "type": "long"},
        {"name": "file_no", "type": "int"},
        {"name": "user", "type": "string"},
        {"name": "amount_cents", "type": "long"},
    ],
}

# --- curation_batch -----------------------------------------------------------

CURATION_DOCS = 1200
CURATION_CLUSTER_SHARE = 0.3  # share of docs that belong to a planted cluster
CURATION_BAD_SHARE = 0.1  # share of docs planted to fail the quality gate
DOCS_JSON = {
    "type": "object",
    "properties": {"doc_id": {"type": "integer"}, "text": {"type": "string"}},
    "required": ["doc_id", "text"],
}
# a subset of functions.text.STOPWORDS, so every good doc clears the gate's
# stopword-ratio test by a wide margin
STOP = ("the", "a", "of", "and", "to")

# --- sql_interactive ----------------------------------------------------------

# TPC-H scale factor 0.1 row counts (lineitem: 1-7 lines per order, ~600k)
SQL_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000}
SQL_KINDS = 8
SQL_MIX_LEN = 75 * SQL_KINDS
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
D0 = datetime.date(1994, 1, 1)
DAYS = 1460


def frame_arrow_schema() -> pa.Schema:
    """``KAFKA_FRAME_SCHEMA`` in Arrow form, via PySpark's own conversion."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from kwack_spark.sources.kafka import KAFKA_FRAME_SCHEMA

    return to_arrow_schema(KAFKA_FRAME_SCHEMA)


def check_frame_file(path: str) -> None:
    """Raise unless the parquet file at ``path`` has exactly the frame schema."""
    got = pq.read_schema(path).remove_metadata()
    want = frame_arrow_schema()
    if not got.equals(want):
        raise ValueError(f"{path}: frame schema mismatch\n got: {got}\nwant: {want}")


def _write_frames(path: str, rows: dict[str, list]) -> None:
    table = pa.table(rows, schema=frame_arrow_schema())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    check_frame_file(path)


def _frame_rows() -> dict[str, list]:
    return {f: [] for f in frame_arrow_schema().names}


def _append(rows, key, value, topic, partition, offset, headers=None) -> None:
    rows["key"].append(key)
    rows["value"].append(value)
    rows["topic"].append(topic)
    rows["partition"].append(partition)
    rows["offset"].append(offset)
    rows["timestamp"].append(TS0 + datetime.timedelta(milliseconds=offset))
    rows["timestampType"].append(0)
    rows["headers"].append(headers)


def _schemas_file(out: str, entries: list[tuple[str, dict, str]]):
    """Register ``entries`` (subject, schema, type) in a fresh mock registry,
    in order, and record them so the benchmark rebuilds the same ids."""
    from kwack_spark.schema.registry import MockSchemaRegistry

    reg = MockSchemaRegistry()
    ids = [reg.register(s, json.dumps(sch), t) for s, sch, t in entries]
    with open(os.path.join(out, "schemas.json"), "w") as fh:
        json.dump([[s, json.dumps(sch), t] for s, sch, t in entries], fh)
    return ids


def gen_live_topic(out: str, seed: int, seconds: float) -> dict:
    """Pre-built frame files, one per landing slot, staged outside the
    stream's directory; the run moves them in on its schedule.  About 1%
    of the records are tombstones (null value), which the decoded table
    skips.  Truth: each file's record count after the skip."""
    from kwack_spark.schema import avro as avro_schema
    from kwack_spark.sources.kafka import confluent_frame

    rng = np.random.default_rng(seed)
    (sid,) = _schemas_file(out, [("live_orders-value", LIVE_EVENT, "AVRO")])
    files = LIVE_WARMUP_FILES + round(seconds / LIVE_INTERVAL_S)
    r = LIVE_RECORDS_PER_FILE
    visible = []
    for f in range(files):
        users = rng.integers(0, 500, r)
        amount = rng.integers(100, 100_000, r)
        tomb = rng.random(r) < TOMBSTONE_SHARE
        rows = _frame_rows()
        for i in range(r):
            rec = {
                "seq": f * r + i,
                "file_no": f,
                "user": f"u{users[i]}",
                "amount_cents": int(amount[i]),
            }
            payload = None if tomb[i] else confluent_frame(avro_schema.encode(rec, LIVE_EVENT), sid)
            _append(rows, f"u{users[i]}".encode(), payload, "live_orders", 0, f * r + i)
        _write_frames(os.path.join(out, "staged", f"f{f:05d}.parquet"), rows)
        visible.append(int(r - tomb.sum()))
    return {
        "records_per_file": r,
        "visible_per_file": visible,
    }


def _words(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(out)


def gen_curation_batch(out: str, seed: int) -> dict:
    """A documents topic (JSON-Schema frames) with planted near-duplicate
    clusters and planted low-quality documents.  Truth: the ids the
    pipeline must keep (every good singleton plus the min id of each
    planted cluster)."""
    from kwack_spark.sources.kafka import confluent_frame

    rng = random.Random(seed)
    vocab = _words(rng, 5000)
    (sid,) = _schemas_file(out, [("documents-value", DOCS_JSON, "JSON")])

    def doc() -> list[str]:
        # every 4th token a stopword: 25% stopwords, far from the gate's 5%
        return [
            rng.choice(STOP) if t % 4 == 0 else rng.choice(vocab)
            for t in range(rng.randint(40, 80))
        ]

    texts: list[str] = []
    groups: list[list[int]] = []  # planted clusters, as indices into texts
    while len(texts) < int(CURATION_DOCS * CURATION_CLUSTER_SHARE):
        base = doc()
        group = []
        for m in range(rng.randint(2, 4)):
            toks = list(base)
            if m and rng.random() < 0.7:  # near-dup: one token replaced
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            group.append(len(texts))
            texts.append(" ".join(toks))
        groups.append(group)
    n_bad = int(CURATION_DOCS * CURATION_BAD_SHARE)
    for b in range(n_bad):
        if b % 2:
            texts.append(" ".join(rng.choice(vocab) for _ in range(5)))  # too short
        else:
            texts.append(" ".join(f"{w}!!#$" for w in doc()))  # punctuation-heavy
    singles = list(range(len(texts), CURATION_DOCS))
    texts.extend(" ".join(doc()) for _ in singles)
    # shuffled doc ids, so clusters are not runs of consecutive ids
    order = list(range(len(texts)))
    rng.shuffle(order)
    doc_id = {old: new for new, old in enumerate(order)}
    rows = _frame_rows()
    for old, text in enumerate(texts):
        payload = confluent_frame(json.dumps({"doc_id": doc_id[old], "text": text}).encode(), sid)
        _append(rows, None, payload, "documents", 0, doc_id[old])
    _write_frames(os.path.join(out, "frames", "documents", "p0.parquet"), rows)
    keep = {min(doc_id[x] for x in g) for g in groups} | {doc_id[x] for x in singles}
    return {
        "docs": len(texts),
        "clusters": len(groups),
        "bad": n_bad,
        "keep": sorted(keep),
    }


def gen_sql_interactive(out: str, seed: int) -> dict:
    """TPC-H-shaped parquet tables (integer cents for money, DATE columns, so
    Spark and DuckDB agree bit for bit) and a seeded SQL mix."""
    rng = np.random.default_rng(seed)
    tables = os.path.join(out, "tables")
    os.makedirs(tables, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(tables, f"{name}.parquet"))

    n_cust, n_supp, n_part, n_ord = (SQL_ROWS[t] for t in ("customer", "supplier", "part", "orders"))
    write("region", {"r_regionkey": np.arange(5, dtype=np.int64), "r_name": list(REGIONS)})
    write(
        "nation",
        {
            "n_nationkey": np.arange(25, dtype=np.int64),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int64) % 5,
        },
    )
    write(
        "customer",
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal_cents": rng.integers(-99_999, 999_999, n_cust),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
        },
    )
    write(
        "supplier",
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp),
        },
    )
    write(
        "part",
        {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_brand": [f"Brand#{i}" for i in rng.integers(11, 56, n_part)],
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice_cents": rng.integers(90_000, 200_000, n_part),
        },
    )
    odate = rng.integers(0, DAYS, n_ord)
    write(
        "orders",
        {
            "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_ord),
            "o_orderstatus": _pick(("F", "O", "P"), rng.integers(0, 3, n_ord)),
            "o_totalprice_cents": rng.integers(100_000, 50_000_000, n_ord),
            "o_orderdate": _dates(odate),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
        },
    )
    lines = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, k + 1, dtype=np.int64) for k in lines])
    n_li = len(lok)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li)
    write(
        "lineitem",
        {
            "l_orderkey": lok,
            "l_linenumber": lnum,
            "l_partkey": rng.integers(1, n_part + 1, n_li),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li),
            "l_quantity": rng.integers(1, 51, n_li),
            "l_extendedprice_cents": rng.integers(90_000, 10_000_000, n_li),
            "l_discount_pct": rng.integers(0, 11, n_li),
            "l_returnflag": _pick(("A", "N", "R"), rng.integers(0, 3, n_li)),
            "l_linestatus": _pick(("F", "O"), rng.integers(0, 2, n_li)),
            "l_shipdate": _dates(ship),
        },
    )
    # the kinds rotate in a fixed order, so every seed runs the same mix of
    # query shapes; the seed only offsets their parameter sequences
    offsets = rng.random((SQL_KINDS, 2))
    mix = [
        _sql(_spread(offsets[i % SQL_KINDS], i // SQL_KINDS), n_ord, i % SQL_KINDS)
        for i in range(SQL_MIX_LEN)
    ]
    with open(os.path.join(out, "sql_mix.json"), "w") as fh:
        json.dump(mix, fh, indent=0)
    return {"tables": tables, "mix": mix, "lineitem_rows": n_li}


def _pick(values: tuple[str, ...], idx) -> pa.Array:
    return pa.array(np.asarray(values)[idx])


def _dates(days) -> pa.Array:
    """Days after ``D0`` as a DATE column."""
    return pa.array(np.datetime64(D0, "D") + days.astype("timedelta64[D]"), pa.date32())


def _spread(offset, r: int) -> tuple[float, float]:
    """Round ``r``'s two parameter draws in [0, 1) for one query shape:
    additive recurrences (golden ratio, square root of 2) from the seeded
    ``offset``.  Any run of consecutive rounds covers the parameter range
    evenly, so the mix a run gets through costs about the same for every
    seed; with independent draws the few rounds of one run could all fall
    on cheap or on dear parameters."""
    return (offset[0] + r * 0.6180339887498949) % 1.0, (offset[1] + r * 0.4142135623730951) % 1.0


def _date(u: float) -> str:
    return (D0 + datetime.timedelta(days=int(u * DAYS))).isoformat()


def _sql(u: tuple[float, float], n_ord: int, kind: int) -> str:
    """One query of the interactive mix, its parameters drawn from ``u``:
    point lookup, LIMIT scan, group-by, join, and TPC-H Q1/Q3/Q5 shapes.
    Every ORDER BY is a total order so a LIMIT has exactly one right
    answer."""
    d = _date(u[0])
    if kind == 0:
        k = 1 + int(u[0] * n_ord)
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice_cents, "
            f"o_orderdate FROM orders WHERE o_orderkey = {k}"
        )
    if kind == 1:
        return (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem "
            f"WHERE l_shipdate >= DATE '{d}' ORDER BY l_orderkey, l_linenumber LIMIT 20"
        )
    if kind == 2:
        return (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice_cents) AS sum_price, "
            "sum(l_extendedprice_cents * (100 - l_discount_pct)) AS sum_disc, "
            f"count(*) AS n FROM lineitem WHERE l_shipdate <= DATE '{d}' "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if kind == 3:
        seg = SEGMENTS[int(u[1] * 5)]
        return (
            "SELECT l.l_orderkey, o.o_orderdate, "
            "sum(l.l_extendedprice_cents * (100 - l.l_discount_pct)) AS revenue "
            "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < DATE '{d}' "
            f"AND l.l_shipdate > DATE '{d}' "
            "GROUP BY l.l_orderkey, o.o_orderdate "
            "ORDER BY revenue DESC, l.l_orderkey LIMIT 10"
        )
    if kind == 4:
        r = REGIONS[int(u[1] * 5)]
        y = 1994 + int(u[0] * 4)
        return (
            "SELECT n.n_name, sum(l.l_extendedprice_cents * (100 - l.l_discount_pct)) "
            "AS revenue FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN nation n ON s.s_nationkey = n.n_nationkey "
            "JOIN region r ON n.n_regionkey = r.r_regionkey "
            f"WHERE r.r_name = '{r}' AND o.o_orderdate >= DATE '{y}-01-01' "
            f"AND o.o_orderdate < DATE '{y + 1}-01-01' "
            "GROUP BY n.n_name ORDER BY revenue DESC, n.n_name"
        )
    if kind == 5:
        p = PRIORITIES[int(u[0] * 5)]
        return (
            "SELECT o_custkey, count(*) AS n, sum(o_totalprice_cents) AS total "
            f"FROM orders WHERE o_orderpriority = '{p}' "
            "GROUP BY o_custkey ORDER BY total DESC, o_custkey LIMIT 10"
        )
    if kind == 6:
        a = 1 + int(u[0] * 39)
        return (
            "SELECT p.p_brand, count(*) AS n, sum(l.l_quantity) AS qty "
            "FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey "
            f"WHERE p.p_size BETWEEN {a} AND {a + 10} GROUP BY p.p_brand"
        )
    lo = 1 + int(u[0] * (n_ord - 2001))
    return (
        "SELECT count(DISTINCT l_suppkey) AS suppliers, count(*) AS n "
        f"FROM lineitem WHERE l_orderkey BETWEEN {lo} AND {lo + 2000}"
    )


def generate(workload: str, out: str, seed: int, seconds: float, traced: bool = False) -> dict:
    """The inputs of one run.  A traced ``sql_interactive`` run also drives
    the curation pipeline, so it gets the documents topic under
    ``curation/`` (truth under ``"curation"``)."""
    os.makedirs(out, exist_ok=True)
    if workload == "sql_interactive":
        truth = gen_sql_interactive(out, seed)
        if traced:
            cur = os.path.join(out, "curation")
            os.makedirs(cur, exist_ok=True)
            truth["curation"] = {"inputs": cur, **gen_curation_batch(cur, seed)}
        return truth
    if workload == "live_topic":
        return gen_live_topic(out, seed, seconds)
    raise ValueError(f"unknown workload {workload!r}")
