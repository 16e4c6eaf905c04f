"""Ingest-path corpus: driver-graded roundtrips through the FULL wire-format
+ transformer + decode stack (sources/kafka.py + schema/*).

Each query takes a driver parquet table, encodes every row into Confluent-
framed Kafka records (an Arrow-batched encode stage standing in for a real
topic), and decodes them through the production ``decode_topic`` path — the
same code a broker-fed topic goes through.  The DuckDB oracle is a plain
SELECT on the source table: a hash match proves the serde/framing/transform
stack is the identity it must be.  This is the reference's whole test
strategy (AbstractSchemaTest.java:60 'select * from topic' goldens) made
differential.

Scale shape: encode (mapInPandas) and decode (the shared Python row stage,
mapInArrow) are both narrow stages — no shuffle; at 100 TB this is the
per-partition decode cost of the real Kafka read (1 task per
topic-partition).
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kwack_spark.config import Serde
from kwack_spark.functions.union import union_extract, union_tag
from kwack_spark.plans.pipeline import drain_to_table, replay
from kwack_spark.plans.registry import register
from kwack_spark.plans.relational import T
from kwack_spark.schema import avro as avro_schema
from kwack_spark.schema import protobuf as proto_schema
from kwack_spark.schema.registry import MockSchemaRegistry
from kwack_spark.sources import kafka as ks

_TS0 = datetime.datetime(2024, 1, 1)


def _to_frames(df: DataFrame, encode_fn, topic: str, meta_fn=None) -> DataFrame:
    """Arrow-batched encode stage: rows -> kafka-shaped frames.
    ``encode_fn(row) -> (key_bytes|None, value_bytes|None)``; optional
    ``meta_fn(row) -> dict`` overrides partition/offset/timestamp/headers —
    the knobs a real broker controls, needed to grade rowinfo fidelity."""

    def batches(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                key, value = encode_fn(rec)
                frame = {
                    "key": key,
                    "value": value,
                    "topic": topic,
                    "partition": 0,
                    "offset": 0,
                    "timestamp": _TS0,
                    "timestampType": 0,
                    "headers": None,
                }
                if meta_fn is not None:
                    frame.update(meta_fn(rec))
                rows.append(frame)
            yield pd.DataFrame(rows, columns=[f.name for f in ks.KAFKA_FRAME_SCHEMA.fields])

    return df.mapInPandas(batches, ks.KAFKA_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# Avro roundtrip (incl. union field + int rowkey)
# ---------------------------------------------------------------------------

_NATION_AVRO = {
    "type": "record",
    "name": "Nation",
    "fields": [
        {"name": "n_nationkey", "type": "long"},
        {"name": "n_name", "type": "string"},
        {"name": "n_regionkey", "type": "long"},
        {"name": "extra", "type": ["null", "long", "string"]},
    ],
}


def _nation_avro_frames(spark: SparkSession, sf_dir: str, topic: str):
    """nation -> Confluent-framed Avro frames on ``topic`` (int key,
    union-bearing value: branch per key % 3).  Returns the frames and the
    registry that holds the value schema."""
    reg = MockSchemaRegistry()
    sid = reg.register(f"{topic}-value", json.dumps(_NATION_AVRO), "AVRO")

    def enc(rec):
        k = int(rec.n_nationkey).to_bytes(4, "big", signed=True)
        mod = rec.n_nationkey % 3
        extra = (
            (1, int(rec.n_nationkey) * 10)
            if mod == 0
            else (2, "x" + rec.n_name) if mod == 1 else (0, None)
        )
        payload = avro_schema.encode(
            {
                "n_nationkey": int(rec.n_nationkey),
                "n_name": rec.n_name,
                "n_regionkey": int(rec.n_regionkey),
                "extra": extra,
            },
            _NATION_AVRO,
        )
        return k, ks.confluent_frame(payload, sid)

    return _to_frames(T(spark, sf_dir, "nation"), enc, topic), reg


def _decode_nation(frames: DataFrame, topic: str, reg) -> DataFrame:
    """decode_topic over ``_nation_avro_frames`` -> flattened columns plus
    the union helpers, the shape both nation Avro oracles grade."""
    decoded = ks.decode_topic(
        frames,
        topic,
        value_serde=Serde(kind="latest"),
        key_serde=Serde(kind="int"),
        registry=reg,
    )
    return decoded.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        "n_nationkey",
        "n_name",
        "n_regionkey",
        union_tag(F.col("extra"), ["u0", "u1"]).alias("extra_tag"),
        union_extract(F.col("extra"), "u0").alias("extra_long"),
        union_extract(F.col("extra"), "u1").alias("extra_str"),
    )


@register(
    "kafka_avro_roundtrip",
    # identity oracle: decode(encode(row)) == row, union branch per key%3
    oracle="""
        SELECT n_nationkey AS rowkey,
               n_nationkey, n_name, n_regionkey,
               CASE WHEN n_nationkey % 3 = 0 THEN 'u0'
                    WHEN n_nationkey % 3 = 1 THEN 'u1' END AS extra_tag,
               CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey * 10 END AS extra_long,
               CASE WHEN n_nationkey % 3 = 1 THEN 'x' || n_name END AS extra_str
        FROM nation
    """,
    tags=("ingest", "kafka", "avro", "union"),
)
def kafka_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation -> Confluent-framed Avro records (int key, union-bearing value)
    -> decode_topic -> flattened columns + union helpers."""
    frames, reg = _nation_avro_frames(spark, sf_dir, "nation")
    return _decode_nation(frames, "nation", reg)


# ---------------------------------------------------------------------------
# Avro schema evolution: mixed writer ids, latest reader projection
# ---------------------------------------------------------------------------

_NATION_V1 = {
    "type": "record",
    "name": "NationEvo",
    "fields": [
        {"name": "n_nationkey", "type": "long"},
        {"name": "n_name", "type": "string"},
    ],
}
_NATION_V2 = {
    "type": "record",
    "name": "NationEvo",
    "fields": _NATION_V1["fields"]
    + [{"name": "n_note", "type": "string", "default": "none"}],
}


@register(
    "kafka_avro_evolution",
    # even keys written with v1 (no n_note -> reader default), odd with v2;
    # vsi = the per-record writer schema id parsed from the Confluent frame
    oracle="""
        SELECT n_nationkey, n_name,
               CASE WHEN n_nationkey % 2 = 0 THEN 'none'
                    ELSE 'note-' || n_name END AS n_note,
               CAST(CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS writer_sid
        FROM nation
    """,
    tags=("ingest", "kafka", "avro", "evolution"),
)
def kafka_avro_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution semantics (KwackEngine.java:126,1037-1045;
    AvroTest.java:229-248): records written under OLD writer schemas decode
    by per-record schema id and project through the LATEST reader — missing
    fields take the reader default.  The writer id surfaces via rowinfo.vsi."""
    reg = MockSchemaRegistry()
    sid_v1 = reg.register("nation_evo-value", json.dumps(_NATION_V1), "AVRO")
    sid_v2 = reg.register("nation_evo-value", json.dumps(_NATION_V2), "AVRO")

    def enc(rec):
        if rec.n_nationkey % 2 == 0:
            payload = avro_schema.encode(
                {"n_nationkey": int(rec.n_nationkey), "n_name": rec.n_name},
                _NATION_V1,
            )
            return None, ks.confluent_frame(payload, sid_v1)
        payload = avro_schema.encode(
            {
                "n_nationkey": int(rec.n_nationkey),
                "n_name": rec.n_name,
                "n_note": "note-" + rec.n_name,
            },
            _NATION_V2,
        )
        return None, ks.confluent_frame(payload, sid_v2)

    frames = _to_frames(T(spark, sf_dir, "nation"), enc, "nation_evo")
    decoded = ks.decode_topic(
        frames,
        "nation_evo",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("vsi", "par", "off"),
    )
    return decoded.select(
        "n_nationkey",
        "n_name",
        "n_note",
        F.col("rowinfo.vsi").cast("long").alias("writer_sid"),
    )


_SUPPLIER_PROTO_V1 = """
syntax = "proto3";
message SupplierEvo {
  int64 s_suppkey = 1;
  string s_name = 2;
}
"""
_SUPPLIER_PROTO_V2 = """
syntax = "proto3";
message SupplierEvo {
  int64 s_suppkey = 1;
  string s_name = 2;
  string s_note = 3;
}
"""


@register(
    "kafka_proto_evolution",
    # even keys written under v1 (no s_note field on the wire -> proto3
    # default ''), odd under v2; the reader is the registry's LATEST (v2).
    # Protobuf evolution needs no writer schema at all: field numbers are
    # self-describing, unknown numbers are skipped, absent fields take
    # proto3 defaults.
    oracle="""
        SELECT s_suppkey, s_name,
               CASE WHEN s_suppkey % 2 = 0 THEN ''
                    ELSE 'note-' || s_name END AS s_note,
               CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS writer_sid
        FROM supplier
    """,
    tags=("ingest", "kafka", "protobuf", "evolution"),
)
def kafka_proto_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protobuf schema evolution (the reference's registry-driven decode,
    KwackEngine.java:126,1037-1045, applied to proto): old-writer records
    decode against the latest reader — absent field numbers surface as
    proto3 defaults, unknown numbers are skipped — and the per-record
    writer id still surfaces via rowinfo.vsi."""
    reg = MockSchemaRegistry()
    sid_v1 = reg.register("supplier_evo-value", _SUPPLIER_PROTO_V1, "PROTOBUF")
    sid_v2 = reg.register("supplier_evo-value", _SUPPLIER_PROTO_V2, "PROTOBUF")
    desc_v1 = proto_schema.resolve(
        proto_schema.parse_proto(_SUPPLIER_PROTO_V1), "SupplierEvo"
    )
    desc_v2 = proto_schema.resolve(
        proto_schema.parse_proto(_SUPPLIER_PROTO_V2), "SupplierEvo"
    )

    def enc(rec):
        if rec.s_suppkey % 2 == 0:
            values = {"s_suppkey": int(rec.s_suppkey), "s_name": rec.s_name}
            body = proto_schema.encode_message(values, desc_v1)
            return None, ks.confluent_frame(b"\x00" + body, sid_v1)
        values = {
            "s_suppkey": int(rec.s_suppkey),
            "s_name": rec.s_name,
            "s_note": "note-" + rec.s_name,
        }
        body = proto_schema.encode_message(values, desc_v2)
        return None, ks.confluent_frame(b"\x00" + body, sid_v2)

    frames = _to_frames(T(spark, sf_dir, "supplier"), enc, "supplier_evo")
    decoded = ks.decode_topic(
        frames,
        "supplier_evo",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("vsi", "par", "off"),
    )
    return decoded.select(
        "s_suppkey",
        "s_name",
        "s_note",
        F.col("rowinfo.vsi").cast("long").alias("writer_sid"),
    )


_SUPPLIER_JS_V1 = {
    "type": "object",
    "properties": {
        "s_suppkey": {"type": "integer"},
        "s_name": {"type": "string"},
    },
}
_SUPPLIER_JS_V2 = {
    "type": "object",
    "properties": {
        "s_suppkey": {"type": "integer"},
        "s_name": {"type": "string"},
        "s_extra": {"type": ["string", "null"]},
    },
}


@register(
    "kafka_jsonschema_evolution",
    # JSON Schema evolution: decode is by property name, so v1 payloads
    # simply lack the new property -> NULL under the latest (v2) reader
    oracle="""
        SELECT s_suppkey, s_name,
               CASE WHEN s_suppkey % 2 = 1 THEN 'x-' || s_name END AS s_extra,
               CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS writer_sid
        FROM supplier
    """,
    tags=("ingest", "kafka", "jsonschema", "evolution"),
)
def kafka_jsonschema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-Schema evolution under the latest reader: name-addressed decode
    means old writers' records surface new properties as NULL; writer id
    still recorded per record via rowinfo.vsi."""
    reg = MockSchemaRegistry()
    sid_v1 = reg.register("supplier_js_evo-value", json.dumps(_SUPPLIER_JS_V1), "JSON")
    sid_v2 = reg.register("supplier_js_evo-value", json.dumps(_SUPPLIER_JS_V2), "JSON")

    def enc(rec):
        if rec.s_suppkey % 2 == 0:
            doc = {"s_suppkey": int(rec.s_suppkey), "s_name": rec.s_name}
            return None, ks.confluent_frame(json.dumps(doc).encode(), sid_v1)
        doc = {
            "s_suppkey": int(rec.s_suppkey),
            "s_name": rec.s_name,
            "s_extra": "x-" + rec.s_name,
        }
        return None, ks.confluent_frame(json.dumps(doc).encode(), sid_v2)

    frames = _to_frames(T(spark, sf_dir, "supplier"), enc, "supplier_js_evo")
    decoded = ks.decode_topic(
        frames,
        "supplier_js_evo",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("vsi", "par", "off"),
    )
    return decoded.select(
        "s_suppkey",
        "s_name",
        "s_extra",
        F.col("rowinfo.vsi").cast("long").alias("writer_sid"),
    )


# ---------------------------------------------------------------------------
# rowinfo metadata fidelity (top/par/off/ts/tst/hdr, headers last-wins)
# ---------------------------------------------------------------------------

_TS0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the _TS0 epoch in ms


@register(
    "kafka_rowinfo_metadata",
    oracle=f"""
        SELECT r_name AS rowval,
               'region_meta' AS top,
               CAST(r_regionkey % 2 AS BIGINT) AS par,
               CAST(r_regionkey * 10 AS BIGINT) AS "off",
               CAST({_TS0_MS} + r_regionkey * 1000 AS BIGINT) AS ts,
               CAST(0 AS INTEGER) AS tst,
               'second-' || r_name AS hdr_h,
               'kafka' AS hdr_src
        FROM region
    """,
    tags=("ingest", "kafka", "rowinfo"),
)
def kafka_rowinfo_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rowinfo struct end-to-end (KwackEngine.java:696-743): topic,
    partition, offset, timestamp(ms), timestampType, and the header map with
    LAST-value-wins per key (KwackEngine.java:1022-1035)."""
    import datetime

    def enc(rec):
        return None, rec.r_name.encode("utf-8")

    def meta(rec):
        k = int(rec.r_regionkey)
        return {
            "partition": k % 2,
            "offset": k * 10,
            "timestamp": _TS0 + datetime.timedelta(seconds=k),
            "headers": [
                {"key": "h", "value": b"first"},
                {"key": "h", "value": ("second-" + rec.r_name).encode("utf-8")},
                {"key": "src", "value": b"kafka"},
            ],
        }

    frames = _to_frames(T(spark, sf_dir, "region"), enc, "region_meta", meta_fn=meta)
    decoded = ks.decode_topic(
        frames,
        "region_meta",
        value_serde=Serde(kind="string"),
        row_attributes=("top", "par", "off", "ts", "tst", "hdr"),
    )
    return decoded.select(
        "rowval",
        F.col("rowinfo.top").alias("top"),
        F.col("rowinfo.par").cast("long").alias("par"),
        F.col("rowinfo.off").alias("off"),
        F.col("rowinfo.ts").alias("ts"),
        F.col("rowinfo.tst").cast("int").alias("tst"),
        F.element_at("rowinfo.hdr", "h").alias("hdr_h"),
        F.element_at("rowinfo.hdr", "src").alias("hdr_src"),
    )


# ---------------------------------------------------------------------------
# tombstone skip on struct-valued tables
# ---------------------------------------------------------------------------


@register(
    "kafka_tombstone_skip",
    oracle="""
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 5 <> 0
    """,
    tags=("ingest", "kafka", "tombstone"),
)
def kafka_tombstone_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null value on a struct-typed table skips the row instead of erroring
    or emitting nulls (KwackEngine.java:820-823; AvroKeyTest.java:261-275)."""
    reg = MockSchemaRegistry()
    sid = reg.register("nation_tomb-value", json.dumps(_NATION_V1), "AVRO")

    def enc(rec):
        if rec.n_nationkey % 5 == 0:
            return None, None  # tombstone
        payload = avro_schema.encode(
            {"n_nationkey": int(rec.n_nationkey), "n_name": rec.n_name}, _NATION_V1
        )
        return None, ks.confluent_frame(payload, sid)

    frames = _to_frames(T(spark, sf_dir, "nation"), enc, "nation_tomb")
    decoded = ks.decode_topic(
        frames,
        "nation_tomb",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("par", "off"),
    )
    return decoded.select("n_nationkey", "n_name")


@register(
    "kafka_poison_skip",
    # poison-record tolerance graded end to end: every 7th record's payload
    # is garbage bytes under a valid Confluent preamble; on_error='skip'
    # drops exactly those and decodes the rest — the job must not die on one
    # bad record in a billion
    oracle="""
        SELECT n_nationkey, n_name FROM nation WHERE n_nationkey % 7 <> 0
    """,
    tags=("ingest", "kafka", "errors"),
)
def kafka_poison_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_topic(on_error='skip') under the correctness gate: corrupt
    payloads (truncated Avro body) are skipped, everything else decodes —
    the tolerance switch a 100 TB backfill needs, where re-running the whole
    job for one producer bug is not an option."""
    reg = MockSchemaRegistry()
    sid = reg.register("nation_poison-value", json.dumps(_NATION_V1), "AVRO")

    def enc(rec):
        if rec.n_nationkey % 7 == 0:
            # valid frame preamble, garbage body -> decoder error
            return None, ks.confluent_frame(b"\xff\xfe", sid)
        payload = avro_schema.encode(
            {"n_nationkey": int(rec.n_nationkey), "n_name": rec.n_name}, _NATION_V1
        )
        return None, ks.confluent_frame(payload, sid)

    frames = _to_frames(T(spark, sf_dir, "nation"), enc, "nation_poison")
    decoded = ks.decode_topic(
        frames,
        "nation_poison",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("par", "off"),
        on_error="skip",
    )
    return decoded.select("n_nationkey", "n_name")


@register(
    "kafka_poison_quarantine",
    # the dead-letter alternative to skipping: on_error='tag' keeps every
    # record, nulls the undecodable value fields, and flags them in a
    # corrupt column — the poison rows stay identifiable by rowkey/offset,
    # so `WHERE corrupt` IS the dead-letter table, no topic re-read needed
    oracle="""
        SELECT n_nationkey AS rowkey,
               CASE WHEN n_nationkey % 7 <> 0 THEN n_nationkey END AS n_nationkey,
               CASE WHEN n_nationkey % 7 <> 0 THEN n_name END AS n_name,
               (n_nationkey % 7 = 0) AS corrupt
        FROM nation
    """,
    tags=("ingest", "kafka", "errors"),
)
def kafka_poison_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_topic(on_error='tag') under the correctness gate: the same
    poison frames kafka_poison_skip drops are instead quarantined in place —
    value fields NULL, corrupt=true, rowkey intact (the key decodes
    independently of the poison value, identifying the bad records for the
    producer-side fix)."""
    reg = MockSchemaRegistry()
    sid = reg.register("nation_quar-value", json.dumps(_NATION_V1), "AVRO")

    def enc(rec):
        k = int(rec.n_nationkey).to_bytes(8, "big", signed=True)
        if rec.n_nationkey % 7 == 0:
            return k, ks.confluent_frame(b"\xff\xfe", sid)
        payload = avro_schema.encode(
            {"n_nationkey": int(rec.n_nationkey), "n_name": rec.n_name}, _NATION_V1
        )
        return k, ks.confluent_frame(payload, sid)

    frames = _to_frames(T(spark, sf_dir, "nation"), enc, "nation_quar")
    decoded = ks.decode_topic(
        frames,
        "nation_quar",
        value_serde=Serde(kind="latest"),
        key_serde=Serde(kind="long"),
        registry=reg,
        row_attributes=("rowkey", "par", "off"),
        on_error="tag",
    )
    return decoded.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        "n_nationkey",
        "n_name",
        "corrupt",
    )


# ---------------------------------------------------------------------------
# JSON Schema roundtrip (allOf + tag injection exercised in tests; here the
# plain object path over a bigger table)
# ---------------------------------------------------------------------------

_SUPPLIER_JS = {
    "type": "object",
    "properties": {
        "s_suppkey": {"type": "integer"},
        "s_name": {"type": "string"},
        "s_nationkey": {"type": "integer"},
        "s_acctbal": {"type": "number"},
    },
    "required": ["s_suppkey", "s_name"],
}


@register(
    "kafka_json_schema_roundtrip",
    oracle="""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
    """,
    tags=("ingest", "kafka", "jsonschema"),
)
def kafka_json_schema_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema_str = json.dumps(_SUPPLIER_JS)

    def enc(rec):
        value = json.dumps(
            {
                "s_suppkey": int(rec.s_suppkey),
                "s_name": rec.s_name,
                "s_nationkey": int(rec.s_nationkey),
                "s_acctbal": float(rec.s_acctbal),
            }
        ).encode("utf-8")
        return None, value

    frames = _to_frames(T(spark, sf_dir, "supplier"), enc, "supplier")
    decoded = ks.decode_topic(
        frames,
        "supplier",
        value_serde=Serde(kind="jsonschema", schema_str=schema_str),
        row_attributes=("par", "off"),
    )
    return decoded.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")


# ---------------------------------------------------------------------------
# JSON Schema oneOf UNION roundtrip: multi-branch union -> struct-of-branches
# tagging, resolved per record by instance validation — the Python decode
# stage's distinguishing semantics (JsonTransformer.java:296-315), graded
# directly now that plain-struct JSON topics flip to the from_json JVM path
# ---------------------------------------------------------------------------

_NATION_JS_UNION = {
    "type": "object",
    "properties": {
        "n_nationkey": {"type": "integer"},
        "n_name": {"type": "string"},
        "extra": {"oneOf": [{"type": "null"}, {"type": "integer"}, {"type": "string"}]},
    },
    "required": ["n_nationkey", "n_name"],
}


@register(
    "kafka_jsonschema_union_roundtrip",
    # identity oracle: per-record oneOf branch validation -> union struct
    # (u0 integer, u1 string) -> union_tag/union_extract, branch by key%3.
    # The query also asserts its plan did NOT take the from_json fast path
    # (multi-branch oneOf is the gate that must keep the Python stage).
    oracle="""
        SELECT n_nationkey, n_name,
               CASE WHEN n_nationkey % 3 = 0 THEN 'u0'
                    WHEN n_nationkey % 3 = 1 THEN 'u1' END AS extra_tag,
               CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey * 10 END AS extra_long,
               CASE WHEN n_nationkey % 3 = 1 THEN 'x' || n_name END AS extra_str
        FROM nation
    """,
    tags=("ingest", "kafka", "jsonschema", "union"),
)
def kafka_jsonschema_union_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation -> Confluent-framed JSON with a oneOf union field ->
    decode_topic: the branch is resolved PER RECORD by validating the
    instance against each subschema in order (schema/jsonschema.py:
    validates — mirrors JsonTransformer.java:296-315), producing the
    struct-of-branches union encoding shared with the Avro/Proto
    transformers; ``union_tag``/``union_extract`` read it back."""
    schema_str = json.dumps(_NATION_JS_UNION)

    def enc(rec):
        mod = rec.n_nationkey % 3
        extra = (
            int(rec.n_nationkey) * 10
            if mod == 0
            else ("x" + rec.n_name) if mod == 1 else None
        )
        value = json.dumps(
            {"n_nationkey": int(rec.n_nationkey), "n_name": rec.n_name, "extra": extra}
        ).encode("utf-8")
        return None, ks.confluent_frame(value, 3)

    frames = _to_frames(T(spark, sf_dir, "nation"), enc, "nation_js_union")
    decoded = ks.decode_topic(
        frames,
        "nation_js_union",
        value_serde=Serde(kind="jsonschema", schema_str=schema_str),
        row_attributes=("par", "off"),
    )
    plan = decoded._jdf.queryExecution().optimizedPlan().toString()
    if "from_json" in plan:
        raise AssertionError(
            "kafka_jsonschema_union_roundtrip: oneOf schema must stay on "
            "the Python decode stage — gate regression"
        )
    return decoded.select(
        "n_nationkey",
        "n_name",
        union_tag(F.col("extra"), ["u0", "u1"]).alias("extra_tag"),
        union_extract(F.col("extra"), "u0").alias("extra_long"),
        union_extract(F.col("extra"), "u1").alias("extra_str"),
    )


# ---------------------------------------------------------------------------
# Protobuf roundtrip (message-index framing, enum, oneof)
# ---------------------------------------------------------------------------

_CUSTOMER_PROTO = """
syntax = "proto3";
message Customer {
  int64 c_custkey = 1;
  string c_name = 2;
  double c_acctbal = 3;
  Segment segment = 4;
  oneof contact {
    string phone = 5;
    int64 nation = 6;
  }
}
enum Segment {
  UNKNOWN = 0;
  BUILDING = 1;
  AUTOMOBILE = 2;
  MACHINERY = 3;
  HOUSEHOLD = 4;
  FURNITURE = 5;
}
"""

_SEGMENTS = {"BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"}


@register(
    "kafka_proto_roundtrip",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal,
               CASE WHEN c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY','HOUSEHOLD','FURNITURE')
                    THEN c_mktsegment ELSE 'UNKNOWN' END AS segment,
               CASE WHEN c_custkey % 2 = 0 THEN 'phone' ELSE 'nation' END AS contact_tag,
               CASE WHEN c_custkey % 2 = 0 THEN c_name END AS contact_phone,
               CASE WHEN c_custkey % 2 = 1 THEN c_nationkey END AS contact_nation
        FROM customer
    """,
    tags=("ingest", "kafka", "protobuf", "union"),
)
def kafka_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    desc = proto_schema.resolve(proto_schema.parse_proto(_CUSTOMER_PROTO), "Customer")

    def enc(rec):
        seg = rec.c_mktsegment if rec.c_mktsegment in _SEGMENTS else "UNKNOWN"
        values = {
            "c_custkey": int(rec.c_custkey),
            "c_name": rec.c_name,
            "c_acctbal": float(rec.c_acctbal),
            "segment": seg,
        }
        if rec.c_custkey % 2 == 0:
            values["phone"] = rec.c_name
        else:
            values["nation"] = int(rec.c_nationkey)
        # single-message schema: message-index prefix 0 (Confluent proto framing)
        return None, ks.confluent_frame(b"\x00" + proto_schema.encode_message(values, desc), 1)

    frames = _to_frames(T(spark, sf_dir, "customer"), enc, "customer")
    decoded = ks.decode_topic(
        frames,
        "customer",
        value_serde=Serde(kind="proto", schema_str=_CUSTOMER_PROTO, message="Customer"),
        row_attributes=("par", "off"),
    )
    return decoded.select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        "segment",
        union_tag(F.col("contact"), ["phone", "nation"]).alias("contact_tag"),
        union_extract(F.col("contact"), "phone").alias("contact_phone"),
        union_extract(F.col("contact"), "nation").alias("contact_nation"),
    )


# ---------------------------------------------------------------------------
# raw-JSON serde roundtrip (schema-less rowval + JSON functions, the
# reference's JsonNoSchemaTest surface on driver data)
# ---------------------------------------------------------------------------


@register(
    "kafka_rawjson_roundtrip",
    oracle="""
        SELECT CAST(props->>'$.k' AS BIGINT) AS k_val, COUNT(*) AS n
        FROM events
        GROUP BY 1
    """,
    tags=("ingest", "kafka", "rawjson"),
)
def kafka_rawjson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props (a JSON string column) as schema-less json-serde records:
    value bytes -> rowval -> JSON functions (KwackEngine.java:672-673)."""

    def enc(rec):
        return None, rec.props.encode("utf-8")

    frames = _to_frames(
        T(spark, sf_dir, "events").select("props"), enc, "events_raw"
    )
    decoded = ks.decode_topic(
        frames, "events_raw", value_serde=Serde(kind="rawjson"), row_attributes=("par",)
    )
    return decoded.groupBy(
        F.get_json_object("rowval", "$.k").cast("bigint").alias("k_val")
    ).agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# primitive serdes roundtrip (JVM-only decode path)
# ---------------------------------------------------------------------------


@register(
    "kafka_primitive_roundtrip",
    oracle="""
        SELECT doc_id AS rowkey, text AS rowval FROM documents
    """,
    tags=("ingest", "kafka", "primitive"),
)
def kafka_primitive_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """long key + string value — decodes entirely JVM-side (no Python stage
    in the decoded plan; see test_kafka_decode for the plan assertion)."""

    def enc(rec):
        return int(rec.doc_id).to_bytes(8, "big", signed=True), rec.text.encode("utf-8")

    frames = _to_frames(
        T(spark, sf_dir, "documents").select("doc_id", "text"), enc, "docs_prim"
    )
    decoded = ks.decode_topic(
        frames,
        "docs_prim",
        value_serde=Serde(kind="string"),
        key_serde=Serde(kind="long"),
        row_attributes=("rowkey", "par", "off"),
    )
    return decoded.select("rowkey", "rowval")


# ---------------------------------------------------------------------------
# two decoded topics joined in SQL (the reference's flagship README demo:
# multiple -t topics -> multiple tables -> cross-topic join, README.md:112-117)
# ---------------------------------------------------------------------------

_NATION_J = {
    "type": "record",
    "name": "NationJ",
    "fields": [
        {"name": "n_nationkey", "type": "long"},
        {"name": "n_name", "type": "string"},
        {"name": "n_regionkey", "type": "long"},
    ],
}
_REGION_J = {
    "type": "record",
    "name": "RegionJ",
    "fields": [
        {"name": "r_regionkey", "type": "long"},
        {"name": "r_name", "type": "string"},
    ],
}


@register(
    "kafka_two_topic_join",
    oracle="""
        SELECT n.n_nationkey, n.n_name, r.r_name AS region_name
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    tags=("ingest", "kafka", "join"),
)
def kafka_two_topic_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two topics, two serdes, one SQL join — each topic is encoded to
    Confluent-framed Avro, decoded through its own registry subject, and
    the decoded tables join like any views (the 25-row region side
    broadcasts; at scale the dimension topic is exactly this broadcast)."""
    reg = MockSchemaRegistry()
    nsid = reg.register("nat_j-value", json.dumps(_NATION_J), "AVRO")
    rsid = reg.register("reg_j-value", json.dumps(_REGION_J), "AVRO")

    def enc_nation(rec):
        payload = avro_schema.encode(
            {
                "n_nationkey": int(rec.n_nationkey),
                "n_name": rec.n_name,
                "n_regionkey": int(rec.n_regionkey),
            },
            _NATION_J,
        )
        return None, ks.confluent_frame(payload, nsid)

    def enc_region(rec):
        payload = avro_schema.encode(
            {"r_regionkey": int(rec.r_regionkey), "r_name": rec.r_name}, _REGION_J
        )
        return None, ks.confluent_frame(payload, rsid)

    nation = ks.decode_topic(
        _to_frames(T(spark, sf_dir, "nation"), enc_nation, "nat_j"),
        "nat_j",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("off",),
    )
    region = ks.decode_topic(
        _to_frames(T(spark, sf_dir, "region"), enc_region, "reg_j"),
        "reg_j",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=("off",),
    )
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", F.col("r_name").alias("region_name"))


# ---------------------------------------------------------------------------
# Streaming ingest under the oracle gate: the SAME decode path (schema-
# registry Avro, Confluent framing, union branches) running on a file-source
# stream of kafka-shaped frames — append-mode memory sink must equal the
# batch decode, proving the one-code-path claim (sources/kafka.py:
# decode_topic on a streaming frame source) end-to-end rather than by
# inspection.
# ---------------------------------------------------------------------------


@register(
    "streaming_kafka_avro_decode",
    oracle="""
        SELECT n_nationkey AS rowkey,
               n_nationkey, n_name, n_regionkey,
               CASE WHEN n_nationkey % 3 = 0 THEN 'u0'
                    WHEN n_nationkey % 3 = 1 THEN 'u1' END AS extra_tag,
               CASE WHEN n_nationkey % 3 = 0 THEN n_nationkey * 10 END AS extra_long,
               CASE WHEN n_nationkey % 3 = 1 THEN 'x' || n_name END AS extra_str
        FROM nation
    """,
    tags=("ingest", "kafka", "avro", "streaming"),
)
def streaming_kafka_avro_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent-framed Avro frames replayed as a stream and decoded with
    the batch code path (decode is narrow/stateless, so append mode needs no
    watermark); a Kafka readStream swaps in for the file source with no
    other change."""
    frames, reg = _nation_avro_frames(spark, sf_dir, "snation")
    out = _decode_nation(replay(frames, "kafka_replay"), "snation", reg)
    return drain_to_table(out, "streaming_kafka_avro_decode")


# ---------------------------------------------------------------------------
# Protobuf message-index roundtrip (non-first message type)
# ---------------------------------------------------------------------------

_MULTI_MSG_PROTO = """
syntax = "proto3";
message AuditHeader {
  string source = 1;
  int64 seq = 2;
}
message RegionRecord {
  int64 r_regionkey = 1;
  string r_name = 2;
}
"""


@register(
    "kafka_proto_msgindex",
    # identity oracle over region; the wire carries message-index path [1]
    # (RegionRecord is the SECOND message in the .proto) which the decoder
    # must parse and validate — the pre-fix code only understood the
    # single-byte [0] optimization and would feed the index bytes to the
    # protobuf parser as message content.
    oracle="SELECT r_regionkey, r_name FROM region",
    tags=("ingest", "kafka", "protobuf", "msgindex"),
)
def kafka_proto_msgindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confluent Protobuf message-index prefix handling for a value type that
    is NOT the first message in its .proto file (MessageIndexes framing,
    KwackEngine.java:460-477): the varint index path after the 5-byte header
    selects ``RegionRecord`` at index [1]; the ``;msg:`` selector picks the
    matching reader descriptor and the decoder validates wire-vs-reader."""
    desc = proto_schema.resolve(
        proto_schema.parse_proto(_MULTI_MSG_PROTO), "RegionRecord"
    )
    prefix = proto_schema.write_message_indexes([1])

    def enc(rec):
        body = proto_schema.encode_message(
            {"r_regionkey": int(rec.r_regionkey), "r_name": rec.r_name}, desc
        )
        return None, ks.confluent_frame(prefix + body, 1)

    frames = _to_frames(T(spark, sf_dir, "region"), enc, "region_proto_mi")
    decoded = ks.decode_topic(
        frames,
        "region_proto_mi",
        value_serde=Serde(
            kind="proto", schema_str=_MULTI_MSG_PROTO, message="RegionRecord"
        ),
        row_attributes=("par", "off"),
    )
    return decoded.select("r_regionkey", "r_name")


# ---------------------------------------------------------------------------
# plain-record Avro decode on the Python stage
# ---------------------------------------------------------------------------

_SUPPLIER_FAST_AVRO = {
    "type": "record",
    "name": "SupplierFast",
    "fields": [
        {"name": "s_suppkey", "type": "long"},
        {"name": "s_name", "type": "string"},
        {"name": "s_nationkey", "type": "int"},
        {"name": "s_acctbal", "type": "double"},
    ],
}


@register(
    "kafka_avro_fastpath",
    # identity oracle over supplier: an evolution-free plain record with an
    # explicit reader schema, the simplest Avro topic.  It decodes on the
    # Python stage like every Avro topic; the name is kept because the
    # registered query set is a stable contract.
    oracle="""
        SELECT s_suppkey AS rowkey, s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM supplier
    """,
    tags=("ingest", "kafka", "avro", "fastpath"),
)
def kafka_avro_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> Confluent-framed plain Avro (no unions, no evolution,
    explicit schema) -> decode_topic's Arrow-batched Python stage (the
    reference decodes in Java, KwackEngine.java:516-585)."""
    schema = _SUPPLIER_FAST_AVRO
    schema_str = json.dumps(schema)

    def enc(rec):
        k = int(rec.s_suppkey).to_bytes(8, "big", signed=True)
        payload = avro_schema.encode(
            {
                "s_suppkey": int(rec.s_suppkey),
                "s_name": rec.s_name,
                "s_nationkey": int(rec.s_nationkey),
                "s_acctbal": float(rec.s_acctbal),
            },
            schema,
        )
        return k, ks.confluent_frame(payload, 1)

    frames = _to_frames(T(spark, sf_dir, "supplier"), enc, "supplier_fast")
    decoded = ks.decode_topic(
        frames,
        "supplier_fast",
        value_serde=Serde(kind="avro", schema_str=schema_str),
        key_serde=Serde(kind="long"),
    )
    return decoded.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        "s_suppkey",
        "s_name",
        "s_nationkey",
        "s_acctbal",
    )


# ---------------------------------------------------------------------------
# JVM from_json fast path: plain-struct JSON-Schema decode, jar-free — the
# one JVM struct decode path (Avro and Protobuf decode on the Python stage)
# ---------------------------------------------------------------------------

_CUSTOMER_FAST_JS = {
    "type": "object",
    "properties": {
        "c_custkey": {"type": "integer"},
        "c_name": {"type": "string"},
        "c_acctbal": {"type": "number"},
        "c_mktsegment": {"type": "string"},
    },
    "required": ["c_custkey", "c_name"],
}


@register(
    "kafka_jsonschema_fastpath",
    # identity oracle over customer; a plain object schema (typed props, no
    # oneOf/anyOf, no ;tag:) satisfies every jsonschema_jvm.eligible gate,
    # so decode rides built-in from_json inside whole-stage codegen — the
    # query ASSERTS the physical plan took that path (no Python decode
    # stage downstream of the frames), then the oracle grades the values.
    oracle="""
        SELECT c_custkey AS rowkey, c_custkey, c_name, c_acctbal,
               c_mktsegment
        FROM customer
    """,
    tags=("ingest", "kafka", "jsonschema", "fastpath"),
)
def kafka_jsonschema_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> Confluent-framed plain JSON -> decode_topic, which takes
    the gated JVM ``from_json`` path (sources/jsonschema_jvm.py).  The
    reference decodes JSON in Java (KwackEngine.java:516-585 via Confluent's
    deserializers, JsonTransformer.java for the mapping); this is the Spark
    equivalent — scan+parse stay inside whole-stage codegen instead of an
    Arrow round-trip into Python, which at 100-TB ingest is the dominant
    cost difference."""
    schema_str = json.dumps(_CUSTOMER_FAST_JS)

    def enc(rec):
        k = int(rec.c_custkey).to_bytes(8, "big", signed=True)
        value = json.dumps(
            {
                "c_custkey": int(rec.c_custkey),
                "c_name": rec.c_name,
                "c_acctbal": float(rec.c_acctbal),
                "c_mktsegment": rec.c_mktsegment,
            }
        ).encode("utf-8")
        return k, ks.confluent_frame(value, 2)

    frames = _to_frames(T(spark, sf_dir, "customer"), enc, "customer_fast")
    decoded = ks.decode_topic(
        frames,
        "customer_fast",
        value_serde=Serde(kind="jsonschema", schema_str=json.dumps(_CUSTOMER_FAST_JS)),
        key_serde=Serde(kind="long"),
    )
    plan = decoded._jdf.queryExecution().optimizedPlan().toString()
    if "from_json" not in plan:
        raise AssertionError(
            "kafka_jsonschema_fastpath: decode did not take the JVM "
            "from_json path — gate regression"
        )
    return decoded.select(
        F.col("rowkey").cast("long").alias("rowkey"),
        "c_custkey",
        "c_name",
        "c_acctbal",
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Avro KEY roundtrip: structured rowkey (record key schema -> struct column)
# ---------------------------------------------------------------------------

_SUPP_KEY_AVRO = {
    "type": "record",
    "name": "SuppKey",
    "fields": [
        {"name": "kid", "type": "long"},
        {"name": "region", "type": "string"},
    ],
}
_SUPP_VAL_AVRO = {
    "type": "record",
    "name": "SuppVal",
    "fields": [
        {"name": "s_name", "type": "string"},
        {"name": "s_acctbal", "type": "double"},
    ],
}


@register(
    "kafka_avro_key_roundtrip",
    # structured KEYS: the reference decodes record-schema'd keys into a
    # rowkey struct (KwackEngine.java:593-612 key column); here the struct
    # fields are projected back out and must equal the source columns
    oracle="""
        SELECT s_suppkey AS kid,
               'R' || CAST(s_nationkey % 5 AS VARCHAR) AS region,
               s_name,
               CAST(s_acctbal AS DOUBLE) AS s_acctbal
        FROM supplier
    """,
    tags=("ingest", "kafka", "avro", "rowkey"),
)
def kafka_avro_key_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier -> Confluent-framed Avro KEY records (kid, region) + Avro
    values -> decode_topic -> rowkey struct projected to columns.  Grades
    the structured-key half of the serde surface the int/long-key
    roundtrips don't touch."""
    reg = MockSchemaRegistry()
    ksid = reg.register("supp-key", json.dumps(_SUPP_KEY_AVRO), "AVRO")
    vsid = reg.register("supp-value", json.dumps(_SUPP_VAL_AVRO), "AVRO")

    def enc(rec):
        key = ks.confluent_frame(
            avro_schema.encode(
                {
                    "kid": int(rec.s_suppkey),
                    "region": "R" + str(int(rec.s_nationkey) % 5),
                },
                _SUPP_KEY_AVRO,
            ),
            ksid,
        )
        val = ks.confluent_frame(
            avro_schema.encode(
                {"s_name": rec.s_name, "s_acctbal": float(rec.s_acctbal)},
                _SUPP_VAL_AVRO,
            ),
            vsid,
        )
        return key, val

    frames = _to_frames(T(spark, sf_dir, "supplier"), enc, "supp")
    decoded = ks.decode_topic(
        frames,
        "supp",
        value_serde=Serde(kind="latest"),
        key_serde=Serde(kind="latest"),
        registry=reg,
    )
    return decoded.select(
        F.col("rowkey.kid").alias("kid"),
        F.col("rowkey.region").alias("region"),
        "s_name",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )
