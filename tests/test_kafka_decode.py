"""Kafka decode-pipeline tests on synthetic kafka-shaped frames — the same
column shape the Spark Kafka connector produces, so the entire wire-format +
serde + flatten + rowinfo path is exercised without a broker (mirrors the
reference's embedded-cluster matrix: AvroTest.java:213-313,
AvroKeyTest.java:160-275, JsonSchemaTest.java, JsonNoSchemaTest.java:50-115,
ProtobufTest.java:38-120, ProtobufNoSRTest.java:117-174)."""

import datetime
import json

import pytest

from kwack_spark.config import Serde, parse_serde
from kwack_spark.schema import avro as avro_schema
from kwack_spark.schema import protobuf as proto_schema
from kwack_spark.schema.registry import MockSchemaRegistry
from kwack_spark.sources import kafka as ks

AVRO_SIMPLE = {
    "type": "record",
    "name": "Simple",
    "fields": [
        {"name": "f1", "type": "int"},
        {"name": "f2", "type": "string"},
    ],
}

TS0 = datetime.datetime(2024, 1, 1, 0, 0, 0)


def frame_rows(values, keys=None, topic="t1", headers=None):
    rows = []
    for i, v in enumerate(values):
        rows.append(
            (
                None if keys is None else keys[i],
                v,
                topic,
                0,
                i,
                TS0 + datetime.timedelta(seconds=i),
                0,
                headers[i] if headers else None,
            )
        )
    return rows


def make_frames(spark, values, keys=None, topic="t1", headers=None):
    return spark.createDataFrame(
        frame_rows(values, keys, topic, headers), ks.KAFKA_FRAME_SCHEMA
    )


def test_avro_value_with_registry_framing(spark):
    reg = MockSchemaRegistry()
    sid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    payloads = [
        ks.confluent_frame(avro_schema.encode({"f1": i, "f2": f"v{i}"}, AVRO_SIMPLE), sid)
        for i in range(3)
    ]
    df = make_frames(spark, payloads)
    out = ks.decode_topic(df, "t1", Serde(kind="latest"), registry=reg)
    rows = sorted(out.collect(), key=lambda r: r.f1)
    assert [r.f1 for r in rows] == [0, 1, 2]
    assert rows[1].f2 == "v1"
    # rowinfo carries the schema id, partition, offset
    assert rows[0].rowinfo.vsi == sid
    assert rows[2].rowinfo.off == 2
    assert rows[0].rowkey is None
    assert out.columns == ["rowkey", "f1", "f2", "rowinfo"]


def test_avro_evolution_mixed_writers(spark):
    """Old-writer rows surface the evolved column as NULL/default
    (AvroTest.java:229-248)."""
    reg = MockSchemaRegistry()
    sid_v1 = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    evolved = {
        "type": "record",
        "name": "Simple",
        "fields": AVRO_SIMPLE["fields"]
        + [{"name": "f3", "type": ["null", "string"], "default": None}],
    }
    sid_v2 = reg.register("t1-value", json.dumps(evolved), "AVRO")
    payloads = [
        ks.confluent_frame(avro_schema.encode({"f1": 1, "f2": "old"}, AVRO_SIMPLE), sid_v1),
        ks.confluent_frame(
            avro_schema.encode({"f1": 2, "f2": "new", "f3": (1, "x")}, evolved), sid_v2
        ),
    ]
    out = ks.decode_topic(make_frames(spark, payloads), "t1", Serde(kind="latest"), registry=reg)
    rows = {r.f1: r for r in out.collect()}
    assert rows[1].f3 is None and rows[2].f3 == "x"


def test_tombstone_skipped_for_struct_tables(spark):
    """Null value on a struct table skips the row (KwackEngine.java:820-823,
    AvroKeyTest.java:261-275)."""
    reg = MockSchemaRegistry()
    sid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    payloads = [
        ks.confluent_frame(avro_schema.encode({"f1": 1, "f2": "a"}, AVRO_SIMPLE), sid),
        None,
    ]
    out = ks.decode_topic(make_frames(spark, payloads), "t1", Serde(kind="latest"), registry=reg)
    assert out.count() == 1


def test_avro_key_rowkey_struct(spark):
    """Complex Avro KEY surfaces as a rowkey struct column
    (AvroKeyTest.java:160-275)."""
    reg = MockSchemaRegistry()
    key_schema = {
        "type": "record",
        "name": "K",
        "fields": [{"name": "kid", "type": "int"}],
    }
    ksid = reg.register("t1-key", json.dumps(key_schema), "AVRO")
    vsid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    keys = [ks.confluent_frame(avro_schema.encode({"kid": 7}, key_schema), ksid)]
    vals = [ks.confluent_frame(avro_schema.encode({"f1": 1, "f2": "a"}, AVRO_SIMPLE), vsid)]
    out = ks.decode_topic(
        make_frames(spark, vals, keys=keys),
        "t1",
        Serde(kind="latest"),
        key_serde=Serde(kind="latest"),
        registry=reg,
    )
    row = out.collect()[0]
    assert row.rowkey.kid == 7
    assert row.rowinfo.ksi == ksid and row.rowinfo.vsi == vsid


def test_raw_json_rowval(spark):
    """Schema-less json serde -> single JSON rowval column queried with JSON
    functions (JsonNoSchemaTest.java:62-99)."""
    payloads = [json.dumps({"a": i, "b": "x"}).encode() for i in range(2)]
    out = ks.decode_topic(make_frames(spark, payloads), "t1", parse_serde("json"))
    out.createOrReplaceTempView("jt")
    got = out.sparkSession.sql(
        "SELECT get_json_object(rowval, '$.a') AS a FROM jt ORDER BY a"
    ).collect()
    assert [r.a for r in got] == ["0", "1"]


def test_json_schema_value_and_tag(spark):
    """External JSON Schema serde with ;tag: key-field injection
    (KwackConfig.java:555-561, KwackEngine.java:491-499)."""
    schema = json.dumps(
        {
            "type": "object",
            "properties": {
                "name": {"type": "string"},
                "kid": {"type": "integer"},
            },
        }
    )
    serde = Serde(kind="jsonschema", schema_str=schema, tag=("id", "kid"))
    keys = [json.dumps({"id": 42}).encode()]
    vals = [json.dumps({"name": "n1"}).encode()]
    out = ks.decode_topic(make_frames(spark, vals, keys=keys), "t1", serde)
    row = out.collect()[0]
    assert row.name == "n1" and row.kid == 42


def test_proto_value_external_schema(spark):
    """External proto:<schema> serde with message-index framing
    (ProtobufNoSRTest.java:117-157)."""
    proto = """
    syntax = "proto3";
    message Rec { int32 a = 1; string b = 2; repeated int64 ns = 3; }
    """
    desc = proto_schema.resolve(proto_schema.parse_proto(proto), "Rec")
    reg = MockSchemaRegistry()
    sid = reg.register("t1-value", proto, "PROTOBUF")
    payloads = [
        ks.confluent_frame(
            b"\x00" + proto_schema.encode_message({"a": i, "b": f"s{i}", "ns": [1, 2]}, desc),
            sid,
        )
        for i in range(2)
    ]
    out = ks.decode_topic(
        make_frames(spark, payloads), "t1", Serde(kind="proto", schema_str=proto, message="Rec")
    )
    rows = sorted(out.collect(), key=lambda r: r.a)
    assert rows[0].a == 0 and rows[1].b == "s1" and rows[0].ns == [1, 2]


def test_primitive_serdes_jvm_path(spark):
    """int key + string value decode without any Python stage."""
    keys = [(7).to_bytes(4, "big"), (8).to_bytes(4, "big")]
    vals = [b"hello", b"world"]
    out = ks.decode_topic(
        make_frames(spark, vals, keys=keys),
        "t1",
        parse_serde("string"),
        key_serde=parse_serde("int"),
    )
    rows = sorted(out.collect(), key=lambda r: r.rowkey)
    assert [(r.rowkey, r.rowval) for r in rows] == [(7, "hello"), (8, "world")]
    # no Python stage in the plan — the decode stayed JVM-side
    plan = out._jdf.queryExecution().toString()
    assert "MapInPandas" not in plan and "MapInArrow" not in plan


def test_primitive_negative_int_key(spark):
    keys = [(-5).to_bytes(4, "big", signed=True)]
    out = ks.decode_topic(
        make_frames(spark, [b"x"], keys=keys),
        "t1",
        parse_serde("string"),
        key_serde=parse_serde("int"),
    )
    assert out.collect()[0].rowkey == -5


def test_double_primitive_value(spark):
    import struct as st

    vals = [st.pack(">d", 2.5)]
    out = ks.decode_topic(make_frames(spark, vals), "t1", parse_serde("double"))
    assert out.collect()[0].rowval == 2.5


def test_nan_is_a_value_not_null(spark):
    """A NaN double decodes to NaN, not NULL, both as a primitive rowval
    and as an Avro field; a tombstone stays NULL."""
    import math
    import struct as st

    out = ks.decode_topic(
        make_frames(spark, [st.pack(">d", float("nan")), None]), "t1",
        parse_serde("double"), row_attributes=("off",),
    )
    rows = sorted(out.collect(), key=lambda r: r.rowinfo.off)
    assert math.isnan(rows[0].rowval) and rows[1].rowval is None

    schema = {"type": "record", "name": "D", "fields": [{"name": "d", "type": "double"}]}
    payload = ks.confluent_frame(avro_schema.encode({"d": float("nan")}, schema), 1)
    out = ks.decode_topic(
        make_frames(spark, [payload]), "t1",
        Serde(kind="avro", schema_str=json.dumps(schema)), row_attributes=(),
    )
    assert math.isnan(out.collect()[0].d)


def test_value_fields_named_like_frame_columns(spark):
    """Value fields named like Kafka frame columns (topic, key, value) are
    plain data columns; rowinfo still reads the frame's own columns."""
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "topic", "type": "string"},
            {"name": "key", "type": "int"},
            {"name": "value", "type": "int"},
        ],
    }
    payload = ks.confluent_frame(
        avro_schema.encode({"topic": "x", "key": 5, "value": 6}, schema), 4
    )
    out = ks.decode_topic(
        make_frames(spark, [payload], keys=[b"k"]), "t1",
        Serde(kind="avro", schema_str=json.dumps(schema)),
        key_serde=Serde(kind="string"), row_attributes=("rowkey", "vsi", "top"),
    )
    assert out.columns == ["rowkey", "topic", "key", "value", "rowinfo"]
    row = out.collect()[0]
    assert (row.rowkey, row.topic, row.key, row.value) == ("k", "x", 5, 6)
    assert row.rowinfo.asDict() == {"vsi": 4, "top": "t1"}


def test_headers_last_wins(spark):
    """Duplicate header keys keep the last value (KwackEngine.java:1022-1035)."""
    headers = [[("h1", b"a"), ("h1", b"b"), ("h2", b"c")]]
    out = ks.decode_topic(
        make_frames(spark, [b"v"], headers=headers), "t1", parse_serde("string")
    )
    row = out.collect()[0]
    assert row.rowinfo.hdr == {"h1": "b", "h2": "c"}


def test_skip_bytes(spark):
    """skip.bytes trims a fixed prefix before deserialization
    (KwackConfig.java:96-98, KwackEngine.java:471-474)."""
    vals = [b"XXhello"]
    out = ks.decode_topic(
        make_frames(spark, vals), "t1", parse_serde("string"), skip_bytes=2
    )
    assert out.collect()[0].rowval == "hello"


def test_row_attributes_subset(spark):
    out = ks.decode_topic(
        make_frames(spark, [b"v"]),
        "t1",
        parse_serde("string"),
        row_attributes=("par", "off"),
    )
    row = out.collect()[0]
    assert row.rowinfo.asDict() == {"par": 0, "off": 0}
    assert "rowkey" not in out.columns


def test_rowinfo_epo_is_a_documented_delta(spark):
    """'epo' (leader epoch) is a permanent delta: Spark's Kafka source never
    exposes it, so a request for it is skipped — no always-NULL column
    masquerading as data — while unknown attributes raise."""
    import pytest

    out = ks.decode_topic(
        make_frames(spark, [b"v"]),
        "t1",
        parse_serde("string"),
        row_attributes=("par", "epo", "off"),
    )
    assert out.collect()[0].rowinfo.asDict() == {"par": 0, "off": 0}

    with pytest.raises(ValueError, match="unknown rowinfo attribute"):
        ks.decode_topic(
            make_frames(spark, [b"v"]),
            "t1",
            parse_serde("string"),
            row_attributes=("par", "nope"),
        ).collect()


def test_on_error_skip_poison_records(spark):
    """A corrupt payload must not kill the job in 'skip' mode; 'fail' raises."""
    reg = MockSchemaRegistry()
    sid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    good = ks.confluent_frame(avro_schema.encode({"f1": 1, "f2": "ok"}, AVRO_SIMPLE), sid)
    poison = ks.confluent_frame(b"\xff\xff", sid)  # truncated avro body
    df = make_frames(spark, [good, poison, good])
    out = ks.decode_topic(df, "t1", Serde(kind="latest"), registry=reg, on_error="skip")
    assert out.count() == 2
    with pytest.raises(Exception):
        ks.decode_topic(df, "t1", Serde(kind="latest"), registry=reg).count()


def test_latest_resolves_json_and_proto_from_registry(spark):
    """latest/<id> serde resolution for non-Avro schema types
    (KwackEngine.java:343-349 resolves whatever type the subject holds)."""
    reg = MockSchemaRegistry()
    js = json.dumps({"type": "object", "properties": {"a": {"type": "integer"}},
                     "required": ["a"]})
    reg.register("jt-value", js, "JSON")
    out = ks.decode_topic(
        make_frames(spark, [b'{"a": 5}'], topic="jt"), "jt",
        Serde(kind="latest"), registry=reg, row_attributes=("off",),
    )
    assert out.collect()[0].a == 5

    proto = 'syntax = "proto3"; message P { int64 x = 1; }'
    from kwack_spark.schema import protobuf as pb
    desc = pb.resolve(pb.parse_proto(proto), "P")
    sid = reg.register("pt-value", proto, "PROTOBUF")
    payload = ks.confluent_frame(b"\x00" + pb.encode_message({"x": 9}, desc), sid)
    out = ks.decode_topic(
        make_frames(spark, [payload], topic="pt"), "pt",
        Serde(kind="id", schema_id=sid), registry=reg, row_attributes=("off",),
    )
    assert out.collect()[0].x == 9


def test_null_key_with_rowkey_enabled(spark):
    """Null KEY with a schema'd key serde: the row is retained, rowkey is
    NULL, value decodes normally (AvroKeyTest.java:196-209 testNullKey)."""
    reg = MockSchemaRegistry()
    key_schema = {
        "type": "record",
        "name": "K",
        "fields": [{"name": "kid", "type": "int"}],
    }
    reg.register("t1-key", json.dumps(key_schema), "AVRO")
    vsid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    vals = [ks.confluent_frame(avro_schema.encode({"f1": 9, "f2": "hi"}, AVRO_SIMPLE), vsid)]
    out = ks.decode_topic(
        make_frames(spark, vals, keys=[None]),
        "t1",
        Serde(kind="latest"),
        key_serde=Serde(kind="latest"),
        registry=reg,
    )
    row = out.collect()[0]
    assert row.rowkey is None
    assert row.f1 == 9 and row.f2 == "hi"


def test_null_key_and_value_non_struct_table(spark):
    """Null key AND null value on a NON-struct (binary rowval) table: the
    row is retained with NULLs — tombstone-skip applies only to
    struct-flattened tables (AvroKeyTest.java:245-259 testNullKeyAndValue,
    where the never-written value subject resolves non-struct;
    KwackEngine.java:820-823)."""
    out = ks.decode_topic(
        make_frames(spark, [None], keys=[None]),
        "t1",
        Serde(kind="binary"),
        key_serde=Serde(kind="binary"),
        registry=None,
    )
    row = out.collect()[0]
    assert row.rowkey is None
    assert row.rowval is None
    assert row.rowinfo.off == 0


def test_bad_name_topic_and_reserved_fields(spark):
    """The reference's testBadName (JsonSchemaTest.java:165-181): a dashed
    topic name ('test-json') and SQL-reserved nested field names (group,
    order) must survive registration and be queryable with quoting.  Spark's
    Python view API rejects dashed names, so register_view aliases a
    backticked SQL view over an internal name."""
    from kwack_spark.session import register_view

    js = {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "badName": {
                "type": "object",
                "properties": {
                    "name": {"type": "string"},
                    "group": {"type": "integer"},
                    "order": {"type": "integer"},
                },
            },
        },
    }
    reg = MockSchemaRegistry()
    sid = reg.register("test-json-value", json.dumps(js), "JSON")
    payloads = [
        ks.confluent_frame(
            json.dumps({"id": i, "badName": {"name": "hi", "group": 1, "order": 2}}).encode(),
            sid,
        )
        for i in range(2)
    ]
    frames = make_frames(spark, payloads, topic="test-json")
    decoded = ks.decode_topic(
        frames, "test-json", value_serde=Serde(kind="latest"), registry=reg
    )
    register_view(decoded, "test-json")
    rows = spark.sql(
        "SELECT id, badName.name, badName.`group`, badName.`order` "
        "FROM `test-json` ORDER BY id"
    ).collect()
    assert [(r[0], r[1], r[2], r[3]) for r in rows] == [
        (0, "hi", 1, 2),
        (1, "hi", 1, 2),
    ]


def test_on_error_tag_quarantines_in_place(spark):
    """'tag' keeps poison rows with their decodable parts + a corrupt flag:
    a bad value keeps its rowkey and frame metadata (offset identifies the
    record for the dead-letter path); clean rows get corrupt=False."""
    reg = MockSchemaRegistry()
    sid = reg.register("t1-value", json.dumps(AVRO_SIMPLE), "AVRO")
    good = ks.confluent_frame(avro_schema.encode({"f1": 1, "f2": "a"}, AVRO_SIMPLE), sid)
    poison = ks.confluent_frame(b"\xff", sid)
    keys = [(10).to_bytes(8, "big"), (20).to_bytes(8, "big")]
    df = make_frames(spark, [good, poison], keys=keys)
    out = ks.decode_topic(
        df, "t1", Serde(kind="latest"), key_serde=Serde(kind="long"),
        registry=reg, row_attributes=("rowkey", "off"), on_error="tag",
    )
    rows = sorted(out.collect(), key=lambda r: r.rowinfo.off)
    assert out.columns == ["rowkey", "f1", "f2", "corrupt", "rowinfo"]
    assert rows[0].corrupt is False and rows[0].f1 == 1 and rows[0].rowkey == 10
    assert rows[1].corrupt is True and rows[1].f1 is None and rows[1].f2 is None
    assert rows[1].rowkey == 20  # the key still identifies the poison record
    assert rows[1].rowinfo.off == 1


def test_on_error_tag_primitive_value_and_tombstone(spark):
    """Tag mode forces the Python stage even for all-primitive serdes so the
    corrupt column exists; short/garbage payloads tag, tombstones stay
    legitimate NULLs with corrupt=False."""
    import struct as _struct

    good = _struct.pack(">q", 7)
    df = make_frames(spark, [good, b"\x01\x02", None])
    out = ks.decode_topic(
        df, "t1", Serde(kind="long"), row_attributes=("off",), on_error="tag"
    )
    rows = sorted(out.collect(), key=lambda r: r.rowinfo.off)
    assert rows[0].rowval == 7 and rows[0].corrupt is False
    assert rows[1].rowval is None and rows[1].corrupt is True  # wrong width
    assert rows[2].rowval is None and rows[2].corrupt is False  # tombstone
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in plan  # python stage, not the JVM primitive path


def test_on_error_rejects_unknown_mode(spark):
    import pytest as _pt

    df = make_frames(spark, [b"x"])
    with _pt.raises(ValueError, match="'tag'"):
        ks.decode_topic(df, "t1", Serde(kind="string"), on_error="quarantine")


AVRO_PLAIN = {
    "type": "record",
    "name": "E",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"], "default": None},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

JSON_PLAIN = {
    "type": "object",
    "properties": {"id": {"type": "integer"}, "name": {"type": "string"}},
}


@pytest.mark.parametrize("on_error", ["fail", "skip", "tag"])
def test_on_error_modes_agree_on_clean_input(spark, on_error):
    """On clean input every on_error mode yields the same rows — 'tag' only
    adds corrupt=false — so the mode changes nothing but what a raising
    decode does.  Avro (explicit schema, Python stage in every mode) and
    plain-struct JSON Schema ('fail' takes the JVM from_json path, 'skip'
    and 'tag' the Python stage)."""
    tag = on_error == "tag"
    avro_frames = [
        ks.confluent_frame(
            avro_schema.encode(
                # unions encode as (branch_index, value): ["null","string"] -> 1
                {"id": 7 + i, "name": (1, f"x{i}"), "tags": ["a"] * i,
                 "ts": 1_700_000_000_000_000},
                AVRO_PLAIN,
            ),
            3,
        )
        for i in range(2)
    ]
    out = ks.decode_topic(
        make_frames(spark, avro_frames), "t1",
        Serde(kind="avro", schema_str=json.dumps(AVRO_PLAIN)),
        row_attributes=("vsi", "off"), on_error=on_error,
    )
    assert out.columns == ["id", "name", "tags", "ts"] + ["corrupt"] * tag + ["rowinfo"]
    rows = sorted(out.collect(), key=lambda r: r.rowinfo.off)
    assert [(r.id, r.name, r.tags, r.rowinfo.vsi, r.rowinfo.off) for r in rows] == [
        (7, "x0", [], 3, 0),
        (8, "x1", ["a"], 3, 1),
    ]
    assert rows[0].ts == rows[1].ts == datetime.datetime.fromtimestamp(1_700_000_000)
    if tag:
        assert [r.corrupt for r in rows] == [False, False]

    json_frames = [
        ks.confluent_frame(json.dumps({"id": i, "name": f"n{i}"}).encode(), 5)
        for i in range(2)
    ]
    out = ks.decode_topic(
        make_frames(spark, json_frames), "t1",
        Serde(kind="jsonschema", schema_str=json.dumps(JSON_PLAIN)),
        row_attributes=("vsi", "off"), on_error=on_error,
    )
    assert out.columns == ["id", "name"] + ["corrupt"] * tag + ["rowinfo"]
    rows = sorted(out.collect(), key=lambda r: r.rowinfo.off)
    assert [(r.id, r.name, r.rowinfo.vsi, r.rowinfo.off) for r in rows] == [
        (0, "n0", 5, 0),
        (1, "n1", 5, 1),
    ]
    if tag:
        assert [r.corrupt for r in rows] == [False, False]


TS_AVRO = {
    "type": "record",
    "name": "Ts",
    "fields": [
        {"name": "us", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        {"name": "ms", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
}

TS_PROTO = """
syntax = "proto3";
message Ts { google.protobuf.Timestamp ts = 1; }
"""


def test_decoded_timestamps_ignore_session_time_zone(spark):
    """The Avro and Protobuf converters return naive UTC datetimes; the
    decoded instant (and the frame timestamp behind rowinfo.ts) must not
    move with spark.sql.session.timeZone."""
    from pyspark.sql import functions as F

    instants = [0, 1_700_000_000_123_000]
    desc = proto_schema.resolve(proto_schema.parse_proto(TS_PROTO), "Ts")
    avro_frames = [
        ks.confluent_frame(avro_schema.encode({"us": us, "ms": us // 1000}, TS_AVRO), 1)
        for us in instants
    ]
    proto_frames = [
        proto_schema.encode_message(
            {"ts": {"seconds": us // 10**6 + 1, "nanos": us % 10**6 * 1000}}, desc
        )
        for us in instants
    ]

    def decoded_micros():
        avro = ks.decode_topic(
            make_frames(spark, avro_frames), "t1",
            Serde(kind="avro", schema_str=json.dumps(TS_AVRO)),
            row_attributes=("off", "ts"),
        )
        proto = ks.decode_topic(
            make_frames(spark, proto_frames), "t1",
            Serde(kind="proto", schema_str=TS_PROTO, message="Ts"),
            row_attributes=("off", "ts"),
        )
        return (
            sorted(tuple(r) for r in avro.select(
                "rowinfo.off", F.unix_micros("us"), F.unix_micros("ms"), "rowinfo.ts"
            ).collect()),
            sorted(tuple(r) for r in proto.select(
                "rowinfo.off", F.unix_micros("ts"), "rowinfo.ts"
            ).collect()),
        )

    utc = decoded_micros()
    assert [r[1:3] for r in utc[0]] == [(us, us) for us in instants]
    assert [r[1] for r in utc[1]] == [us + 10**6 for us in instants]
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        assert decoded_micros() == utc
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
