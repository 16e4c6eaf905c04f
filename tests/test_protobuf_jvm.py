"""Registry-resolved Protobuf topics decode on the Python stage.

There is no JVM from_protobuf path: Protobuf values always decode through
decode_topic's Python per-record body, with repeated, enum and nested-message
fields and rowinfo intact."""

from kwack_spark.config import parse_serde
from kwack_spark.schema import protobuf as proto_schema
from kwack_spark.schema.registry import MockSchemaRegistry
from kwack_spark.sources import kafka as ks

DEMO = """
syntax = "proto3";
package demo;
message Event {
  int64 id = 1;
  string name = 2;
  repeated int32 ns = 3;
  Color color = 4;
  Inner inner = 5;
  message Inner { string s = 1; }
  enum Color { RED = 0; BLUE = 1; }
}
"""


def test_decode_topic_falls_back_to_python_path(spark):
    from tests.test_kafka_decode import make_frames

    reg = MockSchemaRegistry()
    sid = reg.register("tp1-value", DEMO, "PROTOBUF")
    desc = proto_schema.resolve(proto_schema.parse_proto(DEMO))
    payload = b"\x00" + proto_schema.encode_message(
        {"id": 7, "name": "x", "ns": [1, 2], "color": "BLUE", "inner": {"s": "y"}},
        desc,
    )
    out = ks.decode_topic(
        make_frames(spark, [ks.confluent_frame(payload, sid)]),
        "tp1",
        parse_serde("latest"),
        registry=reg,
        row_attributes=("vsi", "off"),
    )
    row = out.collect()[0]
    assert row.id == 7 and row.name == "x" and list(row.ns) == [1, 2]
    assert row.color == "BLUE" and row.inner.s == "y"
    assert row.rowinfo.vsi == sid and row.rowinfo.off == 0
