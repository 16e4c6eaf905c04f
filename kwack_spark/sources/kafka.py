"""Kafka source: topic -> decoded, flattened, metadata-enriched DataFrame.

Re-expresses the reference's ingest core (KwackEngine.java:745-774 consume,
:440-477 wire-format handling, :516-585 serde dispatch, :696-743 rowinfo,
:820-823 tombstone skip, :607-620 flattening) on the Spark Kafka batch/
streaming source.

Design for testability and scale:
- ``decode_topic`` operates on any DataFrame with the Kafka source's column
  shape (key/value binary + topic/partition/offset/timestamp/timestampType/
  headers) — the connector-produced frame and the test-synthesized frame are
  the same thing, so the whole decode path is exercised without a broker.
- Wire format: Confluent framing is magic byte 0x00 + 4-byte big-endian
  schema id (KwackEngine.java:1037-1045); stripping and id extraction happen
  JVM-side (substring / conv) so the scan stays in whole-stage codegen.
  ``skip.bytes`` trims a fixed prefix first (KwackConfig.java:96-98).
- Schema-driven decode (Avro/JSON-Schema/Proto) runs on the engine's one
  Python row stage (``rowstage.per_row``, mapInArrow): one tuple per record,
  the frame columns passed through, so rowinfo is the same JVM expression
  on every path.  The registry snapshot rides with the stage, so per-record
  writer schema resolution (Avro evolution) is a dict lookup on the
  executor.
- Primitive serdes, and plain-struct JSON Schema (``from_json``), decode
  JVM-side — no Python in the path.
- The connector read (``read_topic_frames``) takes the engine's
  ``KwackConfig`` whole: bootstrap, -p partitions, -o offset, -m timeout
  and -X client properties reach the source reader and the end-offset
  admin lookup from that one object, in batch and live mode alike.
- At 100 TB the Kafka read parallelizes per topic-partition (1 task each);
  decode is narrow (no shuffle).
"""

from __future__ import annotations

import struct
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as ST

from kwack_spark.config import KwackConfig, Serde
from kwack_spark.rowstage import per_row
from kwack_spark.schema import avro as avro_schema
from kwack_spark.schema import jsonschema as json_schema
from kwack_spark.schema import protobuf as proto_schema
from kwack_spark.schema.registry import MockSchemaRegistry

MAGIC_BYTE = 0

# the Spark Kafka source's column shape (includeHeaders=true)
KAFKA_FRAME_SCHEMA = ST.StructType(
    [
        ST.StructField("key", ST.BinaryType(), True),
        ST.StructField("value", ST.BinaryType(), True),
        ST.StructField("topic", ST.StringType(), False),
        ST.StructField("partition", ST.IntegerType(), False),
        ST.StructField("offset", ST.LongType(), False),
        ST.StructField("timestamp", ST.TimestampType(), False),
        ST.StructField("timestampType", ST.IntegerType(), False),
        ST.StructField(
            "headers",
            ST.ArrayType(
                ST.StructType(
                    [
                        ST.StructField("key", ST.StringType(), False),
                        ST.StructField("value", ST.BinaryType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


# ---------------------------------------------------------------------------
# wire format (Confluent framing)
# ---------------------------------------------------------------------------


def confluent_frame(payload: bytes, schema_id: int) -> bytes:
    """payload -> 0x00 + 4-byte BE schema id + payload (the synthetic
    re-framing the reference applies to external-schema payloads,
    KwackEngine.java:454-477)."""
    return bytes([MAGIC_BYTE]) + schema_id.to_bytes(4, "big") + payload


def split_frame(data: bytes) -> tuple[int | None, bytes]:
    """bytes -> (schema_id | None, payload) — Python-side mirror of
    schemaIdFor (KwackEngine.java:1037-1045)."""
    if len(data) >= 5 and data[0] == MAGIC_BYTE:
        return int.from_bytes(data[1:5], "big"), data[5:]
    return None, data


def schema_id_col(col: Column) -> Column:
    """JVM-side schema-id extraction: NULL unless Confluent-framed."""
    framed = (F.length(col) >= 5) & (F.substring(col, 1, 1) == F.lit(bytes([0])))
    sid = F.conv(F.hex(F.substring(col, 2, 4)), 16, 10).cast("int")
    return F.when(framed, sid)


def payload_col(name: str, skip_bytes: int = 0) -> Column:
    """JVM-side preamble strip (+ optional fixed skip.bytes prefix); takes a
    column NAME so the expression stays a plain SQL substring (codegen'd)."""
    base = f"substring({name}, {skip_bytes + 1})" if skip_bytes else name
    c = F.expr(base)
    framed = (F.length(c) >= 5) & (F.substring(c, 1, 1) == F.lit(bytes([0])))
    return F.when(framed, F.expr(f"substring({base}, 6)")).otherwise(c)


# ---------------------------------------------------------------------------
# primitive serdes (Kafka primitive deserializer formats, JVM-side)
# ---------------------------------------------------------------------------


def _signed(col: Column, bits: int) -> Column:
    v = F.conv(F.hex(col), 16, 10).cast("decimal(21,0)")
    # string literals: 2^64 overflows a java long in F.lit
    wrap = F.lit(str(2 ** bits)).cast("decimal(21,0)")
    half = F.lit(str(2 ** (bits - 1) - 1)).cast("decimal(21,0)")
    return F.when(v > half, v - wrap).otherwise(v)


def primitive_value_col(col: Column, kind: str) -> Column:
    """Kafka primitive deserializers: big-endian fixed width / UTF-8."""
    if kind == "string":
        return col.cast("string")
    if kind == "binary":
        return col
    if kind == "short":
        return _signed(col, 16).cast("short")
    if kind == "int":
        return _signed(col, 32).cast("int")
    if kind == "long":
        return _signed(col, 64).cast("long")
    raise ValueError(f"primitive decoded in python path: {kind}")


def _decode_primitive_py(data: bytes, kind: str) -> Any:
    if data is None:
        return None
    if kind == "float":
        return struct.unpack(">f", data)[0]
    if kind == "double":
        return struct.unpack(">d", data)[0]
    if kind == "short":
        return struct.unpack(">h", data)[0]
    if kind == "int":
        return struct.unpack(">i", data)[0]
    if kind == "long":
        return struct.unpack(">q", data)[0]
    if kind == "string":
        return data.decode("utf-8")
    if kind == "binary":
        return bytes(data)
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# serde -> (StructType, converter)
# ---------------------------------------------------------------------------


def resolve_serde(
    serde: Serde,
    topic: str,
    is_key: bool,
    registry: MockSchemaRegistry | None,
) -> tuple[ST.StructType, Callable[[bytes, dict], tuple] | None, Serde]:
    """Serde -> (StructType, python converter | None if JVM-side).

    ``latest``/``<id>`` resolve against the registry ONCE at init
    (KwackEngine.java:343-349, 422-430) and rewrite to the concrete schema
    serde.  The returned converter takes (payload bytes, writer_schemas
    snapshot dict) and returns a row tuple.
    """
    if serde.kind in ("latest", "id"):
        if registry is None:
            raise ValueError(f"serde {serde.kind!r} needs a schema registry")
        rs = (
            registry.latest(f"{topic}-{'key' if is_key else 'value'}")
            if serde.kind == "latest"
            else registry.by_id(serde.schema_id)
        )
        kind = {"AVRO": "avro", "JSON": "jsonschema", "PROTOBUF": "proto"}[rs.schema_type]
        # resolve Confluent schema references transitively, driver-side,
        # ONCE (KwackEngine.java:194-203's registry client does the same):
        # the (name, schema_str) prelude rides the Serde into the parsers
        from kwack_spark.schema.registry import resolve_references

        serde = Serde(
            kind=kind,
            schema_str=rs.schema_str,
            refs=resolve_references(registry, rs),
        )

    if serde.kind == "avro":
        prelude = tuple(s for _, s in serde.refs)
        st, convert = avro_schema.make_row_converter(serde.schema_str, prelude)
        reader = avro_schema.parse_schema(serde.schema_str, prelude)
        # per-id memo: writer schema parse + same-as-reader comparison happen
        # ONCE per schema id per task, never per record (hot-path contract)
        writer_memo: dict[int, dict | None] = {}

        def conv_avro(payload: bytes, writers: dict) -> tuple:
            sid, body = split_frame(payload)
            writer = None
            if sid is not None and sid in writers:
                if sid not in writer_memo:
                    w = writers[sid]
                    w_pre = tuple(s for _, s in w[2]) if len(w) > 2 else ()
                    parsed = avro_schema.parse_schema(w[1], w_pre)
                    writer_memo[sid] = parsed if parsed != reader else None
                writer = writer_memo[sid]
            return convert(body, writer)

        return st, conv_avro, serde
    if serde.kind == "jsonschema":
        # refs: $ref name -> schema document (Confluent JSON Schema references)
        st, convert = json_schema.make_row_converter(
            serde.schema_str, dict(serde.refs) or None
        )
        tag = serde.tag

        def conv_json(payload: bytes, writers: dict, key: bytes | None = None) -> tuple:
            import json as _json

            _, body = split_frame(payload)
            if tag and key is not None:
                # ;tag:src->dst — copy field src from the key object into
                # field dst of the value object (KwackEngine.java:491-499)
                _, kbody = split_frame(key)
                try:
                    kobj = _json.loads(kbody)
                    vobj = _json.loads(body)
                    if isinstance(kobj, dict) and isinstance(vobj, dict) and tag[0] in kobj:
                        vobj[tag[1]] = kobj[tag[0]]
                        body = _json.dumps(vobj).encode("utf-8")
                except (ValueError, UnicodeDecodeError):
                    pass
            return convert(body)

        return st, conv_json, serde
    if serde.kind == "proto":
        # refs: import path -> .proto source (Confluent proto references)
        imports = {name: src for name, src in serde.refs} or None
        st, convert = proto_schema.make_row_converter(
            serde.schema_str, serde.message, imports
        )
        proto_root = proto_schema.parse_proto(serde.schema_str, imports)
        expected_msg = serde.message or next(iter(proto_root["messages"]))
        expected_idx = proto_schema.indexes_for_message(proto_root, expected_msg)

        def conv_proto(payload: bytes, writers: dict) -> tuple:
            sid, body = split_frame(payload)
            if sid is None:
                # bare protobuf (no Confluent header -> no index prefix)
                return convert(body)
            # Confluent framing: varint message-index list after the header
            # selects the message within the writer's .proto file
            # (MessageIndexes; KwackEngine.java:460-477).  Validate it against
            # the reader's ;msg: / first-message descriptor — a mismatched
            # record would mis-decode silently otherwise.
            indexes, rest = proto_schema.read_message_indexes(body)
            if indexes != expected_idx:
                got = proto_schema.message_for_indexes(proto_root, indexes)
                raise ValueError(
                    f"protobuf message-index mismatch: wire selects {got!r} "
                    f"{indexes}, reader configured for {expected_msg!r} "
                    f"{expected_idx} — use ;msg:{got} in the serde"
                )
            return convert(rest)

        return st, conv_proto, serde
    if serde.kind == "rawjson":
        # schema-less JSON: single JSON-string rowval column, no flattening
        # (KwackEngine.java:672-673)
        return (
            ST.StructType([ST.StructField("rowval", ST.StringType(), True)]),
            None,
            serde,
        )
    if serde.kind in ("float", "double"):
        dt = ST.FloatType() if serde.kind == "float" else ST.DoubleType()
        kind = serde.kind

        def conv_prim(payload: bytes, writers: dict) -> tuple:
            return (_decode_primitive_py(payload, kind),)

        return ST.StructType([ST.StructField("rowval", dt, True)]), conv_prim, serde
    # JVM-side primitives
    dt = {
        "short": ST.ShortType(),
        "int": ST.IntegerType(),
        "long": ST.LongType(),
        "string": ST.StringType(),
        "binary": ST.BinaryType(),
    }[serde.kind]
    return ST.StructType([ST.StructField("rowval", dt, True)]), None, serde


# ---------------------------------------------------------------------------
# rowinfo
# ---------------------------------------------------------------------------

_ROWINFO_BUILDERS = {
    "ksi": lambda: schema_id_col(F.col("key")).alias("ksi"),
    "vsi": lambda: schema_id_col(F.col("value")).alias("vsi"),
    "top": lambda: F.col("topic").alias("top"),
    "par": lambda: F.col("partition").alias("par"),
    "off": lambda: F.col("offset").alias("off"),
    "ts": lambda: (F.unix_micros(F.col("timestamp")) / 1000).cast("long").alias("ts"),
    "tst": lambda: F.col("timestampType").cast("short").alias("tst"),
    "hdr": lambda: F.when(
        F.col("headers").isNotNull(),
        F.map_from_entries(
            F.transform(
                F.col("headers"),
                lambda h: F.struct(
                    h["key"].alias("key"), h["value"].cast("string").alias("value")
                ),
            )
        ),
    ).alias("hdr"),
}


def rowinfo_col(row_attributes: tuple[str, ...]) -> Column:
    """The rowinfo metadata struct (KwackEngine.java:696-743), holding the
    enabled attributes.  Header maps keep the LAST value per key
    (KwackEngine.java:1022-1035) — requires mapKeyDedupPolicy=LAST_WIN, set
    by decode_topic.

    Permanent delta vs the reference: ``epo`` (leader epoch,
    KwackEngine.java:713) is NOT supported — Spark's Kafka source does not
    expose the leader epoch, so requesting it is skipped rather than
    emitting an always-NULL column that looks like data.  Any other unknown
    attribute raises."""
    parts = []
    for a in row_attributes:
        if a == "epo":
            continue  # documented permanent delta — see docstring
        if a not in _ROWINFO_BUILDERS:
            raise ValueError(f"unknown rowinfo attribute: {a!r}")
        parts.append(_ROWINFO_BUILDERS[a]())
    return F.struct(*parts).alias("rowinfo")


# ---------------------------------------------------------------------------
# the decode pipeline
# ---------------------------------------------------------------------------


def decode_topic(
    df: DataFrame,
    topic: str,
    value_serde: Serde,
    key_serde: Serde | None = None,
    registry: MockSchemaRegistry | None = None,
    row_attributes: tuple[str, ...] = ("rowkey", "ksi", "vsi", "par", "off", "ts", "hdr"),
    skip_bytes: int = 0,
    on_error: str = "fail",
) -> DataFrame:
    """Kafka-shaped frame DataFrame -> decoded table for ``topic``.

    Layout mirrors the reference (KwackEngine.java:593-648): [rowkey,]
    <flattened value columns | rowval>, rowinfo.  Struct-valued tables skip
    tombstones (null value -> no row, KwackEngine.java:820-823).

    ``on_error``: 'fail' raises on an undecodable record (default, matches
    the reference); 'skip' drops the record; 'tag' QUARANTINES it in place —
    the row is kept with its decodable parts (rowkey if the key decodes,
    frame metadata always) plus a ``corrupt`` boolean column, the
    PERMISSIVE-with-corrupt-record-column convention.  At 100 TB one poison
    record must not kill the ingest job — run production loads with 'skip'
    (and reconcile counts against end offsets) or 'tag' (and route
    ``WHERE corrupt`` to a dead-letter table: offsets + keys survive, so
    the bad producers are identifiable without re-reading the topic).

    Two physical decode paths, chosen here and nowhere else: the JVM path
    (primitive casts, and ``from_json`` for plain-struct JSON Schema) and
    the shared Python row stage (``rowstage.per_row``: Avro, Protobuf,
    every other JSON Schema) with a single per-record body for all three
    ``on_error`` modes.  Its timestamps keep their instant whatever the
    session time zone.  'tag' always decodes on the Python stage
    (``from_json`` runs in fail mode only, and JVM primitive casts yield
    NULLs instead of errors, which could not be told apart from legitimate
    NULLs).
    """
    if on_error not in ("fail", "skip", "tag"):
        raise ValueError(
            f"on_error must be 'fail', 'skip' or 'tag', got {on_error!r}"
        )
    spark = df.sparkSession
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    key_serde = key_serde or Serde(kind="binary")

    v_st, v_conv, value_serde = resolve_serde(value_serde, topic, False, registry)
    k_st, k_conv, key_serde = resolve_serde(key_serde, topic, True, registry)

    value_is_struct = v_conv is not None and value_serde.kind in (
        "avro",
        "jsonschema",
        "proto",
    ) and len(v_st.fields) > 0 and v_st.fieldNames() != ["rowval"]
    if value_is_struct:
        # tombstone skip for struct tables
        df = df.filter(F.col("value").isNotNull())

    want_rowkey = "rowkey" in row_attributes
    info_attrs = tuple(a for a in row_attributes if a != "rowkey")

    # --- JVM-side fast path ---------------------------------------------------
    if v_conv is None and k_conv is None and on_error != "tag":
        meta_cols = [rowinfo_col(info_attrs)] if info_attrs else []
        cols: list[Column] = []
        if want_rowkey:
            cols.append(_jvm_key_col(key_serde, skip_bytes))
        cols.append(_jvm_value_col(value_serde, skip_bytes))
        return df.select(*cols, *meta_cols)

    # --- JVM from_json path (plain-struct JSON-Schema topics) -----------------
    # from_json is core Spark, so this is the one JVM struct decode that runs
    # without an extra module.  Gated on plain-struct schemas (no
    # oneOf/anyOf, typed maps/arrays, string enums), no ;tag:, a JVM-
    # decodable key and fail mode — see sources/jsonschema_jvm.py.  JSON
    # decodes with the reader schema on both paths, so there is no
    # evolution gate.
    if (
        value_is_struct
        and value_serde.kind == "jsonschema"
        and on_error == "fail"
        and (
            not want_rowkey
            or (
                k_conv is None
                and key_serde.kind in ("short", "int", "long", "string", "binary")
            )
        )
    ):
        from kwack_spark.sources import jsonschema_jvm

        ok, _why = jsonschema_jvm.eligible(value_serde)
        if ok:
            head = [_jvm_key_col(key_serde, skip_bytes)] if want_rowkey else []
            meta = [rowinfo_col(info_attrs)] if info_attrs else []
            dec = jsonschema_jvm.decode_value_col(
                payload_col("value", skip_bytes),
                value_serde.schema_str,
                value_serde.refs,
                on_error,
            )
            out = df.select(*head, dec.alias("_v"), *meta)
            order = (["rowkey"] if want_rowkey else []) + [
                F.col(f"_v.{f.name}").alias(f.name) for f in v_st.fields
            ] + (["rowinfo"] if info_attrs else [])
            return out.select(*order)

    # --- Python decode stage (the shared row stage) --------------------------
    writers = registry.snapshot() if registry else {}

    out_fields: list[ST.StructField] = []
    if want_rowkey:
        if k_conv is None:
            key_dt: ST.DataType = k_st.fields[0].dataType
        else:
            key_dt = k_st if k_st.fieldNames() != ["rowval"] else k_st.fields[0].dataType
        out_fields.append(ST.StructField("rowkey", key_dt, True))
    if value_is_struct:
        out_fields.extend(v_st.fields)
    else:
        out_fields.append(
            ST.StructField(
                "rowval",
                v_st.fields[0].dataType if v_st.fieldNames() == ["rowval"] else v_st,
                True,
            )
        )
    tag = on_error == "tag"
    if tag:
        # quarantined rows null every data field, so schema-derived
        # non-nullability (e.g. required Avro fields) must relax — Arrow
        # rejects a null in a non-nullable vector
        out_fields = [
            ST.StructField(f.name, f.dataType, True) for f in out_fields
        ]
        out_fields.append(ST.StructField("corrupt", ST.BooleanType(), True))

    k_flat = k_conv is not None and k_st.fieldNames() != ["rowval"]
    value_nulls = (None,) * (len(v_st.fields) if value_is_struct else 1)

    def decode_value(key, value):
        if value is None:
            return (None,)  # non-struct tombstone (struct tables dropped theirs)
        body = value[skip_bytes:]
        if v_conv is None:
            if value_serde.kind == "rawjson":
                return (split_frame(body)[1].decode("utf-8"),)
            return (_decode_primitive_py(body, value_serde.kind),)
        row = v_conv(body, writers, key) if value_serde.tag else v_conv(body, writers)
        return row if value_is_struct else row[:1]

    def decode_row(key, value, *meta):
        # on_error only decides what a raising key or value decode does:
        # 'fail' re-raises, 'skip' drops the record, 'tag' nulls that part's
        # data fields and sets corrupt (key and value decode independently,
        # so a poison value keeps its identifying rowkey, and vice versa)
        corrupt = False
        head = ()
        if want_rowkey:
            try:
                head = (_decode_key(key, k_conv, k_flat, writers, skip_bytes, key_serde.kind),)
            except Exception:
                if on_error == "fail":
                    raise
                if on_error == "skip":
                    return
                head, corrupt = (None,), True
        try:
            data = decode_value(key, value)
        except Exception:
            if on_error == "fail":
                raise
            if on_error == "skip":
                return
            data, corrupt = value_nulls, True
        yield (*head, *data, *((corrupt,) if tag else ()), key, value, *meta)

    # data columns leave the stage under positional names, so a field named
    # like a frame column (key, value, topic, ...) cannot clash with it
    stage_schema = ST.StructType(
        [ST.StructField(f"_{i}", f.dataType, f.nullable) for i, f in enumerate(out_fields)]
        + KAFKA_FRAME_SCHEMA.fields
    )
    decoded = per_row(df, KAFKA_FRAME_SCHEMA.fieldNames(), decode_row, stage_schema)
    data_cols = [F.col(f"_{i}").alias(f.name) for i, f in enumerate(out_fields)]
    meta_cols = [rowinfo_col(info_attrs)] if info_attrs else []
    return decoded.select(*data_cols, *meta_cols)


def _decode_key(key: Any, k_conv, k_flat: bool, writers: dict, skip_bytes: int, kind: str):
    if key is None:
        return None
    body = key[skip_bytes:]
    if k_conv is None:  # primitive key decoded Python-side in the mixed path
        return _decode_primitive_py(body, kind)
    row = k_conv(body, writers)
    return row if k_flat else row[0]


def _jvm_key_col(key_serde: Serde, skip_bytes: int) -> Column:
    c = F.col("key")
    if skip_bytes:
        c = F.expr(f"substring(key, {skip_bytes + 1})")
    return primitive_value_col(c, key_serde.kind).alias("rowkey")


def _jvm_value_col(value_serde: Serde, skip_bytes: int) -> Column:
    if value_serde.kind == "rawjson":
        return payload_col("value", skip_bytes).cast("string").alias("rowval")
    c = F.expr(f"substring(value, {skip_bytes + 1})") if skip_bytes else F.col("value")
    return primitive_value_col(c, value_serde.kind).alias("rowval")


# ---------------------------------------------------------------------------
# the Kafka connector read (KwackConfig -> frames)
# ---------------------------------------------------------------------------


def resolve_relative_offsets(
    value: int, end_offsets: dict[int, int]
) -> dict[int, int]:
    """'-N' (N records before end, KwackMain.java:69-76) -> absolute
    per-partition starting offsets: max(0, end - N) each partition, so a
    partition shorter than N replays from its beginning."""
    n = -value
    return {p: max(0, end - n) for p, end in end_offsets.items()}


def _client_props(config: KwackConfig) -> dict[str, str]:
    """The Kafka client properties of ``config``: bootstrap servers, the
    reference's -m/--metadata-timeout (KwackMain.java:61-63) as the
    client's request and API timeouts, then the -X / named SSL client
    properties (last, so an explicit -X wins).  The source reader gets
    them as ``kafka.<key>`` options, the admin client as they are."""
    props = {"bootstrap.servers": config.kafka_bootstrap}
    if config.metadata_timeout_ms is not None:
        props["request.timeout.ms"] = str(config.metadata_timeout_ms)
        props["default.api.timeout.ms"] = str(config.metadata_timeout_ms)
    props.update((k, str(v)) for k, v in config.client_props.items())
    return props


def jvm_end_offsets(
    spark: SparkSession, config: KwackConfig, topic: str
) -> dict[int, int]:
    """Per-partition END offsets of ``topic`` (its -p partitions, else all
    of them) via the Kafka AdminClient through Spark's JVM (py4j — no new
    Python dependency; the kafka-clients jar arrives with the same
    spark-sql-kafka connector package the source itself needs).  The admin
    client connects with the reader's client properties."""
    try:
        jvm = spark._jvm
        props = jvm.java.util.Properties()
        for k, v in _client_props(config).items():
            props.put(k, v)
        admin = jvm.org.apache.kafka.clients.admin.AdminClient.create(props)
        try:
            partitions = config.topic_partitions.get(topic)
            if not partitions:
                names = jvm.java.util.Collections.singletonList(topic)
                desc = admin.describeTopics(names).allTopicNames().get().get(topic)
                partitions = [pi.partition() for pi in desc.partitions()]
            spec = jvm.org.apache.kafka.clients.admin.OffsetSpec.latest()
            req = jvm.java.util.HashMap()
            tps = {
                p: jvm.org.apache.kafka.common.TopicPartition(topic, p)
                for p in partitions
            }
            for tp in tps.values():
                req.put(tp, spec)
            res = admin.listOffsets(req).all().get()
            return {p: res.get(tp).offset() for p, tp in tps.items()}
        finally:
            admin.close()
    except Exception as exc:
        raise RuntimeError(
            "cannot resolve end offsets — the Kafka AdminClient needs the "
            "kafka-clients jar on the Spark classpath (spark.jars.packages="
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>); "
            "alternatively pass end_offsets_fn to read_topic_frames"
        ) from exc


def _needs_end_offsets(config: KwackConfig, topic: str) -> bool:
    """'-N' starts from each partition's end, and '<abs>' without -p must
    name every partition (Spark rejects a partial offset JSON): both need
    the end-offset lookup, whose keys are the topic's partitions."""
    kind = config.offset().kind
    return kind == "relative" or (
        kind == "absolute" and not config.topic_partitions.get(topic)
    )


def kafka_reader_options(
    config: KwackConfig, topic: str, end_offsets: dict[int, int] | None = None
) -> dict[str, str]:
    """Spark Kafka source options for ``topic`` from ``config``'s offset/
    partition grammar (KwackMain.java:69-76): beginning|end ->
    earliest|latest; @<ts ms> -> startingTimestamp(s); <abs> ->
    per-partition offset JSON over the -p partitions, else over every
    partition of ``end_offsets``; -N -> absolute offsets computed from
    ``end_offsets`` (resolved via an admin client, jvm_end_offsets —
    Spark's source only understands the -2/-1 earliest/latest sentinels,
    never '-N before end'); -p partitions -> assign JSON."""
    import json as _json

    partitions = config.topic_partitions.get(topic)
    spec = config.offset()
    opts = {f"kafka.{k}": v for k, v in _client_props(config).items()}
    opts["includeHeaders"] = "true"
    if partitions:
        opts["assign"] = _json.dumps({topic: sorted(partitions)})
    else:
        opts["subscribe"] = topic
    if _needs_end_offsets(config, topic) and end_offsets is None:
        raise ValueError(
            f"offset {config.starting_offset!r} needs per-partition end "
            "offsets (jvm_end_offsets / end_offsets_fn) — Spark's Kafka "
            "source has no '-N before end' form and needs every partition "
            "named in a specific-offsets start"
        )
    if spec.kind == "beginning":
        opts["startingOffsets"] = "earliest"
    elif spec.kind == "end":
        opts["startingOffsets"] = "latest"
    elif spec.kind == "timestamp":
        if partitions:
            opts["startingTimestamps"] = _json.dumps(
                {topic: {str(p): spec.value for p in partitions}}
            )
        else:
            opts["startingTimestamp"] = str(spec.value)
    else:
        if spec.kind == "relative":
            starts = resolve_relative_offsets(spec.value, end_offsets)
        else:
            starts = {p: spec.value for p in partitions or end_offsets}
        opts["startingOffsets"] = _json.dumps(
            {topic: {str(p): o for p, o in sorted(starts.items())}}
        )
    return opts


def read_topic_frames(
    spark: SparkSession,
    config: KwackConfig,
    topic: str,
    streaming: bool = False,
    end_offsets_fn: Callable[..., dict[int, int]] | None = None,
) -> DataFrame:
    """spark.read[Stream].format('kafka') over ``topic`` with ``config``'s
    connection, partition and offset settings — one task per
    topic-partition; raises a clear error when the Kafka connector jar is
    absent.

    ``end_offsets_fn(spark, config, topic)``: per-partition end-offset
    lookup for the offset specs that need one (default jvm_end_offsets,
    admin client)."""
    end_offsets = None
    if _needs_end_offsets(config, topic):
        end_offsets = (end_offsets_fn or jvm_end_offsets)(spark, config, topic)
    reader = (spark.readStream if streaming else spark.read).format("kafka")
    for k, v in kafka_reader_options(config, topic, end_offsets).items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "Kafka source unavailable — the spark-sql-kafka connector package "
            "must be on the Spark classpath (spark.jars.packages="
            "org.apache.spark:spark-sql-kafka-0-10_2.13:<spark version>)"
        ) from exc
