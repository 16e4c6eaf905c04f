"""Serde grammar / offset / CLI / engine-facade tests
(KwackConfig.java:527-612 grammar, KwackMain.java:49-138 options)."""

import json
from pathlib import Path

import pytest

from kwack_spark.cli import build_parser, config_from_args
from kwack_spark.config import KwackConfig, parse_offset, parse_serde


def test_primitive_serdes():
    for k in ("short", "int", "long", "float", "double", "string", "binary"):
        assert parse_serde(k).kind == k


def test_rawjson_latest_id():
    assert parse_serde("json").kind == "rawjson"
    assert parse_serde("latest").kind == "latest"
    s = parse_serde("123")
    assert s.kind == "id" and s.schema_id == 123


def test_inline_schemas():
    s = parse_serde('avro:{"type":"record","name":"R","fields":[]}')
    assert s.kind == "avro" and json.loads(s.schema_str)["name"] == "R"
    s = parse_serde("proto:syntax = \"proto3\"; message M { int32 a = 1; };msg:M")
    assert s.kind == "proto" and s.message == "M"
    s = parse_serde('json:{"type":"object"};tag:id->kid')
    assert s.kind == "jsonschema" and s.tag == ("id", "kid")


def test_schema_from_file(tmp_path):
    f = tmp_path / "s.avsc"
    f.write_text('{"type":"record","name":"F","fields":[]}')
    s = parse_serde(f"avro:@{f}")
    assert json.loads(s.schema_str)["name"] == "F"


def test_topic_serde_map():
    cfg = config_from_args(build_parser().parse_args(["-v", "t1=string", "-v", " t2 =latest"]))
    assert cfg.value_serde("t1").kind == "string" and cfg.value_serde("t2").kind == "latest"


@pytest.mark.parametrize("flag, item", [("-v", "avro"), ("-k", "string"), ("-p", "orders")])
def test_topic_flags_require_topic_equals_value(flag, item, capsys):
    """-v, -k and -p without '=' are a usage error (exit 2) naming the item,
    not a topic named like the serde or a topic with no partitions."""
    with pytest.raises(SystemExit) as ei:
        build_parser().parse_args([flag, item])
    assert ei.value.code == 2
    assert f"expected topic=<value>, got {item!r}" in capsys.readouterr().err


def test_offsets():
    assert parse_offset("beginning").kind == "beginning"
    assert parse_offset("end").kind == "end"
    assert parse_offset("100").kind == "absolute"
    assert parse_offset("-5").kind == "relative"
    ts = parse_offset("@1700000000000")
    assert ts.kind == "timestamp" and ts.value == 1700000000000


def test_cli_args_to_config():
    args = build_parser().parse_args(
        [
            "-b", "broker:9092",
            "-t", "t1", "-t", "t2",
            "-v", "t1=avro:{}",
            "-k", "t1=string",
            "-o", "end",
            "-q", "SELECT 1",
            "-d", "/tmp/wh",
            "-a", "rowkey,par,off",
            "-x", "3",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.kafka_bootstrap == "broker:9092"
    assert cfg.topics == ["t1", "t2"]
    assert cfg.topic_serdes["t1"] == "avro:{}"
    assert cfg.key_serdes["t1"] == "string"
    assert cfg.starting_offset == "end" and cfg.offset().kind == "end"
    assert cfg.query == "SELECT 1"
    assert cfg.warehouse_dir == "/tmp/wh"
    assert cfg.row_attributes == ("rowkey", "par", "off")
    assert cfg.skip_bytes == 3


def test_properties_file(tmp_path):
    f = tmp_path / "kwack.properties"
    f.write_text(
        "bootstrap.servers=b:9092\n"
        "topics=t1,t2\n"
        "serde.t1=string\n"
        "key.serde.t1=int\n"
        "skip.bytes=2\n"
        "row.attributes=par,off\n"
    )
    cfg = KwackConfig.from_properties(str(f))
    assert cfg.kafka_bootstrap == "b:9092"
    assert cfg.topics == ["t1", "t2"]
    assert cfg.topic_serdes["t1"] == "string"
    assert cfg.key_serdes["t1"] == "int"
    assert cfg.skip_bytes == 2
    assert cfg.row_attributes == ("par", "off")


def test_engine_warehouse_roundtrip(spark, tmp_path):
    """-d equivalent: persist a view, reopen from a fresh engine
    (KwackConfig.java:448-454 durable-db semantics)."""
    from kwack_spark.engine import KwackSpark

    wh = str(tmp_path / "wh")
    eng = KwackSpark(KwackConfig(warehouse_dir=wh), spark=spark).init()
    eng.spark.range(5).toDF("n").createOrReplaceTempView("nums")
    eng.persist_table("nums")
    assert eng.sql("SELECT count(*) AS c FROM nums").collect()[0].c == 5

    spark.catalog.dropTempView("nums")
    eng2 = KwackSpark(KwackConfig(warehouse_dir=wh), spark=spark).init()
    assert eng2.sql("SELECT count(*) AS c FROM nums").collect()[0].c == 5


def test_engine_copy_shim(spark, tmp_path):
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    out = str(tmp_path / "out.parquet")
    eng.sql(f"COPY (SELECT r_regionkey FROM region) TO '{out}' (FORMAT 'parquet')")
    assert spark.read.parquet(out).count() == 5


def test_engine_copy_partitioned(spark, tmp_path):
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    out = str(tmp_path / "by_status")
    eng.sql(
        f"COPY (SELECT o_orderkey, o_orderstatus FROM orders) TO '{out}' "
        "(FORMAT 'parquet', PARTITION_BY (o_orderstatus))"
    )
    import os

    dirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    assert len(dirs) >= 2  # hive-style one directory per status value
    back = spark.read.parquet(out)
    assert back.count() == spark.table("orders").count()
    # partition pruning: reading one status touches only its directory
    one = back.filter("o_orderstatus = 'F'").count()
    assert 0 < one < back.count()


def _reader_options(end_offsets=None, **cfg):
    from kwack_spark.sources.kafka import kafka_reader_options

    return kafka_reader_options(
        KwackConfig(kafka_bootstrap="b:9092", **cfg), "t", end_offsets
    )


def test_kafka_reader_options():
    """Offset/partition grammar -> Spark Kafka source options (A1 surface;
    no broker needed to verify the option construction)."""
    o = _reader_options()
    assert o["kafka.bootstrap.servers"] == "b:9092"
    assert o["subscribe"] == "t" and o["startingOffsets"] == "earliest"

    o = _reader_options(starting_offset="end")
    assert o["startingOffsets"] == "latest"

    o = _reader_options(topic_partitions={"t": [0, 2]}, starting_offset="100")
    assert json.loads(o["assign"]) == {"t": [0, 2]}
    assert json.loads(o["startingOffsets"]) == {"t": {"0": 100, "2": 100}}

    o = _reader_options(starting_offset="@1700000000000")
    assert o["startingTimestamp"] == "1700000000000"

    o = _reader_options(topic_partitions={"t": [1]}, starting_offset="@5")
    assert json.loads(o["startingTimestamps"]) == {"t": {"1": 5}}


def test_absolute_offset_without_partitions_names_every_partition():
    """'-o <n>' without '-p' starts EVERY partition at n: Spark's Kafka
    source rejects a specific-offsets JSON that leaves a partition out, so
    the partitions come from the end-offset lookup ('-N' uses the same)."""
    o = _reader_options(starting_offset="100", end_offsets={0: 9, 1: 9, 2: 9})
    assert o["subscribe"] == "t"
    assert json.loads(o["startingOffsets"]) == {
        "t": {"0": 100, "1": 100, "2": 100}
    }
    # no lookup result -> explicit error, never a silent partition-0 start
    with pytest.raises(ValueError, match="end offsets"):
        _reader_options(starting_offset="100")


def test_relative_offsets_resolve_against_end():
    """'-N' (KwackMain.java:69-76) -> absolute per-partition starts from end
    offsets: end-100 per partition, clamped at 0 for short partitions."""
    from kwack_spark.sources.kafka import resolve_relative_offsets

    ends = {0: 1000, 1: 350, 2: 40}
    assert resolve_relative_offsets(-100, ends) == {0: 900, 1: 250, 2: 0}

    o = _reader_options(starting_offset="-100", end_offsets=ends)
    assert json.loads(o["startingOffsets"]) == {"t": {"0": 900, "1": 250, "2": 0}}

    # no resolver output -> explicit error, never a silent sentinel pass-through
    with pytest.raises(ValueError, match="end offsets"):
        _reader_options(starting_offset="-100")


def test_read_topic_frames_uses_end_offsets_fn(spark):
    """read_topic_frames resolves '-N', and '<abs>' without -p, through the
    injected end-offset lookup before building source options (the
    connector jar itself is absent here, so the load fails afterwards with
    the documented error — lookup calls are still observable).  '<abs>'
    with -p names its partitions itself and needs no lookup."""
    from kwack_spark.sources.kafka import read_topic_frames

    calls = []

    def fake_ends(spark_, config, topic):
        calls.append((config, topic))
        return {0: 500}

    for offset, parts, looked_up in (
        ("-10", {}, True),
        ("100", {}, True),
        ("100", {"t": [0]}, False),
    ):
        calls.clear()
        cfg = KwackConfig(
            kafka_bootstrap="b:9092", starting_offset=offset, topic_partitions=parts
        )
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            read_topic_frames(spark, cfg, "t", end_offsets_fn=fake_ends)
        assert calls == ([(cfg, "t")] if looked_up else []), offset


def test_admin_lookup_connects_with_client_settings():
    """The end-offset admin client gets the reader's client settings: the
    bootstrap, the -m timeout and the -X / SSL / SASL properties, as plain
    Kafka keys.  A fake JVM records every Properties.put and fails at
    AdminClient.create (no jar, no broker)."""
    from types import SimpleNamespace as NS

    from kwack_spark.sources.kafka import jvm_end_offsets

    puts = {}

    class Properties:
        def put(self, k, v):
            puts[k] = v

    class NoBroker(Exception):
        pass

    def create(props):
        raise NoBroker

    jvm = NS(
        java=NS(util=NS(Properties=Properties)),
        org=NS(apache=NS(kafka=NS(clients=NS(admin=NS(AdminClient=NS(create=create)))))),
    )
    cfg = config_from_args(
        build_parser().parse_args(
            [
                "-b", "broker:9093", "-t", "t", "-o", "-5", "-m", "4500",
                "--security-protocol", "SASL_SSL",
                "-X", "sasl.mechanism=PLAIN",
            ]
        )
    )
    with pytest.raises(RuntimeError, match="end offsets") as ei:
        jvm_end_offsets(NS(_jvm=jvm), cfg, "t")
    assert isinstance(ei.value.__cause__, NoBroker)
    assert puts == {
        "bootstrap.servers": "broker:9093",
        "request.timeout.ms": "4500",
        "default.api.timeout.ms": "4500",
        "security.protocol": "SASL_SSL",
        "sasl.mechanism": "PLAIN",
    }


def test_engine_kafka_without_connector_raises_clear_error(spark):
    """No spark-sql-kafka jar in this environment: init() must fail with the
    actionable RuntimeError from read_topic_frames, not a raw Py4J error."""
    from kwack_spark.engine import KwackSpark

    cfg = KwackConfig(kafka_bootstrap="localhost:9092", topics=["t1"],
                      topic_serdes={"t1": "string"})
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        KwackSpark(cfg, spark=spark).init()


def test_engine_init_registers_kafka_topics(spark, tmp_path, monkeypatch):
    """init() turns every configured topic into a view through the one
    topic path: the Kafka read (replaced here by parquet frames — no
    connector jar) and the config's serdes.  A dashed topic with a string
    serde gets its backticked alias; a topic left on the defaults decodes
    its value as the registry's latest Avro schema and its key as binary."""
    import datetime

    from kwack_spark.engine import KwackSpark
    from kwack_spark.schema import avro as avro_schema
    from kwack_spark.schema.registry import MockSchemaRegistry
    from kwack_spark.sources import kafka as ks

    schema = {"type": "record", "name": "Ev",
              "fields": [{"name": "uid", "type": "int"}]}
    reg = MockSchemaRegistry()
    sid = reg.register("evs-value", json.dumps(schema), "AVRO")
    ts = datetime.datetime(2024, 1, 1)
    values = {
        "a-b": [f"s{i}".encode() for i in range(3)],
        "evs": [ks.confluent_frame(avro_schema.encode({"uid": i}, schema), sid)
                for i in range(5)],
    }
    for topic, vals in values.items():
        rows = [(b"k", v, topic, 0, i, ts, 0, None) for i, v in enumerate(vals)]
        spark.createDataFrame(rows, ks.KAFKA_FRAME_SCHEMA).write.parquet(
            str(tmp_path / topic)
        )

    reads = []

    def parquet_frames(spark_, config, topic, streaming=False, end_offsets_fn=None):
        reads.append((config, topic, streaming))
        return spark_.read.parquet(str(tmp_path / topic))

    monkeypatch.setattr(ks, "read_topic_frames", parquet_frames)
    cfg = KwackConfig(kafka_bootstrap="b:9092", topics=["a-b", "evs"],
                      topic_serdes={"a-b": "string"})
    eng = KwackSpark(cfg, spark=spark, registry=reg).init()
    assert reads == [(cfg, "a-b", False), (cfg, "evs", False)]

    got = eng.sql("SELECT rowval FROM `a-b` ORDER BY rowinfo.off").collect()
    assert [r.rowval for r in got] == ["s0", "s1", "s2"]
    got = eng.sql("SELECT uid, rowkey FROM evs ORDER BY uid").collect()
    assert [(r.uid, bytes(r.rowkey)) for r in got] == [(i, b"k") for i in range(5)]


def test_engine_explain_surface(spark):
    """EXPLAIN passes through verbatim (the reference delegates EXPLAIN to
    the engine the same way, SURVEY §2.B)."""
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    rows = eng.sql("EXPLAIN SELECT r_regionkey FROM region").collect()
    assert rows and "Physical Plan" in rows[0][0]


def test_engine_repl_scripted(spark, capsys):
    """The REPL surface (A13, KwackApplication.java:9-35 — sqlline): ';'
    terminates (possibly multi-line) statements, a bad statement is printed
    and the loop survives, and the sqlline !commands work."""
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    printed: list[str] = []
    lines = iter([
        "SELECT count(*) AS n",  # multi-line statement...
        "FROM region;",          # ...terminated by ';'
        "",  # blank line: ignored
        "SELEKT broken((;",  # parse error: printed, REPL stays alive
        "!tables",
        "!columns region",
        "!history",
        "!help",
        "!nosuch",
        "!q",
    ])
    eng.repl(input_fn=lambda prompt="": next(lines), print_fn=printed.append)
    out = capsys.readouterr().out  # df.show() writes to stdout
    assert "5" in out
    joined = "\n".join(printed)
    assert "error:" in joined  # bad statement surfaced
    assert "region" in joined  # !tables
    assert "r_name\tstring" in joined  # !columns
    assert "1: SELECT count(*) AS n FROM region" in joined  # !history
    assert "unknown command: !nosuch" in joined


def test_cli_end_to_end_json_lines():
    """The one-shot CLI surface (A11/A12/A14 together): `-q` prints one JSON
    object per row, exit code 0 — the reference's KwackMain.java:157-164
    behavior, run as a real subprocess."""
    import json as _json
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable, "-m", "kwack_spark.cli",
            "--parquet-dir", "/root/testdata/sf0.001",
            "-q", "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
        ],
        capture_output=True, text=True, timeout=300,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [_json.loads(line) for line in proc.stdout.strip().splitlines() if line.startswith("{")]
    assert len(rows) == 5
    assert rows[0]["r_regionkey"] == 0 and "r_name" in rows[0]


def test_engine_explain_and_pragma(spark):
    """EXPLAIN (and SET-style pragmas) pass straight through to Spark SQL —
    the reference delegates them to DuckDB the same way (SURVEY §2.B
    'EXPLAIN / pragmas', KwackEngine.java:226-257 one-shot path)."""
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    plan_rows = eng.sql(
        "EXPLAIN SELECT r_regionkey FROM region WHERE r_regionkey > 1"
    ).collect()
    plan_text = "\n".join(r[0] for r in plan_rows)
    assert "Physical Plan" in plan_text
    # formatted mode works too
    fmt = eng.sql("EXPLAIN FORMATTED SELECT count(*) FROM region").collect()[0][0]
    assert "Scan" in fmt
    # a runtime pragma round-trips through SET
    eng.sql("SET spark.sql.shuffle.partitions=17")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "17"
    eng.sql("SET spark.sql.shuffle.partitions=8")


def test_engine_copy_csv_and_json(spark, tmp_path):
    """COPY ... TO round-trips in every supported format (the reference
    README's parquet COPY, plus csv/json for pipeline handoff)."""
    from kwack_spark.engine import KwackSpark

    eng = KwackSpark(KwackConfig(parquet_dir="/root/testdata/sf0.001"), spark=spark).init()
    csv_out = str(tmp_path / "r.csv")
    eng.sql(f"COPY (SELECT r_regionkey, r_name FROM region) TO '{csv_out}' (FORMAT 'csv')")
    back = spark.read.option("header", "true").csv(csv_out)
    assert back.count() == 5 and set(back.columns) == {"r_regionkey", "r_name"}

    json_out = str(tmp_path / "r.json")
    eng.sql(f"COPY (SELECT r_regionkey FROM region) TO '{json_out}' (FORMAT 'json')")
    assert spark.read.json(json_out).count() == 5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported COPY format"):
        eng.copy_to("SELECT 1 AS x", str(tmp_path / "x.avro"), "avro")


def test_cli_metadata_timeout_and_property_passthrough():
    """-m and -X (KwackMain.java:61-63,136-138): -m bounds broker requests,
    -X routes kwack keys / spark.* conf / raw Kafka client properties; CLI
    args -> config -> reader options end to end."""
    from kwack_spark.sources.kafka import kafka_reader_options

    args = build_parser().parse_args(
        [
            "-t", "t1",
            "-b", "broker:9092",
            "-m", "45000",
            "-X", "security.protocol=SASL_SSL",
            "-X", "spark.sql.shuffle.partitions=7",
            "-X", "skip.bytes=4",
            "-X", "serde.t1=string",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.metadata_timeout_ms == 45000
    assert cfg.client_props == {"security.protocol": "SASL_SSL"}
    assert cfg.spark_conf["spark.sql.shuffle.partitions"] == "7"
    assert cfg.skip_bytes == 4
    assert cfg.topic_serdes["t1"] == "string"

    opts = kafka_reader_options(cfg, "t1")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["kafka.request.timeout.ms"] == "45000"
    assert opts["kafka.default.api.timeout.ms"] == "45000"
    assert opts["kafka.security.protocol"] == "SASL_SSL"
    assert not any(k.startswith("kafka.spark.") for k in opts)
    assert "kafka.skip.bytes" not in opts and "kafka.serde.t1" not in opts


def test_properties_file_metadata_timeout(tmp_path):
    f = tmp_path / "kwack.properties"
    f.write_text("bootstrap.servers=b:9092\nmetadata.timeout.ms=12345\n")
    cfg = KwackConfig.from_properties(str(f))
    assert cfg.kafka_bootstrap == "b:9092"
    assert cfg.metadata_timeout_ms == 12345


def test_properties_file_spark_and_client_props(tmp_path):
    """-F files accept the same full key surface as -X (one routing table):
    spark.* conf and raw Kafka client properties included."""
    f = tmp_path / "kwack.properties"
    f.write_text(
        "bootstrap.servers=b:9092\n"
        "spark.sql.shuffle.partitions=9\n"
        "security.protocol=SASL_SSL\n"
        "serde.t1=string\n"
        "key.serde.t1=long\n"
    )
    cfg = KwackConfig.from_properties(str(f))
    assert cfg.spark_conf["spark.sql.shuffle.partitions"] == "9"
    assert cfg.client_props == {"security.protocol": "SASL_SSL"}
    assert cfg.topic_serdes["t1"] == "string"
    assert cfg.key_serdes["t1"] == "long"


def test_row_attributes_none_sentinel():
    """-a none disables every metadata attribute (reference -a grammar) —
    it must parse as an empty attribute set, not an unknown attr name."""
    from kwack_spark.cli import build_parser, config_from_args

    cfg = config_from_args(build_parser().parse_args(["-a", "none"]))
    assert cfg.row_attributes == ()
    cfg2 = config_from_args(build_parser().parse_args(["-a", "rowkey,off"]))
    assert cfg2.row_attributes == ("rowkey", "off")


def test_decode_topic_no_attributes(spark):
    """row_attributes=() yields bare value columns — no rowkey, no rowinfo."""
    import json as _json

    from kwack_spark.config import Serde
    from kwack_spark.schema import avro as avro_schema
    from kwack_spark.schema.registry import MockSchemaRegistry
    from kwack_spark.sources import kafka as ks
    from tests.test_kafka_decode import make_frames

    reg = MockSchemaRegistry()
    schema = {"type": "record", "name": "R",
              "fields": [{"name": "x", "type": "long"}]}
    sid = reg.register("t1-value", _json.dumps(schema), "AVRO")
    vals = [ks.confluent_frame(avro_schema.encode({"x": 5}, schema), sid)]
    out = ks.decode_topic(
        make_frames(spark, vals),
        "t1",
        value_serde=Serde(kind="latest"),
        registry=reg,
        row_attributes=(),
    )
    assert out.columns == ["x"]
    assert out.collect()[0].x == 5


def test_property_flag_requires_key_value():
    """-X without '=' (or with an empty key) is a usage error, not a raw
    traceback from a typed-key cast (-X skip.bytes -> int('') ValueError)."""
    import pytest as _pt

    from kwack_spark.cli import build_parser, config_from_args, main

    for bad in ("skip.bytes", "=value"):
        args = build_parser().parse_args(["-X", bad])
        with _pt.raises(ValueError, match="expects <prop>=<val>"):
            config_from_args(args)
    # main() surfaces it as an argparse usage error (exit code 2)
    with _pt.raises(SystemExit) as ei:
        main(["-X", "skip.bytes"])
    assert ei.value.code == 2


def test_named_ssl_flags_land_in_reader_options():
    """The named SSL flags (reference surface KwackConfig.java:100-191)
    route into the same client-prop table as -X and come out as
    kafka.<key> Spark reader options; the enum-valued one is validated."""
    from kwack_spark.sources.kafka import kafka_reader_options

    args = build_parser().parse_args(
        [
            "-b", "broker:9092", "-t", "t1",
            "--security-protocol", "SSL",
            "--ssl-keystore-location", "/etc/kwack/client.jks",
            "--ssl-keystore-password", "kspw",
            "--ssl-key-password", "keypw",
            "--ssl-keystore-type", "PKCS12",
            "--ssl-truststore-location", "/etc/kwack/trust.jks",
            "--ssl-truststore-password", "tspw",
            "--ssl-truststore-type", "JKS",
            "--ssl-protocol", "TLSv1.3",
            "--ssl-enabled-protocols", "TLSv1.2,TLSv1.3",
            "--ssl-cipher-suites", "TLS_AES_256_GCM_SHA384",
            "--ssl-client-authentication", "REQUIRED",
            "--ssl-endpoint-identification-algorithm", "https",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.client_props["security.protocol"] == "SSL"
    assert cfg.client_props["ssl.keystore.location"] == "/etc/kwack/client.jks"
    assert cfg.client_props["ssl.truststore.password"] == "tspw"
    assert cfg.client_props["ssl.client.authentication"] == "REQUIRED"

    o = kafka_reader_options(cfg, "t1")
    assert o["startingOffsets"] == "earliest"
    assert o["kafka.security.protocol"] == "SSL"
    assert o["kafka.ssl.keystore.location"] == "/etc/kwack/client.jks"
    assert o["kafka.ssl.keystore.password"] == "kspw"
    assert o["kafka.ssl.key.password"] == "keypw"
    assert o["kafka.ssl.keystore.type"] == "PKCS12"
    assert o["kafka.ssl.truststore.location"] == "/etc/kwack/trust.jks"
    assert o["kafka.ssl.truststore.type"] == "JKS"
    assert o["kafka.ssl.protocol"] == "TLSv1.3"
    assert o["kafka.ssl.enabled.protocols"] == "TLSv1.2,TLSv1.3"
    assert o["kafka.ssl.cipher.suites"] == "TLS_AES_256_GCM_SHA384"
    assert o["kafka.ssl.client.authentication"] == "REQUIRED"
    assert o["kafka.ssl.endpoint.identification.algorithm"] == "https"


def test_ssl_flag_x_override_and_validation():
    """-X ssl.*=... still overrides the named flag (most-specific-last),
    and the enum option rejects values outside the reference validator."""
    args = build_parser().parse_args(
        [
            "-b", "b:9092", "-t", "t",
            "--ssl-protocol", "TLSv1.2",
            "-X", "ssl.protocol=TLSv1.3",
        ]
    )
    cfg = config_from_args(args)
    assert cfg.client_props["ssl.protocol"] == "TLSv1.3"

    cfg2 = KwackConfig()
    with pytest.raises(ValueError, match="ssl.client.authentication"):
        cfg2.apply_property("ssl.client.authentication", "sometimes")
    # properties-file route hits the same validation
    cfg2.apply_property("ssl.client.authentication", "NONE")
    assert cfg2.client_props["ssl.client.authentication"] == "NONE"
