"""Config + serde grammar (the reference's KwackConfig surface,
KwackConfig.java:527-612 / KwackMain.java:49-138).

Serde grammar, per topic key/value:

    short | int | long | float | double | string | binary   (primitives)
    json                                                    (schema-less JSON)
    latest                                                  (latest SR version)
    <numeric id>                                            (specific SR id)
    avro:<schema|@file>                                     (external schema)
    json:<schema|@file>[;tag:src->dst]
    proto:<schema|@file>[;msg:<MessageName>]

Defaults mirror the reference: key serde ``binary``, value serde ``latest``
(KwackConfig.java:534-535).  Offset spec grammar (KwackMain.java:69-76):
``beginning | end | <abs offset> | -<rel from end> | @<timestamp ms>``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

PRIMITIVE_SERDES = {"short", "int", "long", "float", "double", "string", "binary"}
SCHEMA_KINDS = {"avro": "AVRO", "json": "JSON", "proto": "PROTOBUF"}


@dataclass(frozen=True)
class Serde:
    kind: str  # primitive name | 'rawjson' | 'latest' | 'id' | 'avro' | 'jsonschema' | 'proto'
    schema_str: str | None = None
    schema_id: int | None = None
    message: str | None = None  # proto ;msg: selector
    tag: tuple[str, str] | None = None  # json ;tag:src->dst key-field injection
    # resolved Confluent schema references ((name, schema_str), ...) in
    # dependency-first order — populated when a latest/<id> serde is
    # rewritten against a registry (sources/kafka.py:resolve_serde)
    refs: tuple = ()

    @property
    def schema_type(self) -> str | None:
        return {"avro": "AVRO", "jsonschema": "JSON", "proto": "PROTOBUF"}.get(self.kind)


def parse_serde(spec: str) -> Serde:
    """Parse one serde spec per the grammar above."""
    spec = spec.strip()
    if spec in PRIMITIVE_SERDES:
        return Serde(kind=spec)
    if spec == "json":
        return Serde(kind="rawjson")
    if spec == "latest":
        return Serde(kind="latest")
    if re.fullmatch(r"\d+", spec):
        return Serde(kind="id", schema_id=int(spec))
    m = re.match(r"^(avro|json|proto):(.*)$", spec, re.DOTALL)
    if not m:
        raise ValueError(f"unparseable serde spec: {spec!r}")
    prefix, rest = m.group(1), m.group(2)
    kind = {"avro": "avro", "json": "jsonschema", "proto": "proto"}[prefix]
    message = None
    tag = None
    # suffix options split on ';' — ;msg: for proto, ;tag:src->dst for json
    while True:
        sm = re.search(r";(msg|tag):([^;]*)$", rest, re.DOTALL)
        if not sm:
            break
        opt, val = sm.group(1), sm.group(2)
        rest = rest[: sm.start()]
        if opt == "msg":
            message = val.strip()
        else:
            src, _, dst = val.partition("->")
            tag = (src.strip(), dst.strip())
    schema = rest
    if schema.startswith("@"):
        with open(schema[1:], "r", encoding="utf-8") as fh:
            schema = fh.read()
    return Serde(kind=kind, schema_str=schema, message=message, tag=tag)


@dataclass(frozen=True)
class OffsetSpec:
    """Parsed offset spec; the mapping to Spark Kafka source options lives
    in sources/kafka.py:kafka_reader_options (it needs topic/partitions)."""

    kind: str  # 'beginning' | 'end' | 'absolute' | 'relative' | 'timestamp'
    value: int | None = None


def parse_offset(spec: str) -> OffsetSpec:
    spec = spec.strip()
    if spec == "beginning":
        return OffsetSpec("beginning")
    if spec == "end":
        return OffsetSpec("end")
    if spec.startswith("@"):
        return OffsetSpec("timestamp", int(spec[1:]))
    n = int(spec)
    return OffsetSpec("relative" if n < 0 else "absolute", n)


DEFAULT_ROW_ATTRIBUTES = ("rowkey", "ksi", "vsi", "par", "off", "ts", "hdr")
# the reference additionally supports 'epo' (leader epoch) — a PERMANENT
# delta here: Spark's Kafka source never exposes the leader epoch, so 'epo'
# is accepted in configs for compatibility but skipped (never an always-NULL
# column masquerading as data).  sources/kafka.py:rowinfo_col documents this.
ALL_ROW_ATTRIBUTES = ("rowkey", "ksi", "vsi", "top", "par", "off", "ts", "tst", "epo", "hdr")


# Named SSL/security options (KwackConfig.java:100-191 defines these as
# first-class config keys with docs/validators; Spark-side they are raw
# Kafka client properties, emitted as ``kafka.<key>`` source options like
# every other -X passthrough — one routing, two spellings).
SSL_CONFIG_KEYS = (
    "security.protocol",
    "ssl.keystore.location",
    "ssl.keystore.password",
    "ssl.key.password",
    "ssl.keystore.type",
    "ssl.keymanager.algorithm",
    "ssl.truststore.location",
    "ssl.truststore.password",
    "ssl.truststore.type",
    "ssl.trustmanager.algorithm",
    "ssl.protocol",
    "ssl.provider",
    "ssl.client.authentication",
    "ssl.enabled.protocols",
    "ssl.cipher.suites",
    "ssl.endpoint.identification.algorithm",
)

# KwackConfig.java:172-177 SSL_CLIENT_AUTHENTICATION_VALIDATOR
SSL_CLIENT_AUTH_VALUES = ("NONE", "REQUESTED", "REQUIRED")


@dataclass
class KwackConfig:
    """The engine's config surface (subset of KwackConfig.java that applies
    Spark-side).  ``topic_serdes``/``key_serdes`` accept raw grammar strings
    and are parsed on access."""

    parquet_dir: str | None = None
    kafka_bootstrap: str | None = None
    topics: list[str] = field(default_factory=list)
    topic_serdes: dict[str, str] = field(default_factory=dict)  # value serdes
    key_serdes: dict[str, str] = field(default_factory=dict)
    topic_partitions: dict[str, list[int]] = field(default_factory=dict)  # -p
    registry_url: str | None = None  # -r; None/mock:// -> in-process mock
    starting_offset: str = "beginning"
    row_attributes: tuple[str, ...] = DEFAULT_ROW_ATTRIBUTES
    skip_bytes: int = 0
    warehouse_dir: str | None = None  # -d equivalent: persist tables here
    query: str | None = None  # -q one-shot query
    spark_conf: dict[str, str] = field(default_factory=dict)
    metadata_timeout_ms: int | None = None  # -m; bounds broker admin requests
    client_props: dict[str, str] = field(default_factory=dict)  # -X passthrough

    def value_serde(self, topic: str) -> Serde:
        return parse_serde(self.topic_serdes.get(topic, "latest"))

    def key_serde(self, topic: str) -> Serde:
        return parse_serde(self.key_serdes.get(topic, "binary"))

    def offset(self) -> OffsetSpec:
        return parse_offset(self.starting_offset)

    @classmethod
    def from_properties(cls, path: str) -> "KwackConfig":
        """Java-properties-style config file (KwackMain.java -F)."""
        props: dict[str, str] = {}
        with open(path, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line or line.startswith(("#", "!")):
                    continue
                k, _, v = line.partition("=")
                props[k.strip()] = v.strip()
        cfg = cls()
        # one routing table for both config surfaces: -F files and -X flags
        # accept the identical key set (spark.* conf and raw Kafka client
        # properties included), exactly like the reference's KwackConfig
        for k, v in props.items():
            cfg.apply_property(k, v)
        return cfg

    def apply_property(self, key: str, value: str) -> None:
        """Reference -X prop=val (KwackMain.java:136-138): kwack-config keys
        route to their fields; ``spark.*`` keys land in spark_conf; anything
        else is a raw Kafka client property (client_props, emitted as
        ``kafka.<key>`` source options)."""
        key = key.strip()
        if key == "bootstrap.servers":
            self.kafka_bootstrap = value
        elif key == "topics":
            self.topics = [t.strip() for t in value.split(",") if t.strip()]
        elif key == "skip.bytes":
            self.skip_bytes = int(value)
        elif key == "row.attributes":
            # reference grammar: 'none' disables all metadata (KwackMain
            # -a help text); it is a sentinel, not an attribute name
            attrs = tuple(
                a.strip() for a in value.split(",")
                if a.strip() and a.strip() != "none"
            )
            self.row_attributes = attrs
        elif key == "parquet.dir":
            self.parquet_dir = value
        elif key == "db.dir":
            self.warehouse_dir = value
        elif key == "metadata.timeout.ms":
            self.metadata_timeout_ms = int(value)
        elif key.startswith("serde."):
            self.topic_serdes[key[len("serde."):]] = value
        elif key.startswith("key.serde."):
            self.key_serdes[key[len("key.serde."):]] = value
        elif key.startswith("spark."):
            self.spark_conf[key] = value
        else:
            if key == "ssl.client.authentication":
                # the one enum-valued SSL option the reference validates
                # (KwackConfig.java SSL_CLIENT_AUTHENTICATION_VALIDATOR)
                if value not in SSL_CLIENT_AUTH_VALUES:
                    raise ValueError(
                        f"ssl.client.authentication must be one of "
                        f"{SSL_CLIENT_AUTH_VALUES}, got {value!r}"
                    )
            self.client_props[key] = value
