"""CLI mirroring the reference's KwackMain (KwackMain.java:49-138 options):

    python -m kwack_spark.cli -t topic1 -t topic2 \
        -v 'topic1=avro:@schema.avsc' -k 'topic1=string' \
        -b localhost:9092 -o beginning -q "SELECT ..." -d /tmp/warehouse

No -q starts the interactive REPL (sqlline equivalent).  -q streams one JSON
object per row to stdout (KwackMain.java:157-164).  A parquet directory
(-p) registers the driver-style parquet tables instead of/alongside Kafka.
"""

from __future__ import annotations

import argparse
import sys

from kwack_spark.config import DEFAULT_ROW_ATTRIBUTES, KwackConfig
from kwack_spark.engine import KwackSpark


def _topic_item(item: str) -> tuple[str, str]:
    """The one parser of the ``topic=value`` flags (-v, -k, -p)."""
    topic, sep, value = item.partition("=")
    if not sep or not topic.strip():
        raise argparse.ArgumentTypeError(f"expected topic=<value>, got {item!r}")
    return topic.strip(), value


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="kwack-spark",
        description="In-memory analytics for Kafka topics / parquet tables on PySpark",
    )
    p.add_argument("-t", "--topic", action="append", default=[], help="topic(s) to consume")
    p.add_argument(
        "-p", "--partition", action="append", default=[], type=_topic_item,
        help="topic partitions to consume (topic=0,1,...)",
    )
    p.add_argument("-b", "--bootstrap-server", help="Kafka bootstrap servers")
    p.add_argument(
        "-v", "--value-serde", action="append", default=[], type=_topic_item,
        help="topic=serde (primitives | json | latest | <id> | avro:<schema|@file> | proto:...;msg:M | json:...;tag:a->b)",
    )
    p.add_argument(
        "-k", "--key-serde", action="append", default=[], type=_topic_item,
        help="topic=serde for keys",
    )
    p.add_argument(
        "-o", "--offset", default="beginning",
        help="start offset: beginning|end|<abs>|-<rel>|@<ts ms>",
    )
    p.add_argument(
        "-r", "--schema-registry-url",
        help="Schema Registry URL (default: in-process mock, like mock://)",
    )
    p.add_argument("-q", "--query", help="SQL to execute (omit for interactive REPL)")
    p.add_argument("-d", "--db", help="durable warehouse directory (default in-memory only)")
    p.add_argument("-a", "--row-attributes", help=f"comma list of {DEFAULT_ROW_ATTRIBUTES}")
    p.add_argument(
        "-x", "--skip-bytes", type=int, default=None,
        help="bytes to skip before deserializing",
    )
    p.add_argument("-F", "--properties-file", help="properties config file")
    p.add_argument(
        "-m", "--metadata-timeout", type=int, default=None, metavar="<ms>",
        help="metadata (et al.) request timeout in ms",
    )
    p.add_argument(
        "-X", "--property", action="append", default=[], metavar="<prop=val>",
        help="set a configuration property (kwack key, spark.* conf, or raw "
        "Kafka client property)",
    )
    p.add_argument("--parquet-dir", help="register parquet tables from this directory")
    # named SSL/security flags (reference surface: KwackConfig.java:100-191
    # first-class ssl.* options) — each routes into the same Kafka
    # client-prop table the -X passthrough uses, emitted as kafka.<key>
    # reader options; --ssl-client-authentication is validated like the
    # reference's ValidString(NONE, REQUESTED, REQUIRED)
    ssl = p.add_argument_group("SSL/security (named equivalents of -X ssl.*=...)")
    ssl.add_argument("--security-protocol", dest="ssl_security_protocol",
                     metavar="<proto>", help="e.g. SSL, SASL_SSL")
    ssl.add_argument("--ssl-keystore-location", metavar="<path>",
                     help="location of the keystore file")
    ssl.add_argument("--ssl-keystore-password", metavar="<pw>",
                     help="store password for the keystore file")
    ssl.add_argument("--ssl-key-password", metavar="<pw>",
                     help="password of the private key in the keystore")
    ssl.add_argument("--ssl-keystore-type", metavar="<type>",
                     help="keystore file type (e.g. JKS, PKCS12)")
    ssl.add_argument("--ssl-truststore-location", metavar="<path>",
                     help="location of the truststore file")
    ssl.add_argument("--ssl-truststore-password", metavar="<pw>",
                     help="store password for the truststore file")
    ssl.add_argument("--ssl-truststore-type", metavar="<type>",
                     help="truststore file type")
    ssl.add_argument("--ssl-protocol", metavar="<proto>",
                     help="SSL protocol (e.g. TLSv1.3)")
    ssl.add_argument("--ssl-enabled-protocols", metavar="<list>",
                     help="comma list of enabled SSL protocols")
    ssl.add_argument("--ssl-cipher-suites", metavar="<list>",
                     help="comma list of SSL cipher suites")
    ssl.add_argument("--ssl-client-authentication",
                     choices=["NONE", "REQUESTED", "REQUIRED"],
                     help="SSL mutual auth mode")
    ssl.add_argument("--ssl-endpoint-identification-algorithm",
                     metavar="<alg>",
                     help="endpoint identification algorithm (e.g. https)")
    return p


# argparse dest -> Kafka client property key for the named SSL flags
_SSL_FLAG_PROPS = {
    "ssl_security_protocol": "security.protocol",
    "ssl_keystore_location": "ssl.keystore.location",
    "ssl_keystore_password": "ssl.keystore.password",
    "ssl_key_password": "ssl.key.password",
    "ssl_keystore_type": "ssl.keystore.type",
    "ssl_truststore_location": "ssl.truststore.location",
    "ssl_truststore_password": "ssl.truststore.password",
    "ssl_truststore_type": "ssl.truststore.type",
    "ssl_protocol": "ssl.protocol",
    "ssl_enabled_protocols": "ssl.enabled.protocols",
    "ssl_cipher_suites": "ssl.cipher.suites",
    "ssl_client_authentication": "ssl.client.authentication",
    "ssl_endpoint_identification_algorithm":
        "ssl.endpoint.identification.algorithm",
}


def config_from_args(args: argparse.Namespace) -> KwackConfig:
    cfg = (
        KwackConfig.from_properties(args.properties_file)
        if args.properties_file
        else KwackConfig()
    )
    if args.bootstrap_server:
        cfg.kafka_bootstrap = args.bootstrap_server
    if args.topic:
        cfg.topics = list(dict.fromkeys(cfg.topics + args.topic))
    cfg.topic_serdes.update(args.value_serde)
    cfg.key_serdes.update(args.key_serde)
    for topic, ps in args.partition:
        cfg.topic_partitions[topic] = [int(p) for p in ps.split(",") if p.strip()]
    cfg.starting_offset = args.offset
    if args.schema_registry_url:
        cfg.registry_url = args.schema_registry_url
    if args.db:
        cfg.warehouse_dir = args.db
    if args.row_attributes is not None:
        cfg.apply_property("row.attributes", args.row_attributes)
    if args.skip_bytes is not None:  # don't clobber a -F properties value
        cfg.skip_bytes = args.skip_bytes
    if args.parquet_dir:
        cfg.parquet_dir = args.parquet_dir
    if args.metadata_timeout is not None:
        cfg.metadata_timeout_ms = args.metadata_timeout
    # named SSL flags apply BEFORE -X so an explicit -X ssl.*=... can still
    # override them (most-specific-last, the reference's property order)
    for dest, prop in _SSL_FLAG_PROPS.items():
        val = getattr(args, dest, None)
        if val is not None:
            cfg.apply_property(prop, val)
    for item in args.property:
        k, sep, v = item.partition("=")
        if not sep or not k.strip():
            # typed keys would otherwise surface this as a raw traceback
            # (e.g. -X skip.bytes -> int('') ValueError)
            raise ValueError(
                f"-X/--property expects <prop>=<val>, got {item!r}"
            )
        cfg.apply_property(k, v)
    cfg.query = args.query
    return cfg


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    try:
        cfg = config_from_args(args)
    except ValueError as e:  # malformed flag values -> usage error, not traceback
        parser.error(str(e))
    engine = KwackSpark(cfg).init()
    try:
        if cfg.query:
            for line in engine.query_json(cfg.query):
                print(line)
        else:
            engine.repl()
    finally:
        engine.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
