"""JVM whole-stage JSON-Schema decode fast path for plain-struct topics.

The Python decode stage (sources/kafka.py:decode_topic) is the general
path: it handles multi-branch ``oneOf``/``anyOf`` union tagging (the branch
is resolved by validating each record, JsonTransformer.java:296-315),
``;tag:`` key-field injection, and poison-skip.  But MOST production JSON
topics are a plain object schema with typed properties — for those the
per-record ``json.loads`` + coerce in Python costs ~10x the reference's
per-record Java (KwackEngine.java:516-585 dispatches to Confluent's Java
deserializers), while Spark's built-in ``from_json`` keeps the whole
scan+parse inside whole-stage codegen.  ``from_json`` ships in core Spark
and needs NO extra jar, so it is the one JVM struct decode path; Avro and
Protobuf always decode on the Python stage.

Gates (anything failing one silently keeps the identical-result Python
path; ``decode_topic`` never changes behavior, only its physical plan):

1. plain struct — a top-level ``object`` with fixed ``properties``; no
   multi-branch ``oneOf``/``anyOf``/type-array ANYWHERE in the schema
   (union branch resolution validates per record in Python), where a
   ``[null, T]`` pair merely flattens to nullable T and stays eligible;
2. per-field type parity with the Python coercer (_compat_reason):
   - ``enum``/``const`` map to StringType via Python ``str(value)``, which
     agrees with from_json's raw-token text only for strings
     (``str(True)='True'`` vs token ``'true'``; ``str(5.50)='5.5'`` vs
     literal token text ``'5.50'``) — so enums must be string-valued;
   - ``additionalProperties`` maps need a TYPED value schema (untyped maps
     pass raw values through in Python, raw JSON text in from_json);
   - arrays need a typed ``items`` for the same reason;
3. no ``;tag:`` (key-field injection rewrites the value object in Python);
4. fail mode only — from_json's PERMISSIVE mode turns a corrupt record
   into an all-null-FIELDS row, indistinguishable from a legitimate
   all-null record, so poison-skip semantics keep the Python stage;
   FAILFAST raises on malformed JSON exactly like the Python decoder's
   fail mode.

No evolution gate is needed (unlike Avro): JSON payloads are
self-describing, and the Python path decodes every record with the READER
schema regardless of the frame's writer id (resolve_serde:conv_json) — the
fast path does exactly the same.  Confluent schema references ($ref) are
also fine: they are inlined into the reader schema driver-side at parse
time, and from_json receives the resulting concrete StructType.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from kwack_spark.schema import jsonschema as json_schema


def _compat_reason(node: Any) -> str | None:
    """None if ``from_json`` over this repo's StructType mapping
    (schema/jsonschema.py:to_spark_type) produces the SAME values as the
    Python coercer for conforming instances; else a human-readable reason
    the Python path must keep the query."""
    if not isinstance(node, dict):
        return f"non-object schema node {node!r}"
    node, _ = json_schema.nullable_unwrap(node)
    if "__union__" in node:
        return "multi-branch oneOf/anyOf (per-record branch validation is Python-path)"
    if "allOf" in node:
        node = json_schema._merge_all_of(node)
    if "enum" in node or "const" in node:
        vals = node.get("enum", [node.get("const")])
        if any(not isinstance(v, str) for v in vals):
            # str(True)='True' vs token 'true'; str(5.50)='5.5' vs literal
            # token text '5.50' — only string enums are bit-identical
            return "non-string enum or const (Python str() and JSON token text disagree)"
        return None
    t = node.get("type")
    if t == "object" or ("properties" in node and t is None):
        props = node.get("properties", {})
        if not props:
            ap = node.get("additionalProperties")
            if not isinstance(ap, dict):
                return "untyped additionalProperties map (raw passthrough is Python-path)"
            return _compat_reason(ap)
        for sub in props.values():
            r = _compat_reason(sub)
            if r:
                return r
        return None
    if t == "array":
        items = node.get("items")
        if not items:
            return "untyped array items (raw passthrough is Python-path)"
        return _compat_reason(items)
    if t in ("string", "integer", "number", "boolean", "null"):
        # KNOWN DIVERGENCE (documented, accepted): JSON Schema counts
        # zero-fraction floats (5.0) as conforming 'integer' instances, and
        # the Python coercer is lenient (int(5.0), int('5')), but from_json
        # FAILFAST over LongType raises on such non-canonical tokens.  The
        # gate stays eligible because conforming PRODUCERS emit canonical
        # integer tokens (Confluent serializers always do); a topic carrying
        # 5.0-style integers fails loudly on the JVM path rather than
        # decoding differently — set the fallback env/knob to force the
        # Python path for such feeds.
        return None
    return f"unsupported json-schema node for the JVM path: {node}"


def eligible(value_serde) -> tuple[bool, str]:
    """Pure gate (no Spark needed): (ok, reason).  ``value_serde`` must be
    the post-resolve_serde concrete serde (kind 'jsonschema')."""
    if value_serde.kind != "jsonschema":
        return False, f"serde kind {value_serde.kind!r}"
    if value_serde.tag is not None:
        return False, "key-field injection (;tag:) needs the Python path"
    try:
        node = json_schema.parse_schema(
            value_serde.schema_str, dict(value_serde.refs) or None
        )
    except Exception as exc:
        return False, f"unparseable schema: {exc}"
    base, _ = json_schema.nullable_unwrap(node)
    if "allOf" in base:
        base = json_schema._merge_all_of(base)
    if "__union__" in base or not (
        base.get("type") == "object" and base.get("properties")
    ):
        return False, "non-flat top level (rowval layout) stays Python-path"
    r = _compat_reason(node)
    if r:
        return False, r
    return True, "ok"


def decode_value_col(payload: Column, schema_str: str, refs, on_error: str) -> Column:
    """``from_json`` over an already-unframed payload column.  Fail mode
    only (see module docstring); the UTF-8 decode is the JVM-side
    ``cast(string)``."""
    if on_error != "fail":
        raise ValueError(
            "JVM from_json fast path supports on_error='fail' only; "
            "'skip' requires the Python decode stage"
        )
    st = json_schema.to_struct_type(schema_str, dict(refs) or None)
    return F.from_json(payload.cast("string"), st, {"mode": "FAILFAST"})
