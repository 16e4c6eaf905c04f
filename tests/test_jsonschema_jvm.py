"""Gates + execution for the JVM from_json fast path
(sources/jsonschema_jvm.py).

from_json is core Spark — the fast path EXECUTES without any extra module,
so besides the pure gate logic these tests pin that (a) eligible
plain-struct topics really decode through from_json (plan-checked), and
(b) the results are identical to the Python decode stage on the same
frames."""

import json

import pytest

from kwack_spark.config import Serde
from kwack_spark.sources import jsonschema_jvm
from kwack_spark.sources import kafka as ks
from tests.test_kafka_decode import make_frames

PLAIN = json.dumps(
    {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "name": {"type": ["null", "string"]},
            "score": {"type": "number"},
            "tags": {"type": "array", "items": {"type": "string"}},
            "attrs": {"additionalProperties": {"type": "integer"}, "type": "object"},
            "kind": {"enum": ["a", "b"]},
            "flag": {"type": "boolean"},
        },
        "required": ["id"],
    }
)


def _serde(schema: str, **kw) -> Serde:
    return Serde(kind="jsonschema", schema_str=schema, **kw)


def test_eligible_plain_struct():
    ok, why = jsonschema_jvm.eligible(_serde(PLAIN))
    assert ok, why


def test_ineligible_multibranch_union():
    for field in (
        {"oneOf": [{"type": "integer"}, {"type": "string"}]},
        {"anyOf": [{"type": "integer"}, {"type": "string"}]},
        {"type": ["integer", "string"]},
    ):
        s = json.dumps({"type": "object", "properties": {"v": field}})
        ok, why = jsonschema_jvm.eligible(_serde(s))
        assert not ok and "oneOf" in why


def test_ineligible_untyped_collections_and_bool_enum():
    s = json.dumps({"type": "object", "properties": {"m": {"type": "object"}}})
    ok, why = jsonschema_jvm.eligible(_serde(s))
    assert not ok and "additionalProperties" in why

    s = json.dumps({"type": "object", "properties": {"a": {"type": "array"}}})
    ok, why = jsonschema_jvm.eligible(_serde(s))
    assert not ok and "array items" in why

    s = json.dumps({"type": "object", "properties": {"e": {"enum": [True, "x"]}}})
    ok, why = jsonschema_jvm.eligible(_serde(s))
    assert not ok and "enum" in why


def test_ineligible_tag_and_nonflat_top():
    ok, why = jsonschema_jvm.eligible(_serde(PLAIN, tag=("a", "b")))
    assert not ok and "tag" in why
    ok, why = jsonschema_jvm.eligible(_serde(json.dumps({"type": "string"})))
    assert not ok and "top level" in why
    ok, why = jsonschema_jvm.eligible(Serde(kind="avro", schema_str="{}"))
    assert not ok and "kind" in why


def test_eligible_allof_merge():
    s = json.dumps(
        {
            "allOf": [
                {"type": "object", "properties": {"a": {"type": "integer"}}},
                {"type": "object", "properties": {"b": {"type": "string"}}},
            ]
        }
    )
    ok, why = jsonschema_jvm.eligible(_serde(s))
    assert ok, why


def _payloads():
    recs = [
        {"id": 1, "name": "x", "score": 1.5, "tags": ["p", "q"],
         "attrs": {"k": 3}, "kind": "a", "flag": True},
        {"id": 2, "name": None, "score": 2.0, "tags": [],
         "attrs": {}, "kind": "b", "flag": False},
        {"id": 3, "score": 0.25, "tags": ["r"], "attrs": {"z": 9}},
    ]
    return [ks.confluent_frame(json.dumps(r).encode(), 7) for r in recs]


def test_decode_topic_takes_from_json_path(spark):
    """An eligible topic's decode plan contains from_json and no Python
    decode stage downstream of the frames (plan-checked), with the
    reference layout and rowinfo intact."""
    df = make_frames(spark, _payloads(), keys=[b"k1", b"k2", b"k3"])
    out = ks.decode_topic(
        df,
        "t1",
        _serde(PLAIN),
        key_serde=Serde(kind="string"),
        row_attributes=("rowkey", "vsi", "off"),
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" in plan and "MapInArrow" not in plan
    rows = sorted(out.collect(), key=lambda r: r.id)
    assert out.columns == [
        "rowkey", "id", "name", "score", "tags", "attrs", "kind", "flag", "rowinfo",
    ]
    assert rows[0].rowkey == "k1" and rows[0].attrs == {"k": 3}
    assert rows[1].name is None and rows[1].flag is False
    assert rows[2].name is None and rows[2].kind is None  # missing -> null
    assert rows[0].rowinfo.vsi == 7 and rows[2].rowinfo.off == 2


def test_fast_path_matches_python_path(spark, monkeypatch):
    """Branch equivalence: forcing the gate off must not change a single
    value."""
    df = make_frames(spark, _payloads())
    fast = ks.decode_topic(df, "t1", _serde(PLAIN)).collect()
    monkeypatch.setattr(
        jsonschema_jvm, "eligible", lambda s: (False, "forced off for test")
    )
    slow = ks.decode_topic(df, "t1", _serde(PLAIN)).collect()
    key = lambda r: r.id
    assert sorted(map(tuple, fast), key=lambda t: t[1]) == sorted(
        map(tuple, slow), key=lambda t: t[1]
    )


def test_failfast_raises_on_poison_and_skip_stays_python(spark):
    good = ks.confluent_frame(json.dumps({"id": 1}).encode(), 7)
    poison = ks.confluent_frame(b"{not json", 7)
    df = make_frames(spark, [good, poison])
    with pytest.raises(Exception) as ei:
        ks.decode_topic(df, "t1", _serde(PLAIN)).collect()
    assert "Malformed" in str(ei.value) or "JSON" in str(ei.value)
    # skip mode is Python-path by gate: drops poison, keeps the good row
    out = ks.decode_topic(df, "t1", _serde(PLAIN), on_error="skip")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan
    rows = out.collect()
    assert len(rows) == 1 and rows[0].id == 1


def test_decode_value_col_rejects_skip():
    with pytest.raises(ValueError, match="fail"):
        jsonschema_jvm.decode_value_col(None, "{}", (), "skip")


def test_noncanonical_integer_token_divergence_is_loud(spark, monkeypatch):
    """KNOWN DIVERGENCE pin (jsonschema_jvm._compat_reason integer note,
    r05 ADVICE carry-over): JSON Schema counts 5.0 as a conforming
    'integer', and the lenient Python coercer decodes it to 5 — but the
    JVM path's from_json FAILFAST over LongType RAISES on the
    non-canonical token.  The contract is fail-loud, never
    decode-differently: feeds with such producers must force the Python
    path (on_error='skip' or gate off)."""
    frame = ks.confluent_frame(json.dumps({"id": 5.0}).encode(), 7)
    df = make_frames(spark, [frame])
    with pytest.raises(Exception):
        ks.decode_topic(df, "t1", _serde(PLAIN)).collect()
    monkeypatch.setattr(
        jsonschema_jvm, "eligible", lambda s: (False, "forced off for test")
    )
    rows = ks.decode_topic(df, "t1", _serde(PLAIN)).collect()
    assert len(rows) == 1 and rows[0].id == 5
