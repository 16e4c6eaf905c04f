"""Property-based roundtrip invariants for the binary codecs (hypothesis).

The reference's tests are golden-value only; these go further: for ANY value
permitted by a schema, decode(encode(v)) == v.  Catches varint edge cases
(sign boundaries, multi-byte), block encodings, and UTF-8 handling that
fixture tests miss."""

import math

from hypothesis import example, given, settings
from hypothesis import strategies as st

from kwack_spark.schema import avro as avro_schema
from kwack_spark.schema import protobuf as proto_schema

I32 = st.integers(-(2 ** 31), 2 ** 31 - 1)
I64 = st.integers(-(2 ** 63), 2 ** 63 - 1)
TEXT = st.text(max_size=80)


AVRO_REC = {
    "type": "record",
    "name": "P",
    "fields": [
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "b", "type": "bytes"},
        {"name": "bl", "type": "boolean"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
        {"name": "mp", "type": {"type": "map", "values": "string"}},
        {"name": "opt", "type": ["null", "long"]},
    ],
}


@settings(max_examples=200, deadline=None)
@given(
    i=I32,
    l=I64,
    d=st.floats(allow_nan=False),
    s=TEXT,
    b=st.binary(max_size=60),
    bl=st.booleans(),
    arr=st.lists(I64, max_size=10),
    mp=st.dictionaries(st.text(max_size=10), st.text(max_size=10), max_size=6),
    opt=st.one_of(st.none(), I64),
)
def test_avro_roundtrip_property(i, l, d, s, b, bl, arr, mp, opt):
    value = {
        "i": i, "l": l, "d": d, "s": s, "b": b, "bl": bl,
        "arr": arr, "mp": mp,
        "opt": (0, None) if opt is None else (1, opt),
    }
    payload = avro_schema.encode(value, AVRO_REC)
    st_, convert = avro_schema.make_row_converter(AVRO_REC)
    row = dict(zip([f.name for f in st_.fields], convert(payload)))
    assert row["i"] == i and row["l"] == l
    assert row["d"] == d or (math.isnan(d) and math.isnan(row["d"]))
    assert row["s"] == s and row["b"] == b and row["bl"] == bl
    assert row["arr"] == arr and row["mp"] == mp
    assert row["opt"] == opt


PROTO = """
syntax = "proto3";
message P {
  int32 i = 1;
  sint64 si = 2;
  uint64 u = 3;
  double d = 4;
  string s = 5;
  bytes b = 6;
  bool bl = 7;
  repeated int64 arr = 8;
  map<string, int64> mp = 9;
  sfixed32 f = 10;
}
"""


@settings(max_examples=200, deadline=None)
@given(
    i=I32,
    si=I64,
    u=st.integers(0, 2 ** 64 - 1),
    d=st.floats(allow_nan=False),
    s=TEXT,
    b=st.binary(max_size=60),
    bl=st.booleans(),
    arr=st.lists(I64, max_size=10),
    mp=st.dictionaries(st.text(max_size=10), I64, max_size=6),
    f=I32,
)
def test_proto_roundtrip_property(i, si, u, d, s, b, bl, arr, mp, f):
    desc = proto_schema.resolve(proto_schema.parse_proto(PROTO), "P")
    values = {
        "i": i, "si": si, "u": u, "d": d, "s": s, "b": b, "bl": bl,
        "arr": arr, "mp": mp, "f": f,
    }
    payload = proto_schema.encode_message(values, desc)
    st_, convert = proto_schema.make_row_converter(PROTO, "P")
    row = dict(zip([fld.name for fld in st_.fields], convert(payload)))
    assert row["i"] == i and row["si"] == si
    assert int(row["u"]) == u
    assert row["d"] == d
    assert row["s"] == s and row["b"] == b
    # proto3: default-valued scalars are not encoded; decode restores defaults
    assert row["bl"] == bl
    assert row["arr"] == arr and row["mp"] == mp
    assert row["f"] == f


JS_SCHEMA = {
    "type": "object",
    "properties": {
        "s": {"type": "string"},
        "i": {"type": "integer"},
        "d": {"type": "number"},
        "b": {"type": "boolean"},
        "arr": {"type": "array", "items": {"type": "integer"}},
        "attrs": {"type": "object", "additionalProperties": {"type": "string"}},
        "iors": {"oneOf": [{"type": "integer"}, {"type": "string"}]},
        "opt": {"type": ["null", "string"]},
    },
    "required": ["s"],
}


@settings(max_examples=200, deadline=None)
@given(
    s=TEXT,
    i=I64,
    d=st.floats(allow_nan=False, allow_infinity=False),
    b=st.booleans(),
    arr=st.lists(I64, max_size=8),
    attrs=st.dictionaries(st.text(max_size=8), st.text(max_size=8), max_size=5),
    iors=st.one_of(I64, TEXT),
    opt=st.one_of(st.none(), TEXT),
)
def test_jsonschema_convert_property(s, i, d, b, arr, attrs, iors, opt):
    """Any instance conforming to the schema converts without error into the
    declared row shape, with oneOf resolving to exactly one branch."""
    import json as _json

    from kwack_spark.schema import jsonschema as js

    instance = {"s": s, "i": i, "d": d, "b": b, "arr": arr, "attrs": attrs,
                "iors": iors, "opt": opt}
    st_, convert = js.make_row_converter(JS_SCHEMA)
    row = dict(zip([f.name for f in st_.fields], convert(_json.dumps(instance))))
    assert row["s"] == s and row["i"] == i and row["b"] == b
    assert row["d"] == float(d)
    assert row["arr"] == arr and row["attrs"] == attrs
    # oneOf: exactly one non-null branch, matching the instance type
    u0, u1 = row["iors"]
    if isinstance(iors, bool) or not isinstance(iors, (int,)):
        assert u1 == iors and u0 is None
    else:
        assert u0 == iors and u1 is None
    assert row["opt"] == opt


# ---------------------------------------------------------------------------
# baseline JPEG codec (round 5)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 24),
    h=st.integers(1, 24),
    ch=st.sampled_from([1, 3]),
    seed=st.integers(0, 2**31 - 1),
)
@example(w=2, h=2, ch=3, seed=1282564844)  # mean error 56.8, see the bound
def test_jpeg_roundtrip_property(w, h, ch, seed):
    """For ANY size (incl. non-multiples of 8) and content, encode->decode
    returns the exact dimensions/channels and pixels within quantization
    error.  Random noise is JPEG's worst case — individual samples can be
    off by >150 legitimately (64 half-step coefficient errors accumulate
    through the IDCT), so the misalignment discriminators are the MEAN
    pixel error (garbage decode ~85, quantization ~30) and the per-channel
    image means (DC survives quantization to within a few levels;
    misalignment destroys them)."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w * ch)).astype(np.int32)
    out = mm._jpeg_decode(mm._jpeg_encode(px, ch))
    assert out is not None
    dw, dh, dch, pix = out
    assert (dw, dh, dch) == (w, h, ch)
    assert pix.shape == (h, w * ch)
    err = np.abs(pix.astype(int) - px)
    # The mean-error bound is sample-size-aware, like the lane tolerance
    # below.  Sub-block noise images legitimately err a lot: an independent
    # float model of the same pipeline (RGB->YCbCr, edge-replicated 8x8
    # padding, orthonormal FDCT, Annex K quality-50 quantization, IDCT,
    # YCbCr->RGB) gives 56.9 for w=h=2/ch=3/seed=1282564844, where the codec
    # gives 56.8.  The image's mean error is an average over n = w*h pixels:
    # over noise draws from 1x1 to 24x24, 1 or 3 channels, it centres at
    # <= 36 and one pixel's error has sd <= 21, so the 6-sigma bound is
    # 36 + 6*21/sqrt(n) — 99 at 2x2, 52 at 8x8, 41 at 24x24 (the largest
    # draw seen in 1,500 per size was 72 at 2x2 and 68 at 3x2).  A
    # misaligned decode errs ~85 (the mean |a - b| of two uniform bytes), so
    # the bound catches it from 7 pixels up; below that, the dimensions and
    # lane means are the check.
    assert err.mean() <= 36 + 126 / math.sqrt(w * h)
    for c in range(ch):
        lane_o = px[:, c::ch].mean()
        lane_d = pix[:, c::ch].astype(int).mean()
        # tolerance is sample-size-aware: a lane of < 16 pixels sits in one
        # 8x8 block whose edge-replication padding plus DC quantization can
        # legitimately move a 4-pixel mean by ~20 (hypothesis found
        # w=h=2/ch=3/seed=166 at 20.5); misalignment still lands ~60+
        tol = 16 if px[:, c::ch].size >= 16 else 36
        assert abs(lane_o - lane_d) <= tol


@settings(max_examples=60, deadline=None)
@given(
    cut=st.integers(1, 300),
    flip_pos=st.integers(2, 299),
    flip_val=st.integers(0, 255),
)
def test_jpeg_corruption_never_crashes(cut, flip_pos, flip_val):
    """Truncation anywhere and arbitrary single-byte corruption either
    decode (harmless byte) or return None — never raise, never hang."""
    import numpy as np

    from kwack_spark.operators import multimodal as mm

    px = np.arange(64, dtype=np.int32).reshape(8, 8) * 3 % 256
    enc = mm._jpeg_encode(px, 1)
    mm._jpeg_decode(enc[: min(cut, len(enc))])  # truncated: None or decode
    corrupted = bytearray(enc)
    pos = min(flip_pos, len(enc) - 1)
    corrupted[pos] = flip_val
    mm._jpeg_decode(bytes(corrupted))


@settings(max_examples=30, deadline=None)
@given(
    n_tok=st.integers(0, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_winnowing_coverage_property(n_tok, seed):
    """Winnowing guarantee on any token stream: every window of w=4
    consecutive gram hashes contains at least one selected fingerprint
    position, and every selected hash is the minimum of some window."""
    import random

    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rng = random.Random(seed)
    toks = [rng.choice(vocab) for _ in range(n_tok)]
    import hashlib

    grams = [" ".join(toks[i : i + 3]) for i in range(max(0, len(toks) - 2))]
    hs = [hashlib.md5(g.encode()).hexdigest()[:8] for g in grams]
    # reference implementation of the registered operator's semantics
    fps = set()
    n = len(hs)
    if n:
        for i in range(max(1, n - 3)):
            window = list(range(i, min(i + 4, n)))
            m = min(hs[j] for j in window)
            pos = max(j for j in window if hs[j] == m)
            fps.add((pos, hs[pos]))
        for i in range(max(1, n - 3)):
            window = range(i, min(i + 4, n))
            assert any((j, hs[j]) in fps for j in window)  # coverage
    else:
        assert fps == set()
