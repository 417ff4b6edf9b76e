"""K6 serializer matrix: MessagePack codec spec-vector parity,
round-trips, registry behavior, and the Spark envelope path."""

import json
import math

import pytest

from napalm_logs_spark.operators.serialize import (
    PAYLOAD_COLS,
    InvalidSerializerException,
    get_serializer,
    packb,
    serialize_envelopes,
    unpackb,
)

# byte vectors straight from the public MessagePack spec; the first is
# the msgpack.org homepage example the reference wire format is defined
# by (umsgpack produces these exact bytes)
SPEC_VECTORS = [
    ({"compact": True, "schema": 0},
     bytes.fromhex("82a7636f6d70616374c3a6736368656d6100")),
    (None, b"\xc0"),
    (True, b"\xc3"),
    (False, b"\xc2"),
    (0, b"\x00"),
    (127, b"\x7f"),
    (128, b"\xcc\x80"),
    (255, b"\xcc\xff"),
    (256, b"\xcd\x01\x00"),
    (65535, b"\xcd\xff\xff"),
    (65536, b"\xce\x00\x01\x00\x00"),
    (4294967295, b"\xce\xff\xff\xff\xff"),
    (4294967296, b"\xcf\x00\x00\x00\x01\x00\x00\x00\x00"),
    (-1, b"\xff"),
    (-32, b"\xe0"),
    (-33, b"\xd0\xdf"),
    (-128, b"\xd0\x80"),
    (-129, b"\xd1\xff\x7f"),
    (-32768, b"\xd1\x80\x00"),
    (-32769, b"\xd2\xff\xff\x7f\xff"),
    (1.5, b"\xcb" + bytes.fromhex("3ff8000000000000")),
    ("hello", b"\xa5hello"),
    ("", b"\xa0"),
    ("x" * 32, b"\xd9\x20" + b"x" * 32),
    ("x" * 256, b"\xda\x01\x00" + b"x" * 256),
    (b"\x00\x01", b"\xc4\x02\x00\x01"),
    ([1, 2, 3], b"\x93\x01\x02\x03"),
    ([], b"\x90"),
    ({}, b"\x80"),
    (list(range(16)), b"\xdc\x00\x10" + bytes(range(16))),
]


@pytest.mark.parametrize("obj,wire", SPEC_VECTORS, ids=[str(i) for i in range(len(SPEC_VECTORS))])
def test_spec_vectors(obj, wire):
    assert packb(obj) == wire
    assert unpackb(wire) == obj


def test_roundtrip_nested_envelope_shape():
    env = {
        "error": "BGP_NEIGHBOR_STATE_CHANGED",
        "host": "edge-01",
        "ip": "10.0.0.1",
        "timestamp": 1585644119,
        "yang_message": {"bgp": {"neighbors": {"neighbor": {"1.2.3.4": {
            "state": {"session_state": "IDLE"}}}}}},
        "facility": 23,
        "severity": 5,
        "details": [1, -7, None, True, 2.25, "x"],
    }
    assert unpackb(packb(env)) == env
    # canonical form is key-order independent
    reordered = dict(reversed(list(env.items())))
    assert packb(env, sort_keys=True) == packb(reordered, sort_keys=True)


def test_roundtrip_randomized_json_like():
    import random

    rng = random.Random(7)

    def gen(depth=0):
        kinds = ["int", "str", "float", "bool", "none"]
        if depth < 3:
            kinds += ["list", "dict"]
        k = rng.choice(kinds)
        if k == "int":
            return rng.randint(-(2 ** 40), 2 ** 40)
        if k == "str":
            return "".join(rng.choice("abπ☃ ") for _ in range(rng.randint(0, 40)))
        if k == "float":
            return rng.uniform(-1e6, 1e6)
        if k == "bool":
            return rng.random() < 0.5
        if k == "none":
            return None
        if k == "list":
            return [gen(depth + 1) for _ in range(rng.randint(0, 6))]
        return {f"k{i}": gen(depth + 1) for i in range(rng.randint(0, 6))}

    for _ in range(200):
        obj = gen()
        got = unpackb(packb(obj))
        assert got == obj or (
            isinstance(obj, float) and math.isclose(got, obj)
        )


def test_unpack_rejects_trailing_and_unknown():
    with pytest.raises(ValueError, match="trailing"):
        unpackb(b"\x01\x02")
    with pytest.raises(ValueError, match="0xc1"):
        unpackb(b"\xc1")  # never-used byte per spec
    with pytest.raises(TypeError):
        packb({1, 2})  # sets are not msgpack types


def test_registry_matches_reference_matrix():
    # reference serializer/__init__.py:24-45: five names + default
    for name in ("msgpack", "json", "str", "yaml", "pprint", "*"):
        assert callable(get_serializer(name))
    with pytest.raises(InvalidSerializerException, match="not available"):
        get_serializer("protobuf")
    assert get_serializer("json")({"b": 1, "a": [None, True]}) == '{"a":[null,true],"b":1}'
    assert "'a': 1" in get_serializer("pprint")({"a": 1})
    assert get_serializer("yaml")({"a": 1}) == "a: 1\n"


def test_serialize_envelopes_spark_paths(spark):
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import transcripts_df
    from synth import synth_transcripts_pandas

    env = normalize(
        transcripts_df(spark, synth_transcripts_pandas(n_convs=5, turns_per_conv=6, seed=42))
    )
    packed = serialize_envelopes(env, "msgpack")
    rows = packed.select("conv_id", "turn_idx", "error", "payload").collect()
    assert rows
    for r in rows:
        obj = unpackb(r.payload)
        # the one published payload shape, whatever else the frame
        # holds (msgpack packs with sorted keys)
        assert sorted(obj) == sorted(PAYLOAD_COLS)
        assert obj["error"] == r.error
        assert obj["conv_id"] == r.conv_id
    # json path (JVM) and msgpack path agree on content (a turn can
    # emit several envelopes, so compare the full multisets)
    j = serialize_envelopes(env, "json").select("payload")
    assert tuple(json.loads(j.first().payload)) == PAYLOAD_COLS  # struct order
    want = sorted(
        json.dumps(json.loads(r.payload), sort_keys=True) for r in j.collect()
    )
    got = sorted(json.dumps(unpackb(r.payload), sort_keys=True) for r in rows)
    assert got == want
    # text serializers produce strings
    y = serialize_envelopes(env.limit(2), "yaml").select("payload").first()
    assert isinstance(y.payload, str) and "error:" in y.payload


def test_star_alias_is_binary_msgpack(spark):
    """'*' is the reference's default serializer alias (msgpack) — it
    must take the binary UDF path, not crash Arrow with bytes-in-string."""
    from napalm_logs_spark.operators.normalize import normalize
    from napalm_logs_spark.sources.transcripts import transcripts_df
    from synth import synth_transcripts_pandas

    env = normalize(
        transcripts_df(spark, synth_transcripts_pandas(n_convs=2, turns_per_conv=4, seed=42))
    ).limit(3)
    rows = serialize_envelopes(env, "*").select("error", "payload").collect()
    assert rows
    for r in rows:
        assert isinstance(r.payload, (bytes, bytearray))
        assert unpackb(bytes(r.payload))["error"] == r.error
