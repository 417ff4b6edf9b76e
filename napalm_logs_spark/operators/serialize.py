"""K6 serializer matrix — the reference's pluggable envelope
serializers re-expressed for Spark.

The reference registers five serializers and defaults to MessagePack
(`/root/reference/napalm_logs/serializer/__init__.py:24-45`):
``msgpack`` (umsgpack.packb), ``json``, ``str``, ``yaml`` and
``pprint``; clients unpack the wire bytes with ``umsgpack.unpackb``
(`utils/__init__.py:241-247`).  No msgpack library ships in this
sandbox, so :func:`packb`/:func:`unpackb` implement the public
MessagePack spec (https://github.com/msgpack/msgpack/blob/master/spec.md)
directly — nil/bool/int/float64/str/bin/array/map families, smallest
encoding chosen per value, exactly like ``umsgpack`` — giving the same
bytes a reference deployment would put on the wire.

Determinism note: python dicts serialize in insertion order; envelope
dicts built by this engine use a fixed field order (the reference's
envelope order, ``device.py:336-351``), so the bytes are stable.  For
arbitrary dicts :func:`packb` offers ``sort_keys=True`` (canonical
form) — the Spark operators use it so output is engine-order-independent.

Spark integration: :func:`serialize_envelopes` adds a ``payload``
column holding the ``PAYLOAD_COLS`` envelope — the one payload every
Kafka and HTTP sink publishes (:mod:`..streaming.sink`).  ``json``
stays on the JVM fast path (``to_json``); the python serializers run
as an Arrow-batched pandas UDF — the same per-message python cost the
reference pays in its publisher process, paid on the executors instead
of one daemon.
"""

from __future__ import annotations

import json
import pprint
import struct as _struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class InvalidSerializerException(ValueError):
    """Unknown serializer name (reference exceptions.py analog)."""


# ---------------------------------------------------------------------------
# MessagePack codec (public spec, smallest-encoding like umsgpack)


def _pack_into(obj, out: bytearray, sort_keys: bool) -> None:
    if obj is None:
        out.append(0xC0)
    elif obj is True:
        out.append(0xC3)
    elif obj is False:
        out.append(0xC2)
    elif isinstance(obj, int):
        if 0 <= obj <= 0x7F:
            out.append(obj)
        elif -32 <= obj < 0:
            out.append(0x100 + obj)
        elif 0 < obj <= 0xFF:
            out += b"\xcc" + obj.to_bytes(1, "big")
        elif 0 < obj <= 0xFFFF:
            out += b"\xcd" + obj.to_bytes(2, "big")
        elif 0 < obj <= 0xFFFFFFFF:
            out += b"\xce" + obj.to_bytes(4, "big")
        elif 0 < obj <= 0xFFFFFFFFFFFFFFFF:
            out += b"\xcf" + obj.to_bytes(8, "big")
        elif -0x80 <= obj < 0:
            out += b"\xd0" + obj.to_bytes(1, "big", signed=True)
        elif -0x8000 <= obj < 0:
            out += b"\xd1" + obj.to_bytes(2, "big", signed=True)
        elif -0x80000000 <= obj < 0:
            out += b"\xd2" + obj.to_bytes(4, "big", signed=True)
        elif -0x8000000000000000 <= obj < 0:
            out += b"\xd3" + obj.to_bytes(8, "big", signed=True)
        else:
            raise OverflowError(f"int out of msgpack range: {obj}")
    elif isinstance(obj, float):
        out += b"\xcb" + _struct.pack(">d", obj)
    elif isinstance(obj, str):
        b = obj.encode("utf-8")
        n = len(b)
        if n <= 31:
            out.append(0xA0 | n)
        elif n <= 0xFF:
            out += b"\xd9" + n.to_bytes(1, "big")
        elif n <= 0xFFFF:
            out += b"\xda" + n.to_bytes(2, "big")
        else:
            out += b"\xdb" + n.to_bytes(4, "big")
        out += b
    elif isinstance(obj, (bytes, bytearray)):
        n = len(obj)
        if n <= 0xFF:
            out += b"\xc4" + n.to_bytes(1, "big")
        elif n <= 0xFFFF:
            out += b"\xc5" + n.to_bytes(2, "big")
        else:
            out += b"\xc6" + n.to_bytes(4, "big")
        out += bytes(obj)
    elif isinstance(obj, (list, tuple)):
        n = len(obj)
        if n <= 15:
            out.append(0x90 | n)
        elif n <= 0xFFFF:
            out += b"\xdc" + n.to_bytes(2, "big")
        else:
            out += b"\xdd" + n.to_bytes(4, "big")
        for x in obj:
            _pack_into(x, out, sort_keys)
    elif isinstance(obj, dict):
        n = len(obj)
        if n <= 15:
            out.append(0x80 | n)
        elif n <= 0xFFFF:
            out += b"\xde" + n.to_bytes(2, "big")
        else:
            out += b"\xdf" + n.to_bytes(4, "big")
        items = sorted(obj.items()) if sort_keys else obj.items()
        for k, v in items:
            _pack_into(k, out, sort_keys)
            _pack_into(v, out, sort_keys)
    else:
        raise TypeError(f"cannot msgpack-serialize {type(obj).__name__}")


def packb(obj, sort_keys: bool = False) -> bytes:
    """Serialize ``obj`` to MessagePack bytes (umsgpack.packb parity)."""
    out = bytearray()
    _pack_into(obj, out, sort_keys)
    return bytes(out)


def _unpack_one(b: bytes, i: int):
    t = b[i]
    if t <= 0x7F:                       # positive fixint
        return t, i + 1
    if t >= 0xE0:                       # negative fixint
        return t - 0x100, i + 1
    if 0xA0 <= t <= 0xBF:               # fixstr
        n = t & 0x1F
        return b[i + 1:i + 1 + n].decode("utf-8"), i + 1 + n
    if 0x90 <= t <= 0x9F:               # fixarray
        return _unpack_seq(b, i + 1, t & 0x0F)
    if 0x80 <= t <= 0x8F:               # fixmap
        return _unpack_map(b, i + 1, t & 0x0F)
    if t == 0xC0:
        return None, i + 1
    if t == 0xC2:
        return False, i + 1
    if t == 0xC3:
        return True, i + 1
    if t == 0xCA:
        return _struct.unpack(">f", b[i + 1:i + 5])[0], i + 5
    if t == 0xCB:
        return _struct.unpack(">d", b[i + 1:i + 9])[0], i + 9
    if t in (0xCC, 0xCD, 0xCE, 0xCF):   # uint 8/16/32/64
        n = 1 << (t - 0xCC)
        return int.from_bytes(b[i + 1:i + 1 + n], "big"), i + 1 + n
    if t in (0xD0, 0xD1, 0xD2, 0xD3):   # int 8/16/32/64
        n = 1 << (t - 0xD0)
        return int.from_bytes(b[i + 1:i + 1 + n], "big", signed=True), i + 1 + n
    if t in (0xD9, 0xDA, 0xDB):         # str 8/16/32
        ln = 1 << (t - 0xD9)
        n = int.from_bytes(b[i + 1:i + 1 + ln], "big")
        s = i + 1 + ln
        return b[s:s + n].decode("utf-8"), s + n
    if t in (0xC4, 0xC5, 0xC6):         # bin 8/16/32
        ln = 1 << (t - 0xC4)
        n = int.from_bytes(b[i + 1:i + 1 + ln], "big")
        s = i + 1 + ln
        return bytes(b[s:s + n]), s + n
    if t in (0xDC, 0xDD):               # array 16/32
        ln = 2 << (t - 0xDC)
        n = int.from_bytes(b[i + 1:i + 1 + ln], "big")
        return _unpack_seq(b, i + 1 + ln, n)
    if t in (0xDE, 0xDF):               # map 16/32
        ln = 2 << (t - 0xDE)
        n = int.from_bytes(b[i + 1:i + 1 + ln], "big")
        return _unpack_map(b, i + 1 + ln, n)
    raise ValueError(f"unsupported msgpack type byte 0x{t:02x}")


def _unpack_seq(b, i, n):
    out = []
    for _ in range(n):
        v, i = _unpack_one(b, i)
        out.append(v)
    return out, i


def _unpack_map(b, i, n):
    out = {}
    for _ in range(n):
        k, i = _unpack_one(b, i)
        v, i = _unpack_one(b, i)
        out[k] = v
    return out, i


def unpackb(b: bytes):
    """Deserialize MessagePack bytes (umsgpack.unpackb parity —
    reference clients call this on every received envelope,
    ``utils/__init__.py:241-247``)."""
    v, i = _unpack_one(bytes(b), 0)
    if i != len(b):
        raise ValueError(f"{len(b) - i} trailing bytes after msgpack value")
    return v


# ---------------------------------------------------------------------------
# serializer registry (reference serializer/__init__.py:24-45)


def _yaml_dump(obj) -> str:
    import yaml

    return yaml.safe_dump(obj)


SERIALIZER_LOOKUP = {
    "msgpack": lambda o: packb(o, sort_keys=True),
    "json": lambda o: json.dumps(o, sort_keys=True, separators=(",", ":")),
    "str": str,
    "yaml": _yaml_dump,
    "pprint": pprint.pformat,
    "*": lambda o: packb(o, sort_keys=True),  # reference default
}

#: the published envelope's fields: the reference's envelope order
#: (device.py:336-351) plus the conversation key.  The struct order is
#: fixed, so the bytes are deterministic; every field is always present
#: (explicit nulls) because consumers schema-validate the fixed shape.
PAYLOAD_COLS = (
    "error", "host", "ip", "timestamp", "yang_message", "message_details",
    "yang_model", "os", "facility", "severity", "state", "state_tag",
    "conv_id", "turn_idx",
)


def get_serializer(name: str):
    """Return the serialize function for ``name`` (reference
    ``get_serializer``); raises :class:`InvalidSerializerException`
    for unknown names."""
    try:
        return SERIALIZER_LOOKUP[name]
    except KeyError:
        raise InvalidSerializerException(
            f"Serializer {name} is not available"
        ) from None


def serialize_envelopes(env: DataFrame, serializer: str) -> DataFrame:
    """Add the serialized envelope to ``env`` as a ``payload`` column.

    The payload is the ``PAYLOAD_COLS`` fields ``env`` carries (a sink
    with ``strip_message_details`` has dropped one), nulls included.
    ``json`` is pure JVM (``to_json`` on a fixed-order struct — the K6
    canonical path).  The python serializers (msgpack/str/yaml/pprint)
    round through one Arrow-batched pandas UDF over that same JSON
    (parse → serialize): vectorized transfer, per-row python cost only
    inside the batch — the identical cost profile to the reference's
    single publisher daemon, but parallel across executors.  Output
    type is ``binary`` for msgpack, ``string`` for the text formats.
    """
    fn = get_serializer(serializer)  # fail fast on bad names
    payload = F.struct(*[c for c in PAYLOAD_COLS if c in env.columns])
    as_json = F.to_json(payload, {"ignoreNullFields": "false"})
    if serializer == "json":
        return env.withColumn("payload", as_json)

    from pyspark.sql.functions import pandas_udf

    # "*" is the registry's reference-default alias for msgpack —
    # bytes out, so it needs the binary UDF too
    rtype = "binary" if serializer in ("msgpack", "*") else "string"

    @pandas_udf(rtype)
    def _ser(s):
        return s.map(lambda j: fn(json.loads(j)))

    return env.withColumn("payload", _ser(as_json))
