"""Protobuf wire-format → tree events (descriptor-driven).

Behavioral parity with the reference's decoder
(``/root/reference/src/Data/Katydid/Parser/Protobuf/Protobuf.hs:165-293``):

- field → node labeled ``String fieldName`` with the value forest as
  children; nested messages recurse;
- **consecutive** occurrences of a repeated field group into one node
  whose children are ``Int index``-labeled (Protobuf.hs:171-183 — note the
  reference only groups adjacent runs; we mirror that);
- unknown fields are skipped, not errors (Protobuf.hs:203-207);
- scalar mapping: int32/64 → Int, uint/fixed → Uint, sint → zigzag Int,
  bool → Bool, enum → Uint, float/double → Double, string → String
  (strict utf-8), bytes → Bytes;
- packed repeated scalars ARE decoded (proto3 packs by default) — this
  deliberately surpasses the reference, which TODOs them at
  Protobuf.hs:280; the resulting tree shape is identical to the unpacked
  encoding of the same values;
- ``group`` wire type unsupported.

One decoder, :func:`_message_events`, appends CALL label ids and returns
straight into the VPA's event buffer, grouping repeated runs as it goes.
The column runs those events through :class:`~.vpa.TableValidator`;
:func:`decode_protobuf` rebuilds the forest from the same events.

No protobuf library needed: the wire format (varint / fixed32 / fixed64 /
length-delimited) is decoded directly.  The descriptor is a plain dict
model instead of a compiled FileDescriptorSet:

    desc = {
        "Person": {
            1: Field("name", "string"),
            2: Field("age", "int64"),
            3: Field("emails", "string", repeated=True),
            4: Field("addr", "message", message="Address"),
        },
        "Address": {1: Field("street", "string")},
    }
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Dict, Optional, Tuple

import numpy as np
import pandas as pd

from .vpa import (
    C_BOOL,
    C_BYTES,
    C_DOUBLE,
    C_INT,
    C_STRING,
    C_UINT,
    RET_EV,
    TableValidator,
    _LabelIntern,
    batch_events,
    events_to_forest,
)


class ProtoError(Exception):
    pass


@dataclass(frozen=True)
class Field:
    name: str
    type: str  # int32 int64 uint32 uint64 sint32 sint64 bool enum
    #            fixed32 sfixed32 float fixed64 sfixed64 double
    #            string bytes message
    repeated: bool = False
    message: Optional[str] = None


MessageDesc = Dict[int, Field]
DescMap = Dict[str, MessageDesc]

_VARINT, _FIXED64, _LENGTHY, _SGROUP, _EGROUP, _FIXED32 = 0, 1, 2, 3, 4, 5


def _read_varint(data: bytes, pos: int) -> Tuple[int, int]:
    out = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ProtoError("truncated varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not (b & 0x80):
            return out & ((1 << 64) - 1), pos
        shift += 7
        if shift > 63:
            raise ProtoError("varint too long")


def _zigzag(v: int, bits: int) -> int:
    v &= (1 << bits) - 1
    return (v >> 1) ^ -(v & 1)


def _signed(v: int, bits: int) -> int:
    v &= (1 << bits) - 1
    return v - (1 << bits) if v >= (1 << (bits - 1)) else v


_VARINT_TYPES = ("int32", "int64", "uint32", "uint64", "sint32", "sint64",
                 "bool", "enum")
_FIXED32_TYPES = ("float", "fixed32", "sfixed32")
_FIXED64_TYPES = ("double", "fixed64", "sfixed64")
_PACKABLE = _VARINT_TYPES + _FIXED32_TYPES + _FIXED64_TYPES


def _fixed32_label(ftype: str, raw: bytes) -> Tuple[int, object]:
    if ftype == "float":
        return C_DOUBLE, struct.unpack("<f", raw)[0]
    if ftype == "fixed32":
        return C_UINT, struct.unpack("<I", raw)[0]
    if ftype == "sfixed32":
        return C_INT, struct.unpack("<i", raw)[0]
    raise ProtoError(f"{ftype} cannot use fixed32 wire")


def _fixed64_label(ftype: str, raw: bytes) -> Tuple[int, object]:
    if ftype == "double":
        return C_DOUBLE, struct.unpack("<d", raw)[0]
    if ftype == "fixed64":
        return C_UINT, struct.unpack("<Q", raw)[0]
    if ftype == "sfixed64":
        return C_INT, struct.unpack("<q", raw)[0]
    raise ProtoError(f"{ftype} cannot use fixed64 wire")


def _packed_labels(field: Field, raw: bytes) -> list:
    """Packed repeated scalars (proto3 packs by default).

    The reference punts on these (Protobuf.hs:280 TODO); we decode them —
    any real proto3 corpus hits packed encoding immediately.  Each value
    becomes one occurrence, so adjacent-run grouping produces the same
    index-labeled tree shape as the unpacked encoding.
    """
    ftype = field.type
    if ftype in _VARINT_TYPES:
        out = []
        pos = 0
        while pos < len(raw):
            v, pos = _read_varint(raw, pos)
            out.append(_varint_label(ftype, v))
        return out
    if ftype in _FIXED32_TYPES:
        if len(raw) % 4:
            raise ProtoError("packed fixed32 run not a multiple of 4 bytes")
        return [_fixed32_label(ftype, raw[i:i + 4])
                for i in range(0, len(raw), 4)]
    if len(raw) % 8:
        raise ProtoError("packed fixed64 run not a multiple of 8 bytes")
    return [_fixed64_label(ftype, raw[i:i + 8])
            for i in range(0, len(raw), 8)]


def _varint_label(ftype: str, v: int) -> Tuple[int, object]:
    if ftype in ("int64", "int32"):
        return C_INT, _signed(v, 64)
    if ftype in ("uint64", "uint32", "enum"):
        return C_UINT, v
    if ftype == "bool":
        return C_BOOL, v != 0
    if ftype == "sint32":
        return C_INT, _zigzag(v, 32)
    if ftype == "sint64":
        return C_INT, _zigzag(v, 64)
    raise ProtoError(f"field type {ftype} cannot use varint wire")


def _message(desc: DescMap, msg_name: Optional[str]) -> MessageDesc:
    msg = desc.get(msg_name or "")
    if msg is None:
        raise ProtoError(f"unknown message type: {msg_name}")
    return msg


def _message_events(desc: DescMap, msg: MessageDesc, data: bytes,
                    ev: list, label_id) -> None:
    """Append one message's field nodes to ``ev`` in wire order.  A
    repeated field's CONSECUTIVE occurrences share one name node whose
    children are ``Int index`` nodes; unknown fields are skipped without
    breaking a run."""
    run = -1  # field number of the open repeated group, -1 for none
    idx = 0
    pos = 0
    n = len(data)
    while pos < n:
        tag, pos = _read_varint(data, pos)
        wire = tag & 7
        number = tag >> 3
        field = msg.get(number)
        if field is None:  # skip unknown field
            if wire == _VARINT:
                _, pos = _read_varint(data, pos)
            elif wire == _FIXED64:
                pos += 8
            elif wire == _FIXED32:
                pos += 4
            elif wire == _LENGTHY:
                ln, pos = _read_varint(data, pos)
                pos += ln
            else:
                raise ProtoError(f"unsupported wire type {wire}")
            if pos > n:
                raise ProtoError("truncated field")
            continue
        # the occurrence values: (type code, value) scalars, or a
        # sub-message's bytes
        sub = None
        if wire == _VARINT:
            v, pos = _read_varint(data, pos)
            vals = (_varint_label(field.type, v),)
        elif wire == _FIXED32:
            if pos + 4 > n:
                raise ProtoError("truncated fixed32")
            vals = (_fixed32_label(field.type, data[pos:pos + 4]),)
            pos += 4
        elif wire == _FIXED64:
            if pos + 8 > n:
                raise ProtoError("truncated fixed64")
            vals = (_fixed64_label(field.type, data[pos:pos + 8]),)
            pos += 8
        elif wire == _LENGTHY:
            ln, pos = _read_varint(data, pos)
            if pos + ln > n:
                raise ProtoError("truncated length-delimited field")
            raw = data[pos:pos + ln]
            pos += ln
            if field.type == "bytes":
                vals = ((C_BYTES, raw),)
            elif field.type == "string":
                try:
                    vals = ((C_STRING, raw.decode("utf-8")),)
                except UnicodeDecodeError as e:
                    raise ProtoError(str(e)) from None
            elif field.type == "message":
                sub = _message(desc, field.message)
                vals = (raw,)
            elif field.repeated and field.type in _PACKABLE:
                vals = _packed_labels(field, raw)
            else:
                raise ProtoError(
                    f"{field.type} cannot use length-delimited wire")
        else:
            raise ProtoError(f"unsupported wire type {wire}")
        if not vals:  # an empty packed run: no node, an open run goes on
            continue
        if field.repeated:
            if run != number:  # close the open run, open this field's
                if run >= 0:
                    ev.append(RET_EV)
                ev.append(label_id(C_STRING, field.name))
                run, idx = number, 0
        elif run >= 0:
            ev.append(RET_EV)
            run = -1
        for val in vals:
            # one occurrence: an index node inside a run, else a name node
            if run >= 0:
                ev.append(label_id(C_INT, idx))
                idx += 1
            else:
                ev.append(label_id(C_STRING, field.name))
            if sub is not None:
                _message_events(desc, sub, val, ev, label_id)
            else:
                ev.append(label_id(*val))
                ev.append(RET_EV)
            ev.append(RET_EV)
    if run >= 0:
        ev.append(RET_EV)


def decode_protobuf(desc: DescMap, msg_name: str, data: bytes) -> tuple:
    """Protobuf message bytes → forest (the reference's ``decode``)."""
    it = _LabelIntern()
    ev: list = []
    _message_events(desc, _message(desc, msg_name), data, ev, it.label_id)
    return events_to_forest(ev, it.labels())


# -- Spark column path -------------------------------------------------------


def protobuf_verdicts(tv: TableValidator, payloads, desc: DescMap,
                      msg_name: str) -> np.ndarray:
    """Verdicts for one batch of protobuf payloads: every payload decodes
    into one event buffer, walked by ``tv``.  Null payloads and
    :class:`ProtoError` payloads are False."""
    def emit(raw, ev, it):
        _message_events(desc, _message(desc, msg_name), bytes(raw), ev,
                        it.label_id)

    return tv.verdicts(len(payloads),
                       *batch_events(payloads, emit, ProtoError))


def validate_protobuf_column(col, spec_source: str, desc: DescMap,
                             msg_name: str):
    """Boolean Column: protobuf-encoded binary column matches the Relapse
    spec.  Each Arrow batch decodes straight to events
    (:func:`protobuf_verdicts`) and runs the same cached int-table VPA as
    the JSON and XML columns (:func:`~.automaton.table_validator_for`);
    null payloads and :class:`ProtoError` payloads are False, never
    errors."""
    from pyspark.sql.functions import pandas_udf

    from .automaton import table_validator_for
    from .parser import parse_grammar
    from .smart import compile_grammar

    compile_grammar(parse_grammar(spec_source))  # fail fast on driver

    @pandas_udf("boolean")
    def match(payloads: pd.Series) -> pd.Series:
        tv = table_validator_for(spec_source)
        return pd.Series(protobuf_verdicts(tv, payloads.tolist(), desc,
                                           msg_name))

    return match(col)


# -- tiny encoder (tests / fixtures only) -----------------------------------


def encode_varint(v: int) -> bytes:
    v &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def encode_field(number: int, wire: int, payload: bytes) -> bytes:
    return encode_varint((number << 3) | wire) + payload


def encode_string(number: int, s: str) -> bytes:
    raw = s.encode("utf-8")
    return encode_field(number, _LENGTHY, encode_varint(len(raw)) + raw)


def encode_int64(number: int, v: int) -> bytes:
    return encode_field(number, _VARINT, encode_varint(v))


def encode_message_field(number: int, payload: bytes) -> bytes:
    return encode_field(number, _LENGTHY, encode_varint(len(payload)) + payload)


def encode_double(number: int, v: float) -> bytes:
    return encode_field(number, _FIXED64, struct.pack("<d", v))


def encode_packed_varints(number: int, vals) -> bytes:
    payload = b"".join(encode_varint(v) for v in vals)
    return encode_field(number, _LENGTHY, encode_varint(len(payload)) + payload)


def encode_packed_fixed64(number: int, vals, fmt: str = "<d") -> bytes:
    payload = b"".join(struct.pack(fmt, v) for v in vals)
    return encode_field(number, _LENGTHY, encode_varint(len(payload)) + payload)
