"""Apache Thrift TBinaryProtocol codec for curator ``Record`` blobs.

The reference's live corpus format is one Thrift-binary file per document
(samplejob/serialized/<sha1>.txt), written by CuratorClient.java:473-496
via SerializationHandler.java:39-117 (``record.write(new TBinaryProtocol(
new TIOStreamTransport(out)))``) and read back by
CuratorRecordReader.java:24-57. This module decodes/encodes that public
wire format without a thrift runtime.

Wire format (public TBinaryProtocol spec): a struct is a sequence of
fields ``(1-byte type, 2-byte big-endian id, payload)`` terminated by a
0x00 stop byte. Struct serialization has no message/version header (the
strict-mode flag affects RPC messages only), so a serialized Record file
is exactly one struct body.

The layout is schema.py's: this module holds only the wire facts (type
codes and ``FIELD_IDS``) and builds one reader and one writer per struct
from the schema types. The reader emits the RECORD-shaped dict in one
pass and skips any field whose id or wire type the schema does not hold
(per-view ``rawText``, Span.multiIndex, Node.source/score, Tree.source): the
engine keys everything off the Record-level raw_text, and multiIndex is
a MultiRecord-only positional hint the reference never sets on single
records. The writer emits fields in id order; a field is always written
when it is non-nullable, a list, or one of the view maps a Record or
MultiRecord always carries, and otherwise skipped when None or an empty
map.
"""

from __future__ import annotations

import functools
import struct as _s

from pyspark.sql.types import ArrayType, BooleanType, DoubleType, IntegerType, MapType, StringType, StructType

from curatorhadoopinterface_spark.schema import (
    CLUSTER, CLUSTERING, FOREST, LABELING, MULTIRECORD, NODE, RECORD, RELATION, SPAN, TREE, VIEW,
)

# TBinaryProtocol type codes
T_STOP, T_BOOL, T_BYTE, T_DOUBLE, T_I16, T_I32, T_I64, T_STRING = (
    0, 2, 3, 4, 6, 8, 10, 11,
)
T_STRUCT, T_MAP, T_SET, T_LIST = 12, 13, 14, 15

#: schema struct -> {field name: thrift id}, from the TField constants of
#: the reference's generated classes (Span.java, Labeling.java,
#: Clustering.java, Forest.java, Tree.java, Node.java, View.java,
#: Relation.java) and curator.thrift:29-53. Ids missing here are read
#: and dropped: Span 7 multiIndex; Labeling/Clustering 4, Forest 2 and
#: View 3 rawText; Tree 3 source; Node 4 source, 5 score.
FIELD_IDS = {
    SPAN: {"start": 1, "ending": 2, "label": 3, "score": 4, "source": 5, "attributes": 6},
    LABELING: {"labels": 1, "source": 2, "score": 3},
    CLUSTER: {"labels": 1},
    CLUSTERING: {"clusters": 1, "source": 2, "score": 3},
    NODE: {"label": 1, "span": 2, "children": 3},
    TREE: {"nodes": 1, "top": 2, "score": 4},
    FOREST: {"trees": 1, "source": 3},
    RELATION: {"start": 1, "ending": 2, "label": 3, "source": 4, "score": 5},
    VIEW: {"spans": 1, "relations": 2, "source": 4, "score": 5},
    RECORD: {
        "identifier": 1, "raw_text": 2, "label_views": 3, "cluster_views": 4,
        "parse_views": 5, "views": 6, "whitespaced": 7,
    },
    MULTIRECORD: {
        "identifier": 1, "records": 2, "label_views": 3, "cluster_views": 4,
        "parse_views": 5, "views": 6,
    },
}

#: the view maps a Record or MultiRecord always carries: written empty
#: for None, read back as None when empty
_WIRE_MAPS = frozenset(("label_views", "cluster_views", "parse_views", "views"))

_HEAD = _s.Struct(">Bh")
_I32 = _s.Struct(">i")
_DBL = _s.Struct(">d")
_LIST = _s.Struct(">Bi")
_MAP = _s.Struct(">BBi")
_WIDTH = {T_BOOL: 1, T_BYTE: 1, T_DOUBLE: 8, T_I16: 2, T_I32: 4, T_I64: 8}
_TRUNCATED = "truncated thrift blob"


def _skip(b: bytes, o: int, t: int) -> int:
    """Offset past one value of wire type ``t`` that the schema does not hold."""
    if t in _WIDTH:
        o += _WIDTH[t]
    elif t == T_STRING:
        n = _I32.unpack_from(b, o)[0]
        if n < 0:
            raise ValueError(_TRUNCATED)
        o += 4 + n
    elif t == T_STRUCT:
        while ft := b[o]:
            o = _skip(b, o + 3, ft)
        o += 1
    elif t == T_MAP:
        kt, vt, n = _MAP.unpack_from(b, o)
        o += 6
        for _ in range(n):
            o = _skip(b, _skip(b, o, kt), vt)
    elif t in (T_SET, T_LIST):
        et, n = _LIST.unpack_from(b, o)
        o += 5
        for _ in range(n):
            o = _skip(b, o, et)
    else:
        raise ValueError(f"unknown thrift type {t}")
    if o > len(b):
        raise ValueError(_TRUNCATED)
    return o


def _read_i32(b, o):
    return _I32.unpack_from(b, o)[0], o + 4


def _read_double(b, o):
    return _DBL.unpack_from(b, o)[0], o + 8


def _read_bool(b, o):
    return b[o] != 0, o + 1


def _read_str(b, o):
    n = _I32.unpack_from(b, o)[0]
    e = o + 4 + n
    if n < 0 or e > len(b):
        raise ValueError(_TRUNCATED)
    return b[o + 4 : e].decode("utf-8"), e


def _write_i32(buf, v):
    buf += _I32.pack(v)


def _write_double(buf, v):
    buf += _DBL.pack(v)


def _write_bool(buf, v):
    buf.append(1 if v else 0)


def _write_str(buf, v):
    e = v.encode("utf-8")
    buf += _I32.pack(len(e))
    buf += e


_PRIMITIVES = {
    IntegerType: (T_I32, _read_i32, _write_i32),
    DoubleType: (T_DOUBLE, _read_double, _write_double),
    BooleanType: (T_BOOL, _read_bool, _write_bool),
    StringType: (T_STRING, _read_str, _write_str),
}
#: what an always-written field carries when its value is None
_ZERO = {T_I32: 0, T_BOOL: False}


@functools.cache
def _walkers(dt):
    """(wire type, reader, writer) for one schema type, built once. A
    reader maps ``(blob, offset)`` to ``(value, next offset)``; a writer
    appends a value to a bytearray."""
    if isinstance(dt, ArrayType):
        et, er, ew = _walkers(dt.elementType)

        def read_list(b, o):
            t, n = _LIST.unpack_from(b, o)
            o += 5
            if t != et:
                for _ in range(n):
                    o = _skip(b, o, t)
                return [], o
            out = []
            for _ in range(n):
                v, o = er(b, o)
                out.append(v)
            return out, o

        def write_list(buf, v):
            buf += _LIST.pack(et, len(v))
            for x in v:
                ew(buf, x)

        return T_LIST, read_list, write_list
    if isinstance(dt, MapType):
        kt, kr, kw = _walkers(dt.keyType)
        vt, vr, vw = _walkers(dt.valueType)

        def read_map(b, o):
            t, u, n = _MAP.unpack_from(b, o)
            o += 6
            if (t, u) != (kt, vt):
                for _ in range(n):
                    o = _skip(b, _skip(b, o, t), u)
                return None, o
            out = {}
            for _ in range(n):
                k, o = kr(b, o)
                out[k], o = vr(b, o)
            return out, o

        def write_map(buf, v):
            buf += _MAP.pack(kt, vt, len(v))
            for k, x in v.items():
                kw(buf, k)
                vw(buf, x)

        return T_MAP, read_map, write_map
    if not isinstance(dt, StructType):
        return _PRIMITIVES[type(dt)]

    ids = FIELD_IDS[dt]
    names = dt.fieldNames()
    fields, spec = {}, []
    for f in sorted(dt.fields, key=lambda f: ids[f.name]):
        t, r, w = _walkers(f.dataType)
        head = _HEAD.pack(t, ids[f.name])
        fields[head] = (f.name, r)
        always = not f.nullable or t == T_LIST or f.name in _WIRE_MAPS
        zero = [] if t == T_LIST else {} if t == T_MAP else _ZERO.get(t)
        spec.append((f.name, head, w, always, zero))
    lists = [f.name for f in dt.fields if isinstance(f.dataType, ArrayType)]
    bools = [f.name for f in dt.fields if isinstance(f.dataType, BooleanType)]
    wire_maps = [n for n in names if n in _WIRE_MAPS]

    def read_struct(b, o):
        out = dict.fromkeys(names)
        while t := b[o]:
            f = fields.get(b[o : o + 3])
            if f is None:
                o = _skip(b, o + 3, t)
            else:
                out[f[0]], o = f[1](b, o + 3)
        for n in lists:
            if out[n] is None:
                out[n] = []
        for n in bools:
            out[n] = bool(out[n])
        for n in wire_maps:
            out[n] = out[n] or None
        return out, o + 1

    def write_struct(buf, v):
        for name, head, w, always, zero in spec:
            x = v.get(name)
            if x is None:
                if not always:
                    continue
                x = zero
            buf += head
            w(buf, x)
        buf.append(T_STOP)

    return T_STRUCT, read_struct, write_struct


# MultiRecord's field 6 (views) has no engine column: it is written
# empty, as the wire requires, and skipped on read.
_MULTIRECORD_OUT = StructType([*MULTIRECORD.fields, RECORD["views"]])
FIELD_IDS[_MULTIRECORD_OUT] = FIELD_IDS[MULTIRECORD]

_, _read_record, _write_record = _walkers(RECORD)
_, _read_multirecord, _ = _walkers(MULTIRECORD)
_, _, _write_multirecord = _walkers(_MULTIRECORD_OUT)


def _decode(read, blob) -> dict:
    try:
        return read(bytes(blob), 0)[0]
    except (_s.error, IndexError) as e:
        raise ValueError(_TRUNCATED) from e


def _encode(write, rec: dict) -> bytes:
    buf = bytearray()
    write(buf, rec)
    return bytes(buf)


def decode_thrift_record(blob: bytes) -> dict:
    """One serialized Record file -> engine RECORD-schema dict."""
    return _decode(_read_record, blob)


def encode_thrift_record(rec: dict) -> bytes:
    """Engine RECORD-schema dict -> reference-compatible Record blob."""
    return _encode(_write_record, rec)


def decode_thrift_multirecord(blob: bytes) -> dict:
    """One serialized MultiRecord (curator.thrift:46-53: the cross-doc
    annotation unit — member record identifiers + corpus-level views
    whose spans index into the concatenation of member rawTexts)."""
    return _decode(_read_multirecord, blob)


def encode_thrift_multirecord(rec: dict) -> bytes:
    """Engine MULTIRECORD-schema dict -> reference-compatible MultiRecord blob."""
    return _encode(_write_multirecord, rec)
