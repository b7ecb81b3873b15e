"""Interop with the reference's on-disk Thrift corpus + golden fixtures.

The reference ships 4 raw docs (samplejob/doc1-4.txt), their serialized
Thrift Records (samplejob/serialized/<sha1>.txt, written by
SerializationHandler.java:39-117) and annotated outputs
(samplejob/output/, the CuratorClientTester.java:28-131 artifacts).
The tests marked ``needs_samplejob`` read the ACTUAL reference files —
the highest-fidelity parity evidence available without running the
reference stack. The rest pin the codec on hand-built input: golden wire
bytes, truncated and foreign blobs, and the MultiRecord and general
``views`` round trips.
"""

from __future__ import annotations

import glob
import os
import struct
import tempfile

import pytest
from curatorhadoopinterface_spark.io import proc_scratch

SAMPLEJOB = "/root/reference/samplejob"

needs_samplejob = pytest.mark.skipif(
    not os.path.isdir(SAMPLEJOB), reason="reference samplejob fixtures not present"
)


def _span(start, ending, label=None, score=None, source=None, attributes=None):
    return {"start": start, "ending": ending, "label": label, "score": score,
            "source": source, "attributes": attributes}


# one Record that fills all four view families, with attributes, int-keyed
# children and None optionals at every level
_GOLDEN_RECORD = {
    "identifier": "golden-1",
    "raw_text": "Alice pays Bob. Ça va?",
    "whitespaced": True,
    "label_views": {
        "tokens": {
            "labels": [_span(0, 5, "Alice", 1.0, "tok-1", {"case": "upper", "ne": "PER"}),
                       _span(6, 10, "pays")],
            "source": "tok-1",
            "score": None,
        },
        "empty": {"labels": [], "source": None, "score": 0.0},
    },
    "cluster_views": {
        "coref": {
            "clusters": [{"labels": [_span(0, 5, "M"), _span(11, 14, "M", 0.5)]}, {"labels": []}],
            "source": "coref-1",
            "score": 0.75,
        }
    },
    "parse_views": {
        "parse": {
            "trees": [
                {"top": 0, "score": 0.25, "nodes": [
                    {"label": "S", "span": _span(0, 15), "children": {1: "A0", 2: "V"}},
                    {"label": "NP", "span": None, "children": None},
                    {"label": None, "span": _span(6, 10, "pays", source="p"), "children": None},
                ]},
                {"top": None, "nodes": [], "score": None},
            ],
            "source": "parse-1",
        }
    },
    "views": {
        "semrel": {
            "spans": [_span(0, 5, "Alice", attributes={"type": "PER"}), _span(11, 14)],
            "relations": [{"start": 0, "ending": 1, "label": "pays", "source": None, "score": 0.75}],
            "source": None,
            "score": 1.0,
        }
    },
}


_MULTIRECORD = {
    "identifier": "corpus-0",
    "records": ["a" * 40, "b" * 40],
    "label_views": None,
    "cluster_views": {
        "coref": {
            "clusters": [{"labels": [_span(0, 5, "M"), _span(120, 126, "M")]}],
            "source": "enginecoref-1.0",
            "score": None,
        }
    },
    "parse_views": None,
}


def _ref_records(subdir: str) -> dict:
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

    out = {}
    for p in sorted(glob.glob(f"{SAMPLEJOB}/{subdir}/*.txt")):
        rec = decode_thrift_record(open(p, "rb").read())
        out[os.path.basename(p).removesuffix(".txt")] = rec
    return out


def _raw_docs() -> dict:
    return {
        os.path.basename(p): open(p, encoding="utf-8").read()
        for p in glob.glob(f"{SAMPLEJOB}/doc*.txt")
    }


@needs_samplejob
def test_decode_all_reference_serialized_records():
    """Every reference-serialized Record decodes; its filename is its
    identifier, the identifier follows the sha1 rule
    (Identifier.java:63-70), and rawText round-trips to one of the raw
    doc files byte-for-byte."""
    from curatorhadoopinterface_spark.functions.hashing import record_identifier_py

    recs = _ref_records("serialized")
    raw = _raw_docs()
    assert len(recs) == 4
    matched = set()
    for fname, rec in recs.items():
        assert rec["identifier"] == fname
        assert record_identifier_py(rec["raw_text"], rec["whitespaced"]) == fname
        src = [d for d, t in raw.items() if t == rec["raw_text"]]
        assert len(src) == 1, f"rawText of {fname} matches no raw doc"
        matched.add(src[0])
    assert matched == set(raw)  # a bijection, all four docs covered


@needs_samplejob
def test_reference_output_views_wellformed():
    """The annotated outputs carry sentences/tokens/pos label views with
    well-formed half-open spans (0 <= start < ending <= len(rawText)),
    |pos| == |tokens| (one tag per token), and sentence spans in order."""
    recs = _ref_records("output")
    assert len(recs) == 4
    for rec in recs.values():
        lv = rec["label_views"]
        assert {"sentences", "tokens", "pos"} <= set(lv)
        n = len(rec["raw_text"])
        for view in ("sentences", "tokens", "pos"):
            spans = lv[view]["labels"]
            assert spans, f"{view} empty"
            for s in spans:
                assert 0 <= s["start"] < s["ending"] <= n
        assert len(lv["pos"]["labels"]) == len(lv["tokens"]["labels"])
        sents = lv["sentences"]["labels"]
        assert all(
            a["ending"] <= b["start"] for a, b in zip(sents, sents[1:])
        ), "sentence spans overlap or out of order"


@needs_samplejob
def test_codec_roundtrip_exact():
    """decode(encode(decode(blob))) == decode(blob) for every reference
    file — our encoder emits the same logical Record our decoder reads."""
    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_record,
        encode_thrift_record,
    )

    for p in glob.glob(f"{SAMPLEJOB}/serialized/*.txt"):
        rec = decode_thrift_record(open(p, "rb").read())
        assert decode_thrift_record(encode_thrift_record(rec)) == rec


@needs_samplejob
def test_spark_reads_reference_corpus(spark):
    """read_thrift_records ingests the reference-produced corpus as a
    DataFrame in the engine RECORD schema."""
    from curatorhadoopinterface_spark.io import read_thrift_records

    df = read_thrift_records(spark, f"{SAMPLEJOB}/serialized")
    rows = {r["identifier"]: r.asDict(recursive=True) for r in df.collect()}
    assert len(rows) == 4
    raw_texts = set(_raw_docs().values())
    for ident, rec in rows.items():
        assert rec["raw_text"] in raw_texts
        assert set(rec["label_views"]) == {"sentences", "tokens", "pos"}
        toks = rec["label_views"]["tokens"]["labels"]
        assert toks and toks[0]["start"] == 0


@needs_samplejob
def test_write_thrift_records_reference_readable(spark):
    """Engine-annotated records serialize back to TBinaryProtocol blobs
    that decode (as the reference would) to the same views."""
    from curatorhadoopinterface_spark.io import read_text_corpus, write_thrift_records
    from curatorhadoopinterface_spark.plans.provide import provide
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

    df = provide(read_text_corpus(spark, f"{SAMPLEJOB}/doc*.txt"), ["POS", "SENTENCE"])
    out = proc_scratch("thrift_out")
    write_thrift_records(df, out)
    files = glob.glob(f"{out}/*.txt")
    assert len(files) == 4
    originals = {r["identifier"]: r.asDict(recursive=True) for r in df.collect()}
    for p in files:
        rec = decode_thrift_record(open(p, "rb").read())
        orig = originals[rec["identifier"]]
        assert rec["raw_text"] == orig["raw_text"]
        assert set(rec["label_views"]) == set(orig["label_views"])
        for k, v in rec["label_views"].items():
            assert [s["start"] for s in v["labels"]] == [
                s["start"] for s in orig["label_views"][k]["labels"]
            ]


@needs_samplejob
def test_golden_pipeline_vs_reference_output(spark):
    """The golden samplejob test (SURVEY §5 plan item d): run the engine
    pipeline on the ACTUAL raw docs and compare against the reference's
    own annotated outputs.

    Exact parity asserted: identifiers (so the memoization layer keys
    interoperate), view presence, dependency closure, span
    well-formedness, |pos| == |tokens|, and EXACT sentence/token counts
    on all 4 docs (the tokenizer reproduces illinoistokenizer-0.4 on
    this corpus: ellipsis/em-dash tokens, hyphenated compounds,
    apostrophe clitics, terminator+closing-quote sentence ends)."""
    from curatorhadoopinterface_spark.io import read_text_corpus
    from curatorhadoopinterface_spark.plans.provide import provide

    ref = _ref_records("output")
    df = provide(read_text_corpus(spark, f"{SAMPLEJOB}/doc*.txt"), ["POS", "SENTENCE"])
    rows = {r["identifier"]: r.asDict(recursive=True) for r in df.collect()}

    # identifier parity: engine keys == reference keys, exactly
    assert sorted(rows) == sorted(ref)

    exact = 0
    for ident, rec in rows.items():
        lv = rec["label_views"]
        # dependency closure: POS pulled TOKEN in; SENTENCE requested
        assert {"sentences", "tokens", "pos"} <= set(lv)
        n = len(rec["raw_text"])
        for view in ("sentences", "tokens", "pos"):
            for s in lv[view]["labels"]:
                assert 0 <= s["start"] < s["ending"] <= n
        assert len(lv["pos"]["labels"]) == len(lv["tokens"]["labels"])

        rl = ref[ident]["label_views"]
        t_ours, t_ref = len(lv["tokens"]["labels"]), len(rl["tokens"]["labels"])
        s_ours, s_ref = len(lv["sentences"]["labels"]), len(rl["sentences"]["labels"])
        assert (t_ours, s_ours) == (t_ref, s_ref)
        exact += 1
    assert exact == 4, "expected exact token+sentence parity on all 4 docs"


def test_multirecord_codec_roundtrip():
    """MultiRecord (curator.thrift:46-53) encode -> decode is lossless,
    including cluster views whose spans index the concatenated member
    texts — the unit annotate_crossdoc_coref models."""
    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_multirecord,
        encode_thrift_multirecord,
    )

    assert decode_thrift_multirecord(encode_thrift_multirecord(_MULTIRECORD)) == _MULTIRECORD


def test_general_views_survive_codec_and_spark_roundtrip(spark, tmp_path):
    """The general ``views`` map (Record field 6, curator.thrift:41;
    View = spans + relations graph, View.java:42-46) round-trips
    LOSSLESSLY: synthesized blob -> decode -> Spark RECORD row ->
    write_thrift_records -> decode == original decode."""
    from curatorhadoopinterface_spark.io import read_thrift_records, write_thrift_records
    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_record,
        encode_thrift_record,
    )

    rec = {
        "identifier": "deadbeef",
        "raw_text": "Alice pays Bob.",
        "whitespaced": False,
        "label_views": None,
        "cluster_views": None,
        "parse_views": None,
        "views": {
            "semrel": {
                "spans": [
                    {"start": 0, "ending": 5, "label": "Alice", "score": 0.5,
                     "source": None, "attributes": {"type": "PER"}},
                    {"start": 11, "ending": 14, "label": "Bob", "score": None,
                     "source": None, "attributes": None},
                ],
                # relation endpoints INDEX into spans (Relation.java:42-43)
                "relations": [
                    {"start": 0, "ending": 1, "label": "pays",
                     "source": None, "score": 0.75}
                ],
                "source": "enginerel-1.0",
                "score": 1.0,
            }
        },
    }
    blob = encode_thrift_record(rec)
    assert decode_thrift_record(blob) == rec

    # through Spark: binary scan -> RECORD schema -> executor-side write
    src = tmp_path / "in"
    src.mkdir()
    (src / "deadbeef.txt").write_bytes(blob)
    df = read_thrift_records(spark, str(src))
    row = df.collect()[0].asDict(recursive=True)
    assert row["views"]["semrel"]["relations"][0]["label"] == "pays"
    assert row["views"]["semrel"]["spans"][0]["attributes"] == {"type": "PER"}
    out = tmp_path / "out"
    write_thrift_records(df, str(out))
    back = decode_thrift_record((out / "deadbeef.txt").read_bytes())
    assert back == rec


def test_empty_optional_maps_survive_codec_and_spark_roundtrip(spark, tmp_path):
    """``Span.attributes = {}`` and ``Node.children = {}`` are written
    as empty maps: they read back as {}, through the codec and through
    ``write_thrift_records``."""
    import copy

    from curatorhadoopinterface_spark.io import write_thrift_records
    from curatorhadoopinterface_spark.schema import RECORD
    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_record,
        encode_thrift_record,
    )

    rec = copy.deepcopy(_GOLDEN_RECORD)
    rec["label_views"]["tokens"]["labels"][1]["attributes"] = {}
    rec["parse_views"]["parse"]["trees"][0]["nodes"][1]["children"] = {}
    back = decode_thrift_record(encode_thrift_record(rec))
    assert back["label_views"]["tokens"]["labels"][1]["attributes"] == {}
    assert back["parse_views"]["parse"]["trees"][0]["nodes"][1]["children"] == {}
    assert back == rec

    write_thrift_records(spark.createDataFrame([rec], RECORD), str(tmp_path / "out"))
    assert decode_thrift_record((tmp_path / "out" / "golden-1.txt").read_bytes()) == rec


def test_golden_wire_bytes():
    """The encoder's bytes are pinned: SHA-256 of one Record that fills
    all four view families and of the MultiRecord fixture."""
    import copy
    import hashlib

    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_record,
        encode_thrift_multirecord,
        encode_thrift_record,
    )

    blob = encode_thrift_record(_GOLDEN_RECORD)
    assert hashlib.sha256(blob).hexdigest() == (
        "8fd3afa82245bb35a214f679c3114cda730393bc5a9bed314b8a5df30c5a17d9"
    )
    assert decode_thrift_record(blob) == _GOLDEN_RECORD
    # a None list is written empty; an empty optional map is written
    # (it reads back as {}, not as None)
    empties = copy.deepcopy(_GOLDEN_RECORD)
    empties["label_views"]["empty"]["labels"] = None
    assert encode_thrift_record(empties) == blob
    empties["label_views"]["tokens"]["labels"][1]["attributes"] = {}
    empties["parse_views"]["parse"]["trees"][0]["nodes"][1]["children"] = {}
    assert encode_thrift_record(empties) != blob
    assert hashlib.sha256(encode_thrift_multirecord(_MULTIRECORD)).hexdigest() == (
        "12a8696b0efa03b2f78b5f2ebaeab9da20c52334b7b12452a27e8bfabe0ac5e8"
    )


def test_decoder_rejects_truncated_and_unknown_types():
    """Blobs come from outside the program: every strict prefix of a
    valid blob, and a field of an unknown type code, raise ValueError."""
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record, encode_thrift_record

    blob = encode_thrift_record(_GOLDEN_RECORD)
    for n in range(len(blob)):
        with pytest.raises(ValueError):
            decode_thrift_record(blob[:n])
    unknown = blob[:-1] + struct.pack(">bh", 99, 8) + b"\x00"
    with pytest.raises(ValueError, match="unknown thrift type 99"):
        decode_thrift_record(unknown)


def _field(ttype: int, fid: int, payload: bytes) -> bytes:
    return struct.pack(">bh", ttype, fid) + payload


def _str(v: str) -> bytes:
    b = v.encode("utf-8")
    return struct.pack(">i", len(b)) + b


def _struct(*fields: bytes) -> bytes:
    return b"".join(fields) + b"\x00"


def _list(etype: int, items: list[bytes]) -> bytes:
    return struct.pack(">bi", etype, len(items)) + b"".join(items)


def _map(ktype: int, vtype: int, items: list[tuple[bytes, bytes]]) -> bytes:
    return struct.pack(">bbi", ktype, vtype, len(items)) + b"".join(k + v for k, v in items)


def _hand_built_record(extra: bool) -> bytes:
    """A Record written field by field; with ``extra`` it also carries
    every field the engine schema drops (per-view rawText, Span.multiIndex,
    Tree.source, Node.source/score), a field id no struct defines and a
    known id sent with the wrong wire type."""
    from curatorhadoopinterface_spark.thrift_codec import (
        T_BOOL, T_DOUBLE, T_I32, T_I64, T_LIST, T_MAP, T_STRING, T_STRUCT,
    )

    def x(*fields):
        return fields if extra else ()

    i32 = struct.Struct(">i").pack
    dbl = struct.Struct(">d").pack
    raw = _field(T_STRING, 4, _str("Alice pays."))
    span = _struct(
        _field(T_I32, 1, i32(0)), _field(T_I32, 2, i32(5)), _field(T_STRING, 3, _str("Alice")),
        *x(_field(T_I32, 7, i32(3))),
    )
    labeling = _struct(
        _field(T_LIST, 1, _list(T_STRUCT, [span])), _field(T_STRING, 2, _str("tok-1")), *x(raw),
    )
    cluster = _struct(_field(T_LIST, 1, _list(T_STRUCT, [span])), *x(raw))
    clustering = _struct(_field(T_LIST, 1, _list(T_STRUCT, [cluster])), *x(raw))
    node = _struct(
        _field(T_STRING, 1, _str("S")), _field(T_STRUCT, 2, span),
        _field(T_MAP, 3, _map(T_I32, T_STRING, [(i32(1), _str("A0"))])),
        *x(_field(T_STRING, 4, _str("parser")), _field(T_DOUBLE, 5, dbl(0.5))),
    )
    tree = _struct(
        _field(T_LIST, 1, _list(T_STRUCT, [node])), _field(T_I32, 2, i32(0)),
        *x(_field(T_STRING, 3, _str("parser"))), _field(T_DOUBLE, 4, dbl(1.0)),
    )
    forest = _struct(
        _field(T_LIST, 1, _list(T_STRUCT, [tree])),
        *x(_field(T_STRING, 2, _str("Alice pays."))), _field(T_STRING, 3, _str("parse-1")),
    )
    relation = _struct(_field(T_I32, 1, i32(0)), _field(T_I32, 2, i32(0)), _field(T_STRING, 3, _str("self")))
    view = _struct(
        _field(T_LIST, 1, _list(T_STRUCT, [span])), _field(T_LIST, 2, _list(T_STRUCT, [relation])),
        *x(_field(T_STRING, 3, _str("Alice pays."))), _field(T_STRING, 4, _str("g-1")),
    )
    unknown = _field(T_STRUCT, 99, _struct(
        _field(T_LIST, 1, _list(T_I64, [struct.pack(">q", 7)])),
        _field(T_MAP, 2, _map(T_STRING, T_BOOL, [(_str("k"), b"\x01")])),
    ))

    def views(payload):
        return _map(T_STRING, T_STRUCT, [(_str("v"), payload)])

    return _struct(
        _field(T_STRING, 1, _str("hand-1")), *x(_field(T_I32, 1, i32(5))),
        _field(T_STRING, 2, _str("Alice pays.")),
        _field(T_MAP, 3, views(labeling)), _field(T_MAP, 4, views(clustering)),
        _field(T_MAP, 5, views(forest)), _field(T_MAP, 6, views(view)),
        *x(unknown), _field(T_BOOL, 7, b"\x01"),
    )


def test_decoder_skips_fields_the_schema_does_not_hold():
    """Wire-only fields, unknown field ids and known ids of the wrong
    wire type are skipped: the blob decodes to the same dict as the blob
    without them, and that dict re-encodes to the plain blob exactly."""
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record, encode_thrift_record

    plain = _hand_built_record(extra=False)
    rec = decode_thrift_record(plain)
    assert decode_thrift_record(_hand_built_record(extra=True)) == rec
    assert encode_thrift_record(rec) == plain
    span = _span(0, 5, "Alice")
    assert rec["parse_views"]["v"]["trees"] == [
        {"top": 0, "score": 1.0, "nodes": [{"label": "S", "span": span, "children": {1: "A0"}}]}
    ]
    assert rec["cluster_views"]["v"] == {"clusters": [{"labels": [span]}], "source": None, "score": None}
