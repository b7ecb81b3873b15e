"""Property-based tests (hypothesis) for the annotator core.

SURVEY.md section 5's engine test plan items (d)/(e): span
well-formedness (0 <= start < ending <= len(text)), dependency closure,
and determinism (same text => same identifier, same views). These run
driver-side on the pure-Python annotators — the oracle harness already
pins the distributed path; these pin the algebra on adversarial inputs.
"""

from __future__ import annotations

import hashlib

from hypothesis import given, settings
from hypothesis import strategies as st

TEXTS = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=400,
)


def _well_formed(spans, n):
    for s in spans:
        assert 0 <= s["start"] < s["ending"] <= n, s


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_tokenize_spans_well_formed_and_lossless(text):
    from curatorhadoopinterface_spark.annotators.light import tokenize

    toks = tokenize(text)
    _well_formed(toks, len(text))
    # spans must reproduce their surface exactly (the substring contract,
    # CuratorClient.java:1051-1053) and never overlap
    prev_end = 0
    for s in toks:
        assert text[s["start"] : s["ending"]] == s["label"]
        assert s["start"] >= prev_end
        prev_end = s["ending"]


@settings(max_examples=200, deadline=None)
@given(TEXTS)
def test_sentences_tile_text(text):
    from curatorhadoopinterface_spark.annotators.light import sentence_spans

    sents = sentence_spans(text)
    _well_formed(sents, len(text))
    for a, b in zip(sents, sents[1:]):
        assert a["ending"] <= b["start"]


@settings(max_examples=100, deadline=None)
@given(TEXTS)
def test_pipeline_deterministic_and_dependency_closed(text):
    from curatorhadoopinterface_spark.annotators.light import annotate_record

    v1 = annotate_record(text, {}, ["TOKEN", "POS", "NER"])
    v2 = annotate_record(text, {}, ["TOKEN", "POS", "NER"])
    assert v1 == v2
    assert set(v1) >= {"tokens", "pos", "ner"}
    # POS spans mirror token spans one-for-one (dependency closure)
    assert len(v1["pos"]["labels"]) == len(v1["tokens"]["labels"])


@settings(max_examples=100, deadline=None)
@given(TEXTS)
def test_chunk_spans_nest_inside_token_extent(text):
    from curatorhadoopinterface_spark.annotators.light import annotate_record

    v = annotate_record(text, {}, ["CHUNK"])
    toks = v["tokens"]["labels"]
    _well_formed(v["chunk"]["labels"], len(text))
    if toks:
        lo, hi = toks[0]["start"], toks[-1]["ending"]
        for c in v["chunk"]["labels"]:
            assert lo <= c["start"] and c["ending"] <= hi


def test_identifier_reproduces_reference_sha1_on_adversarial_texts(spark):
    """Identifier.java:63-70: SHA-1 of "FLAG:"+whitespaced+":"+rawText —
    the Spark column expression must equal hashlib on tricky inputs
    (multi-byte, embedded quotes/newlines/colons)."""
    from curatorhadoopinterface_spark.io import records_from_texts

    texts = ["a:b", 'quo"te', "new\nline", "héllo wörld", "中文 文本", "x" * 999]
    rows = records_from_texts(spark, texts).collect()
    got = {r["raw_text"]: r["identifier"] for r in rows}
    for t in texts:
        expected = hashlib.sha1(f"FLAG:false:{t}".encode()).hexdigest()
        assert got[t] == expected, t


# ---- thrift codec: adversarial round-trip (tests/test_thrift_interop
# pins the 4 real reference files; this pins the wire format on
# arbitrary records) ----

_SPAN = st.builds(
    lambda a, b, label, attrs: {
        "start": min(a, b),
        "ending": max(a, b) + 1,
        "label": label,
        "score": None,
        "source": None,
        "attributes": attrs or None,
    },
    st.integers(0, 300),
    st.integers(0, 300),
    st.one_of(st.none(), TEXTS),
    st.dictionaries(TEXTS, TEXTS, max_size=3),
)
_SPANS = st.lists(_SPAN, max_size=5)


_RELATIONS = st.lists(
    st.builds(
        lambda a, b, label: {
            "start": a,
            "ending": b,
            "label": label,
            "source": None,
            "score": None,
        },
        st.integers(0, 4),
        st.integers(0, 4),
        st.one_of(st.none(), TEXTS),
    ),
    max_size=4,
)


_CLUSTERS = st.lists(st.builds(lambda spans: {"labels": spans}, _SPANS), max_size=3)


_NODES = st.lists(
    st.builds(
        lambda label, span, children: {"label": label, "span": span, "children": children},
        st.one_of(st.none(), TEXTS),
        st.one_of(st.none(), _SPAN),
        st.one_of(st.none(), st.dictionaries(st.integers(0, 9), TEXTS, max_size=3)),
    ),
    max_size=4,
)

_TREES = st.lists(
    st.builds(
        lambda top, nodes, score: {"top": top, "nodes": nodes, "score": score},
        st.one_of(st.none(), st.integers(0, 3)),
        _NODES,
        st.one_of(st.none(), st.floats(allow_nan=False)),
    ),
    max_size=3,
)


@settings(max_examples=150, deadline=None)
@given(
    ident=st.text(min_size=1, max_size=64),
    raw=TEXTS,
    ws=st.booleans(),
    view=st.one_of(st.none(), _SPANS),
    gspans=st.one_of(st.none(), _SPANS),
    grels=_RELATIONS,
    clusters=st.one_of(st.none(), _CLUSTERS),
    trees=st.one_of(st.none(), _TREES),
)
def test_thrift_record_roundtrip_arbitrary(ident, raw, ws, view, gspans, grels, clusters, trees):
    from curatorhadoopinterface_spark.thrift_codec import (
        decode_thrift_record,
        encode_thrift_record,
    )

    rec = {
        "identifier": ident,
        "raw_text": raw,
        "whitespaced": ws,
        "label_views": (
            {"tokens": {"labels": view, "source": "t-1.0", "score": None}}
            if view is not None
            else None
        ),
        "cluster_views": (
            {"coref": {"clusters": clusters, "source": "c-1.0", "score": 0.5}}
            if clusters is not None
            else None
        ),
        # Forest/Tree/Node with a span and int-keyed children per node
        "parse_views": (
            {"parse": {"trees": trees, "source": "p-1.0"}} if trees is not None else None
        ),
        # general views map (field 6): spans + relations graph
        "views": (
            {
                "deps": {
                    "spans": gspans,
                    "relations": grels,
                    "source": "g-1.0",
                    "score": None,
                }
            }
            if gspans is not None
            else None
        ),
    }
    assert decode_thrift_record(encode_thrift_record(rec)) == rec
