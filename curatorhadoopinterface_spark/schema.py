"""Engine-native Record schema (SURVEY.md section 1.4, FIXTURES.md B).

Mirrors the reference's Thrift ``Record`` struct
(modified_files_in_curator/curator-interfaces/curator.thrift:29-44) as a
Spark ``StructType``: one row per document, open-keyed MAP columns for the
annotation view families. Span/Labeling/Clustering/Forest payloads follow
the generated Thrift base classes (SURVEY.md section 1.2). This module is
the one statement of the layout: the Thrift codec (thrift_codec.py), the
Record readers and writers in io.py, provide()'s view columns and the JVM
JSON decode (``decode_json``) all take their types from it.

Scale note: MapType view columns keep the reference's open keying, but
nested maps defeat Parquet column pruning — the incremental layer promotes
hot views to top-level columns when a corpus is persisted (SURVEY.md known
hard part #4).
"""

from __future__ import annotations

import functools
import json

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Span: half-open character interval over raw_text
# (curator.thrift Span; Span.java:56-80 in the generated base classes).
SPAN = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("ending", IntegerType(), False),
        StructField("label", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("source", StringType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)

# Labeling: one flat annotation layer (Labeling.java:49-61).
LABELING = StructType(
    [
        StructField("labels", ArrayType(SPAN), True),
        StructField("source", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

# One cluster: a Labeling on the wire, of which the engine keeps the spans.
CLUSTER = StructType([StructField("labels", ArrayType(SPAN), True)])

# Clustering: list of span-groups, e.g. coref chains (Clustering.java:51-63).
CLUSTERING = StructType(
    [
        StructField("clusters", ArrayType(CLUSTER), True),
        StructField("source", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

# Forest/Tree/Node: tree as node array + root index (Forest.java:48-56,
# Tree.java:49-61, Node.java:53-69). children: child-node-index -> edge label.
NODE = StructType(
    [
        StructField("label", StringType(), True),
        StructField("span", SPAN, True),
        StructField("children", MapType(IntegerType(), StringType()), True),
    ]
)

TREE = StructType(
    [
        StructField("top", IntegerType(), True),
        StructField("nodes", ArrayType(NODE), True),
        StructField("score", DoubleType(), True),
    ]
)

FOREST = StructType(
    [
        StructField("trees", ArrayType(TREE), True),
        StructField("source", StringType(), True),
    ]
)

# Relation: a labeled edge between two spans of the SAME View, start/ending
# are indices into View.spans (Relation.java:42-46 TField constants).
RELATION = StructType(
    [
        StructField("start", IntegerType(), False),
        StructField("ending", IntegerType(), False),
        StructField("label", StringType(), True),
        StructField("score", DoubleType(), True),
        StructField("source", StringType(), True),
    ]
)

# View: the general spans+relations graph payload (curator.thrift:41,
# View.java:42-46: 1 spans, 2 relations, 3 rawText, 4 source, 5 score —
# per-view rawText duplicates the Record's and is dropped, like Labeling's).
VIEW = StructType(
    [
        StructField("spans", ArrayType(SPAN), True),
        StructField("relations", ArrayType(RELATION), True),
        StructField("source", StringType(), True),
        StructField("score", DoubleType(), True),
    ]
)

# The Record row: identifier = sha1("FLAG:" + whitespaced + ":" + raw_text),
# reproducing Identifier.java:63-70 exactly (see functions/hashing.py).
RECORD = StructType(
    [
        StructField("identifier", StringType(), False),
        StructField("raw_text", StringType(), False),
        StructField("whitespaced", BooleanType(), False),
        StructField("label_views", MapType(StringType(), LABELING), True),
        StructField("cluster_views", MapType(StringType(), CLUSTERING), True),
        StructField("parse_views", MapType(StringType(), FOREST), True),
        StructField("views", MapType(StringType(), VIEW), True),
    ]
)

# MultiRecord (curator.thrift:46-53): the cross-document annotation unit,
# member record identifiers plus corpus-level views whose spans index the
# concatenation of the member texts.
MULTIRECORD = StructType(
    [
        StructField("identifier", StringType(), False),
        StructField("records", ArrayType(StringType()), True),
        RECORD["label_views"],
        RECORD["cluster_views"],
        RECORD["parse_views"],
    ]
)


@functools.cache
def _restorer(dt: DataType, doubles: bool):
    """``fix(value) -> value`` that puts back what JSON lost at ``dt``:
    int keys of IntegerType-keyed maps and, with ``doubles``, the
    non-finite DoubleType values ``to_json`` quotes. Falsy where nothing
    at or below ``dt`` needs it, so such a subtree is never walked.
    ``fix`` is called on non-null values only."""
    if isinstance(dt, DoubleType):
        return float if doubles else None
    if isinstance(dt, ArrayType):
        f = _restorer(dt.elementType, doubles)
        return f and (lambda v: [x if x is None else f(x) for x in v])
    if isinstance(dt, MapType):
        f, int_keys = _restorer(dt.valueType, doubles), isinstance(dt.keyType, IntegerType)
        return (f or int_keys) and (
            lambda v: {int(k) if int_keys else k: x if x is None or not f else f(x) for k, x in v.items()}
        )
    if isinstance(dt, StructType):
        fs = [(n, f) for n in dt.fieldNames() if (f := _restorer(dt[n].dataType, doubles))]
        def fix(v):
            for n, f in fs:
                if v.get(n) is not None:
                    v[n] = f(v[n])
            return v
        return fs and fix
    return None


def decode_json(raw: str | None, dt: DataType):
    """The value of Spark type ``dt`` whose JVM ``to_json`` text is ``raw``.

    ``to_json`` writes map keys as strings and quotes non-finite doubles
    (``"NaN"``, ``"Infinity"``, ``"-Infinity"``); both are restored where
    ``dt`` declares an IntegerType key or a DoubleType. Text without a
    quoted non-finite double walks only the paths to int-keyed maps."""
    if raw is None:
        return None
    fix = _restorer(dt, '"NaN"' in raw or 'Infinity"' in raw)
    return fix(json.loads(raw)) if fix else json.loads(raw)
