"""provide() planner: dependency closure execution, per-row memoization,
view identity with the Spark identifier expression."""

import pyspark.sql.functions as F
import pytest

from curatorhadoopinterface_spark.functions.hashing import record_identifier_py
from curatorhadoopinterface_spark.plans.provide import provide


def test_provide_computes_closure(spark, corpus):
    out = provide(corpus, "VERB_SRL").collect()
    for r in out:
        assert {"tokens", "pos", "chunk"} <= set(r.label_views.keys())
        assert "charniak" in r.parse_views and "srl" in r.parse_views


def test_span_invariants_through_spark(spark, corpus):
    rows = provide(corpus, "POS").collect()
    for r in rows:
        text = r.raw_text
        for view in ("tokens", "pos"):
            for s in r.label_views[view].labels:
                assert 0 <= s.start < s.ending <= len(text)
        toks = r.label_views["tokens"].labels
        assert all(text[t.start : t.ending] == t.label for t in toks)


def test_chained_provide_memoizes(spark, corpus):
    # second provide() must not recompute tokens: source stamp unchanged
    # and payload identical (CuratorHandler.provide cache semantics)
    first = provide(corpus, "TOKEN")
    chained = provide(first, "POS").collect()
    direct = {r.identifier: r for r in provide(corpus, "POS").collect()}
    for r in chained:
        d = direct[r.identifier]
        assert r.label_views["tokens"] == d.label_views["tokens"]
        assert r.label_views["pos"] == d.label_views["pos"]


def test_multi_view_annotator(spark, corpus):
    rows = provide(corpus, "STANFORD_PARSE").collect()
    for r in rows:
        assert "stanfordParse" in r.parse_views and "stanfordDep" in r.parse_views


def test_identifier_matches_python_twin(spark, corpus):
    for r in corpus.collect():
        assert r.identifier == record_identifier_py(r.raw_text, r.whitespaced)


def test_provide_preserves_passthrough_columns(spark, corpus):
    with_extra = corpus.withColumn("corpus_tag", F.lit("t1"))
    out = provide(with_extra, "TOKEN")
    assert "corpus_tag" in out.columns
    assert out.filter(F.col("corpus_tag") == "t1").count() == corpus.count()


def test_determinism_same_input_same_output(spark, corpus):
    a = provide(corpus, "NER").select("identifier", "label_views").collect()
    b = provide(corpus, "NER").select("identifier", "label_views").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_spread_checkpoint_passes_through_without_exchange(spark):
    from curatorhadoopinterface_spark.session import ensure_min_partitions

    n = spark.sparkContext.defaultParallelism
    ck = spark.range(100).repartition(n).localCheckpoint(eager=True)
    assert ck.rdd.getNumPartitions() == n
    out = ensure_min_partitions(ck.where("id % 2 = 0"))
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    one = spark.range(100).coalesce(1).localCheckpoint(eager=True)
    assert "Exchange" in ensure_min_partitions(one)._jdf.queryExecution().executedPlan().toString()


def test_complete_rows_keep_their_views_in_provide_shape(spark, corpus):
    from curatorhadoopinterface_spark.plans.provide import as_provided, complete_col

    ann = provide(corpus, "POS")
    assert all(r.c for r in ann.select(complete_col(ann, "POS").alias("c")).collect())
    assert not any(r.c for r in ann.select(complete_col(ann, "CHUNK").alias("c")).collect())
    assert not any(r.c for r in corpus.select(complete_col(corpus, "TOKEN").alias("c")).collect())
    shaped = as_provided(ann.drop("cluster_views"), best_effort=True)
    assert shaped.columns == provide(corpus, "POS", best_effort=True).columns
    direct = {r.identifier: r for r in ann.collect()}
    for r in shaped.collect():
        assert r.label_views == direct[r.identifier].label_views
        assert r.cluster_views == {} and r.annotation_error is None


def _span(start, ending, score):
    return {"start": start, "ending": ending, "label": "w", "score": score, "source": None, "attributes": None}


def _nonfinite_record():
    nan, inf = float("nan"), float("inf")
    return {
        "identifier": "nonfinite",
        "raw_text": "Alice pays Bob.",
        "whitespaced": False,
        "label_views": {"tokens": {"labels": [_span(0, 5, inf), _span(6, 10, -inf)], "source": "t", "score": nan}},
        "cluster_views": {"coref": {"clusters": [{"labels": [_span(0, 5, nan)]}], "source": "c", "score": -inf}},
        "parse_views": {
            "charniak": {
                "trees": [{"top": 0, "score": inf, "nodes": [
                    {"label": "S", "span": _span(0, 15, nan), "children": {1: "", 2: "x"}},
                    {"label": "NP", "span": _span(0, 5, -inf), "children": None},
                    {"label": "VP", "span": _span(6, 15, 0.5), "children": None},
                ]}],
                "source": "p",
            }
        },
        "views": {"semrel": {
            "spans": [_span(0, 5, nan), _span(11, 14, inf)],
            "relations": [{"start": 0, "ending": 1, "label": "pays", "score": -inf, "source": None}],
            "source": "r", "score": nan,
        }},
    }


def _canon(v):
    """``v`` with every float as its repr, so NaN compares equal to NaN."""
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return repr(v) if isinstance(v, float) else v


def test_non_finite_scores_survive_provide_and_thrift_write(spark, tmp_path):
    """NaN and ±Infinity scores in stored views pass through a memoized
    provide() unchanged, and the general views family survives
    write_thrift_records -> decode."""
    from curatorhadoopinterface_spark.io import write_thrift_records
    from curatorhadoopinterface_spark.schema import RECORD
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

    rec = _nonfinite_record()
    df = spark.createDataFrame([rec], RECORD)
    views = ["label_views", "cluster_views", "parse_views", "views"]
    out = provide(df, "TOKEN").select(*[F.to_json(c).alias(c) for c in views]).collect()[0]
    assert out == df.select(*[F.to_json(c).alias(c) for c in views]).collect()[0]
    assert '"NaN"' in out.parse_views and '"-Infinity"' in out.label_views

    write_thrift_records(df, str(tmp_path))
    back = decode_thrift_record((tmp_path / "nonfinite.txt").read_bytes())
    assert _canon(back) == _canon(rec)


@pytest.mark.parametrize(
    "texts, best_effort",
    [([], False), ([], True), ([""], False), (["   "], False), ([None], True)],
    ids=["empty-strict", "empty-best-effort", "empty-text", "blank-text", "null-text-best-effort"],
)
def test_degenerate_inputs(spark, texts, best_effort):
    """The worker boundary on degenerate inputs: no rows, empty and blank
    texts (every view, possibly with no spans), a NULL text (empty views
    and the error, under best_effort)."""
    from curatorhadoopinterface_spark.plans.registry import MODES

    df = spark.createDataFrame([(f"d{i}", t, False) for i, t in enumerate(texts)],
                               "identifier string, raw_text string, whitespaced boolean")
    rows = provide(df, list(MODES), best_effort=best_effort).collect()
    assert len(rows) == len(texts)
    for r in rows:
        if r.raw_text is None:
            assert (r.label_views, r.cluster_views, r.parse_views) == ({}, {}, {})
            assert r.annotation_error.startswith("TypeError")
        else:
            assert (len(r.label_views), len(r.cluster_views), len(r.parse_views)) == (6, 1, 5)
