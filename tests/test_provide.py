"""provide() planner: dependency closure execution, per-row memoization,
view identity with the Spark identifier expression."""

import pyspark.sql.functions as F

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
