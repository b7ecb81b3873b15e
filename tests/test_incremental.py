"""Record store: memoization anti-join, staleness, cascade invalidation,
view-count upsert (SURVEY.md A18-A23)."""

import pyspark.sql.functions as F
import pytest

from curatorhadoopinterface_spark.io import records_from_texts
from curatorhadoopinterface_spark.plans.incremental import (
    RecordStore,
    remove_stale_views,
    stale_views_col,
    view_count_col,
)
from curatorhadoopinterface_spark.plans.provide import provide


@pytest.fixture()
def store_path(tmp_path):
    return str(tmp_path / "record_store")


def test_store_roundtrip_and_hit_skip(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    annotated = store.provide_incremental(corpus, "POS")
    assert annotated.count() == corpus.count()
    stored = store.load()
    assert stored.count() == corpus.count()
    # second run: all cache hits, same results
    again = store.provide_incremental(corpus, "POS")
    assert again.count() == corpus.count()
    a = {r.identifier: r.label_views["pos"] for r in annotated.collect()}
    b = {r.identifier: r.label_views["pos"] for r in again.collect()}
    assert a == b


def test_incremental_annotates_only_new(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus, "TOKEN")
    extended = records_from_texts(
        spark, ["Completely new document text here."]
    ).unionByName(corpus.select("identifier", "raw_text", "whitespaced"))
    out = store.provide_incremental(extended, "TOKEN")
    assert out.count() == corpus.count() + 1
    assert store.load().count() == corpus.count() + 1


def test_upsert_keeps_richer_record(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    rich = provide(corpus, "POS")  # tokens+pos
    store.write_full(rich)
    poor = provide(corpus, "TOKEN")  # tokens only
    store.upsert(poor)
    stored = store.load()
    # the stored copies keep their pos view (poor had FEWER views)
    assert all("pos" in r.label_views for r in stored.collect())


def test_stale_version_detected_and_cascaded(spark, corpus):
    ann = provide(corpus, "CHUNK")
    # age the pos view: enginepos-1.0 -> enginepos-0.9 (A22 stimulus,
    # FIXTURES.md corpus_annotated spec)
    aged = ann.withColumn(
        "label_views",
        F.expr(
            """transform_values(label_views, (k, v) -> IF(k = 'pos',
                 named_struct('labels', v.labels, 'source', 'enginepos-0.9',
                              'score', v.score), v))"""
        ),
    )
    stale = aged.select(stale_views_col(aged).alias("s")).collect()
    assert all(r.s == ["pos"] for r in stale)
    cleaned = remove_stale_views(aged)
    for r in cleaned.collect():
        views = set(r.label_views.keys())
        assert "pos" not in views  # stale dropped
        assert "chunk" not in views  # cascaded (chunk requires pos)
        assert "tokens" in views  # untouched upstream survives


def test_fresh_versions_not_invalidated(spark, corpus):
    ann = provide(corpus, "CHUNK")
    cleaned = remove_stale_views(ann)
    for r in cleaned.collect():
        assert {"tokens", "pos", "chunk"} <= set(r.label_views.keys())


def test_view_count(spark, corpus):
    ann = provide(corpus, "POS")
    counts = ann.select(view_count_col(ann).alias("n")).collect()
    assert all(r.n == 2 for r in counts)  # tokens + pos


def test_store_compaction_reduces_files_and_preserves_content(spark, sf_dir):
    import glob
    import os

    from curatorhadoopinterface_spark.io import scratch_dir
    from curatorhadoopinterface_spark.operators.incremental_q import (
        store_compaction,
    )

    out = store_compaction(spark, sf_dir).collect()
    base = scratch_dir("store_compact", sf_dir)
    before = glob.glob(f"{base}/bucket=*/part-*.parquet")
    after = glob.glob(f"{base}_compacted/bucket=*/part-*.parquet")
    buckets = {os.path.basename(os.path.dirname(p)) for p in after}
    # every bucket compacts to exactly ONE file
    assert len(after) == len(buckets)
    # the appends left strictly more files than buckets
    assert len(before) > len(after)
    # content preserved: compacted census equals the pre-compaction one
    import pyspark.sql.functions as F

    pre = {
        (r["bucket"], r["n_records"], r["total_tokens"])
        for r in spark.read.parquet(base)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_records"), F.sum("n_tokens").alias("total_tokens"))
        .collect()
    }
    post = {(r["bucket"], r["n_records"], r["total_tokens"]) for r in out}
    assert pre == post


def _store_files(path):
    import os

    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_mtime_ns, st.st_size)
    return out


def _age_pos(df):
    """The pos views rewritten to an older source version."""
    return df.withColumn(
        "label_views",
        F.transform_values(
            "label_views",
            lambda k, v: F.when(k == "pos", v.withField("source", F.lit("enginepos-0.9"))).otherwise(v),
        ),
    )


def test_record_store_leaves_session_overwrite_mode(spark, corpus, tmp_path):
    """The store's dynamic overwrite is a per-write option: a later
    partitioned overwrite elsewhere still replaces the whole output."""
    import os

    from curatorhadoopinterface_spark.io import write_corpus

    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    store = RecordStore(spark, str(tmp_path / "store"))
    store.provide_incremental(corpus, "TOKEN")
    store.provide_incremental(
        records_from_texts(spark, ["Another new document."]), "TOKEN"
    )
    assert spark.conf.get(key) == mode
    out = str(tmp_path / "parts")
    write_corpus(spark.range(4).withColumn("b", F.col("id")), out, partition_by=["b"])
    write_corpus(spark.range(2).withColumn("b", F.col("id")), out, partition_by=["b"])
    assert sorted(d for d in os.listdir(out) if d.startswith("b=")) == ["b=0", "b=1"]


def test_duplicate_identifiers_store_one_row_on_empty_store(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    twice = corpus.unionByName(corpus.limit(1))
    out = store.provide_incremental(twice, "TOKEN").collect()
    n_ids = corpus.count()
    assert len(out) == len({r.identifier for r in out}) == n_ids
    stored = store.load()
    assert stored.count() == stored.select("identifier").distinct().count() == n_ids


def test_duplicate_identifiers_store_one_row_on_merge(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus.limit(2), "TOKEN")
    new = records_from_texts(spark, ["A document submitted twice."])
    twice = new.unionByName(new).unionByName(corpus).unionByName(corpus.limit(1))
    out = store.provide_incremental(twice, "TOKEN").collect()
    n_ids = corpus.count() + 1
    assert len(out) == len({r.identifier for r in out}) == n_ids
    stored = store.load()
    assert stored.count() == stored.select("identifier").distinct().count() == n_ids


def test_upsert_deduplicates_identifiers(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus.limit(1), "TOKEN"))
    ann = provide(corpus, "POS")
    store.upsert(ann.unionByName(ann))
    stored = store.load()
    assert stored.count() == stored.select("identifier").distinct().count() == corpus.count()
    assert all("pos" in r.label_views for r in stored.collect())


def test_all_hit_update_writes_nothing(spark, corpus, store_path):
    """A memoized hit is a JVM-only job: no Python worker, no write."""
    from curatorhadoopinterface_spark.profile import profile

    store = RecordStore(spark, store_path)
    miss = profile(lambda s, d: store.provide_incremental(corpus, "POS"), spark, None, python=True)
    assert miss["python_stages"] > 0
    before = _store_files(store_path)
    hit = profile(lambda s, d: store.provide_incremental(corpus, "POS"), spark, None, python=True)
    assert hit["python_stages"] == 0
    assert _store_files(store_path) == before
    out = store.provide_incremental(corpus, "POS")
    assert out.count() == corpus.count()
    assert _store_files(store_path) == before


def test_update_leaves_one_parquet_file_per_bucket(spark, corpus, store_path):
    import os

    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus.limit(2), "TOKEN")
    store.provide_incremental(corpus, "POS")
    buckets = [d for d in os.listdir(store_path) if d.startswith("id_bucket=")]
    assert buckets
    for d in buckets:
        files = [f for f in os.listdir(os.path.join(store_path, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_stale_stored_view_recomputed_but_equal_count_copy_kept(spark, corpus, store_path):
    """The reference stores a record only if it has MORE views: a stale
    pos is recomputed for the caller, while the stored copy, whose
    re-annotation has the same view count, stays as it was."""
    store = RecordStore(spark, store_path)
    store.write_full(_age_pos(provide(corpus, "POS")))
    out = {r.identifier: r for r in store.provide_incremental(corpus, "POS").collect()}
    direct = {r.identifier: r for r in provide(corpus, "POS").collect()}
    assert out.keys() == direct.keys()
    for ident, r in out.items():
        assert r.label_views["pos"].source == "enginepos-1.0"
        assert r.label_views["pos"] == direct[ident].label_views["pos"]
    stored = store.load().collect()
    assert len(stored) == len(direct)
    assert all(r.label_views["pos"].source == "enginepos-0.9" for r in stored)


def test_best_effort_complete_rows_carry_null_error(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus, "POS")
    out = store.provide_incremental(corpus, "POS", best_effort=True).collect()
    assert len(out) == corpus.count()
    assert all(r.annotation_error is None for r in out)
    assert all("pos" in r.label_views for r in out)


def test_mixed_batch_matches_one_provide_over_the_lookup(spark, corpus, store_path):
    """Complete, stale and unseen rows in one batch: the split returns
    what one provide() over the batch's stored copies (stale views
    removed) and its new rows returns."""
    store = RecordStore(spark, store_path)
    aged = _age_pos(provide(corpus.limit(1), "CHUNK"))
    store.write_full(aged.unionByName(provide(corpus.limit(3).subtract(corpus.limit(1)), "CHUNK")))
    new = records_from_texts(spark, ["A fresh document arrives.", "Another one!"])
    batch = corpus.unionByName(new)
    stored = store.load()
    ids = [r.identifier for r in stored.select("identifier").collect()]
    lookup = remove_stale_views(stored).unionByName(
        batch.where(~F.col("identifier").isin(ids)), allowMissingColumns=True
    )
    want = {r.identifier: r.asDict(recursive=True) for r in provide(lookup, "CHUNK").collect()}
    got = {
        r.identifier: r.asDict(recursive=True)
        for r in store.provide_incremental(batch, "CHUNK").collect()
    }
    assert got.keys() == want.keys() and len(got) == corpus.count() + 2
    assert got == want


def test_complete_misses_are_inserted(spark, corpus, store_path):
    """A pre-annotated batch over an existing store: every row is
    complete, and the ones the store lacks are still inserted."""
    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus.limit(1), "POS"))
    out = store.provide_incremental(provide(corpus, "POS"), "POS")
    ids = {r.identifier for r in corpus.select("identifier").collect()}
    assert {r.identifier for r in out.collect()} == ids
    assert {r.identifier for r in store.load().collect()} == ids
    assert store.load().count() == len(ids)


def test_load_sees_a_column_another_handle_added(spark, corpus, store_path):
    """A handle's reused schema is checked against the store's files: a
    column another handle wrote is read, and kept through this handle's
    own later merge of the same bucket."""
    a = RecordStore(spark, store_path)
    a.write_full(provide(corpus, "TOKEN"))
    assert "lang" not in a.load().columns
    one = provide(corpus.limit(1), "POS").withColumn("lang", F.lit("en"))
    (ident,) = [r.identifier for r in one.collect()]
    RecordStore(spark, store_path).upsert(one)
    assert "lang" in a.load().columns
    extra = records_from_texts(spark, [f"Another document, number {i}." for i in range(64)])
    neighbour = extra.where(F.col("identifier").startswith(ident[0])).limit(1)
    a.upsert(provide(neighbour, "POS"))
    langs = {r.identifier: r.lang for r in a.load().collect()}
    assert langs[ident] == "en" and len(langs) == corpus.count() + 1


def test_load_reads_back_a_column_an_upsert_added(spark, corpus, store_path):
    """The store schema a handle reuses is dropped when a write changes
    the columns; the fresh read merges every bucket's footer."""
    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus, "TOKEN"))
    assert "lang" not in store.load().columns
    one = provide(corpus.limit(1), "POS").withColumn("lang", F.lit("en"))
    store.upsert(one)
    loaded = store.load()
    assert "lang" in loaded.columns
    langs = {r.identifier: r.lang for r in loaded.collect()}
    (ident,) = [r.identifier for r in one.collect()]
    assert langs.pop(ident) == "en"
    assert len(langs) == corpus.count() - 1 and set(langs.values()) == {None}


def test_empty_batch_update_returns_nothing_and_writes_nothing(spark, corpus, store_path):
    store = RecordStore(spark, store_path)
    store.provide_incremental(corpus, "POS")
    before = _store_files(store_path)
    assert store.provide_incremental(corpus.limit(0), "POS").count() == 0
    assert store.provide_incremental(corpus.limit(0), "POS", force=True).count() == 0
    assert _store_files(store_path) == before


def _bucket_files(path):
    import glob

    return {d: glob.glob(f"{d}/*.parquet") for d in glob.glob(f"{path}/id_bucket=*")}


def _rows(df):
    return sorted(
        (r.identifier, str(sorted(r.asDict(recursive=True).items()))) for r in df.collect()
    )


def test_updates_append_deltas_and_the_newest_copy_wins(spark, corpus, store_path):
    """An update appends its winners under _deltas/seq=N and leaves the
    base files as they were; a later, richer copy of a record wins on
    read; compact(path) folds the deltas into a new store, one file per
    bucket, and leaves the store as it is."""
    import os

    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus, "TOKEN"))
    base = _bucket_files(store_path)
    new = records_from_texts(spark, ["A brand new document arrives.", "And one more."])
    store.provide_incremental(new, "TOKEN")
    store.provide_incremental(corpus.unionByName(new, allowMissingColumns=True), "POS")
    assert sorted(os.listdir(f"{store_path}/_deltas")) == ["seq=1", "seq=2"]
    assert _bucket_files(store_path) == base
    loaded = store.load()
    n = corpus.count() + 2
    assert loaded.count() == loaded.select("identifier").distinct().count() == n
    assert all("pos" in r.label_views for r in loaded.collect())
    before = _rows(loaded)
    folded = store_path + "_folded"
    store.compact(folded)
    assert not os.path.exists(f"{folded}/_deltas")
    assert all(len(files) == 1 for files in _bucket_files(folded).values())
    assert _rows(RecordStore(spark, folded).load()) == before
    assert sorted(os.listdir(f"{store_path}/_deltas")) == ["seq=1", "seq=2"]
    assert _rows(store.load()) == before


def test_an_update_skips_a_seq_a_failed_write_left(spark, corpus, store_path):
    """A delta write that died leaves its seq directory with no data
    file; the next update takes the seq after it and still appends."""
    import os

    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus, "TOKEN"))
    store.provide_incremental(records_from_texts(spark, ["A first new document."]), "TOKEN")
    os.makedirs(f"{store_path}/_deltas/seq=2/_temporary/0")
    new = records_from_texts(spark, ["A second new document."])
    store.provide_incremental(new, "TOKEN")
    assert sorted(os.listdir(f"{store_path}/_deltas")) == ["seq=1", "seq=2", "seq=3"]
    (ident,) = [r.identifier for r in new.collect()]
    assert store.load().where(F.col("identifier") == ident).count() == 1
    assert store.load().count() == corpus.count() + 2


def test_write_full_clears_the_deltas(spark, corpus, store_path):
    import os

    store = RecordStore(spark, store_path)
    store.write_full(provide(corpus.limit(1), "TOKEN"))
    store.provide_incremental(corpus, "TOKEN")
    store.provide_incremental(corpus, "POS")
    assert os.path.isdir(f"{store_path}/_deltas")
    df = provide(corpus.limit(2), "TOKEN").localCheckpoint(eager=True)
    store.write_full(df)
    assert not os.path.exists(f"{store_path}/_deltas")
    assert _rows(store.load()) == _rows(df)


def test_another_handles_append_invalidates_the_cached_schema(spark, corpus, store_path):
    """A handle's cached schema is checked against the delta files too:
    another handle's append with a new column is read back."""
    a = RecordStore(spark, store_path)
    a.write_full(provide(corpus, "TOKEN"))
    a.provide_incremental(records_from_texts(spark, ["One new document."]), "TOKEN")
    assert "lang" not in a.load().columns
    one = provide(corpus.limit(1), "POS").withColumn("lang", F.lit("en"))
    RecordStore(spark, store_path).upsert(one)
    langs = {r.identifier: r.lang for r in a.load().collect()}
    (ident,) = [r.identifier for r in one.collect()]
    assert langs.pop(ident) == "en"
    assert len(langs) == corpus.count() and set(langs.values()) == {None}


def test_update_bytes_do_not_grow_with_the_store(spark, tmp_path):
    """A 40-document miss update writes about the same bytes into a
    160-record and a 1,600-record store: only the batch's winners."""
    import random
    import string

    rng = random.Random(7)
    words = ["".join(rng.choices(string.ascii_lowercase, k=rng.randint(2, 9))) for _ in range(500)]

    def texts(n):
        return [" ".join(rng.choices(words, k=rng.randint(20, 60))).capitalize() + "." for _ in range(n)]

    stored = texts(1600)
    batch = records_from_texts(spark, texts(40))
    written = []
    for n in (160, 1600):
        path = str(tmp_path / f"store{n}")
        store = RecordStore(spark, path)
        store.write_full(provide(records_from_texts(spark, stored[:n]), "POS"))
        before = _store_files(path)
        store.provide_incremental(batch, "POS")
        after = _store_files(path)
        written.append(sum(v[1] for p, v in after.items() if before.get(p) != v))
    assert 0 < written[1] <= 1.5 * written[0], written
