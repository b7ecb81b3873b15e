"""IO: raw ingestion filters empty docs, serialization round-trip
(A3/A5; CuratorClient.java:527-536, HadoopCuratorClient.java:83-104)."""

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from curatorhadoopinterface_spark.io import records_from_texts, roundtrip_check, write_corpus
from curatorhadoopinterface_spark.plans.provide import provide


def test_empty_text_filtered(spark):
    df = records_from_texts(spark, ["hello", "", "world"])
    assert df.count() == 2


def test_duplicate_text_same_identifier(spark):
    df = records_from_texts(spark, ["same text", "same text"])
    ids = [r.identifier for r in df.collect()]
    assert ids[0] == ids[1]
    assert df.dropDuplicates(["identifier"]).count() == 1


def test_annotated_roundtrip(spark, corpus, tmp_path):
    ann = provide(corpus, "VERB_SRL")
    assert roundtrip_check(spark, ann, str(tmp_path / "rt"))


def test_partitioned_write(spark, corpus, tmp_path):
    out = str(tmp_path / "part")
    df = corpus.withColumn("bucket", F.substring("identifier", 1, 1))
    write_corpus(df, out, partition_by=["bucket"])
    back = spark.read.parquet(out)
    assert back.count() == corpus.count()


def test_serialized_records_roundtrip(spark, corpus, tmp_path):
    from curatorhadoopinterface_spark.io import read_thrift_records, write_thrift_records

    out = str(tmp_path / "recs")
    write_thrift_records(corpus.select("identifier", "raw_text"), out)
    back = read_thrift_records(spark, out)
    orig = {(r.identifier, r.raw_text) for r in corpus.collect()}
    got = {(r.identifier, r.raw_text) for r in back.collect()}
    assert got == orig


@pytest.mark.parametrize("ident", ["../escaped", "a/b", "", ".", "..", None])
def test_write_thrift_records_rejects_unsafe_identifier(spark, tmp_path, ident):
    """An identifier that would name a file outside the output directory
    raises before anything is written."""
    from curatorhadoopinterface_spark.io import write_thrift_records

    out = tmp_path / "out"
    df = spark.createDataFrame([("ok", "fine"), (ident, "bad")], "identifier string, raw_text string")
    with pytest.raises(ValueError, match="does not name a file"):
        write_thrift_records(df, str(out))
    assert list(tmp_path.iterdir()) == []


def test_load_table_rewritten_file_replaces_cache_entry(spark, tmp_path):
    """A parquet file rewritten at the same path is re-read with its new
    schema, and the session cache keeps ONE entry for that path; a
    directory dataset is never cached."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from curatorhadoopinterface_spark.session import _TABLE_CACHE, load_table

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    n_entries = len(_TABLE_CACHE[spark])
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a", "b"]
    assert len(_TABLE_CACHE[spark]) == n_entries
    assert _TABLE_CACHE[spark][path][2].columns == ["a", "b"]
    ddir = tmp_path / "d.parquet"
    ddir.mkdir()
    pq.write_table(pa.table({"a": [1]}), str(ddir / "part-0.parquet"))
    assert load_table(spark, str(tmp_path), "d").count() == 1
    assert str(ddir) not in _TABLE_CACHE[spark]


def test_write_thrift_records_writes_the_stored_record(spark, corpus, tmp_path):
    """Each file is the Thrift encoding of its row with every map in the
    entry order parquet stores, for an eleven-mode provide() output."""
    import pyarrow.parquet as pq

    from curatorhadoopinterface_spark.io import write_thrift_records
    from curatorhadoopinterface_spark.plans.registry import MODES
    from curatorhadoopinterface_spark.thrift_codec import encode_thrift_record

    pq_dir, out = str(tmp_path / "pq"), tmp_path / "thrift"
    write_corpus(provide(corpus, list(MODES)), pq_dir)
    write_thrift_records(spark.read.parquet(pq_dir), str(out))
    table = pq.read_table(pq_dir)
    stored = [_as_dicts(rec, pa.struct(table.schema)) for rec in table.to_pylist()]
    assert len(stored) == len(list(out.iterdir())) == corpus.count()
    for rec in stored:
        assert (out / f"{rec['identifier']}.txt").read_bytes() == encode_thrift_record(rec)


def _as_dicts(v, t):
    """A ``to_pylist`` value of Arrow type ``t`` with each map, a list of
    (key, value) pairs there, as a dict in the same entry order."""
    if v is None:
        return None
    if pa.types.is_map(t):
        return {k: _as_dicts(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return {f.name: _as_dicts(v[f.name], f.type) for f in t}
    if pa.types.is_list(t):
        return [_as_dicts(x, t.value_type) for x in v]
    return v


@pytest.mark.parametrize("case", ["read-no-matching-file", "write-empty-frame"])
def test_thrift_paths_on_empty_inputs(spark, tmp_path, case):
    from curatorhadoopinterface_spark.io import read_thrift_records, write_thrift_records

    if case == "read-no-matching-file":
        (tmp_path / "notes.bin").write_bytes(b"\x00")
        assert read_thrift_records(spark, str(tmp_path)).count() == 0
    else:
        empty = spark.createDataFrame([], "identifier string, raw_text string, whitespaced boolean")
        write_thrift_records(empty, str(tmp_path / "out"))
        assert list((tmp_path / "out").iterdir()) == []
