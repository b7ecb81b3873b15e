"""IO: raw ingestion filters empty docs, serialization round-trip
(A3/A5; CuratorClient.java:527-536, HadoopCuratorClient.java:83-104)."""

import pyspark.sql.functions as F

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


def test_record_codec_roundtrip_unicode():
    from curatorhadoopinterface_spark.io import _decode_record, _encode_record

    for ident, text in [("abc123", "hello world"), ("7", "中文 — naïve\nmulti\tline")]:
        assert _decode_record(_encode_record(ident, text)) == (ident, text)


def test_record_codec_rejects_garbage():
    import pytest

    from curatorhadoopinterface_spark.io import _decode_record, _encode_record

    with pytest.raises(ValueError, match="magic"):
        _decode_record(b"NOPE" + b"\x00" * 16)
    blob = bytearray(_encode_record("x", "y"))
    blob[4] = 99
    with pytest.raises(ValueError, match="version"):
        _decode_record(bytes(blob))


def test_serialized_records_roundtrip(spark, corpus, tmp_path):
    from curatorhadoopinterface_spark.io import (
        read_serialized_records,
        write_serialized_records,
    )

    out = str(tmp_path / "recs")
    write_serialized_records(
        corpus.select("identifier", "raw_text"), out
    )
    back = read_serialized_records(spark, out)
    orig = {(r.identifier, r.raw_text) for r in corpus.collect()}
    got = {(r.identifier, r.raw_text) for r in back.collect()}
    assert got == orig


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
