"""CLI tests (A31): annotate -> verify round trip through the argparse
surface, in-process (get_spark reuses the session fixture's JVM)."""

from __future__ import annotations

import pytest

from curatorhadoopinterface_spark.__main__ import main, resolve_mode


def test_resolve_mode_fuzzy():
    assert resolve_mode("ner") == "NER"
    assert resolve_mode("tokenizer") == "TOKEN"
    assert resolve_mode("stanford") == "STANFORD_PARSE"
    assert resolve_mode("VERB") == "VERB_SRL"
    assert resolve_mode("chunker") == "CHUNK"
    with pytest.raises(SystemExit):
        resolve_mode("nonsense")


def test_cli_annotate_then_verify(spark, tmp_path, capsys):
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    (corpus / "doc1.txt").write_text("The fast Spark job runs. Hadoop wins!")
    (corpus / "doc2.txt").write_text("A customer merged the hash table data.")
    out = str(tmp_path / "annotated")

    main(["annotate", "--input", str(corpus), "--output", out, "--mode", "pos", "ner"])
    assert "annotated 2 records" in capsys.readouterr().out

    back = spark.read.parquet(out)
    assert back.count() == 2
    assert "label_views" in back.columns

    with pytest.raises(SystemExit) as exc:
        main(["verify", "--input", out, "--mode", "pos", "ner"])
    assert exc.value.code == 0
    assert "2 ok, 0 mismatched" in capsys.readouterr().out


def test_cli_queries_listing(capsys):
    main(["queries"])
    out = capsys.readouterr().out
    assert "dedup_minhash\toracle" in out
    assert "annotate_pipeline\toracle" in out


def test_cli_annotate_thrift_corpus(spark, tmp_path, capsys):
    """--format thrift ingests a reference-serialized corpus directly;
    views already in the records are KEPT (memoization), the missing
    mode is computed."""
    import os

    src = "/root/reference/samplejob/serialized"
    if not os.path.isdir(src):
        pytest.skip("reference samplejob fixtures not present")
    out = str(tmp_path / "from_thrift")
    main(
        ["annotate", "--input", src, "--format", "thrift",
         "--output", out, "--mode", "chunk"]
    )
    assert "annotated 4 records" in capsys.readouterr().out
    back = spark.read.parquet(out)
    rows = {r["identifier"]: r.asDict(recursive=True) for r in back.collect()}
    assert len(rows) == 4
    for rec in rows.values():
        # pre-existing reference views retained + the new chunk view
        assert {"sentences", "tokens", "pos", "chunk"} <= set(rec["label_views"])


def test_cli_compact_store(spark, tmp_path, capsys):
    import glob

    import pyspark.sql.functions as F

    from curatorhadoopinterface_spark.__main__ import main

    store = str(tmp_path / "store")
    df = spark.range(200).select(
        F.md5(F.col("id").cast("string")).alias("identifier"),
        F.col("id").alias("payload"),
    ).withColumn("__bucket", F.substring("identifier", 1, 1))
    # four appends -> many small files per bucket
    for i in range(4):
        df.filter(F.col("payload") % 4 == i).write.mode("append").partitionBy(
            "__bucket"
        ).parquet(store)
    before_files = glob.glob(f"{store}/__bucket=*/part-*")
    before_rows = spark.read.parquet(store).count()
    main(["compact", "--store", store, "--target-files", "16"])
    out = capsys.readouterr().out
    assert "compacted" in out
    after_files = glob.glob(f"{store}/__bucket=*/part-*")
    assert len(after_files) < len(before_files)
    back = spark.read.parquet(store)
    assert back.count() == before_rows
    # one file per bucket directory
    dirs = {f.rsplit("/", 2)[1] for f in after_files}
    assert len(after_files) == len(dirs)


def test_cli_compact_keeps_record_store_buckets(spark, tmp_path, capsys):
    """Compacting a RecordStore keeps its id_bucket layout, so a later
    update that rewrites some buckets leaves the others readable."""
    import glob

    from curatorhadoopinterface_spark.io import records_from_texts
    from curatorhadoopinterface_spark.plans.incremental import RecordStore

    path = str(tmp_path / "store")
    docs = records_from_texts(
        spark, [f"Document {i} says topic {i % 7} matters." for i in range(40)]
    )
    store = RecordStore(spark, path)
    store.provide_incremental(docs, "TOKEN")
    main(["compact", "--store", path, "--target-files", "4"])
    assert "compacted" in capsys.readouterr().out
    store.provide_incremental(docs.limit(10), "POS")

    back = spark.read.parquet(path)
    assert back.select("identifier").distinct().count() == 40
    assert back.count() == 40
    dirs = glob.glob(f"{path}/id_bucket=*/")
    assert dirs and not glob.glob(f"{path}/*.parquet")
    for d in dirs:
        assert len(glob.glob(f"{d}*.parquet")) == 1, d
