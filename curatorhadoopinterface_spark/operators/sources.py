"""Source/sink declared queries (SURVEY.md section 2C rows
``scan_text_corpus`` and ``write_parquet``).

- scan_text_corpus re-expresses A3 raw-text ingestion
  (src/.../CuratorClient.java:406-429 ``createRecordsFromRawInputFiles``):
  build Record rows with content-hash identifiers and empty view maps,
  refusing empty text (CuratorClient.java:527-536 ``addToInputList``).
  The reference identifier is SHA-1 of ``"FLAG:"+whitespaced+":"+text``
  (src/edu/illinois/cs/cogcomp/archive/Identifier.java:63-70); DuckDB has
  no sha1, so THIS declared query uses the same construction under
  sha256 to stay fully value-checked — the true SHA-1 path lives in
  ``io.read_text_corpus`` and is pinned against hashlib in
  tests/test_io.py.

- write_parquet is A5, the serialize sink + read-back verification
  (src/.../CuratorClient.java:473-496 write, HadoopCuratorClient.java:83-104
  post-write re-read check): write the corpus to parquet, read it back,
  return the re-read rows — the oracle compares them to the original
  table, which IS the round-trip equality check.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from curatorhadoopinterface_spark.io import proc_scratch, scratch_dir
from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import load_table


@query(
    "scan_text_corpus",
    oracle="""
    SELECT sha256('FLAG:false:' || text) AS identifier,
           text AS raw_text,
           false AS whitespaced,
           LEN(text) AS n_chars
    FROM documents
    WHERE LEN(text) > 0
    """,
)
def scan_text_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-corpus ingestion: text -> Record rows with content-hash
    identifiers, empty-text rows refused. One narrow projection over the
    scan — ingestion at 100 TB is bounded by read bandwidth, not CPU."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.length("text") > 0)
        .select(
            F.sha2(F.concat(F.lit("FLAG:false:"), F.col("text")), 256).alias(
                "identifier"
            ),
            F.col("text").alias("raw_text"),
            F.lit(False).alias("whitespaced"),
            F.length("text").alias("n_chars"),
        )
    )


@query(
    "write_parquet",
    oracle="SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def write_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink + read-back: write the corpus out, return the
    re-read rows. Matching the oracle (the original table) is exactly
    the reference's post-write round-trip verification
    (HadoopCuratorClient.java:93-97). Scratch output lands in a temp dir
    outside the repo and is removed on the next call."""
    out = proc_scratch("write_parquet")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    d.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@query(
    "scan_binary_records",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS identifier,
           LEN(text) AS n_chars,
           LEN(text) - LEN(REPLACE(text, ' ', '')) + 1 AS n_words
    FROM documents
    WHERE doc_id % 20 = 0
    """,
)
def scan_binary_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A4/A5 serialized-record round trip: write one Thrift
    TBinaryProtocol Record file per document (executor-side, the
    reference's <hash>.txt layout, SerializationHandler.java:39-117) with
    ``write_thrift_records``, re-ingest it with ``read_thrift_records``
    (a ``binaryFile`` scan + Arrow-batched decode, CuratorRecordReader.java:
    24-57), and profile the decoded text. The oracle over the original
    table IS the round-trip equality check. One-file-per-doc is interop
    parity only — at 100 TB the native format stays parquet, and the
    binaryFile scan still parallelizes file-per-task like the
    reference's DirectoryInputFormat."""
    from curatorhadoopinterface_spark.io import read_thrift_records, write_thrift_records

    out = proc_scratch("binary_records")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    write_thrift_records(
        d.select(F.col("doc_id").cast("string").alias("identifier"), F.col("text").alias("raw_text")),
        out,
    )
    back = read_thrift_records(spark, out)
    return back.select(
        "identifier",
        F.length("raw_text").alias("n_chars"),
        (F.length("raw_text") - F.length(F.replace(F.col("raw_text"), F.lit(" "), F.lit(""))) + 1).alias("n_words"),
    )


@query(
    "scan_thrift_records",
    oracle="""
    SELECT * FROM (VALUES
      ('02fa706ba34aeee1a4d7afd0627da3aa251b841f', 1888, 339, 35, 339, false),
      ('631accbe63b5ef429286300f38ccc61a2d0593bf', 3535, 712, 13, 712, false),
      ('9b9208987bf78e4c1f3e8004e8b9b5b0a67db881', 1185, 210, 17, 210, false),
      ('f1e05f878989d070e9eca58cc52081eca4e91b5b',  208,  46,  2,  46, false)
    ) AS t(identifier, n_chars, n_tokens, n_sentences, n_pos, whitespaced)
    """,
)
def scan_thrift_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL reference-corpus interop: ingest the Thrift-binary Records
    the reference itself serialized (samplejob/serialized/<sha1>.txt,
    SerializationHandler.java:39-117 wire format / CuratorRecordReader
    .java:24-57 read path) via the TBinaryProtocol decoder
    (thrift_codec.py) and profile identifier + view cardinalities.

    The oracle is the literal expected table: these four files are fixed
    public artifacts, and every value (identifier = filename = the
    Identifier.java sha1 rule, token/sentence/pos span counts inside the
    label views) is independently pinned by tests/test_thrift_interop.py.
    Falls back to empty (0 rows, same schema) if the reference corpus is
    not mounted."""
    from curatorhadoopinterface_spark.io import read_thrift_records

    corpus = "/root/reference/samplejob/serialized"
    if not os.path.isdir(corpus):
        return spark.createDataFrame(
            [],
            "identifier string, n_chars int, n_tokens int, n_sentences int, n_pos int, whitespaced boolean",
        )
    rec = read_thrift_records(spark, corpus)
    return rec.select(
        "identifier",
        F.length("raw_text").cast("int").alias("n_chars"),
        F.size(F.col("label_views")["tokens"]["labels"]).alias("n_tokens"),
        F.size(F.col("label_views")["sentences"]["labels"]).alias("n_sentences"),
        F.size(F.col("label_views")["pos"]["labels"]).alias("n_pos"),
        "whitespaced",
    )


@query(
    "scan_csv",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS sum_chars
    FROM documents GROUP BY lang, source
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an EXPLICIT schema (no inference pass — a second
    full read at 100 TB) + aggregate over the re-read rows. Free text is
    excluded from the CSV (embedded newlines would force multiLine=true,
    which makes files non-splittable — a scan-parallelism killer)."""
    out = proc_scratch("scan_csv")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "lang", "source", "n_chars").write.mode("overwrite").option(
        "header", "true"
    ).csv(out)
    back = spark.read.schema("doc_id bigint, lang string, source string, n_chars bigint").option(
        "header", "true"
    ).csv(out)
    return back.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


@query(
    "scan_json",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(LEN(text)) AS sum_chars
    FROM documents GROUP BY lang
    """,
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema, free text included (JSON
    escaping survives newlines/quotes, unlike CSV). JSONL stays
    line-splittable, so a 100 TB ingest still fans out by line ranges;
    schema-on-read skips the inference scan."""
    out = proc_scratch("scan_json")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "text", "lang").write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id bigint, text string, lang string").json(out)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("sum_chars"),
    )


@query(
    "write_partitioned",
    oracle="""
    SELECT event_type,
           CAST(ts AS DATE) AS event_date,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY event_type, event_date
    """,
)
def write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet layout: write events partitioned by
    event_date, then read ONE week back and aggregate. The point at
    100 TB is the read side: the date filter matches the directory
    layout, so the scan's PartitionFilters prune 23 of 30 day
    directories BEFORE any file is opened — partition pruning, the
    single highest-leverage layout decision for a time-series store
    (the reference's record store has no layout story at all; every
    lookup walks the full table, CuratorHandler.java record fetch).
    Date, not timestamp, is the partition key: one dir per day keeps
    partition counts bounded (~37k dirs for 100 years) where
    per-hour or per-key layouts explode the metastore."""
    out = proc_scratch("write_partitioned")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    e.write.mode("overwrite").partitionBy("event_date").parquet(out)
    rb = spark.read.parquet(out).filter(
        F.col("event_date").between("2024-01-08", "2024-01-14")
    )
    return rb.groupBy("event_type", "event_date").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "shard_manifest",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_rows,
           SUM(n_chars) AS total_chars,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id,
           SUM(CAST(CONCAT('0x', SUBSTR(MD5(CAST(doc_id AS VARCHAR)
               || ':' || text), 1, 7)) AS BIGINT)) AS content_checksum
    FROM documents
    GROUP BY lang, source
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity manifest — the sidecar a 100 TB writer emits
    with every (lang, source) output shard so downstream ingest can
    verify completeness WITHOUT re-reading payloads: row count, byte
    budget, doc_id key range (enables manifest-level pruning, the
    Iceberg/Delta manifest trick), and an order-INDEPENDENT content
    checksum (SUM of the 28-bit md5 prefix of id:text — commutative, so
    shard-internal row order, task retries, and split boundaries can't
    change it; 28-bit terms keep even billion-row shards ~2^58, far from
    bigint overflow). Pairs with roundtrip_check (A5): that proves one
    write round-trips, this is the artifact that proves it CONTINUOUSLY.

    Plan: pure scan-local column algebra partial-aggregated into the
    |shards|-row manifest — one read, map-side combine, one exchange.
    """
    d = load_table(spark, sf_dir, "documents")
    term = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "text")),
            1,
            7,
        ),
        16,
        10,
    ).cast("bigint")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum(term).alias("content_checksum"),
    )


#: 16-bit x 16-bit Morton interleave: user bits on odd positions, minute
#: bits on even — one higher-order aggregate, pure codegen-able bit math.
_Z_EXPR = (
    "aggregate(sequence(0, 15), cast(0 as bigint),"
    " (acc, i) -> acc"
    " + shiftleft((ub >> i) & 1, 2 * i + 1)"
    " + shiftleft((tb >> i) & 1, 2 * i))"
)


@query(
    "write_zorder",
    oracle="""
    WITH keyed AS (
        SELECT event_type, value,
               user_id AS u,
               FLOOR(EPOCH(ts))::BIGINT // 60 AS t
        FROM events),
    b AS (
        SELECT MIN(u) AS umin, MAX(u) AS umax,
               MIN(t) AS tmin, MAX(t) AS tmax
        FROM keyed),
    scaled AS (
        SELECT event_type, value,
               ((u - b.umin) * 65535) // GREATEST(b.umax - b.umin, 1) AS ub,
               ((t - b.tmin) * 65535) // GREATEST(b.tmax - b.tmin, 1) AS tb
        FROM keyed CROSS JOIN b),
    z AS (
        SELECT event_type, value,
               LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, 15),
                   i -> (((ub >> i) & 1) << (2 * i + 1))
                      + (((tb >> i) & 1) << (2 * i))))::BIGINT AS zvalue
        FROM scaled)
    SELECT zvalue >> 26 AS zbucket,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           MIN(zvalue) AS z_min,
           MAX(zvalue) AS z_max
    FROM z GROUP BY zbucket
    """,
)
def write_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton-curve) clustered write: interleave the bits of
    (user_id, event-minute) into one sort key, range-partition + sort
    the file layout on it, and read back. Points close in the 2-D
    (user, time) plane land in the same files/row groups, so BOTH a
    user-range filter AND a time-range filter prune via parquet min/max
    stats — where a linear ts-sort (write_sorted) skips only on time and
    every row group spans all users. THE multi-dimensional data-skipping
    layout for a 100 TB store queried along more than one axis
    (the Delta/Iceberg OPTIMIZE ZORDER strategy, from public Morton-code
    literature).

    The oracle recomputes the interleave arithmetic independently
    (DuckDB list_transform twin of the Spark aggregate expression) and
    value-checks per-z-bucket census + z-range — so the bit math, not
    just content preservation, is what's graded. The pruning benefit
    itself is pinned by tests/test_zorder.py from actual row-group
    min/max footers.

    Both dimensions are MIN/MAX-SCALED onto the full 16-bit range before
    interleaving (one broadcast bounds row): curve locality lives in the
    HIGH bits, and a dimension that only populates its low bits (e.g.
    user ids 0-1000 in a 16-bit field) contributes nothing to the file
    split — the layout silently degrades to a linear sort on the other
    key. Measured: unscaled = 16/16 candidate row groups for a user
    slice; scaled = the 2-D pruning the pytest pins."""
    out = scratch_dir("write_zorder", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.col("user_id").alias("u"),
        F.expr("unix_timestamp(ts) div 60").alias("t"),
    )
    bounds = e.agg(
        F.min("u").alias("umin"),
        F.max("u").alias("umax"),
        F.min("t").alias("tmin"),
        F.max("t").alias("tmax"),
    )
    z = (
        e.crossJoin(F.broadcast(bounds))
        .withColumn(
            "ub", F.expr("(u - umin) * 65535 div greatest(umax - umin, 1)")
        )
        .withColumn(
            "tb", F.expr("(t - tmin) * 65535 div greatest(tmax - tmin, 1)")
        )
        .withColumn("zvalue", F.expr(_Z_EXPR))
        .drop("u", "t", "ub", "tb", "umin", "umax", "tmin", "tmax")
    )
    (
        z.repartitionByRange(16, "zvalue")
        .sortWithinPartitions("zvalue")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out)
    return back.groupBy(
        F.shiftright("zvalue", 26).alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("zvalue").alias("z_min"),
        F.max("zvalue").alias("z_max"),
    )


@query(
    "scan_jsonl_corrupt",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang,
           COUNT(*) AS n_rows,
           SUM(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END) AS total_chars
    FROM documents
    GROUP BY CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END
    """,
)
def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE ingestion of a JSONL corpus with corrupt lines — the
    failure-budget ingest path (A7's best-effort error column,
    CuratorReducer.java:74-202 "up to 40% may fail" policy, applied to
    the source): every 7th document's JSON line is truncated before the
    read-back, the PERMISSIVE parser nulls its fields and quarantines
    the raw line in ``_corrupt_record``, and the census groups corrupt
    rows under ``lang IS NULL`` instead of failing the job.

    At 100 TB malformed lines are a certainty, and FAILFAST means one
    bad record kills a 6-hour ingest; the scalable contract is exactly
    this: parse what parses, count and quarantine what doesn't. The
    oracle replays the corruption rule (doc_id % 7) relationally.
    """
    import os
    import shutil

    out = proc_scratch("jsonl_corrupt")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    j = "to_json(struct(doc_id, lang, n_chars))"
    corrupted = F.expr(
        f"CASE WHEN doc_id % 7 = 0 THEN substring({j}, 1, length({j}) - 2)"
        f" ELSE {j} END"
    )
    d.select(corrupted.alias("value")).write.mode("overwrite").text(out)
    schema = (
        "doc_id BIGINT, lang STRING, n_chars BIGINT, _corrupt_record STRING"
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           SUM(CASE WHEN generation = 2 THEN 1 ELSE 0 END) AS n_v2,
           SUM(CASE WHEN quality_bucket IS NULL THEN 1 ELSE 0 END) AS n_missing_col,
           SUM(COALESCE(quality_bucket, 0)) AS sum_bucket
    FROM (
        SELECT lang, 1 AS generation, NULL::BIGINT AS quality_bucket
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL BY NAME
        SELECT lang, 2 AS generation, n_chars % 5 AS quality_bucket
        FROM documents WHERE doc_id % 2 = 1)
    GROUP BY lang
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: generation-1 parquet lacks a column that
    generation-2 files carry; a ``mergeSchema`` read reconciles the two
    layouts and old rows surface the new column as NULL — the append-new-
    columns contract every long-lived 100 TB dataset depends on (the
    reference's analogue is open-keyed view maps growing new view names,
    SURVEY §1.3).

    Scale note: mergeSchema=true footer-merges EVERY file's schema — at
    production scale you pin the merged schema in a metastore and pass
    it explicitly (spark.read.schema(...)), which this query's read-back
    demonstrates is equivalent for the old files; the per-file merge
    here is the discovery path, priced at one footer read per file, no
    data scan.
    """
    out = scratch_dir("schema_evo", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select(
        "lang", F.lit(1).alias("generation")
    )
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "lang",
        F.lit(2).alias("generation"),
        (F.col("n_chars") % 5).alias("quality_bucket"),
    )
    v1.write.mode("overwrite").parquet(f"{out}/g1")
    v2.write.mode("overwrite").parquet(f"{out}/g2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/g1", f"{out}/g2"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("generation") == 2, 1).otherwise(0)).alias("n_v2"),
        F.sum(F.when(F.col("quality_bucket").isNull(), 1).otherwise(0)).alias(
            "n_missing_col"
        ),
        F.sum(F.coalesce(F.col("quality_bucket"), F.lit(0))).alias("sum_bucket"),
    )


@query(
    "scan_dynamic_pruning",
    oracle="""
    WITH day AS (
        SELECT CAST(ts AS DATE) AS event_date,
               ROUND(SUM(value), 2) AS day_total
        FROM events GROUP BY event_date),
    hot AS (
        SELECT event_date FROM (
            SELECT event_date,
                   ROW_NUMBER() OVER (ORDER BY day_total DESC, event_date) AS rk
            FROM day)
        WHERE rk <= 10)
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(SUM(e.value), 2) AS sum_value
    FROM events e JOIN hot ON CAST(e.ts AS DATE) = hot.event_date
    GROUP BY e.event_type
    """,
)
def scan_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is date-partitioned on
    disk, and the partition filter is NOT a literal — it is the top-10
    hottest days, known only after the dim subquery runs. Spark injects
    the dim's date set into the fact scan as a runtime partition filter
    (``dynamicpruning`` subquery in the plan), so 20 of 30 day
    directories are never opened even though no static predicate exists.
    At 100 TB this is THE mechanism that makes star-schema joins over
    partitioned facts affordable — static pruning (write_partitioned)
    only covers literal predicates.

    Rank-based hot-day selection (row_number over 30 aggregate rows)
    keeps the dim deterministic — no threshold on a float sum, no
    boundary flips.
    """
    # dir keyed by sf so a run at another scale factor can't read a
    # stale layout; rewritten every call (the write IS part of the op)
    tag = sf_dir.rstrip("/").replace("/", "_")
    out = proc_scratch(f"dpp{tag}")
    shutil.rmtree(out, ignore_errors=True)
    e = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    e.write.mode("overwrite").partitionBy("event_date").parquet(out)
    fact = spark.read.parquet(out)
    from pyspark.sql.window import Window as W

    day = fact.groupBy("event_date").agg(
        F.round(F.sum("value"), 2).alias("day_total")
    )
    hot = (
        day.withColumn(
            "rk",
            F.row_number().over(
                W.orderBy(F.desc("day_total"), F.asc("event_date"))
            ),
        )
        .filter(F.col("rk") <= 10)
        .select("event_date")
    )
    return (
        fact.join(hot, "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "write_codecs",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(LEN(text)) AS total_chars,
           TRUE AS zstd_not_larger
    FROM documents GROUP BY lang
    """,
)
def write_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-codec comparison: the same corpus written snappy vs
    zstd, read back and verified identical, with the on-disk size ratio
    asserted in-query (zstd <= snappy on text — at 100 TB the codec
    knob is a double-digit-percent storage/scan-bandwidth decision;
    snappy buys decode speed, zstd buys density, and the right answer
    is per-table measurement exactly like this).

    The boolean rides the value hash (agg_sketch_hll's self-verifying
    pattern): if zstd ever came out larger on this corpus the TRUE
    flips and the oracle catches it.
    """
    import glob

    out = scratch_dir("codecs", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    d.write.mode("overwrite").option("compression", "snappy").parquet(
        f"{out}/snappy"
    )
    d.write.mode("overwrite").option("compression", "zstd").parquet(
        f"{out}/zstd"
    )
    size = {
        c: sum(
            os.path.getsize(f) for f in glob.glob(f"{out}/{c}/part-*.parquet")
        )
        for c in ("snappy", "zstd")
    }
    back = spark.read.parquet(f"{out}/zstd")
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.lit(size["zstd"] <= size["snappy"]).alias("zstd_not_larger"),
    )


@query(
    "scan_xml",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           SUM(n_chars) AS sum_chars,
           SUM(LEN(text)) AS sum_text_len
    FROM documents GROUP BY source
    """,
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round-trip (Spark 4 native XML, rowTag mode): write
    the documents table out as XML row elements, read it back with an
    EXPLICIT schema (inference would be a second full parse at 100 TB),
    and aggregate the re-read rows — text survives XML escaping
    (&amp;/&lt; round-trip, embedded newlines legal inside elements,
    unlike CSV). rowTag splitting keeps large files scan-parallel by
    element boundaries; the census proves every row and every text
    byte survived the encode/parse cycle.

    The feed-format rationale mirrors A2/A14 (RecordReader + serialized
    -vs-raw detection, CuratorHadoopInterface's input layer): one more
    wire format a drop-in ingest must accept."""
    out = proc_scratch("scan_xml")
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    d.select("doc_id", "text", "source", "n_chars").write.mode(
        "overwrite"
    ).format("xml").option("rowTag", "doc").save(out)
    back = (
        spark.read.schema(
            "doc_id bigint, text string, source string, n_chars bigint"
        )
        .format("xml")
        .option("rowTag", "doc")
        # pin round-trip fidelity: the reader's default trims leading/
        # trailing whitespace inside elements, which would silently break
        # byte parity for texts with boundary whitespace (r8 ADVICE)
        .option("ignoreSurroundingSpaces", "false")
        .load(out)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )
