"""Declared queries over the incremental layer (SURVEY.md A18-A23 —
the reference's most distinctive semantics).

``incremental_staleness`` drives the REAL engine expressions
(plans/incremental.stale_views_col + remove_stale_views) end-to-end:
annotate a corpus, perturb view versions deterministically, then let the
version-compare (CuratorHandler.updateRequired, :816-896) and cascading
invalidation (cascadeRemoveStaleFields, :600-644) decide what survives.
The oracle restates the DAG's answer independently:

- doc_id%4==0: tokens downgraded to 0.9 -> stale; POS requires TOKEN
  (AnnotationMode.java:214-216), so the cascade drops pos too; ner
  survives (NER requires nothing, :202-204).
- doc_id%4==1: all fresh -> nothing drops.
- doc_id%4==2: ner downgraded -> ner drops; its dependents (COREF,
  WIKI) are not present, so nothing cascades.
- doc_id%4==3: pos downgraded -> pos drops; its dependents (CHUNK,
  COREF, WIKI, SRL) are not present.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import load_table


@query(
    "incremental_staleness",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN ['tokens'] WHEN 2 THEN ['ner']
                           WHEN 3 THEN ['pos'] ELSE [] END AS stale_views,
           CASE doc_id % 4 WHEN 0 THEN ['ner']
                           WHEN 1 THEN ['ner', 'pos', 'tokens']
                           WHEN 2 THEN ['pos', 'tokens']
                           ELSE ['ner', 'tokens'] END AS views_after,
           CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 2 END
               AS n_views_after
    FROM documents
    """,
)
def incremental_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version staleness + cascading invalidation on real annotated
    records: downgrade one view's source version per doc (mod-4
    pattern), run the engine's stale/cascade column expressions, report
    what survived. All JVM-side map_filter/transform algebra over the
    nested view maps — no Python round-trip, so at 100 TB invalidation
    is a metadata-speed scan."""
    from curatorhadoopinterface_spark.plans.incremental import (
        remove_stale_views,
        stale_views_col,
        view_count_col,
    )
    from curatorhadoopinterface_spark.plans.provide import provide

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("raw_text")
    )
    ann = provide(d, ["POS", "NER"])

    def downgraded(k, v):
        m = F.col("doc_id") % 4
        new_src = (
            F.when((m == 0) & (k == "tokens"), F.lit("enginetok-0.9"))
            .when((m == 2) & (k == "ner"), F.lit("enginener-0.5"))
            .when((m == 3) & (k == "pos"), F.lit("enginepos-0.2"))
            .otherwise(v.getField("source"))
        )
        return v.withField("source", new_src)

    perturbed = ann.withColumn(
        "label_views", F.transform_values("label_views", downgraded)
    )
    cleaned = remove_stale_views(
        perturbed.withColumn(
            "stale_views", F.array_sort(stale_views_col(perturbed))
        )
    )
    return cleaned.select(
        "doc_id",
        "stale_views",
        F.array_sort(F.map_keys("label_views")).alias("views_after"),
        view_count_col(cleaned.drop("parse_views", "cluster_views")).alias(
            "n_views_after"
        ),
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — the manual skew treatment for keys
    too hot even for AQE's skew-join splitting (SCALE.md playbook row 1).
    Phase 1 shuffles on (key, salt16) so one hot key spreads over 16
    reducers; phase 2 merges the 16 partials per key. Same answer as the
    plain group-by (the oracle), ~16x the parallelism on a hot key. The
    salt must be deterministic row data (here event_id % 16), never
    rand(): retries/speculation would double-count otherwise."""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", (F.col("event_id") % 16).cast("int"))
        .groupBy("event_type", "__salt")
        .agg(F.count("*").alias("pn"), F.sum("value").alias("pv"))
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), F.round(F.sum("pv"), 4).alias("total")
    )


@query(
    "store_compaction",
    oracle="""
    WITH store AS (
        SELECT sha256('FLAG:false:' || text) AS identifier,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens
        FROM documents)
    SELECT SUBSTRING(identifier, 1, 1) AS bucket,
           COUNT(*) AS n_records,
           SUM(n_tokens) AS total_tokens
    FROM store GROUP BY bucket
    """,
)
def store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-store small-file compaction: eight incremental appends
    leave each hash bucket littered with per-batch files (exactly what
    streaming upserts produce — the 100 TB small-file problem: NameNode
    pressure + one task per tiny file); the compaction pass rewrites
    every bucket to ONE size-packed file without changing a byte of
    content. The census the oracle checks is computed from the COMPACTED
    read-back, so content preservation IS the value check
    (file-count reduction is pinned by tests/test_incremental.py).

    Scale shape: compaction is one shuffle keyed by the partition column
    (each bucket collapses into exactly one task's output via hash
    placement), dynamic partition overwrite rewrites only data files —
    at production scale you run it bucket-subset at a time, bounded by
    the same partition pruning write_partitioned demonstrates.
    """
    import shutil

    from curatorhadoopinterface_spark.io import scratch_dir

    out = scratch_dir("store_compact", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents")
    store = d.select(
        F.sha2(F.concat(F.lit("FLAG:false:"), F.col("text")), 256).alias(
            "identifier"
        ),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.substring("identifier", 1, 1).alias("bucket"),
    ).withColumn("bucket", F.substring("identifier", 1, 1))
    # eight incremental appends -> many small files per bucket
    for i in range(8):
        store.filter(F.crc32(F.col("identifier")) % 8 == i).write.mode(
            "append"
        ).partitionBy("bucket").parquet(out)
    # compaction: hash-place each bucket into exactly one task
    compacted_dir = out + "_compacted"
    shutil.rmtree(compacted_dir, ignore_errors=True)
    spark.read.parquet(out).repartition(16, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(compacted_dir)
    back = spark.read.parquet(compacted_dir)
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_tokens").alias("total_tokens"),
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 4) AS total,
           ROUND(MIN(value), 4) AS vmin,
           ROUND(MAX(value), 4) AS vmax,
           ROUND(ROUND(SUM(value), 4) / COUNT(*), 6) AS vavg
    FROM events GROUP BY event_type
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance by PARTIAL-AGGREGATE MERGE: the
    materialized summary of yesterday's data plus today's delta summary
    combine into exactly the full-recompute answer — provided every
    statistic is stored in its mergeable form (count+sum, min, max;
    avg is DERIVED at read time, never stored, because averages don't
    merge). The oracle IS the full recompute, so the merge identity is
    value-checked.

    Scale shape: the whole point at 100 TB — the delta scan touches only
    new data; the stored summary is group-cardinality-sized. Each side
    partial-aggregates independently (map-side combine) and the merge is
    a tiny group-keyed union+re-aggregate, the same algebra Spark's own
    partial/final hash aggregation uses between stages (SURVEY §2C
    "agg: partial+final").
    """
    e = load_table(spark, sf_dir, "events")
    base = e.filter(F.col("event_id") % 10 != 0)  # "yesterday's" store
    delta = e.filter(F.col("event_id") % 10 == 0)  # today's arrivals

    def summarize(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    merged = (
        summarize(base)
        .unionByName(summarize(delta))
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("s"), 4).alias("total"),
            F.round(F.min("mn"), 4).alias("vmin"),
            F.round(F.max("mx"), 4).alias("vmax"),
        )
    )
    return merged.select(
        "event_type",
        "n",
        "total",
        "vmin",
        "vmax",
        F.round(F.col("total") / F.col("n"), 6).alias("vavg"),
    )


@query(
    "incremental_provide_run",
    oracle="""
    WITH retoks AS (
        SELECT doc_id,
               UNNEST(REGEXP_EXTRACT_ALL(text,
                   '\\.\\.\\.|--|[A-Za-z0-9]+(-[A-Za-z0-9]+)*|''[A-Za-z]+|[^A-Za-z0-9\\s]'))
                   AS token
        FROM documents),
    toks AS (SELECT doc_id, COUNT(*) AS n_tokens FROM retoks GROUP BY doc_id)
    SELECT d.lang,
           COUNT(*) AS n_records,
           SUM(t.n_tokens) AS total_tokens,
           COUNT(*) * 2 AS total_views
    FROM documents d JOIN toks t USING (doc_id)
    GROUP BY d.lang
    """,
)
def incremental_provide_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE memoized loop (A18-A21) as one checked run:
    batch 1 annotates half the corpus into a fresh record store; batch 2
    submits the FULL corpus — the first half are cache hits (their
    stored views are reused, per CuratorHandler.getRecord :468-527
    semantics), only the new half pays the annotation UDF; the
    enriched records upsert back by view count (A18). The census the
    oracle checks is read BACK from the store, so hit reuse, miss
    annotation, and the upsert all had to compose correctly for the
    token totals to match the SQL twin.

    Scale shape: the cache path is an identifier-keyed semi join plus
    left join against the bucketed store (SURVEY §1.4 record-store
    row); only rows whose views do not yet cover the request enter the
    fused mapInArrow stage, so incremental cost tracks NEW data — the
    entire point of the reference's architecture.
    """
    import os
    import shutil
    import tempfile

    from curatorhadoopinterface_spark.io import proc_scratch
    from curatorhadoopinterface_spark.plans.incremental import (
        RecordStore,
        view_count_col,
    )

    tag = sf_dir.rstrip("/").replace("/", "_")
    path = proc_scratch(f"provide_run{tag}")
    shutil.rmtree(path, ignore_errors=True)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.col("doc_id").cast("string").alias("identifier"),
        F.col("text").alias("raw_text"),
    )
    store = RecordStore(spark, path)
    # batch 1: half the corpus
    store.provide_incremental(d.filter(F.col("doc_id") % 2 == 0), "POS")
    # batch 2: the full corpus — the first half must be cache hits
    store.provide_incremental(d, "POS")
    back = store.load()
    return (
        back.select(
            "lang",
            F.size(F.col("label_views")["tokens"]["labels"]).alias("n_tokens"),
            view_count_col(back).alias("n_views"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_views").alias("total_views"),
        )
    )


@query(
    "incremental_join_maintenance",
    oracle="""
    WITH full_v AS (
        SELECT c.c_mktsegment,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2)
                    AS DOUBLE) AS revenue
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment)
    SELECT c_mktsegment, n, revenue,
           TRUE AS counts_match, TRUE AS revenue_matches
    FROM full_v ORDER BY c_mktsegment
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MAINTENANCE of a join view — the A22 staleness model
    applied to a materialized orders-by-segment rollup: the engine
    materializes the view over the orders BEFORE a cutoff date, then a
    "new batch" (orders at/after the cutoff) arrives and is maintained
    in DELTA form — join only the delta against the customer dimension
    and merge distributive partials (count adds, DECIMAL sum adds) —
    never re-touching the historical fact rows. The result is compared
    IN-QUERY against a full recompute: counts_match / revenue_matches
    must read TRUE, and the oracle pins both the values and the flags
    (a drifting delta-merge fails the hash; the A19 re-verification
    discipline applied to view maintenance).

    Exactness: revenue in exact DECIMAL(18,2) on both paths before the
    final 2dp round (the flagship_pricing_summary policy), so
    delta-merge order cannot drift a cent; counts are integers.

    Scale shape: the maintained path joins ONLY |delta| fact rows
    against the broadcast-able dimension and merges |segments|-row
    partials — at 100 TB/day this is the difference between touching
    a day and touching a decade; the full recompute exists here as
    the verification rung (in production it's the A19 audit run, not
    the steady state)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cutoff = "1996-01-01"

    def rollup(orders):
        return (
            orders.join(c, orders["o_custkey"] == c["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.col("o_totalprice").cast("decimal(18,2)")
                ).alias("rev_dec"),
            )
        )
    matview = rollup(o.where(F.col("o_orderdate") < cutoff))
    delta = rollup(o.where(F.col("o_orderdate") >= cutoff))
    maintained = (
        matview.unionAll(delta)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n_m"),
            F.sum("rev_dec").alias("rev_m"),
        )
    )
    full_v = rollup(o).select(
        "c_mktsegment",
        F.col("n").alias("n_f"),
        F.col("rev_dec").alias("rev_f"),
    )
    return (
        full_v.join(maintained, "c_mktsegment")
        .select(
            "c_mktsegment",
            F.col("n_f").alias("n"),
            F.round(F.col("rev_f"), 2).cast("double").alias("revenue"),
            (F.col("n_f") == F.col("n_m")).alias("counts_match"),
            (F.col("rev_f") == F.col("rev_m")).alias("revenue_matches"),
        )
        .orderBy("c_mktsegment")
    )
