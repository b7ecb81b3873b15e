"""SparkSession builder + table loading.

Scale notes (100 TB target): the session defaults below are tuned so the
same logical plans survive a 1000-executor deployment:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy demotion to broadcast when a side turns out small).
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces. For a real cluster set it to ~2-3x total cores.
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are deployment-independent.
- Arrow enabled for every pandas interchange (annotator UDFs are
  Arrow-vectorized; row-at-a-time Python UDFs are banned in hot paths).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the directory that holds this package, for the Python workers' path
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "curatorhadoopinterface-spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or ``*``.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
    else:
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing targets BYTES per partition; with CPU-dense,
        # small-byte stages (shingle explodes, per-row md5 chains, window
        # functions over narrow rows) the 64 MB default collapses the
        # exchange to ONE partition and serializes the stage onto one
        # core. MEASURED r9 (interleaved idle A/B at sf0.1/local[32]):
        # 512 KB advisory + 64 KB floor → dedup_span_removal 3.78→1.53 s,
        # dedup_substring_windows 3.15→1.40 s, winsorize_stats 3.79→2.05 s,
        # iterative graph ops flat. Parameterised: at production scale the
        # bytes-per-partition target should be 64-256 MB (guide §2.2 —
        # fewer, larger reduce partitions; bytes are a good CPU proxy once
        # rows carry real payloads), so deployments set
        # SPARK_GRAFT_ADVISORY_PARTITION=256m / SPARK_GRAFT_MIN_PARTITION=1m.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "512k"),
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_MIN_PARTITION", "64k"),
        )
        # Initial exchange width, AQE coalesces down. MEASURED r9 (clean
        # idle-machine A/B on graph_copurchase_topk, the suite's widest
        # pair agg): 256-wide initial partitions made BOTH rungs slower
        # absolute (sf10 46.6->56.2s, sf30 118->137s) — at local[32] the
        # 32-wide default wins and the r8 "linear-plus" reading was
        # machine contention (2.53x at 3x data when idle), not agg-hash
        # pressure. On a real 1000-executor cluster set this env to
        # ~2-3x total cores; locally it stays at the shuffle width.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", "32"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level bloom pruning: a selective dim-side filter
        # becomes a bloom filter applied at the fact-side SCAN before the
        # join shuffle — at 100 TB this is the difference between
        # shuffling the whole fact table and shuffling the matching slice
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch cap sized for HEAVY nested outputs (annotation
        # views: parse forests ~0.1-0.2 MB/doc post-annotation). The 10k
        # default builds GB-scale pandas frames per worker on the
        # provide() pipeline — measured at 30x docs: STANFORD_PARSE
        # 25.7s @10k -> 16.2s @500 batch, with bounded worker RSS.
        # 2000 balances per-batch overhead for the scalar-frame UDFs.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # events.parquet carries TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import the engine from any working directory, and are
        # forked by a daemon whose tasks skip re-reading unchanged zips
        # (see _worker_daemon)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.python.daemon.module", "curatorhadoopinterface_spark._worker_daemon")
    )
    return builder.getOrCreate()


# Session-scoped PLAN-HANDLE cache for load_table: every
# spark.read.parquet call pays file-status resolution + parquet FOOTER
# schema inference + several py4j round trips, and the declared
# queries re-read the same ten fixture tables. Measured share with the
# cache on (perfbench queries workload, traced, seed 1, 4-core host):
# median 0.76 ms x 1.25 calls per op against a 1.14 s mean op, ~0.1% of
# op time. The cache memoizes the lazy DataFrame HANDLE (an unexecuted
# logical plan), NOT any data or result: every action on it still scans
# parquet from disk. Each session's dict is keyed by path and holds
# (mtime_ns, size, df), so a rewritten fixture (stress regeneration,
# scratch stores) re-reads, re-infers and REPLACES its entry — one
# entry per path, never one per version. Directory datasets bypass the
# cache (a directory's own stat does not change when a part file is
# rewritten). Entries live as long as the process (a cached DataFrame
# holds its session, so not even a weak key could drop them); the bound
# is sessions x distinct paths.
_TABLE_CACHE: dict[SparkSession, dict[str, tuple]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one star-schema table (SURVEY.md section 2C row ``scan_parquet``).

    Parquet gives predicate pushdown + column pruning for free; the
    reference's DirectoryInputFormat (one split per file,
    DirectoryInputFormat.java:33-65) is replaced by Spark's size-packed
    file splits.

    TIMESTAMP(NANOS) columns (the ``events.ts`` stream clock) are read as
    nanos-since-epoch longs and truncated to microsecond timestamps —
    the same truncation DuckDB applies, so oracles agree.
    """
    # set at runtime too so the driver's own (vanilla) session works
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path)
        stamp = None if stat.S_ISDIR(st.st_mode) else (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # nonexistent yet / unstat-able: let Spark raise below
    per_session = _TABLE_CACHE.setdefault(spark, {})
    hit = per_session.get(path)
    if stamp is not None and hit is not None and hit[:2] == stamp:
        return hit[2]
    df = spark.read.parquet(path)
    import pyspark.sql.functions as F

    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and field.dataType.simpleString() == "timestamp_ntz":
            # parquet written without isAdjustedToUTC (e.g. DuckDB COPY)
            # reads as NTZ; cast to session-TZ (UTC) timestamp so event
            # time works everywhere (watermarks require TIMESTAMP)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if stamp is not None:
        per_session[path] = (*stamp, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every fixture table as a dict of DataFrames."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def ensure_min_partitions(df: DataFrame) -> DataFrame:
    """Spread a small scan over all cores before CPU-bound column work.

    A corpus that parquet packs into fewer splits than there are cores
    leaves most executors idle (the 1-partition/1-core trap). Detection
    runs no job: for a file scan the expected split count is bounded
    below by max(#input files, scan bytes / maxPartitionBytes)
    from Catalyst's plan statistics. At 100 TB either bound vastly
    exceeds core count and this is a no-op; repartition fires only when
    the whole scan provably packs under ``defaultParallelism`` splits.

    A plan that reads no files (a checkpoint, a local relation) has no
    split estimate. When it runs no exchange (its physical plan is not
    adaptive), its RDD is built without a job, and that RDD's partition
    count is the split count: a checkpoint already spread over every
    core passes through with no shuffle.
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        qe = df._jdf.queryExecution()
        n_files = len(df.inputFiles())
        if n_files:
            size_bytes = int(qe.optimizedPlan().stats().sizeInBytes())
            # 128 MiB: spark.sql.files.maxPartitionBytes default; a
            # conservative (over-)estimate of split granularity is fine
            # — we only need a lower bound on split count to prove the
            # scan is small
            est_splits = max(n_files, size_bytes // (128 * 1024 * 1024))
        else:
            plan = qe.executedPlan()
            adaptive = plan.nodeName() == "AdaptiveSparkPlan"
            est_splits = 0 if adaptive else plan.execute().getNumPartitions()
    except Exception:
        return df.repartition(parallelism)
    if est_splits < parallelism:
        return df.repartition(parallelism)
    return df
