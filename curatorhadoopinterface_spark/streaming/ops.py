"""Streaming operators over the ``events`` table (SURVEY.md section 2C:
stream_file_source, stream_window_agg, stream_session, stream_watermark,
stream_dedup).

Each declared query runs a REAL Structured Streaming job — file source →
transformations → memory sink, `Trigger.AvailableNow` — inside the
callable, then returns the sink contents as a DataFrame. That keeps the
driver contract (callable returns a collectable DataFrame) while the
computation itself exercises the streaming engine: micro-batch planning,
state store, watermark advancement, and the closing no-data batch that
flushes append-mode results.

Oracle-checkability rests on semantics that are exactly reproducible in
batch SQL:

- tumbling window  = ``date_trunc`` group-by;
- sliding window   = each event belongs to exactly window/slide buckets
  (UNNEST of the candidate window starts);
- session window   = gaps-and-islands (LAG + running sum of gap>30min
  flags), session end = last event + gap — Spark's session_window end
  semantics (SessionWindow docs);
- watermark/append = only windows with ``window.end <= max(ts) - delay``
  have been closed by the final watermark when the stream drains;
- stateful dedup   = first-arrival per key, projected onto the key
  columns so the surviving row set is order-independent (DISTINCT).

Reference analogues: the dedup is the content-hash memoization of
CuratorHandler.getRecord (modified_files_in_curator/.../CuratorHandler.java:468-527);
the file source is the JobHandler "new batch of documents arrives" loop
(src/.../infrastructure/JobHandler.java:149-194) made continuous.

Scale notes (100 TB): the file source lists incrementally and carries
per-file offsets in the checkpoint — at production scale the same plans
run against a real directory of arriving parquet with
``maxFilesPerTrigger`` bounding batch size. State (window aggs, dedup
keys) is partitioned by grouping key across executors via the HDFS/ROCKSDB
state store; watermarking bounds state growth for append mode and
``dropDuplicatesWithinWatermark`` evicts dedup keys older than the delay.
"""

from __future__ import annotations

import contextlib
import itertools

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from curatorhadoopinterface_spark.io import proc_scratch
from curatorhadoopinterface_spark.operators import query
from curatorhadoopinterface_spark.session import event_time

_SINK_IDS = itertools.count()

GAP = "30 minutes"
DELAY = "1 hour"


@contextlib.contextmanager
def stream_width(spark: SparkSession):
    """Scope ``spark.sql.shuffle.partitions`` down to the streaming
    state width for the duration of a query start+drain.

    Stateful streaming operators keep ONE state store instance per
    shuffle partition, and every micro-batch commits every instance
    (delta file + snapshot bookkeeping) even when it holds a handful of
    keys — at bench scale the 32-wide default spends more wall time on
    state-store commit IO than on the operator (stream_outer_join: 4
    store instances x 32 partitions x 2 batches). State width is also
    UNCHANGEABLE after the first checkpoint, so real deployments pin it
    explicitly per stream rather than inheriting the batch shuffle
    width. ``SPARK_GRAFT_STREAM_PARTITIONS`` (default 8) is that pin:
    raise it at production scale (state then spreads across executors);
    batch queries in the same session are untouched — the conf is
    restored once the drain returns."""
    import os

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(
        key, os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS", "8")
    )
    try:
        yield
    finally:
        spark.conf.set(key, old)

# Per-process log of completed availableNow drains: one entry per
# micro-batch, from StreamingQueryProgress. Wall time of a drain is
# mostly trigger/watermark ORCHESTRATION latency; per-batch
# triggerExecution is the number that regresses when an operator inside
# the stream regresses — profile.profile() reads it around each query
# and bench.py versions it in BENCH_DETAIL.json.
BATCH_LOG: list[dict] = []


def _log_progress(q) -> None:
    try:
        for p in q.recentProgress:
            BATCH_LOG.append(
                {
                    "batch_id": p.get("batchId"),
                    "trigger_ms": (p.get("durationMs") or {}).get(
                        "triggerExecution"
                    ),
                    "rows": p.get("numInputRows"),
                }
            )
    except Exception:
        pass  # instrumentation only — never fail the drain for it


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table (stream_file_source core).

    The schema comes from a batch peek (streaming file sources require an
    explicit schema); ``ts`` follows session.event_time, the rule
    session.load_table applies, so streaming and batch plans agree.
    """
    return event_time(
        spark,
        lambda: spark.readStream.schema(spark.read.parquet(f"{sf_dir}/events.parquet").schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
    )


def run_to_sink(df: DataFrame, output_mode: str, timeout_s: int = 300) -> DataFrame:
    """Drain a streaming DataFrame through a memory sink with
    Trigger.AvailableNow and return the materialized result.

    AvailableNow processes every file already present, then runs the
    final no-data micro-batch that advances the watermark past the last
    event — which is what flushes closed windows / expires dedup state in
    append mode before the query stops.
    """
    name = f"stream_sink_{next(_SINK_IDS)}"
    with stream_width(df.sparkSession):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        # availableNow overran the drain budget: stop rather than read a
        # partially written sink back as if it were complete
        q.stop()
        raise TimeoutError(
            f"streaming drain exceeded {timeout_s}s for sink {name}"
        )
    _log_progress(q)
    return df.sparkSession.table(name)


def drain_query(q, timeout_s: int = 300) -> None:
    """Await an availableNow query's own termination, surfacing BOTH
    failure modes: a query exception, and an overrun of the drain budget
    (awaitTermination returning False) — falling through on timeout
    would read a partially written sink/store back as if complete."""
    finished = q.awaitTermination(timeout_s)
    if q.exception() is not None:
        raise q.exception()
    if not finished:
        q.stop()
        raise TimeoutError(f"streaming drain exceeded {timeout_s}s")
    _log_progress(q)


@query(
    "stream_file_source",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_type = 'click' AND value > 10
    """,
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source ingestion with a pushed filter: the streaming analogue
    of A1/A3 (DirectoryInputFormat.java:33-65 / JobHandler.java:149-194).
    Append mode — every matching row flows through exactly once."""
    src = events_stream(spark, sf_dir)
    out = src.filter((F.col("event_type") == "click") & (F.col("value") > 10)).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return run_to_sink(out, "append")


@query(
    "stream_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM events GROUP BY win_start, event_type
    """,
)
def stream_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation, complete mode. State is
    partitioned by (window, event_type); partial aggregation happens
    map-side per micro-batch before the state-store merge."""
    src = events_stream(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )
    out = agg.select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total"
    )
    return run_to_sink(out, "complete")


@query(
    "stream_sliding_agg",
    oracle="""
    WITH cand AS (
        SELECT value,
               UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
                       time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
                   AS win_start
        FROM events)
    SELECT win_start, COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM cand GROUP BY win_start
    """,
)
def stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour, 30-minute slide): each event lands in
    exactly window/slide = 2 windows. The oracle enumerates the two
    candidate starts per event explicitly — same multiset, same totals."""
    src = events_stream(spark, sf_dir)
    agg = src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )
    out = agg.select(F.col("win.start").alias("win_start"), "n", "total")
    return run_to_sink(out, "complete")


@query(
    "stream_session",
    oracle=f"""
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w > INTERVAL {GAP}
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM o)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {GAP} AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user: Spark merges
    overlapping per-event candidate sessions in the state store; the
    batch oracle derives identical islands with LAG + running sum.
    Session end = last event + gap (session_window semantics)."""
    src = events_stream(spark, sf_dir)
    sess = (
        src.withWatermark("ts", DELAY)
        .groupBy(F.session_window("ts", GAP).alias("sw"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    out = sess.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
        "total_value",
    )
    return run_to_sink(out, "complete")


@query(
    "stream_watermark",
    oracle=f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL {DELAY} AS w FROM events)
    SELECT date_trunc('hour', ts) AS win_start, event_type,
           COUNT(*) AS n, ROUND(SUM(value), 4) AS total
    FROM events
    GROUP BY win_start, event_type
    HAVING win_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked append-mode window agg: only windows the final
    watermark (max event time - 1 hour) has closed are emitted; the last
    hour of open windows stays in state. This is the late-data contract —
    events later than the delay would be dropped, closed results are
    final. The oracle replays the same eviction rule in batch."""
    src = events_stream(spark, sf_dir)
    agg = (
        src.withWatermark("ts", DELAY)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
    )
    out = agg.select(
        F.col("win.start").alias("win_start"), "event_type", "n", "total"
    )
    return run_to_sink(out, "append")


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type): the streaming
    form of the reference's content-hash memoization (first arrival wins,
    CuratorHandler.java:468-527). Projected onto the key columns the
    kept-row set is exactly DISTINCT, independent of arrival order.
    Watermarked so key state is evictable at scale."""
    src = events_stream(spark, sf_dir)
    out = (
        src.withWatermark("ts", DELAY)
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_sink(out, "append")


@query(
    "stream_stateful_count",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-user
    running (count, sum) held in explicit state across micro-batches —
    the escape hatch for stateful semantics the built-in windows can't
    express (arbitrary per-key accumulators, custom eviction). Update
    mode emits each key's latest accumulator per batch; with the stream
    drained the final emission per key equals the batch aggregate (the
    oracle). State is partitioned by the grouping key across executors
    exactly like the built-in aggs; at scale, pair with state TTL
    (GroupStateTimeout) so abandoned keys evict."""
    import pandas as pd
    from pyspark.sql.types import StructType

    src = events_stream(spark, sf_dir)
    out_t = StructType.fromDDL("user_id bigint, n_events bigint, total double")
    st_t = StructType.fromDDL("cnt bigint, tot double")

    def track(key, pdfs, state):
        cnt, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((cnt, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "total": [round(tot, 4)]}
        )

    res = src.groupBy("user_id").applyInPandasWithState(
        track, out_t, st_t, "update", "NoTimeout"
    )
    return run_to_sink(res, "update")


@query(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, e.event_id AS error_id, c.user_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND e.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to the errors the same
    user hit in the preceding hour. Both sides are watermarked and the
    join condition carries explicit event-time bounds, so each side's
    state store holds only one watermark-delay's worth of rows — the
    requirement for an unbounded 100 TB/day join to run in bounded
    memory. With AvailableNow draining both sides fully, the emitted
    pairs equal the batch join (the oracle)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", DELAY)
    )
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", DELAY)
    )
    j = clicks.join(
        errors,
        F.expr(
            "user_id = err_user AND "
            "error_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"
        ),
    ).select("click_id", "error_id", "user_id")
    return run_to_sink(j, "append")


@query(
    "stream_outer_join",
    oracle="""
    WITH clicks AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts
        FROM events WHERE event_type = 'click'),
    errors AS (
        SELECT event_id AS error_id, user_id AS err_user, ts AS error_ts
        FROM events WHERE event_type = 'error'),
    wm AS (SELECT LEAST((SELECT MAX(click_ts) FROM clicks),
                        (SELECT MAX(error_ts) FROM errors))
                  - INTERVAL 1 HOUR AS w),
    joined AS (
        SELECT c.click_id, e.error_id, c.user_id, c.click_ts
        FROM clicks c LEFT JOIN errors e
          ON c.user_id = e.err_user
         AND e.error_ts BETWEEN c.click_ts - INTERVAL 1 HOUR AND c.click_ts)
    SELECT click_id, error_id, user_id
    FROM joined CROSS JOIN wm
    WHERE click_ts <= wm.w - INTERVAL 1 MINUTE
    """,
)
def stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click pairs with the errors
    its user hit in the preceding hour, and clicks with NO such error
    still emit — with a NULL error side — once the watermark proves no
    future match can arrive. This is the semantics inner joins can't
    give you (the unmatched side needs a point-of-no-return, which IS
    the watermark): at 100 TB/day it's how you produce a COMPLETE
    enriched click log, not just the matched subset.

    Null-extension timing: a left row emits its NULL match only when
    the combined watermark passes the row's last possible match time,
    so clicks inside the final watermark delay are still open when
    AvailableNow drains. Both engines therefore restrict the compared
    result to clicks at least one watermark-delay (+1 min guard band
    against boundary-strictness differences) behind max(ts) — the
    closed region, where streaming and batch left-join agree exactly.
    State bound: one delay's rows per side, same as stream_stream_join
    (eviction itself is pinned by the progress-metrics pytest)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", DELAY)
    )
    errors = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("error_ts"),
        )
        .withWatermark("error_ts", DELAY)
    )
    j = clicks.join(
        errors,
        F.expr(
            "user_id = err_user AND "
            "error_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"
        ),
        "leftOuter",
    ).select("click_id", "error_id", "user_id", "click_ts")
    drained = run_to_sink(j, "append")
    # batch-side replica of the COMBINED final watermark: Spark takes the
    # min of the per-side watermarks (each side's max event time - delay),
    # so the closed region ends at min(max click_ts, max error_ts) - 1h
    from curatorhadoopinterface_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    w = ev.agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "error", F.col("ts"))),
            )
            - F.expr("INTERVAL 1 HOUR")
            - F.expr("INTERVAL 1 MINUTE")
        ).alias("w")
    )
    return (
        drained.crossJoin(F.broadcast(w))
        .filter(F.col("click_ts") <= F.col("w"))
        .select("click_id", "error_id", "user_id")
    )


@query(
    "stream_sink_parquet",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
    FROM events WHERE value > 5 GROUP BY event_type
    """,
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once parquet file sink: filtered stream → parquet files +
    _spark_metadata transaction log + checkpoint, then a batch read-back
    and aggregate over what landed. The metadata log is what makes the
    sink exactly-once under retries (readers only see committed files) —
    the streaming twin of A5's write-then-verify
    (HadoopCuratorClient.java:83-104)."""
    import os
    import shutil
    import tempfile

    base = proc_scratch("stream_sink")
    shutil.rmtree(base, ignore_errors=True)
    out, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    src = events_stream(spark, sf_dir).filter(F.col("value") > 5).select(
        "event_id", "event_type", "value"
    )
    with stream_width(spark):
        q = (
            src.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")
    )


@query(
    "stream_upsert_store",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events)
    SELECT user_id,
           n AS n_events,
           event_id AS last_event_id,
           ROUND(value, 2) AS last_value
    FROM ranked WHERE rk = 1
    """,
)
def stream_upsert_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert into a record store via ``foreachBatch`` — the
    streaming twin of the incremental layer's A18/A21 semantics
    (CuratorClient.java:581-651 upsert-by-view-count, made continuous).

    Log-structured merge-on-read, the only upsert that scales without a
    transactional store: each micro-batch APPENDS a per-user partial
    (latest event by (ts, event_id) via one max_by struct + a count) —
    never read-modify-write, so batches cannot corrupt each other under
    retries — and the read side compacts deltas with a latest-wins
    window. The result is invariant to how the stream was chopped into
    batches: per-user latest is a global max and the count is a sum of
    partials (the oracle is plain batch SQL over events).

    Multi-batch is forced for real: the source is staged into 4 parquet
    files and read with maxFilesPerTrigger=1, so 4 separate foreachBatch
    deltas land in the store before compaction.
    """
    import os
    import shutil
    import tempfile

    base = proc_scratch("stream_upsert")
    shutil.rmtree(base, ignore_errors=True)
    staged = os.path.join(base, "staged")
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")

    # stage the batch table as 4 files so availableNow yields 4 batches
    from curatorhadoopinterface_spark.session import load_table

    load_table(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(staged)
    schema = spark.read.parquet(staged).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )

    def upsert(batch_df, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "value")).alias("last"),
            F.count("*").alias("n"),
        )
        delta.select(
            "user_id",
            F.col("last.ts").alias("last_ts"),
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.value").alias("last_value"),
            "n",
        ).write.mode("append").parquet(store)

    with stream_width(spark):
        q = (
            src.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)

    deltas = spark.read.parquet(store)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts"), F.desc("last_event_id")
    )
    return (
        deltas.withColumn("rk", F.row_number().over(w))
        .withColumn("n_events", F.sum("n").over(Window.partitionBy("user_id")))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "n_events",
            "last_event_id",
            F.round("last_value", 2).alias("last_value"),
        )
    )


@query(
    "stream_annotate",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           SUM(LEN(STRING_SPLIT(text, ' '))) AS total_tokens,
           SUM(LENGTH(REGEXP_REPLACE(text, '[^.!?]', '', 'g'))) AS total_sentence_marks
    FROM documents GROUP BY lang
    """,
)
def stream_annotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's top-level loop made continuous: documents arrive
    as a stream and flow through the annotation fast path into an
    append-only record store (SURVEY §1.4 "document stream" row — the
    JobHandler's poll-for-new-batches loop, JobHandler.java:149-194,
    replaced by a Structured Streaming source).

    The per-document annotation uses the A25 whitespace fast path
    (CuratorHandler.java:1054-1075 wsprovide semantics) expressed as
    pure SQL — token count from the whitespace split, sentence-terminator
    marks from a char-class count — so the streaming stage is map-only
    JVM column algebra: no Python worker, no state, and an append-mode
    parquet sink needs no watermark. Store rows land per micro-batch (4
    forced batches); the census is a batch read-back over the store.
    At 100 TB/day this is the ingest-side annotate: stateless per-doc
    work scales with input rate alone, and the store is the same
    identifier-keyed parquet the incremental layer anti-joins (A21).
    """
    import os
    import shutil
    import tempfile

    base = proc_scratch("stream_annotate")
    shutil.rmtree(base, ignore_errors=True)
    staged = os.path.join(base, "staged")
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")

    from curatorhadoopinterface_spark.session import load_table

    load_table(spark, sf_dir, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(staged)
    schema = spark.read.parquet(staged).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    annotated = src.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.length(F.regexp_replace("text", "[^.!?]", "")).alias("n_sentence_marks"),
    )
    with stream_width(spark):
        q = (
            annotated.writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
    back = spark.read.parquet(store)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_sentence_marks").alias("total_sentence_marks"),
    )


@query(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value), 4) AS total_value,
           ROUND(MAX(e.value), 4) AS max_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY segment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    ``customer`` dimension (re-read fresh each micro-batch — the standard
    slowly-changing-dim pattern), then a complete-mode aggregate rolls up
    per market segment.

    Scale shape: the static side is a DIMENSION — Spark plans the
    per-batch join as a broadcast hash join, so the stream never
    shuffles for the join; the only stateful exchange is the tiny
    per-segment aggregate. This is the reference's A18 "DB copy beside
    the new batch" lookup (CuratorClient.java:581-651) run continuously:
    the archive/dimension stays a batch table, the arriving corpus is
    the stream. At 100 TB/day the dim re-read per micro-batch is the
    knob that picks up dimension updates without restarting the query.
    """
    from curatorhadoopinterface_spark.session import load_table

    src = events_stream(spark, sf_dir)
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = src.join(cust, src["user_id"] == cust["c_custkey"])
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
        # streaming state cannot hold a distinct set — max is the
        # order-independent stand-in (exact distincts belong batch-side)
        F.round(F.max("value"), 4).alias("max_value"),
    )
    return run_to_sink(agg, "complete")


@query(
    "stream_transform_with_state",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(MIN(value), 4) AS vmin,
           ROUND(MAX(value), 4) AS vmax,
           ROUND(SUM(value), 4) AS vsum
    FROM events GROUP BY user_id
    """,
)
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas (the successor API to
    applyInPandasWithState): an object-oriented StatefulProcessor holding
    a typed ValueState per user, tracking (count, min, max, sum) across
    micro-batches. This is the engine's forward-looking custom-state
    surface — composable named state variables, timers, and TTL live on
    the handle (stream_stateful_count shows the legacy function API).
    With the stream drained, each key's final emission equals the batch
    aggregate — the oracle. State partitions by the grouping key across
    executors; at 100 TB/day the RocksDB state store + changelog
    checkpointing carry exactly this layout.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import StructType

    out_t = StructType.fromDDL(
        "user_id bigint, n_events bigint, vmin double, vmax double, vsum double"
    )
    st_t = StructType.fromDDL("cnt bigint, mn double, mx double, tot double")

    class ExtremesProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", st_t)

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                cnt, mn, mx, tot = self._agg.get()
            else:
                cnt, mn, mx, tot = 0, float("inf"), float("-inf"), 0.0
            for pdf in rows:
                cnt += len(pdf)
                mn = min(mn, float(pdf["value"].min()))
                mx = max(mx, float(pdf["value"].max()))
                tot += float(pdf["value"].sum())
            self._agg.update((cnt, mn, mx, tot))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "vmin": [round(mn, 4)],
                    "vmax": [round(mx, 4)],
                    "vsum": [round(tot, 4)],
                }
            )

        def close(self) -> None:
            pass

    # transformWithState's Python worker needs google.protobuf for its
    # state-server protocol; probe it DRIVER-side (the worker-side
    # failure costs a whole streaming-query timeout) and fall back to
    # the legacy applyInPandasWithState API computing the SAME state
    # machine (import-try gating per the environment contract)
    try:
        from google.protobuf import descriptor  # noqa: F401

        has_protobuf = True
    except ImportError:
        has_protobuf = False

    src = events_stream(spark, sf_dir)
    if has_protobuf:
        res = src.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=ExtremesProcessor(),
            outputStructType=out_t,
            outputMode="Update",
            timeMode="None",
        )
        return run_to_sink(res, "update")
    else:
        def track(key, pdfs, state):
            if state.exists:
                cnt, mn, mx, tot = state.get
            else:
                cnt, mn, mx, tot = 0, float("inf"), float("-inf"), 0.0
            for pdf in pdfs:
                cnt += len(pdf)
                mn = min(mn, float(pdf["value"].min()))
                mx = max(mx, float(pdf["value"].max()))
                tot += float(pdf["value"].sum())
            state.update((cnt, mn, mx, tot))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [cnt],
                    "vmin": [round(mn, 4)],
                    "vmax": [round(mx, 4)],
                    "vsum": [round(tot, 4)],
                }
            )

        res = events_stream(spark, sf_dir).groupBy("user_id").applyInPandasWithState(
            track, out_t, st_t, "update", "NoTimeout"
        )
        return run_to_sink(res, "update")


@query(
    "stream_contamination",
    oracle="""
    WITH words AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
    shingles AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   GENERATE_SERIES(1, LEN(w) - 2),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
        FROM words WHERE LEN(w) >= 3),
    eval_sh AS (
        SELECT DISTINCT shingle FROM shingles WHERE doc_id % 10 = 0),
    hits AS (
        SELECT s.doc_id, COUNT(*) AS n
        FROM shingles s JOIN eval_sh USING (shingle)
        WHERE s.doc_id % 10 <> 0 GROUP BY s.doc_id)
    SELECT d.lang,
           COUNT(*) AS n_contaminated_docs,
           SUM(h.n) AS n_hits
    FROM hits h JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
)
def stream_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest decontamination: documents ARRIVE as a stream
    (4 micro-batches) and every arriving doc's word-3-gram shingles are
    checked against the static held-out benchmark set — contaminated
    (doc, shingle) hits land append-only in a quarantine store, and the
    per-language census is a batch read-back. This is
    contamination_ngram (curation.py) run the way a live pipeline runs
    it: the benchmark side is fixed, the corpus never stops arriving,
    and a doc is flagged the moment it lands — not in a nightly sweep.

    Scale shape: the eval side is benchmark-sized and BROADCAST into
    each micro-batch's stream-static inner join, so the arriving stream
    is map-only — no shuffle, no state, no watermark (append sink of a
    stateless plan); ingest cost tracks arrival rate alone. The
    quarantine store is the same identifier-keyed parquet the record
    store uses (A21). Spark-side shingling is dedup.shingle_explode —
    the SAME expression the batch pass and the oracle replay.
    """
    import os
    import shutil
    import tempfile

    from curatorhadoopinterface_spark.operators.dedup import shingle_explode
    from curatorhadoopinterface_spark.session import load_table

    base = proc_scratch("stream_contam")
    shutil.rmtree(base, ignore_errors=True)
    staged = os.path.join(base, "staged")
    store = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")

    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(staged)
    # r9: a stream-static join RE-EVALUATES the static side every
    # micro-batch, so each of the 4 batches re-ran the benchmark
    # shingle explode + distinct before rebuilding its broadcast.
    # The benchmark set is fixed for the whole drain (that's the
    # operator's premise), so persist it once — per-batch broadcasts
    # now rebuild from the cached relation; unpersisted after the
    # drain. Interleaved A/B at sf0.1 is NEUTRAL (3.73 uncached vs
    # 3.77 cached, min-of-3 — the sf0.1 benchmark slice shingles in
    # milliseconds); kept for the scale shape: at 100 TB the per-batch
    # re-shingle of the held-out slice is a full corpus-fraction scan
    # per trigger, the cached set is benchmark-sized. Values untouched.
    eval_rel = (
        shingle_explode(docs.filter(F.col("doc_id") % 10 == 0))
        .select("shingle")
        .distinct()
        .persist()
    )
    eval_rel.count()
    eval_sh = F.broadcast(eval_rel)
    schema = spark.read.parquet(staged).schema
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    arriving = shingle_explode(src.filter(F.col("doc_id") % 10 != 0), "lang")
    hits = arriving.join(eval_sh, "shingle")
    with stream_width(spark):
        q = (
            hits.select("doc_id", "lang", "shingle")
            .writeStream.format("parquet")
            .option("path", store)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
    eval_rel.unpersist()
    back = spark.read.parquet(store)
    return back.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_contaminated_docs"),
        F.count(F.lit(1)).alias("n_hits"),
    )
