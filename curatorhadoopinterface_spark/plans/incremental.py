"""Incremental record store: content-hash memoization, version staleness,
cascading invalidation, view-count upsert (SURVEY.md A18-A23).

Reference semantics being reproduced:
- archive keyed by ``Identifier.getId(text)``; cache hit skips
  annotation (CuratorHandler.getRecord, :468-527)            -> left join
- a view is stale iff its ``source`` version is older than the live
  annotator's (updateRequired, :816-896)                     -> version expr
- removing a stale view removes all transitive dependents
  (cascadeRemoveStaleFields, :600-644)                       -> closure map_filter
- after a run, store the record iff it has MORE views than the stored
  copy (informDatabaseOfUpdatedRecords, CuratorClient.java:581-651)
                                                             -> view-count merge

All staleness/cascade logic is pure JVM column expressions generated
from the static mode registry — no Python round-trip.

Scale: the store is Parquet partitioned by the first hex char of the
SHA-1 identifier (16 uniform buckets; raise to 2 chars = 256 at real
scale), one file per bucket. An update loads the store once: the
batch's stored copies join onto the batch with their view count, so
hits, misses and the merge decision come from one scan. That lookup is
checkpointed once; rows whose views already cover the request (cache
hits) skip the Python worker, and only the rest go through
``provide``. The merge rewrites only the buckets that hold a winner, in
place, by a dynamic partition overwrite; a batch with no winner (all
cache hits) runs no worker and writes nothing. This is the non-ACID but
deterministic batch equivalent of the reference's DB upsert.
"""

from __future__ import annotations

import operator
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from curatorhadoopinterface_spark.plans.provide import VIEW_COLS, as_provided, complete_col, provide
from curatorhadoopinterface_spark.plans.registry import MODES, VIEW_TO_MODE, invalidation_closure

_BUCKET_COL = "id_bucket"


def _sql_map(pairs: dict[str, str]) -> str:
    return "map(" + ", ".join(f"'{k}', {v}" for k, v in pairs.items()) + ")"


#: MAP<view, version-string> literal from the registry
_REGISTRY_VERSIONS = _sql_map(
    {v: f"'{m.version}'" for m in MODES.values() for v in (m.view, *m.extra_views)}
)
#: MAP<view, ARRAY<view>> literal: view -> its invalidation closure
_CLOSURES = _sql_map(
    {
        view: "array(" + ", ".join(f"'{c}'" for c in sorted(invalidation_closure({view}))) + ")"
        for view in VIEW_TO_MODE
    }
)


def _version_lt(a: str, b: str) -> str:
    """version('name-X.Y') < version('name-X.Y') as (major, minor) ints
    (CuratorHandler.updateRequired's compare, :848-890)."""

    def part(c: str, i: int) -> str:
        return f"cast(split(substring_index({c}, '-', -1), '[.]')[{i}] as int)"

    def minor(c: str) -> str:
        return f"coalesce({part(c, 1)}, 0)"

    return (
        f"({part(a, 0)} < {part(b, 0)} OR ({part(a, 0)} = {part(b, 0)}"
        f" AND {minor(a)} < {minor(b)}))"
    )


def _stale_views_sql(df: DataFrame) -> str:
    # one SQL text parsed JVM-side: building the same expression from
    # py4j lambdas took ~0.15 s per call (4-core host)
    arrays = [
        f"transform(filter(map_entries({col}), e -> map_contains_key({_REGISTRY_VERSIONS}, e.key)"
        f" AND {_version_lt('e.value.source', f'{_REGISTRY_VERSIONS}[e.key]')}), e -> e.key)"
        for col in VIEW_COLS
        if col in df.columns
    ]
    return f"concat({', '.join(arrays)})" if arrays else "cast(array() as array<string>)"


def stale_views_col(df: DataFrame) -> Column:
    """ARRAY<view> of views on each record whose source version is older
    than the registry's annotator (A22)."""
    return F.expr(_stale_views_sql(df))


def remove_stale_views(df: DataFrame) -> DataFrame:
    """Drop stale views AND their transitive dependents per record
    (A22+A23), entirely with map_filter column expressions."""
    drop = f"array_distinct(flatten(transform({_stale_views_sql(df)}, v -> {_CLOSURES}[v])))"
    out = df.withColumn("__drop", F.expr(drop))
    return out.withColumns(
        {
            col: F.expr(f"map_filter({col}, (k, v) -> NOT array_contains(__drop, k))")
            for col in VIEW_COLS
            if col in df.columns
        }
    ).drop("__drop")


def view_count_col(df: DataFrame) -> Column:
    """Total number of views on a record (RecordTools.getNumViews,
    RecordTools.java:88-94)."""
    parts = [
        F.size(F.coalesce(F.map_keys(F.col(c)), F.array()))
        for c in VIEW_COLS
        if c in df.columns
    ]
    out = parts[0] if parts else F.lit(0)
    for p in parts[1:]:
        out = out + p
    return out


def _columns(schema: StructType) -> set[tuple[str, str]]:
    """(name, type) of each stored column, nullability aside: parquet
    reads every column back as nullable, and resolves columns by name."""
    return {(f.name, f.dataType.simpleString()) for f in schema.fields if f.name != _BUCKET_COL}


def _wins(records: DataFrame, force: bool) -> Column:
    """A record replaces its stored copy iff it has MORE views, or the
    update was forced (``__n_old`` is -1 for an unseen record)."""
    return F.lit(force) | (view_count_col(records) > F.col("__n_old"))


def _winner_buckets(records: DataFrame, force: bool) -> Column:
    """The aggregate over ``records`` that ``_merge`` needs: the set of
    the winners' bucket chars (at most 16)."""
    win = _wins(records, force)
    return F.collect_set(F.when(win, F.substring("identifier", 1, 1))).alias("buckets")


class RecordStore:
    """Content-hash-keyed Parquet archive of annotated Records (the
    Curator archive, A21), with hash-bucket partitioning."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: the store's schema (bucket column included) as this handle
        #: last read or wrote it, and the data files it held then; the
        #: schema is None until the first read and after a write that
        #: changed the columns
        self._schema: StructType | None = None
        self._files_seen: frozenset = frozenset()

    def _files(self) -> frozenset:
        """(path, mtime, size) of each data file in the store: one glob,
        no Spark job. Spark names every file it writes uniquely, so a
        rewrite by any handle or process changes this set."""
        glob = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.path}/*/*.parquet")
        fs = glob.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return frozenset(
            (s.getPath().toString(), s.getModificationTime(), s.getLen())
            for s in fs.globStatus(glob) or []
        )

    def load(self) -> DataFrame | None:
        """The stored records. While the store holds the files this
        handle last saw, the read reuses their schema and skips parquet
        schema inference (a job per load). Otherwise, as after another
        handle's write, inference merges every file's footer, so a
        column that only some buckets carry is not lost."""
        files = self._files()
        reader = self.spark.read
        if self._schema is not None and files == self._files_seen:
            reader = reader.schema(self._schema)
        else:
            reader = reader.option("mergeSchema", "true")
        try:
            df = reader.parquet(self.path)
        except Exception:
            return None
        self._schema, self._files_seen = df.schema, files
        return df.drop(_BUCKET_COL)

    def _write(self, df: DataFrame, overwrite_mode: str) -> None:
        """Write ``df`` one file per bucket: each bucket's rows shuffle
        to one writer task. The known schema survives a write with the
        same columns; the files it is valid for are listed again."""
        keep = self._schema is not None and _columns(self._schema) == _columns(df.schema)
        df.withColumn(_BUCKET_COL, F.substring("identifier", 1, 1)).repartition(
            _BUCKET_COL
        ).write.mode("overwrite").option("partitionOverwriteMode", overwrite_mode).partitionBy(
            _BUCKET_COL
        ).parquet(self.path)
        if keep:
            self._files_seen = self._files()
        else:
            self._schema = None

    def write_full(self, df: DataFrame) -> None:
        self._write(df, "static")

    def _dedup(self, records: DataFrame) -> DataFrame:
        """One row per identifier. AQE does not coalesce an explicit
        width, so the rows to annotate stay spread over every core."""
        n = self.spark.sparkContext.defaultParallelism
        return records.repartition(n, "identifier").dropDuplicates(["identifier"])

    def upsert(self, records: DataFrame, force: bool = False) -> None:
        """A18: replace a stored record only if the new copy has MORE
        views; insert unseen records.

        ``force=True`` (the forceUpdate path): a freshly recomputed record
        has the SAME view count as its cached copy, so the count rule
        would keep the stale one — prefer the new copy whenever present.
        """
        records = self._dedup(records)
        stored = self.load()
        if stored is None:
            self.write_full(records)
            return
        n_old = stored.select("identifier", view_count_col(stored).alias("__n_old"))
        records = records.join(n_old, "identifier", "left").select(
            *records.columns, F.coalesce("__n_old", F.lit(-1)).alias("__n_old")
        )
        buckets = records.agg(_winner_buckets(records, force)).first()["buckets"]
        self._merge(records, stored, force, buckets)

    def _merge(self, records: DataFrame, stored: DataFrame, force: bool, buckets: list[str]) -> None:
        """Store the winners of ``records``, which carry their stored
        copy's view count as ``__n_old`` (-1 when unseen). ``buckets``
        is ``_winner_buckets`` over ``records``; ``provide_incremental``
        gathers it in its annotate job.

        Only buckets holding a winner are rewritten, as their old rows
        minus the winners plus the winners. The overwrite reads the files
        it replaces: the commit protocol stages task output and swaps the
        partitions at job commit, after every task has read.
        """
        if not buckets:
            return
        winners = records.where(_wins(records, force)).drop("__n_old")
        # startswith pushes down to the parquet reader, which skips the
        # untouched buckets' row groups on their min/max statistics
        touched = reduce(operator.or_, [F.col("identifier").startswith(b) for b in sorted(buckets)])
        kept = stored.where(touched).join(winners.select("identifier"), "identifier", "left_anti")
        # Scoped heap guard for the write: annotated Records are WIDE
        # (every token a span struct), and the default 4096-row
        # vectorized reader batch x 32 concurrent local tasks
        # intermittently heap-OOMs an 8g JVM at sf10 (500k records).
        # 512-row batches bound the in-flight columnar buffers ~8x;
        # restored after the merge so narrow scans elsewhere keep the
        # default. On a real cluster each executor holds a slice and
        # the default is fine — this is the local[32] single-JVM knob.
        bs_key = "spark.sql.parquet.columnarReaderBatchSize"
        bs_old = self.spark.conf.get(bs_key, "4096")
        self.spark.conf.set(bs_key, "512")
        try:
            self._write(winners.unionByName(kept, allowMissingColumns=True), "dynamic")
        finally:
            self.spark.conf.set(bs_key, bs_old)

    def provide_incremental(
        self,
        new_records: DataFrame,
        target: str | list[str],
        force: bool = False,
        force_start: str | None = None,
        best_effort: bool = False,
    ) -> DataFrame:
        """The full memoized pipeline (A20+A21): stale-invalidate cached
        copies, reuse them for cache hits, annotate only what's missing
        (per-row), upsert enriched records back. Returns the annotated
        corpus for ``new_records``, one record per identifier.

        ``force=True`` is the per-call forceUpdate of the reference's
        provide (curator.thrift:66): cached TARGET views are recomputed
        even on cache hits (dependencies still reused), and the refreshed
        records are upserted back over the stale cached copies.
        ``force_start`` restarts the pipeline at an interior mode
        (JobHandler.java:78-109 [START] parity) — the forced modes are
        recomputed even on cache hits, exactly as in :func:`provide`.
        A forced record has the same view count as its cached copy, so
        the upsert must prefer-new whenever any recompute was requested.
        """
        kw = dict(force=force, force_start=force_start, best_effort=best_effort)
        batch = self._dedup(new_records)
        stored = self.load()
        if stored is None:
            annotated = provide(batch, target, **kw)
            self.write_full(annotated)
            return annotated
        # the batch's stored copies (the semi-join streams the store),
        # with the raw copy's view count and stale views invalidated
        copies = stored.join(new_records.select("identifier"), "identifier", "left_semi")
        old = remove_stale_views(copies.withColumn("__n_old", view_count_col(copies)))
        hit = F.col("s.identifier").isNotNull()

        def pick(c: str) -> Column:
            """Hits take the stored value, misses the batch value; NULL
            where the column is missing on that side."""
            s = F.col(f"s.{c}") if c in stored.columns else F.lit(None)
            b = F.col(f"b.{c}") if c in batch.columns else F.lit(None)
            return F.when(hit, s).otherwise(b).alias(c)

        names = batch.columns + [c for c in stored.columns if c not in batch.columns]
        fused = batch.alias("b").join(
            old.alias("s"), F.col("b.identifier") == F.col("s.identifier"), "left"
        ).select(
            "b.identifier",
            *[pick(c) for c in names if c != "identifier"],
            F.coalesce("s.__n_old", F.lit(-1)).alias("__n_old"),
        )
        forced = force or force_start is not None
        if forced:
            # a forced view is in the closure: no row is complete
            annotated = provide(fused, target, **kw)
        else:
            # Completeness is decided JVM-side over the lookup, which is
            # checkpointed once so both halves of the split reuse it. A
            # complete hit cannot win: after stale removal its view count
            # is at most its stored copy's __n_old. A complete miss (a
            # record annotated before it reached the store) is an insert.
            seen = Observation()
            looked_up = (
                fused.withColumn("__complete", complete_col(fused, target))
                .observe(
                    seen,
                    F.count_if(~F.col("__complete")).alias("todo"),
                    F.count_if(F.col("__n_old") < 0).alias("new"),
                )
                .localCheckpoint(eager=True)
            )
            counts = seen.get
            annotated = as_provided(looked_up.where("__complete").drop("__complete"), best_effort)
            if counts["todo"] == 0 and counts["new"] == 0:
                return annotated.drop("__n_old")
            if counts["todo"] > 0:
                todo = looked_up.where(~F.col("__complete")).drop("__complete")
                annotated = provide(todo, target, **kw).unionByName(annotated)
        # the winners' buckets ride the annotate job
        stats = Observation()
        annotated = annotated.observe(stats, _winner_buckets(annotated, forced)).localCheckpoint(
            eager=True
        )
        self._merge(annotated, stored, forced, stats.get["buckets"])
        return annotated.drop("__n_old")
