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

Scale: the store is a base plus a log of deltas (the log-structured
merge of O'Neil et al., *The Log-Structured Merge-Tree*, 1996). The base
is Parquet partitioned by the first hex char of the SHA-1 identifier (16
uniform buckets; raise to 2 chars = 256 at real scale), one file per
bucket. An update appends its winners, and only them, as one file under
``_deltas/seq=N/``: it never reads or rewrites stored rows, so its write
costs O(batch), not O(store). Spark's reads of the store root skip the
``_`` directory, so the store lists the root and ``_deltas``
recursively, without partition inference: base and deltas are one scan,
each row's seq taken from its file's path. Reads merge on read: the
newest copy of each identifier wins, base rows counting as seq 0. An
update looks up only its batch's identifiers, so that resolution runs
over batch-sized rows; the lookup joins every stored copy onto the
batch and keeps the newest in the join's own partitioning, so hits,
misses and the merge decision come from one scan and one join. It is
checkpointed once; rows whose views already cover the request (cache
hits) skip the Python worker, and only the rest go through
``provide``. A batch with no winner (all cache hits) runs no worker and
writes nothing. ``compact(path)`` folds the deltas into a new store,
one file per bucket, for the caller to swap in (the CLI ``compact``);
it is the only write that rewrites stored rows. Deltas are not folded
on their own: a read costs more with each update since the last fold.
This is the non-ACID but deterministic batch equivalent of the
reference's DB upsert.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql.types import StructType

from curatorhadoopinterface_spark.plans.provide import VIEW_COLS, as_provided, complete_col, provide
from curatorhadoopinterface_spark.plans.registry import MODES, VIEW_TO_MODE, invalidation_closure

_BUCKET_COL = "id_bucket"
#: the delta log's directory under the store root, and its partition
#: column (the update sequence number)
_DELTAS = "_deltas"
_SEQ_COL = "seq"
#: a row's seq, from the path of the file it was read from
_SEQ_SQL = (
    f"coalesce(cast(nullif(regexp_extract(_metadata.file_path, '/{_DELTAS}/{_SEQ_COL}=([0-9]+)/', 1), '')"
    " as int), 0)"
)


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
    return {(f.name, f.dataType.simpleString()) for f in schema.fields}


def _wins(records: DataFrame, force: bool) -> Column:
    """A record replaces its stored copy iff it has MORE views, or the
    update was forced (``__n_old`` is -1 for an unseen record)."""
    return F.lit(force) | (view_count_col(records) > F.col("__n_old"))


def _newest(df: DataFrame) -> DataFrame:
    """The row of each identifier with the highest ``seq``: a record's
    newest copy, base rows counting as seq 0 (``seq`` is dropped)."""
    rank = F.row_number().over(Window.partitionBy("identifier").orderBy(F.desc(_SEQ_COL)))
    return df.withColumn("__rank", rank).where("__rank = 1").drop("__rank", _SEQ_COL)


class RecordStore:
    """Content-hash-keyed Parquet archive of annotated Records (the
    Curator archive, A21): a hash-bucketed base plus an append-only log
    of update deltas, resolved on read."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        #: the store's data files as this handle last read or wrote them,
        #: and their merged schema; None until the first read and after
        #: a write that changed the columns
        self._seen: tuple[frozenset, StructType] | None = None

    def _glob(self, pattern: str) -> list:
        """Hadoop FileStatus of each path under the store matching
        ``pattern``: no Spark job."""
        path = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.path}/{pattern}")
        return list(path.getFileSystem(self.spark._jsc.hadoopConfiguration()).globStatus(path) or [])

    def _files(self) -> frozenset:
        """(path, mtime, size) of each data file, base and deltas. Spark
        names every file it writes uniquely, so a write by any handle or
        process changes this set."""
        out = self._glob("*/*.parquet") + self._glob(f"{_DELTAS}/{_SEQ_COL}=*/*.parquet")
        return frozenset((s.getPath().toString(), s.getModificationTime(), s.getLen()) for s in out)

    def _next_seq(self) -> int:
        """1 + the highest seq directory under ``_deltas``. Directories
        are counted, not data files, so a seq a failed write left with no
        data file is skipped, not picked again."""
        seqs = [s.getPath().getName()[len(_SEQ_COL) + 1 :] for s in self._glob(f"{_DELTAS}/{_SEQ_COL}=*")]
        return 1 + max((int(n) for n in seqs if n.isdigit()), default=0)

    def _read(self, files: frozenset, deltas: bool | None = None) -> DataFrame | None:
        """The rows of the store's data files ``files`` (only the delta
        files, or only the base files, when ``deltas`` says so), each
        with its ``seq``: its delta's number, 0 for a base row (a
        base-only read has no ``seq``). None when there is no such file.
        The root and ``_deltas`` are listed recursively without
        partition inference (the root's listing
        skips ``_deltas``), so base and deltas are one scan with one
        plan shape whether or not the store holds deltas. While the
        store holds the files this handle last saw, the read reuses
        their schema and skips parquet schema inference (a job per
        read). Otherwise, as after another handle's write, inference
        merges every file's footer, so a column that only some files
        carry is not lost."""
        held = {f"/{_DELTAS}/" in p for p, _, _ in files}
        roots = {False: self.path, True: f"{self.path}/{_DELTAS}"}
        paths = [roots[d] for d in sorted(held) if deltas in (None, d)]
        if not paths:
            return None
        if self._seen is None or self._seen[0] != files:
            merged = self.spark.read.options(recursiveFileLookup="true", mergeSchema="true")
            self._seen = (files, merged.parquet(*(roots[d] for d in sorted(held))).schema)
        df = self.spark.read.option("recursiveFileLookup", "true").schema(self._seen[1]).parquet(*paths)
        return df if deltas is False else df.withColumn(_SEQ_COL, F.expr(_SEQ_SQL))

    def _copies(self, files: frozenset, ids: DataFrame) -> DataFrame | None:
        """Every stored copy of ``ids``' identifiers with its ``seq``. An
        update joins these onto its batch, which is hash-partitioned by
        identifier, and keeps the newest per row with ``_newest`` in that
        partitioning: resolution runs over batch-sized rows and adds no
        exchange to the lookup."""
        copies = self._read(files)
        return None if copies is None else copies.join(ids, "identifier", "left_semi")

    def load(self) -> DataFrame | None:
        """The stored records, newest copy of each, or None for an empty
        store. Base rows whose identifier has a delta copy drop out by an
        anti-join against the deltas' identifiers, which the planner
        broadcasts while they are small, so no base row crosses an
        exchange; only delta rows are shuffled, to rank each identifier's
        copies. A store with no delta file reads as its base."""
        files = self._files()
        base, deltas = self._read(files, deltas=False), self._read(files, deltas=True)
        if deltas is None:
            return base
        latest = _newest(deltas)
        if base is None:
            return latest
        return base.join(deltas.select("identifier"), "identifier", "left_anti").unionByName(latest)

    def write_full(self, df: DataFrame) -> None:
        """Replace the whole store, its deltas included, by ``df``, one
        file per bucket: each bucket's rows shuffle to one writer task.
        The known schema survives a write with the same columns; the
        files it is valid for are listed again."""
        seen, self._seen = self._seen, None
        df.withColumn(_BUCKET_COL, F.substring("identifier", 1, 1)).repartition(
            _BUCKET_COL
        ).write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
            _BUCKET_COL
        ).parquet(self.path)
        if seen is not None and _columns(seen[1]) == _columns(df.schema):
            self._seen = (self._files(), seen[1])

    def compact(self, path: str) -> None:
        """Write the store's resolved records to ``path`` as a new store,
        one file per bucket, and leave this one as it is: the fold of the
        deltas into the base, and the only write that rewrites stored
        rows. The caller swaps the new store in (the CLI ``compact``)."""
        resolved = self.load()
        if resolved is None:
            return
        # Scoped heap guard for the rewrite: annotated Records are WIDE
        # (every token a span struct), and the default 4096-row
        # vectorized reader batch x 32 concurrent local tasks
        # intermittently heap-OOMs an 8g JVM at sf10 (500k records).
        # 512-row batches bound the in-flight columnar buffers ~8x;
        # restored after the rewrite so narrow scans elsewhere keep the
        # default. On a real cluster each executor holds a slice and
        # the default is fine — this is the local[32] single-JVM knob.
        bs_key = "spark.sql.parquet.columnarReaderBatchSize"
        bs_old = self.spark.conf.get(bs_key, "4096")
        self.spark.conf.set(bs_key, "512")
        try:
            RecordStore(self.spark, path).write_full(resolved)
        finally:
            self.spark.conf.set(bs_key, bs_old)

    def _dedup(self, records: DataFrame) -> DataFrame:
        """One row per identifier. AQE does not coalesce an explicit
        width, so the rows to annotate stay spread over every core."""
        n = self.spark.sparkContext.defaultParallelism
        return records.repartition(n, "identifier").dropDuplicates(["identifier"])

    def upsert(self, records: DataFrame, force: bool = False) -> None:
        """A18: replace a stored record only if the new copy has MORE
        views; insert unseen records. The winners are appended to the
        store as one delta (``_merge``); no stored row is rewritten.

        ``force=True`` (the forceUpdate path): a freshly recomputed record
        has the SAME view count as its cached copy, so the count rule
        would keep the stale one — prefer the new copy whenever present.
        """
        records = self._dedup(records)
        files, seq = self._files(), self._next_seq()
        copies = self._copies(files, records.select("identifier"))
        if copies is None:
            self.write_full(records)
            return
        n_old = copies.select("identifier", _SEQ_COL, view_count_col(copies).alias("__n_old"))
        looked_up = _newest(records.join(n_old, "identifier", "left"))
        records = looked_up.select(*records.columns, F.coalesce("__n_old", F.lit(-1)).alias("__n_old"))
        self._merge(records, force, files, seq)

    def _merge(self, records: DataFrame, force: bool, files: frozenset, seq: int) -> DataFrame:
        """Store the winners of ``records``, which carry their stored
        copy's view count as ``__n_old`` (-1 when unseen), and return
        ``records`` checkpointed. The checkpoint job counts the winners.
        When there are any, they are written as one file of delta
        ``seq``, taken by ``_next_seq`` when the update's lookup listed
        ``files``. The write fails if that seq exists, so two writers
        that pick the same one never mix their files. Stored rows are
        neither read nor rewritten: the newer copy wins on read."""
        wins = _wins(records, force)
        stats = Observation()
        records = records.observe(stats, F.count_if(wins).alias("winners")).localCheckpoint(eager=True)
        if not stats.get["winners"]:
            return records
        seen, self._seen = self._seen, None
        winners = records.where(wins).drop("__n_old")
        winners.coalesce(1).write.mode("errorifexists").parquet(f"{self.path}/{_DELTAS}/{_SEQ_COL}={seq}")
        if seen is not None and seen[0] == files and _columns(seen[1]) == _columns(winners.schema):
            self._seen = (self._files(), seen[1])
        return records

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
        files, seq = self._files(), self._next_seq()
        # every stored copy of the batch's identifiers
        copies = self._copies(files, new_records.select("identifier"))
        if copies is None:
            annotated = provide(batch, target, **kw)
            self.write_full(annotated)
            return annotated
        # with the raw copy's view count and stale views invalidated
        old = remove_stale_views(copies.withColumn("__n_old", view_count_col(copies)))

        def pick(c: str) -> str:
            """Hits take the stored value, misses the batch value; NULL
            where the column is missing on that side."""
            s = f"s.`{c}`" if c in copies.columns else "NULL"
            b = f"b.`{c}`" if c in batch.columns else "NULL"
            return f"IF(s.identifier IS NOT NULL, {s}, {b}) AS `{c}`"

        # one SQL text parsed JVM-side, as in _stale_views_sql; each
        # batch row keeps its newest stored copy
        names = batch.columns + [c for c in copies.columns if c not in (*batch.columns, _SEQ_COL)]
        joined = batch.alias("b").join(old.alias("s"), F.col("b.identifier") == F.col("s.identifier"), "left")
        fused = _newest(
            joined.selectExpr(
                "b.identifier",
                *[pick(c) for c in names if c != "identifier"],
                "coalesce(s.__n_old, -1) AS __n_old",
                f"s.{_SEQ_COL}",
            )
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
        return self._merge(annotated, forced, files, seq).drop("__n_old")
