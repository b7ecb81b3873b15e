"""provide(df, mode): the engine's query planner for annotation requests.

Reference lifecycle (SURVEY.md section 3): JobHandler plans a list of
MapReduce jobs (one per missing dependency), each job shuffling records
by document hash and RPC-ing every document to a local Curator
(CuratorReducer.java:74-202, process boundary per view per document).

Spark-first collapse: the dependency closure is computed once
(plans/registry.dependency_closure), and all requested modes run in one
``mapInArrow`` pass per ``provide()`` call — one Arrow batch boundary,
no shuffle (annotation is embarrassingly per-row). Per-row memoization:
views already present in a record's maps are reused, not recomputed
(CuratorHandler.provide, :1029-1052). Stage fusion (A10) is therefore
universal, not a TOKEN/POS/CHUNK special case. A caller that can tell
JVM-side which rows already hold the whole closure (``complete_col``)
can keep those rows out of the worker and put them in the output shape
with ``as_provided``; the record store does this for its cache hits.

Scale: per-partition cost is pure Python over Arrow batches; heavy
models would be loaded as module-level singletons per worker
(the reference's per-node annotator servers, minus warmup sleeps).
Partition sizing is by input bytes (Spark file splits), not
file count — fixing the reference's task-per-document granularity.
"""

from __future__ import annotations

import operator
from collections.abc import Iterator
from functools import reduce
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import MapType, StringType, StructField, StructType

from curatorhadoopinterface_spark.plans.registry import (
    MODES,
    VIEW_TO_MODE,
    ViewType,
    dependency_closure,
    forced_start_plan,
    invalidation_closure,
)
from curatorhadoopinterface_spark.schema import RECORD, decode_json
from curatorhadoopinterface_spark.session import ensure_min_partitions

if TYPE_CHECKING:
    import pyarrow as pa

VIEW_COLS: dict[str, MapType] = {
    c: RECORD[c].dataType for c in ("label_views", "cluster_views", "parse_views")
}

#: view name -> the VIEW_COLS column that holds it
VIEW_FAMILY: dict[str, str] = {
    view: {ViewType.LABEL: "label_views", ViewType.CLUSTER: "cluster_views"}.get(
        MODES[mode].view_type, "parse_views"
    )
    for view, mode in VIEW_TO_MODE.items()
}


def _request(
    target: str | list[str], force: bool, force_start: str | None
) -> tuple[list[str], set[str]]:
    """The modes ``target`` needs, in annotation order, and the views to
    discard per row before the memoized annotate pass: the forced
    targets (and their dependents) and/or everything at-or-after the
    forced start. Plain Python set baked into the UDF closure — zero
    plan-side cost."""
    targets = [target] if isinstance(target, str) else list(target)
    modes: list[str] = []
    for t in targets:
        for m in dependency_closure(t):
            if m not in modes:
                modes.append(m)
    drop_views: set[str] = set()
    if force:
        forced_views = set()
        for t in targets:
            forced_views.update({MODES[t].view, *MODES[t].extra_views})
        drop_views |= invalidation_closure(forced_views)
    if force_start is not None:
        hit = False
        for t in targets:
            if force_start not in dependency_closure(t):
                continue  # multi-target: override only the paths through it
            hit = True
            _, forced_modes = forced_start_plan(t, force_start)
            for m in forced_modes:
                drop_views.update({MODES[m].view, *MODES[m].extra_views})
        if not hit:
            raise ValueError(
                f"forced start {force_start!r} is not in the dependency "
                f"closure of any target in {targets}"
            )
    return modes, drop_views


def complete_col(df: DataFrame, target: str | list[str]) -> Column:
    """TRUE where a row already holds the view of every mode in
    ``target``'s closure: the rows an unforced :func:`provide` returns
    unchanged (the worker skips a mode whose view is present). A JVM
    expression over the map keys; a NULL map counts as missing."""
    modes, _ = _request(target, False, None)

    def has(view: str) -> Column:
        col = VIEW_FAMILY[view]
        if col not in df.columns:
            return F.lit(False)
        return F.coalesce(F.map_contains_key(col, view), F.lit(False))

    return reduce(operator.and_, [has(MODES[m].view) for m in modes])


def as_provided(df: DataFrame, best_effort: bool = False) -> DataFrame:
    """``df`` in :func:`provide`'s output shape with its views as they
    are: the form of rows for which ``complete_col`` holds. A missing or
    NULL view map becomes an empty one, as the worker returns it."""

    def views(c: str) -> Column:
        empty = F.create_map().cast(VIEW_COLS[c])
        return (F.coalesce(F.col(c), empty) if c in df.columns else empty).alias(c)

    return df.select(
        *[c for c in df.columns if c not in VIEW_COLS],
        *[views(c) for c in VIEW_COLS],
        *([F.lit(None).cast(StringType()).alias("annotation_error")] if best_effort else []),
    )


def provide(
    df: DataFrame,
    target: str | list[str],
    text_col: str = "raw_text",
    best_effort: bool = False,
    force: bool = False,
    force_start: str | None = None,
) -> DataFrame:
    """Ensure the view(s) for ``target`` mode(s) (and every dependency)
    exist on each record; compute only what's missing, per row.

    ``force=True`` is the reference's ``provide(view, text,
    forceUpdate)`` third argument (curator-interfaces/curator.thrift:66,
    honored at CuratorHandler.java:1029-1052): the TARGET view(s) are
    recomputed even when already present — the re-annotate-with-a-
    retrained-same-version-model case — while upstream dependencies are
    still reused. Views downstream of a recomputed target are dropped
    too (cascadeRemoveStaleFields, CuratorHandler.java:628-644): a
    dependent built on the old target would silently disagree with the
    fresh one.

    ``force_start="POS"`` is JobHandler's ``[START]`` argv override
    (JobHandler.java:78-109, 264-331): re-run the pipeline from the
    named dependency stage onward, reusing only views upstream of it.
    Mutually composable with ``force`` (union of forced view sets).

    ``best_effort=True`` is the reference's failure budget
    (CuratorJob.java:280-285 tolerates <=40% reduce-task failures in
    shared mode) done right: a document whose annotation raises keeps
    its input views untouched and carries the error in an
    ``annotation_error`` column instead of failing the task — the 100 TB
    policy, where one malformed document must not kill a stage. Strict
    mode (default) propagates the exception so tests fail loud.
    """
    modes, drop_views = _request(target, force, force_start)
    passthrough = [c for c in df.columns if c not in VIEW_COLS]
    stored = [c for c in VIEW_COLS if c in df.columns]
    out_schema = StructType(
        [df.schema[c] for c in passthrough]
        + [StructField(c, t, True) for c, t in VIEW_COLS.items()]
        + ([StructField("annotation_error", StringType(), True)] if best_effort else [])
    )
    # stored view maps enter the worker as JVM-side to_json text, read by
    # schema.decode_json: 6-10x cheaper than pyarrow's to_pylist of these
    # columns (OPTIMIZATION_r18.md). Views leave as Arrow arrays; every
    # other column is passed through as is.
    # Annotation is CPU-bound in the Python worker: a small corpus that
    # parquet packed into fewer splits than there are cores would leave
    # most executors idle (the 1-partition/1-core trap). Plan-side split
    # estimate, no job; no-op at 100 TB and over a spread checkpoint.
    udf_input = ensure_min_partitions(
        df.select(*passthrough, *[F.to_json(c).alias(c) for c in stored])
    )

    def annotate_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # worker-side import: annotator "model load" happens once per
        # worker process (module import), amortized over all batches.
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from curatorhadoopinterface_spark.annotators.light import annotate_record

        schema = to_arrow_schema(out_schema)
        for batch in batches:
            texts = batch.column(text_col).to_pylist()
            raws = [(VIEW_COLS[c], batch.column(c).to_pylist()) for c in stored]
            rows: list[dict] = []
            errors = []
            for i, text in enumerate(texts):
                views: dict = {}
                for dt, col in raws:
                    views.update(decode_json(col[i], dt) or {})
                for v in drop_views:
                    views.pop(v, None)
                try:
                    annotate_record(text, views, modes)
                    errors.append(None)
                except Exception as exc:  # noqa: BLE001 - budget policy
                    if not best_effort:
                        raise
                    errors.append(f"{type(exc).__name__}: {exc}")
                rows.append({c: {} for c in VIEW_COLS})
                for vname, payload in views.items():
                    rows[-1][VIEW_FAMILY[vname]][vname] = payload
            arrays = [batch.column(c) for c in passthrough]
            arrays += [pa.array([r[c] for r in rows], type=schema.field(c).type) for c in VIEW_COLS]
            arrays += [pa.array(errors, pa.string())] if best_effort else []
            yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return udf_input.mapInArrow(annotate_batches, out_schema)


def annotate(df: DataFrame, mode: str, text_col: str = "raw_text") -> DataFrame:
    """Single-mode alias of :func:`provide` (A24 annotator dispatch)."""
    return provide(df, mode, text_col=text_col)
