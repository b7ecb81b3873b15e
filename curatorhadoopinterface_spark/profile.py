"""One per-query record: time a declared query end to end to the noop
sink and attribute the Spark stages it ran.

``profile(qfn, spark, sf_dir)`` is the only code that times a query or
reads stage metrics; bench.py and the timing tools call it. The session
disables the Spark UI, so this record is how a run explains itself:

- ``sec`` = ``build_s`` (the ``qfn`` call: py4j Column/DataFrame
  construction plus any barrier job the builder runs) + ``exec_s`` (the
  noop write: planning and execution). This is the timed window.
- ``plan_s``: ``executedPlan()`` on the built DataFrame's own
  QueryExecution, run after the window so planning is never counted
  twice (the noop write plans the query again on its own).
- Stage totals over the query's own stages: ``stages`` (skipped ones
  included), ``tasks``, executor ``run_ms``/``cpu_ms``, shuffle read
  and write, ``spill_mb`` (memory + disk), and ``peak_mem_mb`` (the
  largest stage's peakExecutionMemory); ``top_stages`` lists the
  ``TOP_STAGES`` stages with the most executor run time.
- ``python_stages``, only with ``python=True``: stages that run a
  Python worker operator such as ``MapInPandas``, read from each
  stage's operator graph (stage names are call sites and do not show
  it). The walk costs py4j round trips per stage, so it is opt-in.
- Structured Streaming micro-batches (``streaming.ops.BATCH_LOG``):
  ``n_batches`` and, when there are any, ``batch_ms`` with the sum, max
  and per-batch ``triggerExecution`` ms.

The query's stages are the ids the DAGScheduler hands out between the
start and the end of the window, read one by one from the status store
after the listener bus is drained (no sleep guessing when the last
events land). Reading the whole store instead would cost ~0.7 s once it
retains 1000 stages, against ~40 ms for a 6-stage range read (Spark
4.1.2, 4-core host).
"""

from __future__ import annotations

import re
import time

from py4j.protocol import Py4JJavaError

TOP_STAGES = 6

#: physical operators that hand rows to a Python worker (MapInPandas,
#: MapInArrow, ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas, …)
_PYTHON_OPS = re.compile(r"Python|Pandas|InArrow")

_METRICS = (
    "numCompleteTasks",
    "executorRunTime",
    "executorCpuTime",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "peakExecutionMemory",
)


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _mb(n: int) -> float:
    return round(n / 1e6, 2)


def warm(spark, sf_dir: str) -> None:
    """Pay the session's one-time costs outside any timed window: JVM
    codegen through a lineitem aggregate, and the Python worker/Arrow
    path (daemon plus one worker fork per core)."""
    import pyspark.sql.functions as F

    from curatorhadoopinterface_spark.session import load_table

    li = load_table(spark, sf_dir, "lineitem")
    _noop(li.groupBy("l_returnflag").agg(F.sum("l_quantity"), F.count(F.lit(1))))
    _noop(
        spark.range(64)
        .repartition(64)
        .mapInPandas(lambda it: (pdf for pdf in it), "id long")
    )


def _stage_ops(store, sid: int) -> list[str]:
    """Names of the operator scopes in stage ``sid``'s RDD graph."""
    try:
        todo = [store.operationGraphForStage(sid).rootCluster()]
    except Py4JJavaError:  # the graph was already evicted
        return []
    names = []
    while todo:
        cluster = todo.pop()
        names.append(cluster.name())
        children = cluster.childClusters()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


def _stages(spark, first: int, end: int, python: bool) -> list[dict]:
    """Metrics of every attempt of stages ``first``..``end - 1``; with
    ``python``, also whether the stage runs a Python worker operator."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = spark.sparkContext._gateway
    # Scala defaults are invisible to py4j: pass all five arguments
    # (details=False, taskStatus=[], withSummaries=False, quantiles=[])
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    rows = []
    for sid in range(first, end):
        seq = store.stageData(sid, False, no_status, False, no_quantiles)
        worker = python and seq.size() > 0 and any(
            _PYTHON_OPS.search(n) for n in _stage_ops(store, sid)
        )
        for i in range(seq.size()):
            s = seq.apply(i)
            rows.append({"name": s.name(), "python": worker, **{m: getattr(s, m)() for m in _METRICS}})
    return rows


def profile(qfn, spark, sf_dir: str, python: bool = False) -> dict:
    """Build ``qfn(spark, sf_dir)``, write it to the noop sink and
    return the query's record (see the module docstring); ``python``
    adds ``python_stages``."""
    from curatorhadoopinterface_spark.streaming import ops as stream_ops

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    stream_ops.BATCH_LOG.clear()
    first = dag.nextStageId()
    t0 = time.perf_counter()
    df = qfn(spark, sf_dir)
    t1 = time.perf_counter()
    _noop(df)
    t2 = time.perf_counter()
    end = dag.nextStageId()
    df._jdf.queryExecution().executedPlan()
    t3 = time.perf_counter()

    build_s, exec_s = round(t1 - t0, 3), round(t2 - t1, 3)
    rows = _stages(spark, first, end, python)
    tot = {m: sum(r[m] for r in rows) for m in _METRICS}
    rec = {
        "sec": round(build_s + exec_s, 3),
        "build_s": build_s,
        "plan_s": round(t3 - t2, 3),
        "exec_s": exec_s,
        "stages": len(rows),
        "tasks": tot["numCompleteTasks"],
        "run_ms": tot["executorRunTime"],
        "cpu_ms": tot["executorCpuTime"] // 1_000_000,
        "shuffle_read_mb": _mb(tot["shuffleReadBytes"]),
        "shuffle_write_mb": _mb(tot["shuffleWriteBytes"]),
        "spill_mb": _mb(tot["memoryBytesSpilled"] + tot["diskBytesSpilled"]),
        "peak_mem_mb": _mb(max((r["peakExecutionMemory"] for r in rows), default=0)),
        "top_stages": [
            {
                "tasks": r["numCompleteTasks"],
                "run_ms": r["executorRunTime"],
                "cpu_ms": r["executorCpuTime"] // 1_000_000,
                "input_mb": _mb(r["inputBytes"]),
                "shuffle_read_mb": _mb(r["shuffleReadBytes"]),
                "name": r["name"][:70],
            }
            for r in sorted(rows, key=lambda r: -r["executorRunTime"])[:TOP_STAGES]
        ],
    }
    if python:
        rec["python_stages"] = sum(r["python"] for r in rows)
    ms = [b["trigger_ms"] for b in stream_ops.BATCH_LOG if b.get("trigger_ms") is not None]
    rec["n_batches"] = len(ms)
    if ms:
        rec["batch_ms"] = {"sum": sum(ms), "max": max(ms), "per_batch": ms}
    return rec
