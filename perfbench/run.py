"""Benchmark entry point.

    python3 perfbench/run.py --workload annotate --seed 1 --seconds 10 --trace 0

Runs one workload (``annotate``, ``incremental``, ``queries`` or
``thrift_interop``) from the root of a checkout of the repository. The
seeded inputs, the engine's outputs and Spark's scratch space all live
under ``.perfbench/`` in the checkout; per-run results and traced spans
are kept in ``.perfbench/results/``. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of ``BENCHMARK.json``, or its ``per_layer``
metrics with ``--trace 1``). The lines before it print every metric by
name and unit, the output-check verdicts and, when traced, each layer's
self time and the tracing overhead.

Exits with code 2, printing no result, when the engine package is not
importable from the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from tracing import Tracer, group_stages, stage_table  # noqa: E402

END_TO_END = ("setup_s", "mix_pass_s")
LAYERS = ("driver", "session", "provide", "incremental", "operators", "streaming", "io")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


class Phases:
    """Times the phases of one operation (build / plan / exec ...)."""

    def __init__(self, run, rec: dict | None):
        self.run, self.rec = run, rec

    @contextmanager
    def __call__(self, name: str, layer: str):
        if self.rec is None:
            yield
            return
        tr = self.run.tracer
        t0 = time.perf_counter()
        with tr.span(name, layer) if tr else nullcontext():
            yield
        self.rec["phases"][name] = self.rec["phases"].get(name, 0.0) + time.perf_counter() - t0

    def plan(self, df, layer: str = "provide") -> None:
        """Physical planning (``executedPlan()``), timed in traced runs only."""
        if self.rec is not None and self.run.tracer is not None:
            with self("plan", layer):
                df._jdf.queryExecution().executedPlan()


class Run:
    """State of one benchmark process: session, work dir, op records."""

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores
        self.ops: list[dict] = []
        self.tracer: Tracer | None = None
        self.tag = "untraced"
        self.next_pass = 0
        self.no_phases = Phases(self, None)

    def timed_ops(self, tag: str = "untraced") -> list[dict]:
        return [o for o in self.ops if o["tag"] == tag and o["ok"]]

    def do(self, kind: str, op_type: str, docs: int, fn, pass_no: int) -> dict:
        from curatorhadoopinterface_spark.streaming.ops import BATCH_LOG

        rec = {"id": f"op{len(self.ops)}", "kind": kind, "type": op_type, "docs": docs,
               "tag": self.tag, "pass": pass_no, "phases": {}, "ok": True}
        sc, tr = self.spark.sparkContext, self.tracer
        sc.setJobGroup(rec["id"], kind)
        if tr:
            tr.op_id = rec["id"]
        n_batches = len(BATCH_LOG)
        t0 = time.perf_counter()
        try:
            with tr.span(kind, "driver") if tr else nullcontext():
                fn(Phases(self, rec))
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
            print(rec["error"], file=sys.stderr)
        rec["sec"] = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        if tr:
            tr.op_id = None
        new = [b for b in BATCH_LOG[n_batches:] if b.get("trigger_ms") is not None]
        rec["batches"], rec["trigger_ms"] = len(new), sum(b["trigger_ms"] for b in new)
        self.ops.append(rec)
        return rec


def timed_loop(run: Run, wl, seconds: float) -> None:
    """Closed loop: passes over the workload's mix, one op at a time,
    until ``seconds`` have elapsed and at least one pass is complete."""
    start = time.perf_counter()
    first = True
    while first or time.perf_counter() - start < seconds:
        pass_no = run.next_pass
        run.next_pass += 1
        recs = []
        for kind, op_type, docs, fn in wl.pass_ops(run, pass_no):
            if not first and time.perf_counter() - start >= seconds:
                break
            recs.append(run.do(kind, op_type, docs, fn, pass_no))
        first = False
        time.sleep(0.3)  # stage metrics per op, outside the timed windows
        table = stage_table(run.spark)
        for rec in recs:
            rec["stages"] = group_stages(run.spark, table, rec["id"])


def mix_pass_s(ops: list[dict]) -> float:
    """Seconds for one pass over the mix: sum over op kinds of the
    median latency of that kind."""
    kinds = sorted({o["kind"] for o in ops})
    return sum(statistics.median(o["sec"] for o in ops if o["kind"] == k) for k in kinds)


def _med(vals) -> float:
    vals = list(vals)
    return statistics.median(vals) if vals else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def layer_values(run: Run, wl, report: dict) -> dict:
    """Every per-layer metric; 0 where the workload does not use the layer."""
    import probes

    tr = run.tracer
    ops = run.timed_ops("traced")
    spans = [s for s in tr.spans if s["op"] is not None]

    def spans_of(name):
        return [s for s in spans if s["name"] == name]

    def st(o, f):
        return o.get("stages", {}).get(f, 0)

    v = {"peak_rss_mb": run.peak_rss_mb, "session.get_spark_s": run.session_s}
    lt = spans_of("session.load_table")
    v["session.load_table_calls"] = len(lt) / max(1, len(ops))
    v["session.load_table_ms"] = _med(_dur(s) * 1e3 for s in lt)

    rows = wl.probe_rows()
    v.update(probes.annotators(rows, run.seed))
    v.update(probes.thrift_codec(rows, run.seed))

    ann = [o for o in ops if o["type"] == "annotate"]
    v["provide.build_ms"] = _med(_dur(s) * 1e3 for s in spans_of("provide.provide"))
    v["provide.plan_ms"] = _med(o["phases"]["plan"] * 1e3 for o in ann)
    v["provide.exec_s"] = _med(o["phases"]["exec"] for o in ann)
    v["provide.stages"] = _med(st(o, "stages") for o in ann)
    run_ms = sum(st(o, "executorRunTime") for o in ann)
    v["provide.exec_cpu_ratio"] = sum(st(o, "executorCpuTime") for o in ann) / 1e6 / run_ms if run_ms else 0.0
    rate = report.get("docs_per_s", (0.0,))[0]
    v["provide.worker_efficiency"] = rate / (run.cores * v["annotators.record_docs_per_s"])

    upd = [o for o in ops if o["type"] == "update"]
    by_op: dict[str, float] = {}
    for s in spans_of("incremental.load") + spans_of("incremental.upsert"):
        if s["name"] == "incremental.upsert" or tr.spans[s["parent"]]["name"] != "incremental.upsert":
            by_op[s["op"]] = by_op.get(s["op"], 0.0) + _dur(s)
    v["incremental.load_ms"] = _med(_dur(s) * 1e3 for s in spans_of("incremental.load"))
    v["incremental.upsert_s"] = _med(_dur(s) for s in spans_of("incremental.upsert"))
    v["incremental.annotate_s"] = _med(o["sec"] - by_op.get(o["id"], 0.0) for o in upd)
    v["incremental.output_mb"] = _med(st(o, "outputBytes") / 1e6 for o in upd)
    v["incremental.shuffle_mb"] = _med((st(o, "shuffleReadBytes") + st(o, "shuffleWriteBytes")) / 1e6 for o in upd)
    v["incremental.hit_ratio"] = 0.0
    v["incremental.hit_speedup"] = 0.0

    for t in ("relational", "curation"):
        q = [o for o in ops if o["type"] == t]
        p = f"operators.{t}."
        v[p + "build_ms"] = _med(o["phases"]["build"] * 1e3 for o in q)
        v[p + "plan_ms"] = _med(o["phases"]["plan"] * 1e3 for o in q)
        v[p + "exec_s"] = _med(o["phases"]["exec"] for o in q)
        v[p + "stages"] = _med(st(o, "stages") for o in q)
        v[p + "tasks"] = _med(st(o, "numCompleteTasks") for o in q)
        v[p + "shuffle_read_mb"] = _med(st(o, "shuffleReadBytes") / 1e6 for o in q)
        v[p + "shuffle_write_mb"] = _med(st(o, "shuffleWriteBytes") / 1e6 for o in q)
        v[p + "spill_mb"] = _med((st(o, "memoryBytesSpilled") + st(o, "diskBytesSpilled")) / 1e6 for o in q)
        wall = sum(o["phases"]["exec"] for o in q) * run.cores
        v[p + "cpu_util"] = sum(st(o, "executorCpuTime") for o in q) / 1e9 / wall if wall else 0.0

    stream = [o for o in ops if o["type"] == "streaming"]
    v["streaming.batches"] = _med(o["batches"] for o in stream)
    v["streaming.trigger_ms_sum"] = _med(o["trigger_ms"] for o in stream)

    v["io.read_thrift_s"] = _med(o["sec"] for o in ops if o["kind"] == "thrift_read")
    v["io.write_thrift_s"] = _med(o["sec"] for o in ops if o["kind"] == "thrift_write")
    v["io.write_corpus_s"] = _med(_dur(s) for s in spans_of("io.write_corpus"))

    busy = sum(o["sec"] for o in ops)
    selfs = tr.self_times()
    for layer in LAYERS:
        v[f"self_share.{layer}"] = selfs.get(layer, 0.0) / busy if busy else 0.0
    v["trace.overhead_s"] = mix_pass_s(ops) - mix_pass_s(run.timed_ops())
    v.update(wl.layers(run))
    return v


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - escalate to kill, then wait
            proc.kill()
            proc.wait()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["annotate", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path[1:1] = [root, os.path.join(root, "tools")]
    try:
        import curatorhadoopinterface_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {root}: {exc}", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work)
    import workloads

    cores = len(os.sched_getaffinity(0))
    log(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} local[{cores}]")
    spark = None
    try:
        from curatorhadoopinterface_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
        run = Run(spark, work, args.seed, cores)
        run.session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[args.workload](args.seed)
        reps = []
        for _ in range(3):
            t = time.perf_counter()
            desc = wl.materialize(run)
            reps.append(time.perf_counter() - t)
        log(f"inputs: {desc}")
        t = time.perf_counter()
        wl.warm(run)
        warm_s = time.perf_counter() - t
        setup_s = run.session_s + statistics.median(reps) + warm_s
        log(f"setup: session {run.session_s:.3f} s + inputs {statistics.median(reps):.3f} s "
            f"(median of {', '.join(f'{r:.3f}' for r in reps)}) + warm-up {warm_s:.3f} s")

        timed_loop(run, wl, args.seconds)
        run.peak_rss_mb = metrics.tree_hwm_mb()
        if args.trace:
            run.tag = "traced"
            run.tracer = Tracer()
            run.tracer.install()
            timed_loop(run, wl, args.seconds)
            run.tracer.uninstall()

        checks = []
        try:
            checks = wl.check(run)
        except Exception:  # noqa: BLE001 - a check that cannot run is a failed check
            traceback.print_exc()
            checks = [("output checks ran", False, "raised", {o["kind"] for o in run.ops})]
        bad_kinds = set().union(*[k for _, ok, _, k in checks if not ok]) if checks else set()
        failed = sum(1 for o in run.ops if not o["ok"] or o["kind"] in bad_kinds)
        correct = failed == 0 and all(ok for _, ok, _, _ in checks)
        for name, ok, detail, _ in checks:
            log(f"check {'PASS' if ok else 'FAIL'}: {name} ({detail})")

        ops = run.timed_ops()
        log(f"{len(ops)} timed ops in {run.next_pass} passes ({len(run.ops)} attempted, {failed} failed)")
        values = dict(zip(END_TO_END, (setup_s, mix_pass_s(ops))))
        report = {**wl.report(run), "failed_ratio": (failed / len(run.ops), "fraction"),
                  "peak_rss_mb": (run.peak_rss_mb, "MB")}
        if args.trace:
            values.update(layer_values(run, wl, report))
            selfs = {k[len("self_share."):]: values[k] for k in values if k.startswith("self_share.")}
            log("self time share by layer: " + ", ".join(f"{k} {v:.3f}" for k, v in selfs.items()))
            log(f"tracing overhead: {values['trace.overhead_s']:+.4f} s per pass "
                f"(traced {mix_pass_s(run.timed_ops('traced')):.4f} s vs untraced {values['mix_pass_s']:.4f} s)")
            run.tracer.dump(os.path.join(results, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        shown = {**{k: (v, units[k]) for k, v in values.items()}, **report}
        for name, (val, unit) in shown.items():
            log(f"metric {name} = {'n/a (too few samples beyond it)' if val is None else f'{val:.6g}'} {unit}")
        out = metrics.result_line(spec, bool(args.trace), values, len(run.ops), failed, correct)
        with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump({"result": out, "shown": shown, "checks": [c[:3] for c in checks],
                       "ops": [{k: o[k] for k in ("kind", "type", "tag", "pass", "sec", "ok")} for o in run.ops]},
                      fh, indent=1)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
