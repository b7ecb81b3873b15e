"""Time declared queries end to end: one ``profile()`` record per rung.

Usage:
  python tools/qtime.py [--runs N] [--plan-dir DIR] [--sf-dir DIR ...]
                        [--fork] [name ...]

With no names every declared query is timed. Each query first gets one
untimed warm-up at ``session.DEFAULT_SF_DIR`` (generated code is the same
at every sf, so compile cost stays out of the first rung), then N
profiled runs (default 3) at each ``--sf-dir`` (default
DEFAULT_SF_DIR). A query's rungs run back to back in one session, so
machine load hits them alike and the ``ratio`` (last rung's best over
the first's, on the last rung's row) is the growth signal.

Prints one JSON line per query and rung: the fastest run's record
(``sec`` = ``build_s`` + ``exec_s``, ``plan_s``, stage totals,
``top_stages``, micro-batches) plus ``runs``, every run's ``sec``. An
unknown name, a failed query or a dead rung prints an error row and the
run goes on.

--plan-dir DIR  write each query's .explain("formatted") to DIR/<name>.txt
--fork          one process (one Spark session) per query: a long session
                piles up shuffle files and localCheckpoint blocks across
                queries, and at sf30 that filled the disk

Rows from one session are not comparable across queries: a query's
position in the run alone moves its time by ~25% (one query timed
4.25 s, and the same function under another name 3.41 s two queries
later). To compare queries, or a parent checkout against a change, use
``--fork`` and alternate the two sides.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from curatorhadoopinterface_spark.profile import profile, warm  # noqa: E402
from curatorhadoopinterface_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402


def _emit(row: dict) -> None:
    print(json.dumps(row), flush=True)


def _fail(row: dict, exc: Exception) -> None:
    """Report a failed query or rung and let the run go on."""
    traceback.print_exc()
    _emit({**row, "error": (str(exc).strip().splitlines() or [type(exc).__name__])[0][:200]})


def _time_query(spark, qfn, name: str, args, sf_dirs: list[str]) -> None:
    try:
        profile(qfn, spark, DEFAULT_SF_DIR)
        if args.plan_dir:
            df = qfn(spark, sf_dirs[0])
            with open(os.path.join(args.plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
    except Exception as exc:
        _fail({"name": name}, exc)
        return
    best = {}
    for sf_dir in sf_dirs:
        try:
            recs = [profile(qfn, spark, sf_dir) for _ in range(args.runs)]
        except Exception as exc:
            _fail({"name": name, "sf_dir": sf_dir}, exc)
            continue
        best[sf_dir] = min(recs, key=lambda r: r["sec"])
        row = {"name": name, "sf_dir": sf_dir, "runs": [r["sec"] for r in recs]}
        if len(sf_dirs) > 1 and sf_dir == sf_dirs[-1] and sf_dirs[0] in best:
            row["ratio"] = round(best[sf_dir]["sec"] / max(best[sf_dirs[0]]["sec"], 1e-3), 2)
        _emit({**row, **best[sf_dir]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan-dir")
    ap.add_argument("--sf-dir", action="append", dest="sf_dirs")
    ap.add_argument("--fork", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    sf_dirs = args.sf_dirs or [DEFAULT_SF_DIR]
    names = args.names or list(entrymod.queries())
    if args.plan_dir:
        os.makedirs(args.plan_dir, exist_ok=True)

    if args.fork:
        cmd = [sys.executable, "-u", os.path.abspath(__file__), "--runs", str(args.runs)]
        cmd += [a for d in sf_dirs for a in ("--sf-dir", d)]
        if args.plan_dir:
            cmd += ["--plan-dir", args.plan_dir]
        for name in names:
            rc = subprocess.run(cmd + [name]).returncode
            if rc:
                _emit({"name": name, "error": f"subprocess exited {rc}"})
        return

    spark = get_spark("qtime")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm(spark, DEFAULT_SF_DIR)
    for name in names:
        if name in qs:
            _time_query(spark, qs[name], name, args, sf_dirs)
        else:
            _emit({"name": name, "error": "unknown query"})


if __name__ == "__main__":
    main()
