"""profile(): the per-query record, checked against the set difference of
the status store's whole ``stageList`` taken around the same run (the
method the timing tools used before it), and a qtime CLI smoke run."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from curatorhadoopinterface_spark.operators import all_queries
from curatorhadoopinterface_spark.profile import TOP_STAGES, profile

REPO = Path(__file__).resolve().parent.parent


def _stage_keys(spark) -> set:
    """Reference: (stageId, attempt) of every stage the store retains."""
    store = spark.sparkContext._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    seq = store.stageList(
        gw.jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    return {(seq.apply(i).stageId(), seq.apply(i).attemptId()) for i in range(seq.size())}


def _shuffle_query(spark, sf_dir):
    return spark.range(2_000_000).repartition(4).groupBy().count()


@pytest.fixture(scope="module")
def shuffle_rec(spark, sf_dir):
    return profile(_shuffle_query, spark, sf_dir)


def test_stage_totals(shuffle_rec):
    assert shuffle_rec["stages"] >= 2
    assert shuffle_rec["shuffle_write_mb"] > 0
    assert shuffle_rec["tasks"] > 0
    assert 0 < len(shuffle_rec["top_stages"]) <= TOP_STAGES
    assert shuffle_rec["n_batches"] == 0 and "batch_ms" not in shuffle_rec


def test_timed_window_split(shuffle_rec):
    rec = shuffle_rec
    assert abs(rec["sec"] - (rec["build_s"] + rec["exec_s"])) <= 1e-3
    assert rec["plan_s"] > 0


def test_back_to_back_calls_do_not_double_count(spark, sf_dir, shuffle_rec):
    assert profile(_shuffle_query, spark, sf_dir)["stages"] == shuffle_rec["stages"]


def test_stages_match_store_set_difference(spark, sf_dir):
    qfn = all_queries()["dedup_minhash"]
    before = _stage_keys(spark)
    rec = profile(qfn, spark, sf_dir)
    assert rec["stages"] == len(_stage_keys(spark) - before)
    assert rec["stages"] > 0


def test_streaming_batches(spark, sf_dir):
    rec = profile(all_queries()["stream_window_agg"], spark, sf_dir)
    assert rec["n_batches"] >= 1
    assert rec["batch_ms"]["sum"] >= rec["batch_ms"]["max"] >= 0
    assert len(rec["batch_ms"]["per_batch"]) == rec["n_batches"]


def test_qtime_smoke(sf_dir):
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir}
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "qtime.py"), "--sf-dir", sf_dir,
         "--runs", "1", "agg_groupby", "no_such_query"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    records = [r for r in rows if "error" not in r]
    errors = [r for r in rows if "error" in r]
    assert [r["name"] for r in records] == ["agg_groupby"]
    assert {"build_s", "plan_s", "exec_s", "stages", "top_stages"} <= set(records[0])
    assert [r["name"] for r in errors] == ["no_such_query"]


def test_python_stages_counts_worker_stages(spark):
    def jvm(s, d):
        return s.range(40).repartition(4)

    def python(s, d):
        return jvm(s, d).mapInPandas(lambda it: (pdf for pdf in it), "id long")

    assert "python_stages" not in profile(python, spark, None)
    assert profile(jvm, spark, None, python=True)["python_stages"] == 0
    rec = profile(python, spark, None, python=True)
    assert 1 <= rec["python_stages"] < rec["stages"]
