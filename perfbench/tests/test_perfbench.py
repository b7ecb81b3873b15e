"""Tests of the benchmark itself (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import metrics  # noqa: E402


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed():
    assert gen.corpus(7, 120) == gen.corpus(7, 120)
    assert gen.corpus(7, 120) != gen.corpus(8, 120)
    a, b = gen.star_tables(7, 0.001), gen.star_tables(7, 0.001)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(gen.star_tables(8, 0.001)["lineitem"])
    plan_a, plan_b = gen.IncrementalPlan(7, 150, 20), gen.IncrementalPlan(7, 150, 20)
    assert plan_a.pass_batches(3) == plan_b.pass_batches(3)
    assert plan_a.pass_batches(3) != plan_a.pass_batches(4)
    recs = gen.thrift_corpus(7, 30)
    assert [gen.thrift_blob(r) for r in recs] == [gen.thrift_blob(r) for r in gen.thrift_corpus(7, 30)]
    names = [f"q{i}" for i in range(12)]
    assert gen.query_order(7, names, 0) == gen.query_order(7, names, 0)
    assert sorted(gen.query_order(7, names, 1)) == sorted(names)


def test_corpus_has_long_documents_and_distinct_ids():
    rows = gen.corpus(3, 400)
    assert len({r["identifier"] for r in rows}) == len(rows)
    sentences = [r["raw_text"].count(". ") + 1 for r in rows]
    assert max(sentences) >= 5 and min(sentences) == 1


def test_incremental_batches_have_their_hit_shares():
    plan = gen.IncrementalPlan(5, 150, 20)
    stored = {r["identifier"] for r in plan.stored}
    for p in range(3):
        batches = dict(plan.pass_batches(p))
        assert list(batches) == list(gen.IncrementalPlan.KINDS)
        share = {k: sum(r["identifier"] in stored for r in rows) / len(rows) for k, rows in batches.items()}
        assert share == {"miss": 0.0, "half": 0.5, "hit": 1.0, "force": 1.0}
        assert {r["identifier"] for r in batches["half"]} & plan.stale_ids() == plan.stale_ids()


def test_thrift_blob_decodes_to_the_generated_record():
    from curatorhadoopinterface_spark.thrift_codec import decode_thrift_record

    for rec in gen.thrift_corpus(2, 20):
        assert decode_thrift_record(gen.thrift_blob(rec)) == rec


def test_percentile_needs_ten_samples_beyond_it():
    assert metrics.percentile(list(range(100)), 0.9) == 89
    assert metrics.percentile(list(range(99)), 0.9) is None
    assert metrics.percentile([], 0.5) is None
    assert metrics.percentile(list(range(20)), 0.5) == 9


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(spec, trace):
    section = spec["per_layer" if trace else "end_to_end"]
    values = {m["name"]: 1.5 for m in section}
    out = metrics.result_line(spec, trace, values, attempted=4, failed=0, correct=True)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {m["name"]: {"value": 1.5, "unit": m["unit"]} for m in section}
    del values[section[0]["name"]]
    with pytest.raises(ValueError):
        metrics.result_line(spec, trace, values, attempted=4, failed=0, correct=True)


def test_every_per_layer_metric_is_computed(spec):
    """``layer_values`` yields exactly the ``per_layer`` names, even for
    a run where no layer was exercised."""
    import run
    from tracing import Tracer

    class FakeRun:
        seed, cores, session_s, peak_rss_mb, ops = 1, 4, 1.0, 1.0, []
        tracer = Tracer()

        def timed_ops(self, tag="untraced"):
            return []

    class FakeWorkload:
        name = "fake"

        def probe_rows(self):
            return gen.corpus(1, 5)

        def layers(self, _run):
            return {}

    values = run.layer_values(FakeRun(), FakeWorkload(), {})
    assert set(values) == {m["name"] for m in spec["per_layer"]}


def test_end_to_end_names_match_the_spec(spec):
    import run

    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert set(spec["end_to_end"][0]) == {"name", "unit", "better", "bound"}
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "annotate", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
