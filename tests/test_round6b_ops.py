"""Planted-fixture semantics for the round-6b operators: covariance
fixed-point arithmetic, DSIR selection signs, t-closeness EMD
identities, decomposition nulls/zeros, link-prediction wedge math, the
epoch planner's budget invariant, and the A-RES key replayed offline."""

import hashlib
import math
import os
import tempfile
from curatorhadoopinterface_spark.io import proc_scratch


def _write(spark, rows, schema, table, name):
    out_dir = proc_scratch(f"test_{name}")
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(out_dir, f"{table}.parquet")
    )
    return out_dir


DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EMB_SCHEMA = "vec_id long, label string, embedding array<float>"


def _vec(*head):
    return list(head) + [0.0] * (64 - len(head))


def test_covariance_exact_integers(spark):
    """Three vectors with dims (0.1,0.2,0.3) x (0.2,0.4,0.6): quantized
    centered products are exact BIGINTs, so cov_pico is the integer
    division 20e9 div 3 on the diagonal and 40e9 div 3 off it; all-zero
    dims have zero covariance."""
    from curatorhadoopinterface_spark.operators.mlops import emb_covariance

    rows = [
        (1, "a", _vec(0.1, 0.2)),
        (2, "a", _vec(0.2, 0.4)),
        (3, "a", _vec(0.3, 0.6)),
    ]
    out_dir = _write(spark, rows, EMB_SCHEMA, "embeddings", "cov")
    got = {
        (r.dim_i, r.dim_j): r.cov_pico
        for r in emb_covariance(spark, out_dir).collect()
    }
    assert got[(1, 1)] == 20_000_000_000 // 3
    assert got[(1, 2)] == 40_000_000_000 // 3
    assert got[(2, 2)] == 80_000_000_000 // 3
    assert got[(3, 3)] == 0 and got[(3, 4)] == 0


def test_dsir_selects_target_like_sources(spark):
    """Raw docs made of target-frequent words get positive log-weight
    (selected); raw docs of words the target never uses get negative
    (dropped). Census is per-source, so plant one source per case."""
    from curatorhadoopinterface_spark.operators.curation import dsir_importance

    target = [(i, "good clean prose here", "en", "tgt", 1) for i in range(8)]
    pos = [(100 + i, "good clean prose here", "de", "s_pos", 1) for i in range(4)]
    neg = [(200 + i, "zz yy xx ww", "de", "s_neg", 1) for i in range(4)]
    out_dir = _write(spark, target + pos + neg, DOC_SCHEMA, "documents", "dsir")
    got = {r.source: r for r in dsir_importance(spark, out_dir).collect()}
    assert set(got) == {"s_pos", "s_neg"}  # target source never scored
    assert got["s_pos"].selected_permille == 1000
    assert got["s_pos"].mean_logweight_nats > 0
    assert got["s_neg"].selected_permille == 0
    assert got["s_neg"].mean_logweight_nats < 0


CUST_SCHEMA = (
    "c_custkey long, c_name string, c_address string, c_nationkey long,"
    " c_phone string, c_acctbal double, c_mktsegment string, c_comment string"
)


def _cust(k, nation, bal):
    return (k, "n", "a", nation, "p", bal, "X", "c")


def test_tcloseness_skewed_cells_breach(spark):
    """Two 20-member cells at opposite ends of the bracket scale: each
    cell's cumulative distribution differs from the 50/50 global by 0.5
    across 5 of 10 bracket steps -> t = 0.25 exactly, above the 0.2
    release bar despite k-anonymity."""
    from curatorhadoopinterface_spark.operators.curation import (
        privacy_tcloseness,
    )

    rows = [_cust(i, 1, 500.0) for i in range(20)] + [
        _cust(100 + i, 2, 5500.0) for i in range(20)
    ]
    out_dir = _write(spark, rows, CUST_SCHEMA, "customer", "tclose")
    got = {r.c_nationkey: r for r in privacy_tcloseness(spark, out_dir).collect()}
    assert got[1].t_emd == 0.25 and got[2].t_emd == 0.25
    assert not got[1].released and not got[2].released


def test_tcloseness_identical_distribution_releases(spark):
    """Every cell matching the global distribution exactly -> t = 0 and
    released wherever n >= k."""
    from curatorhadoopinterface_spark.operators.curation import (
        privacy_tcloseness,
    )

    rows = [_cust(i, 1, 500.0) for i in range(12)] + [
        _cust(100 + i, 2, 500.0) for i in range(12)
    ]
    out_dir = _write(spark, rows, CUST_SCHEMA, "customer", "tclose0")
    for r in privacy_tcloseness(spark, out_dir).collect():
        assert r.t_emd == 0.0 and r.released


ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string,"
    " o_comment string"
)


def test_decompose_constant_series_is_all_trend(spark):
    """Constant daily revenue: trend == revenue on full windows,
    seasonal and residual exactly 0; the 3 edge days each side have
    NULL trend (centered MA requires a full 7-day window)."""
    import datetime

    from curatorhadoopinterface_spark.operators.analytics import ts_decompose

    rows = [
        (i, 1, "F", 100.0, datetime.datetime(2024, 1, 1 + i), "1-URGENT", "c")
        for i in range(15)
    ]
    out_dir = _write(spark, rows, ORD_SCHEMA, "orders", "decomp")
    out = sorted(ts_decompose(spark, out_dir).collect(), key=lambda r: r.day)
    assert len(out) == 15
    for i, r in enumerate(out):
        assert r.revenue == 100.0
        if 3 <= i <= 11:
            assert r.trend == 100.0 and r.seasonal == 0.0 and r.residual == 0.0
        else:
            assert r.trend is None


LI_SCHEMA = "l_orderkey long, l_partkey long"


def test_link_prediction_wedge(spark):
    """Edges A-B and B-C (support 2 each), no A-C edge: the only
    candidate is (A,C) through center B with deg 2 -> common=1,
    AA = 1/ln 2, Jaccard 1/(1+1-1) = 1000 permille."""
    from curatorhadoopinterface_spark.operators.analytics import (
        graph_link_prediction,
    )

    rows = [
        (1, 101), (1, 102),
        (2, 101), (2, 102),
        (3, 102), (3, 103),
        (4, 102), (4, 103),
    ]
    out_dir = _write(spark, rows, LI_SCHEMA, "lineitem", "linkpred")
    out = graph_link_prediction(spark, out_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.u, r.v, r.common, r.jaccard_permille) == (101, 103, 1, 1000)
    assert r.adamic_adar == round(math.floor(1e9 / math.log(2)) / 1e9, 6)


def test_epoch_planner_budget_invariant(spark):
    """en=1000 tokens, de=100: de hits the 4-epoch cap (400 tokens),
    en takes the remaining 2900 of the 3300 budget; allocations sum to
    the budget EXACTLY (hand-replay of the cross-multiplied feasibility
    test in the docstring)."""
    from curatorhadoopinterface_spark.operators.curation import mixture_epochs

    rows = [
        (1, ("a " * 1000).strip(), "en", "s", 1),
        (2, ("b " * 100).strip(), "de", "s", 1),
    ]
    out_dir = _write(spark, rows, DOC_SCHEMA, "documents", "epochs")
    got = {r.lang: r for r in mixture_epochs(spark, out_dir).collect()}
    assert got["de"].capped and got["de"].allocated == 400
    assert got["de"].epochs_milli == 4000
    assert not got["en"].capped and got["en"].allocated == 2900
    assert got["en"].allocated + got["de"].allocated == 3 * 1100


def test_ares_key_offline_replay(spark):
    """The A-RES rank key replays bit-identically in pure Python:
    u = (md5_28bit(doc_id)+1)/(2^28+1), key = floor(ln(u)*1e9)/w —
    heavier docs rank closer to zero in expectation, and the engine's
    ordering matches the offline replay exactly."""
    from curatorhadoopinterface_spark.operators.curation import sample_weighted

    rows = [
        (i, "t", "en", "s", w)
        for i, w in [(1, 10), (2, 1000), (3, 50), (4, 7), (5, 333)]
    ]
    out_dir = _write(spark, rows, DOC_SCHEMA, "documents", "ares")

    def key(doc_id, w):
        v = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:7], 16)
        ln_nano = math.floor(math.log((v + 1) / ((1 << 28) + 1)) * 1e9)
        return ln_nano / w

    expect = sorted(rows, key=lambda r: (-key(r[0], r[4]), r[0]))
    got = sample_weighted(spark, out_dir).collect()
    assert [r.doc_id for r in got] == [r[0] for r in expect]
    for r in got:
        w = dict((x[0], x[4]) for x in rows)[r.doc_id]
        # display column only: Python round() is banker's, Spark round()
        # is HALF_UP — they differ in the 9th decimal on ties; the RANK
        # key (asserted exactly above) is the pre-round double
        assert abs(r.ares_key - key(r.doc_id, w) / 1e9) <= 1e-9
