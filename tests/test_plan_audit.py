"""Regression-lock the physical-plan audits (tools/plan_audit.py).

Two layers:

* ``test_audit_coverage_complete`` — AUDITS | EXEMPT must enumerate the
  full query registry, so a new operator can't land without either an
  audit spec or an explicit exemption reason.  This is the
  verify-everything discipline (the reference re-verifies every record
  it writes, CuratorClient.java:660-853) applied to the audit registry
  itself.

* ``planaudit`` marker — the invariant-critical plans (every
  dedup/sim/graph/contamination/salted family member) are re-audited
  live against sf0.01 on every run, so a refactor can't silently
  reintroduce a shuffle/cartesian.  The round-4 lesson: a 76 GB
  quadratic hid behind a green value-oracle until the plan itself was
  asserted (dedup_simhash_hamming).  ``pytest -m planaudit`` runs just
  this layer in a couple of minutes.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

import plan_audit  # noqa: E402  (tools/plan_audit.py)

SF_DIR = "/root/testdata/sf0.01"

# The scale-invariant-critical families: candidate generation must stay
# bucketed/equi, partial aggregation must stay map-side, cartesians must
# never appear.  Everything here has an explicit AUDITS spec.
CRITICAL = [
    # dedup family — every candidate generator
    "dedup_exact",
    "dedup_exact_normalized",
    "dedup_bow_signature",
    "dedup_url",
    "dedup_incremental",
    "dedup_minhash",
    "dedup_minhash_tuning",
    "dedup_minhash_recall",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "dedup_ngram_jaccard",
    "dedup_fuzzy_edit",
    "dedup_passages",
    "dedup_clusters",
    "dedup_keep_best",
    "dedup_semantic",
    "dedup_semantic_scaledk",
    "dedup_embed_cosine",
    "dedup_embed_cosine_census",
    "dedup_cascade",
    "dedup_containment",
    "dedup_containment_census",
    "dedup_containment_classes",
    "dedup_incremental_minhash",
    "dedup_source_overlap",
    "dedup_method_agreement",
    # similarity / ANN ladder
    "sim_topk",
    "sim_lsh_topk",
    "sim_knn_graph",
    "sim_ivf_topk",
    "sim_ivf_nprobe",
    "sim_pq_adc",
    "sim_pq_recall",
    "sim_ann_recall",
    # graph
    "graph_pagerank",
    "graph_bfs_hops",
    "graph_copurchase_topk",
    "graph_triangles",
    "graph_degree_distribution",
    # decontamination
    "contamination_ngram",
    "contamination_minhash",
    "contamination_semantic",
    # skew / packing regression locks
    "join_salted_skew",
    "pack_sequences_hier",
    "join_bucketed",
]


def test_audit_coverage_complete():
    import __spark_entry__ as entrymod

    unaudited, stale = plan_audit.coverage_gaps(entrymod.queries().keys())
    assert not unaudited, f"registered queries without AUDITS/EXEMPT: {unaudited}"
    assert not stale, f"stale or doubly-listed audit entries: {stale}"


def test_critical_names_have_explicit_specs():
    # a critical audit that degrades to the blanket {} default would
    # still "pass" while asserting nothing — require a real spec
    empty = [n for n in CRITICAL if not plan_audit.AUDITS.get(n)]
    assert not empty, f"critical queries with empty audit specs: {empty}"


@pytest.mark.planaudit
@pytest.mark.parametrize("name", CRITICAL)
def test_plan_invariants(spark, name):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fn = qs[name]
    plan = plan_audit.plan_of(plan_audit.lazy_query(fn, spark, SF_DIR))
    problems = plan_audit.audit(name, plan, plan_audit.AUDITS[name])
    assert not problems, f"{name}: {problems}"
