"""Engine-side A19-style self-verification for the sf10-sweep
exclusions that no feasible DuckDB oracle covers (round-5 verdict item
5). Complements tools/verify_fingerprint.py (which closes the raw-dump
exclusions with cross-engine aggregate fingerprints); this tool covers
the four operators whose ORACLE formulation is structurally infeasible
at 100x, with in-engine invariant checks in the A19 re-verification
pattern (plans/verify.verify_records):

- dedup_clusters: labels are recomputed in PAIR form (verified doc
  pairs -> connected_components), and the query itself, derived from
  its class twin, is cross-checked against them: hash-to-min fixpoint
  (one more propagation step changes ZERO labels), every verified
  near-dup edge connects same-label nodes, cluster_id == min member
  id, and the query's (doc_id, cluster_id) rows, cluster_size and
  is_canonical equal the pair-form components'.
- dedup_keep_best (also derived from its class twin), against the
  same pair-form labels: membership conservation (sum n_docs ==
  clustered nodes), n_dropped identity, and NO member outscores its
  keeper (score recomputed independently per document).
- dedup_embed_cosine: zero pairs below the cosine threshold, pair
  orientation/distinctness, and pair count equal to the oracle-green
  dedup_embed_cosine_census (a cross-QUERY identity that transitively
  oracle-checks the cardinality).
- dedup_semantic: per-label conservation (kept + dropped == n_vecs,
  kept >= 1) and total-vector conservation. NOTE: the fixed-k contract
  makes the operator itself out-of-contract above ~10x BY DESIGN
  (clusters grow with the corpus, the within-cluster pair join goes
  quadratic) — its checks run at the contract boundary sf_dir you pass
  (sf1 recommended); dedup_semantic_scaledk, the in-contract form, is
  strict-oracle green at sf10 in the main sweep.

Usage: python -u tools/engine_check_sf10.py [sf_dir] [check ...]
       (default sf_dir /tmp/sf10_seed42; default checks: clusters,
        keep_best, embed_cosine; pass 'semantic' explicitly with an
        in-contract sf_dir)
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyspark.sql.functions as F  # noqa: E402


def _tally(name: str, checks: list[tuple[str, bool, str]]) -> bool:
    ok = all(c[1] for c in checks)
    for inv, good, detail in checks:
        print(f"  [{'ok' if good else 'VIOLATION'}] {inv}: {detail}", flush=True)
    print(f"[{'PASS' if ok else 'FAIL'}] {name} engine-check", flush=True)
    return ok


def check_clusters_and_keep_best(spark, sf_dir: str) -> list[bool]:
    from curatorhadoopinterface_spark.operators import dedup as D
    from curatorhadoopinterface_spark.session import load_table

    pairs = D._minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    pairs = pairs.localCheckpoint(eager=True)  # reused by 5 checks below
    labels = D.connected_components(pairs).localCheckpoint(eager=True)

    sym = pairs.union(pairs.select("doc_b", "doc_a")).toDF("src", "dst")
    lab_src = labels.select(
        F.col("node").alias("src"), F.col("comp").alias("comp_src")
    )
    lab_dst = labels.select(
        F.col("node").alias("dst"), F.col("comp").alias("comp_dst")
    )
    edge_lab = sym.join(lab_src, "src").join(lab_dst, "dst")
    # C1 fixpoint: one MORE hash-to-min step moves nothing
    moved = (
        edge_lab.groupBy("src")
        .agg(F.min("comp_dst").alias("nbr_min"))
        .join(lab_src, "src")
        .filter(F.col("nbr_min") < F.col("comp_src"))
        .count()
    )
    # C2 every verified near-dup edge is intra-cluster
    split_edges = edge_lab.filter(F.col("comp_src") != F.col("comp_dst")).count()
    # C3 label == min member id per cluster
    bad_rep = (
        labels.groupBy("comp")
        .agg(F.min("node").alias("mn"))
        .filter(F.col("comp") != F.col("mn"))
        .count()
    )
    # C4 the class implementation reproduces the pair-form components
    cl = D.dedup_clusters(spark, sf_dir).localCheckpoint(eager=True)
    got = cl.select("doc_id", "cluster_id")
    want = labels.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )
    label_diff = got.exceptAll(want).count() + want.exceptAll(got).count()
    sizes = want.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    bad_size = (
        cl.join(sizes, "cluster_id")
        .filter(
            (F.col("cluster_size") != F.col("n"))
            | (F.col("is_canonical") != (F.col("doc_id") == F.col("cluster_id")))
        )
        .count()
    )
    clusters_ok = _tally(
        "dedup_clusters",
        [
            ("fixpoint_extra_iteration_moves_zero", moved == 0, f"{moved} movable nodes"),
            ("edges_intra_cluster", split_edges == 0, f"{split_edges} split edges"),
            ("cluster_id_is_min_member", bad_rep == 0, f"{bad_rep} bad reps"),
            ("class_form_labels_equal_pair_form", label_diff == 0,
             f"{label_diff} rows differ"),
            ("cluster_size_and_canonical_match", bad_size == 0,
             f"{bad_size} bad rows"),
        ],
    )

    kb = D.dedup_keep_best(spark, sf_dir).localCheckpoint(eager=True)
    n_nodes = labels.count()
    n_docs_sum = kb.agg(F.sum("n_docs")).first()[0]
    bad_drop = kb.filter(F.col("n_dropped") != F.col("n_docs") - 1).count()
    # K3: recompute member scores independently and find any member that
    # beats its cluster's keeper under the (score desc, doc_id asc) rule
    from curatorhadoopinterface_spark.operators.textstats import _FEAT_W_SPARK

    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "aggregate(transform(split(text, ' '),"
            f" w -> cast({_FEAT_W_SPARK} as bigint)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("score"),
    )
    members = labels.join(scored, labels["node"] == scored["doc_id"]).select(
        F.col("comp").alias("cluster_id"), "doc_id", "score"
    )
    beat = (
        members.join(kb.select("cluster_id", "keeper_doc_id", "keeper_score"),
                     "cluster_id")
        .filter(
            (F.col("score") > F.col("keeper_score"))
            | (
                (F.col("score") == F.col("keeper_score"))
                & (F.col("doc_id") < F.col("keeper_doc_id"))
            )
        )
        .count()
    )
    kb_ok = _tally(
        "dedup_keep_best",
        [
            ("membership_conserved", n_docs_sum == n_nodes,
             f"sum(n_docs)={n_docs_sum} vs {n_nodes} clustered nodes"),
            ("n_dropped_identity", bad_drop == 0, f"{bad_drop} bad rows"),
            ("no_member_outscores_keeper", beat == 0, f"{beat} beating members"),
        ],
    )
    return [clusters_ok, kb_ok]


def check_embed_cosine(spark, sf_dir: str) -> list[bool]:
    import __spark_entry__ as m

    qs = m.queries()
    pairs = qs["dedup_embed_cosine"](spark, sf_dir).localCheckpoint(eager=True)
    from curatorhadoopinterface_spark.operators.similarity import NEARDUP_COS

    below = pairs.filter(F.col("cosine") < NEARDUP_COS).count()
    disorder = pairs.filter(F.col("vec_a") >= F.col("vec_b")).count()
    n_pairs = pairs.count()
    n_distinct = pairs.select("vec_a", "vec_b").distinct().count()
    census = qs["dedup_embed_cosine_census"](spark, sf_dir).first()
    return [
        _tally(
            "dedup_embed_cosine",
            [
                ("zero_pairs_below_threshold", below == 0,
                 f"{below} below {NEARDUP_COS}"),
                ("orientation_vec_a_lt_vec_b", disorder == 0, f"{disorder} bad"),
                ("pairs_distinct", n_pairs == n_distinct,
                 f"{n_pairs} rows vs {n_distinct} distinct"),
                ("count_matches_oracle_green_census",
                 n_pairs == census["n_dup_pairs"],
                 f"{n_pairs} vs census {census['n_dup_pairs']}"),
            ],
        )
    ]


def check_semantic(spark, sf_dir: str) -> list[bool]:
    import __spark_entry__ as m
    from curatorhadoopinterface_spark.session import load_table

    out = m.queries()["dedup_semantic"](spark, sf_dir).localCheckpoint(eager=True)
    bad_sum = out.filter(
        F.col("n_kept") + F.col("n_dropped") != F.col("n_vecs")
    ).count()
    no_keeper = out.filter(
        (F.col("n_vecs") >= 1) & (F.col("n_kept") < 1)
    ).count()
    total = out.agg(F.sum("n_vecs")).first()[0]
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    return [
        _tally(
            "dedup_semantic",
            [
                ("kept_plus_dropped_is_nvecs", bad_sum == 0, f"{bad_sum} bad labels"),
                ("every_label_keeps_one", no_keeper == 0, f"{no_keeper} empty"),
                ("vectors_conserved", total == n_emb, f"{total} vs {n_emb}"),
            ],
        )
    ]


def check_link_prediction(spark, sf_dir: str) -> list[bool]:
    """sf10-sweep exclusion cover (the DuckDB oracle spills >60 GB on
    the un-pipelined wedge join): the engine's top-20 must contain no
    pair that IS a co-purchase edge (the anti-join identity), every
    candidate must share >= 1 neighbor, and Jaccard stays in range."""
    import __spark_entry__ as m
    from curatorhadoopinterface_spark.session import load_table

    out = m.queries()["graph_link_prediction"](spark, sf_dir).localCheckpoint(
        eager=True
    )
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    cop = (
        basket.alias("a")
        .join(
            basket.alias("b"),
            (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")),
        )
        .groupBy(F.col("a.p").alias("p1"), F.col("b.p").alias("p2"))
        .count()
        .filter(F.col("count") >= 2)
    )
    leaked = out.join(
        cop,
        (F.col("p1") == F.col("u")) & (F.col("p2") == F.col("v")),
        "left_semi",
    ).count()
    no_common = out.filter(F.col("common") < 1).count()
    bad_jac = out.filter(
        (F.col("jaccard_permille") < 0) | (F.col("jaccard_permille") > 1000)
    ).count()
    n = out.count()
    return [
        _tally(
            "graph_link_prediction",
            [
                ("no_candidate_is_an_existing_edge", leaked == 0,
                 f"{leaked} leaked"),
                ("every_candidate_shares_a_neighbor", no_common == 0,
                 f"{no_common} bad"),
                ("jaccard_in_range", bad_jac == 0, f"{bad_jac} bad"),
                ("emits_topk", n > 0 and n <= 20, f"{n} rows"),
            ],
        )
    ]


CHECKS = {
    "clusters": check_clusters_and_keep_best,  # also covers keep_best
    "embed_cosine": check_embed_cosine,
    "semantic": check_semantic,
    "link_prediction": check_link_prediction,
}


def main() -> int:
    from curatorhadoopinterface_spark.session import get_spark

    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1 and "/" in sys.argv[1]
        else "/tmp/sf10_seed42"
    )
    only = [a for a in sys.argv[1:] if "/" not in a] or [
        "clusters",
        "embed_cosine",
    ]
    spark = get_spark("engine-check")
    spark.sparkContext.setLogLevel("ERROR")
    results: list[bool] = []
    for name in only:
        t0 = time.time()
        results += CHECKS[name](spark, sf_dir)
        print(f"... {name} block took {time.time()-t0:.1f}s", flush=True)
    n_fail = sum(not r for r in results)
    print(f"\nengine-check: {len(results) - n_fail} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
