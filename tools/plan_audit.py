"""Physical-plan audit: assert the scale invariants SURVEY.md section 7/M7
promises, and record the evidence in PLANS.md.

For each audited query this checks the formatted physical plan for:
  - parquet scans carrying PushedFilters when the query filters scan
    columns (predicate pushdown reached the reader);
  - ReadSchema pruned to the referenced columns (no full-width scans);
  - BroadcastHashJoin where a small side should broadcast;
  - no CartesianProduct anywhere (BroadcastNestedLoopJoin is allowed
    only where a query deliberately crosses against a broadcast-tiny
    side and says so below);
  - WholeStageCodegen spans exist (the JVM hot path is codegen'd).

Usage: python tools/plan_audit.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import inspect
import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# query -> invariants. "pushed": a PushedFilters entry must be non-empty;
# "broadcast": >=1 BroadcastHashJoin; "no_bnlj": BroadcastNestedLoopJoin
# is a failure (default True); "prune": ReadSchema must NOT contain the
# named columns (proves column pruning); "require"/"forbid": raw regexes
# the formatted plan must / must not match (for invariants the coarse
# flags can't express — e.g. a pinned join strategy).
AUDITS: dict[str, dict] = {
    "flagship_pricing_summary": {"pushed": True, "prune": ["l_comment", "l_partkey"]},
    "filter_pred": {"pushed": True},
    "join_broadcast": {"broadcast": True},
    "join_sortmerge": {},
    "join_asof": {},
    "topk_per_group": {},
    "udf_scalar": {"pushed": True, "prune": ["l_comment"]},
    # LSH equi self-join on (band, key): signatures partial-aggregate
    # before the band exchange; post-explode band/set sides are PINNED
    # shuffled (broadcast of them built a corpus-sized driver relation
    # at 30x — maxResultSize; the join_salted_skew lesson)
    # the 1-row dup_factor_permille census crosses in as an intended
    # BroadcastNestedLoopJoin (r9: the pair tier self-announces its
    # duplication-quadratic trap, like sim_knn_graph)
    "dedup_minhash": {"partial": True, "no_bnlj": False,
                      "require": [r"ShuffledHashJoin"],
                      "prune": ["lang", "source", "n_chars"],
                      "forbid": [r"CartesianProduct",
                                 r"BroadcastHashJoin"]},
    # sim_topk's candidate join is non-equi (vec_id <>) against a
    # broadcast-tiny query side: BroadcastNestedLoopJoin IS the intended
    # physical strategy (map-side, no shuffle of the corpus)
    "sim_topk": {"no_bnlj": False},
    # sign-bucket equi join (broadcast hash on the tiny query side):
    # candidate generation never degrades to a nested-loop/cartesian
    "sim_lsh_topk": {"broadcast": True,
                     "forbid": [r"CartesianProduct",
                                r"BroadcastNestedLoopJoin"]},
    "text_stats": {"prune": ["doc_id"]},  # profiling reads text/lang/source, never doc_id
    "annotate_pipeline": {},
    # one user_id exchange feeds both window passes AND the final agg
    "sessionize_events": {"max_exchange": 1, "prune": ["event_type", "props"]},
    # vocabulary-sized df side broadcasts into the tf side; the one-row
    # corpus-count table crosses via broadcast BNLJ (deliberate — it
    # replaced a driver-side .count() action)
    "text_tfidf": {"broadcast": True, "no_bnlj": False},
    # part dim broadcasts; per-part avg joins co-partitioned
    "subquery_correlated": {"broadcast": True, "partial": True},
    # explode blowup collapses map-side before the exchange
    "text_vocab": {"partial": True},
    # single-pass argmax: partial max_by before the exchange
    "agg_argmax": {"partial": True, "prune": ["event_type", "props", "value"]},
    "agg_histogram": {"partial": True, "prune": ["event_id", "props"]},
    # pure filter + agg: no join, no extra shuffle beyond the group-by
    "sample_stratified": {"partial": True, "prune": ["doc_id"], "max_exchange": 1},
    # gates fuse into the scan; only survivors reach the dedup shuffle
    "corpus_cleanup": {"prune": ["lang", "source", "n_chars"]},
    # explode collapses map-side; posting lists build in one term exchange
    "index_inverted": {"partial": True, "prune": ["lang", "source", "n_chars"]},
    # one exchange moves the COMPACT doc table; token rows never shuffle
    "agg_entropy": {"partial": True, "prune": ["lang", "source", "n_chars"],
                    "max_exchange": 1},
    # spine/join/window passes all clustered on the up-front user_id
    # repartition (remaining Exchange nodes are its runtime-reused copies)
    "ts_spine_fill": {"partial": True, "prune": ["event_type", "props", "value"]},
    # analytics batch 2
    "unpivot_melt": {"prune": ["p_name", "p_brand", "p_type"]},
    "agg_collect_list": {"partial": True, "prune": ["l_extendedprice", "l_shipdate"]},
    "agg_stats_moments": {"partial": True, "prune": ["l_orderkey", "l_shipdate"]},
    # median is sort-based but still partials (TypedImperativeAggregate);
    # the mode side is two hash aggs, both partialed
    "agg_median_mode": {"partial": True, "prune": ["o_orderkey", "o_custkey"]},
    # quantity predicate pushed to the lineitem scan feeding the semi join
    "subquery_exists": {"pushed": True, "prune": ["l_extendedprice", "o_totalprice"]},
    # HAVING agg partials before its exchange; fact table shrinks FIRST
    "having_topk": {"partial": True, "prune": ["l_shipdate", "l_extendedprice"]},
    # one mktsegment exchange serves all five window functions
    "win_percentiles": {"max_exchange": 1, "prune": ["c_name", "c_nationkey"]},
    # deliberate 5x25 dim cartesian: BNLJ against a broadcast-tiny side
    # IS the intended strategy (never CartesianProduct)
    "join_cross": {"no_bnlj": False},
    "agg_bitwise": {"partial": True, "prune": ["ts", "user_id", "value", "props"]},
    # orderkey range predicate must reach the clustered copy's scan —
    # the row-group pruning evidence for the sorted layout
    "write_sorted": {"pushed": True},
    # rep-factored: Levenshtein appears ONLY in the distinct-rep stage
    # (one levenshtein call site), expansion is pure hash joins
    "dedup_fuzzy_edit": {"prune": ["lang", "source"],
                         "require": [r"levenshtein"]},
    # GK sketch partials merge map-side like any hash agg
    "agg_approx_quantile": {"partial": True, "prune": ["l_orderkey", "l_shipdate"]},
    # the join consumes the 8-bucket layout: the ONLY exchange allowed
    # is the group-by's (the join itself is shuffle-free)
    "join_bucketed": {"max_exchange": 1},
    "graph_pagerank": {"partial": True, "prune": ["l_extendedprice", "l_shipdate"]},
    # analytics batch 4
    # one (user_id, ts, event_id) sort exchange feeds BOTH window passes
    "merge_scd2": {"max_exchange": 1, "prune": ["value", "props"]},
    # salting must not defeat partial aggregation or read extra columns.
    # r4 regression lock: the x8-exploded orders side must NEVER
    # broadcast (planner sizes it from pre-explosion stats and dies
    # building the blown-up table driver-side at 30x) — the merge hint
    # pins SortMergeJoin, the strategy salting exists to spread.
    "join_salted_skew": {"partial": True, "prune": ["l_comment", "l_shipdate"],
                         "require": [r"SortMergeJoin"],
                         "forbid": [r"BroadcastHashJoin"]},
    # repetition signals are array-local: scan -> project, ZERO exchanges
    "text_repetition": {"max_exchange": 0, "prune": ["lang", "source", "n_chars"]},
    "udtf_native": {"prune": ["lang", "source", "n_chars"]},
    "json_variant": {"partial": True, "prune": ["user_id", "value"]},
    "agg_sketch_hll": {"partial": True, "prune": ["value", "props"]},
    # stats side broadcasts back onto the fact scan
    "agg_zscore_outlier": {"broadcast": True, "partial": True,
                           "prune": ["props", "user_id"]},
    # curation batch: the benchmark-sized eval shingle set broadcasts —
    # the training corpus never shuffles against it
    "contamination_ngram": {"broadcast": True, "partial": True,
                            "prune": ["lang", "source", "n_chars"]},
    # doc-level decontamination: one shared sig+set exchange (minhash
    # machinery), LSH-bounded candidates only — never all-pairs
    "contamination_minhash": {"partial": True,
                              "prune": ["lang", "source", "n_chars"],
                              "forbid": [r"CartesianProduct"]},
    # one lang range-exchange serves the packing window AND the final agg
    "pack_sequences": {"partial": True, "max_exchange": 1,
                       "prune": ["source", "n_chars"]},
    # concat-then-chunk: one lang range-exchange; per-doc explode is
    # bounded by doc length (1 + tokens/budget fragments)
    "pack_chunks": {"partial": True, "max_exchange": 1,
                    "prune": ["source", "n_chars"]},
    # hash-threshold sampling is scan-local: ZERO exchanges
    "mixture_sample": {"max_exchange": 0, "prune": ["text"]},
    # one (lang, source) exchange serves rank window + count window + agg
    "eval_split": {"partial": True, "max_exchange": 1,
                   "prune": ["text", "n_chars"]},
    # mlops batch: nearest-centroid assignment is a BNLJ against the
    # broadcast-tiny centroid table by design (sim_topk precedent)
    "kmeans_lloyd": {"no_bnlj": False, "broadcast": True, "partial": True},
    "emb_quantize": {"no_bnlj": False, "partial": True, "prune": []},
    # centroid assignment is the same deliberate BNLJ; the probe join is
    # a broadcast HASH join on label
    "sim_ivf_nprobe": {"no_bnlj": False, "broadcast": True},
    # Q3: both date predicates reach the scans; revenue partials on
    # l_orderkey before its exchange
    "flagship_shipping_priority": {"pushed": True, "partial": True,
                                   "prune": ["l_quantity", "l_tax",
                                             "c_name", "c_address"]},
    # raw pairs partial-aggregate before the bounded-alphabet exchange
    "bpe_pair_stats": {"partial": True,
                       "prune": ["doc_id", "lang", "source", "n_chars"]},
    # frontier expansion: seed filter pushed to the part scan; edges read
    # only (l_orderkey, l_partkey)
    # (pure set algebra — distincts compile to aggregate-less
    # shuffle/dedup under AQE, so no "partial_" marker to assert)
    "graph_bfs_hops": {"pushed": True,
                       "prune": ["l_extendedprice", "l_shipdate", "p_name",
                                 "p_brand", "p_retailprice"]},
    # retrieval batch: the one-row stats table broadcasts back over the
    # scoring scan (a deliberate broadcast cross join — BNLJ by design);
    # the stats aggregate itself partials map-side
    "query_bm25": {"no_bnlj": False, "partial": True,
                   "prune": ["lang", "source", "n_chars"]},
    # SemDedup: pair join is EQUI on the cluster key (never a cartesian);
    # drop-set distinct + member counts both partial-aggregate, and the
    # tiny summary join broadcasts
    "dedup_semantic": {"broadcast": True, "partial": True},
    # Q7: shipdate range pushes to the lineitem scan; the 25-row nation
    # dims broadcast; revenue partials before the group-by exchange
    "flagship_volume_shipping": {"pushed": True, "broadcast": True,
                                 "partial": True,
                                 "prune": ["l_quantity", "l_tax", "c_name",
                                           "s_name", "o_orderpriority"]},
    # null-preserving lateral explode is a pure narrow expand: no
    # exchange at all, and the unused doc columns never leave the scan
    "lateral_explode_outer": {"max_exchange": 0,
                              "prune": ["source", "n_chars"]},
    # Q8: p_type + order-date predicates push; nation/region broadcast;
    # the conditional share is one partial-agged group-by
    "flagship_market_share": {"pushed": True, "broadcast": True,
                              "partial": True,
                              "prune": ["l_quantity", "l_tax", "p_name",
                                        "p_brand", "c_name", "s_name"]},
    # Q10: quarter + returnflag predicates push; nation broadcasts;
    # the revenue agg partials before its exchange
    "flagship_returned_items": {"pushed": True, "broadcast": True,
                                "partial": True,
                                "prune": ["l_quantity", "l_tax",
                                          "o_totalprice", "c_mktsegment"]},
    # Q13: outer join keeps the zero bucket; both aggregates partial;
    # unused wide columns never leave the scans
    "flagship_customer_distribution": {"partial": True,
                                       "prune": ["c_name", "c_acctbal",
                                                 "o_totalprice",
                                                 "o_orderdate"]},
    # as-of with tolerance: same union+sort plan as join_asof — the
    # tolerance adds zero exchanges (post-window column predicate)
    "join_asof_tolerance": {"prune": ["value", "props", "o_totalprice"]},
    # skew diagnostic: key frequencies partial-agg; the one-row totals
    # table joins back as a broadcast (BNLJ cross against 1 row is the
    # intended strategy); raw rows are scanned once
    "diag_key_skew": {"no_bnlj": False, "partial": True,
                      "prune": ["l_extendedprice", "l_comment",
                                "l_shipdate"]},
    # Q6: all three predicates must reach the reader; one global agg
    "flagship_forecast_revenue": {"pushed": True, "partial": True,
                                  "prune": ["l_orderkey", "l_partkey",
                                            "l_returnflag", "l_tax"]},
    # map lambdas are row-local: one partial-agged exchange feeds the
    # map build, nothing else shuffles
    "map_transform_funcs": {"partial": True,
                            "prune": ["event_id", "props", "ts"]},
    # one user_id exchange + one sort serves both interval-frame windows
    "win_time_range": {"max_exchange": 1, "prune": ["event_type", "props"]},
    # every modern aggregate folds map-side in one pass
    "agg_modern": {"partial": True, "prune": ["ts", "props"]},
    # funnel: each stage's type predicate pushes into its scan; stage
    # MINs partial-aggregate; the broadcast of prior-stage tables is
    # AQE's call (small), so only partial/pushed are asserted
    # (the final three one-row count tables cross via broadcast BNLJ —
    # deliberate, 1-row sides)
    "funnel_conversion": {"pushed": True, "partial": True, "no_bnlj": False,
                          "prune": ["value", "props"]},
    # cohort matrix: first-seen MIN partials; two-phase distinct agg
    "retention_cohort": {"partial": True,
                         "prune": ["event_type", "value", "props"]},
    # runtime partition pruning: the hot-day dim must inject a
    # dynamicpruning expression into the fact scan's PartitionFilters
    "scan_dynamic_pruning": {"dpp": True, "partial": True,
                             "broadcast": True},
    # try_* surface is row-local: fuses into the scan, zero exchanges
    "safe_arithmetic": {"max_exchange": 0, "prune": ["ts"]},
    # CCNet buckets: broadcast-vocab scoring; NTILE runs on the compact
    # per-doc table (token rows never hit the window)
    # (the one-row corpus-total table crosses via broadcast BNLJ)
    "text_perplexity_buckets": {"broadcast": True, "partial": True,
                                "no_bnlj": False,
                                "prune": ["source", "n_chars"]},
    # Q14: month predicate pushes; conditional + total fold in ONE pass
    "flagship_promo_effect": {"pushed": True, "partial": True,
                              "prune": ["p_name", "p_brand", "p_size",
                                        "l_returnflag", "l_tax"]},
    # Q19: the OR-of-ANDs must factor — each scan carries its bracket
    # envelope as a pushed filter
    "flagship_bracket_revenue": {"pushed": True, "partial": True,
                                 "prune": ["p_name", "p_retailprice",
                                           "l_shipdate", "l_tax"]},
    # co-occurrence: basket-local pair blowup, pair counts partial;
    # degree tables broadcast back
    "graph_copurchase_topk": {"broadcast": True, "partial": True,
                              "prune": ["l_extendedprice", "l_shipdate",
                                        "l_comment"]},
    # null-safe key compiles to a hash join, never a cartesian
    "join_null_safe": {"partial": True, "prune": ["event_type", "props"]},
    # theta sketches fold map-side; the one-row exact-both table crosses
    # via broadcast BNLJ (deliberate)
    "agg_sketch_theta": {"no_bnlj": False, "partial": True,
                         "prune": ["value", "props", "ts"]},
    # both summaries partial-aggregate; the merge is a tiny re-agg
    "incremental_agg_maintenance": {"partial": True,
                                    "prune": ["user_id", "props", "ts"]},
    # robust stats: both median passes partial-merge; per-group tables
    # broadcast back onto the fact scan
    "agg_mad_outlier": {"broadcast": True, "partial": True,
                        "prune": ["user_id", "props", "event_id"]},
    "agg_histogram_equidepth": {"partial": True,
                                "prune": ["user_id", "props", "event_type"]},
    # PQ: codebooks + query lookup tables broadcast; the scoring join
    # moves CODES, never vectors; per-subspace means partial-aggregate
    "sim_pq_adc": {"broadcast": True, "partial": True},
    # recall metric: exact side is a deliberate broadcast BNLJ over the
    # tiny query set (sim_topk precedent)
    "sim_pq_recall": {"no_bnlj": False, "broadcast": True, "partial": True},
    # one signature aggregation serves all three band configs; each LSH
    # self-join is equi on (band_id, band_key)
    # r9 class form: the 1-row within-class count crosses into each
    # config row as an intended broadcast BNLJ (graph_triangles pattern)
    "dedup_minhash_tuning": {"partial": True, "no_bnlj": False,
                             "prune": ["lang", "source", "n_chars"]},
    # Q15: quarter predicate pushes; revenue partials; max joins back
    # as a broadcast filter
    "flagship_top_supplier": {"pushed": True, "broadcast": True,
                              "partial": True,
                              "prune": ["l_quantity", "l_tax", "s_acctbal"]},
    # Q22: scalar avg broadcasts into the filter; anti join on a
    # recency-pushed one-column orders projection
    "flagship_sales_opportunity": {"pushed": True, "partial": True,
                                   "no_bnlj": False,
                                   "prune": ["c_name", "c_mktsegment",
                                             "o_totalprice",
                                             "o_orderpriority"]},
    # streaks: distinct day pass partials; one user_id exchange serves
    # window + both group-bys
    "win_activity_streaks": {"partial": True,
                             "prune": ["event_type", "value", "props"]},
    # bow signature is array-local; only the tiny sig group-bys shuffle
    "dedup_bow_signature": {"partial": True,
                            "prune": ["lang", "source", "n_chars"]},
    # binned interval join MUST be a hash-partitionable equi join (the
    # whole point); overlap predicate is the residual
    "join_interval_binned": {"partial": True,
                             "prune": ["event_type", "value", "props"]},
    # cascade: one-row stage counts cross via broadcast BNLJ; signature
    # stages partial-aggregate; the minhash pair join only sees survivors
    "dedup_cascade": {"no_bnlj": False, "partial": True,
                      "prune": ["lang", "source", "n_chars"]},
    # markov matrix: one user_id sort exchange; pair counts partial;
    # row totals broadcast back
    "events_transition_matrix": {"broadcast": True, "partial": True,
                                 "prune": ["value", "props"]},
    # rfm: per-customer aggregate partials; windows run on the compact
    # customer table
    "customer_rfm": {"partial": True,
                     "prune": ["o_orderpriority", "o_orderstatus"]},
    # bigram LM: both count tables broadcast into the scoring join
    "text_bigram_logprob": {"broadcast": True, "partial": True,
                            "prune": ["lang", "source", "n_chars"]},
    # anomaly scoring: matrix broadcasts onto the LEAD pass
    "events_sequence_anomaly": {"broadcast": True, "partial": True,
                                "prune": ["value", "props"]},
    # month rollup partials before the tiny global window
    "orders_seasonality": {"partial": True,
                           "prune": ["o_custkey", "o_orderpriority",
                                     "o_orderstatus"]},
    # per-user rollup partials; windows run on the compact user table
    "events_pareto_share": {"partial": True,
                            "prune": ["event_type", "value", "props", "ts"]},
    # normalization fuses into the scan; two 16-byte-key distinct aggs
    "dedup_exact_normalized": {"partial": True,
                               "prune": ["lang", "source", "n_chars"]},
    # stage MINs partial; median partials merge map-side
    "funnel_time_to_convert": {"pushed": True, "partial": True,
                               "prune": ["value", "props"]},
    # per-user rollup partials; rank window on the compact table
    "agg_gini_activity": {"partial": True,
                          "prune": ["event_type", "value", "props", "ts"]},
    # round 4
    # caller-split ws records: span arrays build in narrow higher-order
    # aggregates — zero KEYED exchanges end to end; the single
    # round-robin Exchange is the r9 ensure_min_partitions core spread
    # (no-op at scale, fires only on provably-tiny scans)
    "wsprovide_sentences": {"max_exchange": 1,
                            "require": [r"RoundRobinPartitioning"],
                            "forbid": [r"hashpartitioning"],
                            "prune": ["lang", "source", "n_chars"]},
    # z-write: the returned plan is the census READ-BACK (the bounds
    # broadcast + range write already executed inside the builder) —
    # audit the partial-agged scan over the z-layout
    "write_zorder": {"partial": True, "prune": ["props"]},
    # regex scrub fuses into the scan; one lang rollup exchange
    "text_pii_redact": {"partial": True, "max_exchange": 1,
                        "prune": ["source", "n_chars"]},
    # Q17: brand dim broadcasts and prunes lineitem; per-part avg is a
    # bounded partial-agged aggregate sharing the l_partkey exchange
    "flagship_small_qty_revenue": {"broadcast": True, "partial": True,
                                   "prune": ["l_tax", "l_returnflag",
                                             "p_name", "p_type"]},
    # Q18: qty rollup partials BEFORE any join; customer joins last
    "flagship_large_orders": {"partial": True,
                              "prune": ["l_extendedprice", "l_shipdate",
                                        "o_orderpriority"]},
    # Q21: status/late predicates push; semi/anti equi joins (no BNLJ);
    # supplier broadcasts onto the counted result
    "flagship_waiting_supplier": {"pushed": True, "broadcast": True,
                                  "partial": True,
                                  "prune": ["l_quantity", "l_extendedprice",
                                            "o_totalprice", "s_acctbal"]},
    # scaled-k SemDedup: the 1-row bits/summary tables cross-join as
    # deliberate broadcast BNLJs (the query_bm25 pattern); the pair join
    # itself is EQUI on the composite cluster key
    "dedup_semantic_scaledk": {"broadcast": True, "partial": True,
                               "no_bnlj": False},
    # round 5 — regression locks for the round-4 scale reworks
    # flip-neighbor simhash: candidates are the 32 one-bit XOR flips of
    # each DISTINCT signature (explode -> EQUI join), 32x|sigs| BY
    # CONSTRUCTION — the plan must contain the flip Generate and no
    # nested-loop/cartesian anywhere (the 76 GB lesson from the 30x
    # rung: block-bucket joins go quadratic on skewed natural bits)
    "dedup_simhash_hamming": {"partial": True,
                              # the 32-flip enumeration: explode of the
                              # xor-shiftleft lambda over the (constant-
                              # folded) 0..31 sequence
                              "require": [r"explode\(transform\(.*\^ shiftleft\(1, lambda"],
                              "prune": ["lang", "source", "n_chars"]},
    # passage blocks: the exchange carries 16-byte hashes + counts, never
    # passage text — partial aggregation before the single hash shuffle
    "dedup_passages": {"partial": True,
                       "prune": ["lang", "source", "n_chars"]},
    # unigram LM: vocabulary-sized count table broadcasts into the
    # scoring join; the one-row corpus-total crosses via broadcast BNLJ
    # (deliberate — replaces a driver-side .count())
    "text_unigram_logprob": {"broadcast": True, "partial": True,
                             "no_bnlj": False,
                             "prune": ["lang", "source", "n_chars"]},
    # split production/verified forms (r4 verdict item 2): the verified
    # twin keeps the exact rank-interval check — still one partial-agged
    # sketch pass plus the exact counting side
    "agg_approx_quantile_verified": {"partial": True,
                                     "prune": ["l_orderkey", "l_shipdate"]},
    # round-5 widening: the remaining heavy dedup/sim family gets the
    # same no-cartesian/partial-agg locks as the r4 reworks
    # hash-distinct compiles to two HashAggregates around ONE exchange
    # (map-side dedup before the shuffle — the distinct form of partial)
    "dedup_exact": {"max_exchange": 1, "require": [r"HashAggregate"],
                    "prune": ["lang", "source"]},
    "dedup_simhash": {"partial": True, "prune": ["lang", "source", "n_chars"]},
    "dedup_ngram_jaccard": {"partial": True,
                            "prune": ["lang", "source", "n_chars"]},
    # derived from dedup_clusters_classes: that query's spec, plus the
    # 1-row dup-factor census crossed in as an intended BNLJ; exchange
    # budget = the plan's count at sf0.01 (class groupBy, doc->class and
    # component-size joins, 2 inside the census's global count-distinct)
    "dedup_clusters": {"partial": True, "forbid": [r"CartesianProduct"],
                       "no_bnlj": False, "max_exchange": 7},
    # embedding near-dup: candidate pairs come from an EQUI join on the
    # sign-bucket key (broadcast-hash here; the cosine bound is the
    # residual condition), never all-pairs
    "dedup_embed_cosine": {"broadcast": True},
    # IVF probe: centroid assignment is the deliberate broadcast-tiny
    # BNLJ (sim_topk precedent); the probe join is equi on the list id
    "sim_ivf_topk": {"no_bnlj": False, "broadcast": True},
    "sim_ann_recall": {"no_bnlj": False, "broadcast": True},
    # Q5: region predicate pushes, nation/region/supplier dims broadcast,
    # revenue partial-aggregates before the group-by exchange
    "flagship_local_supplier_volume": {"pushed": True, "broadcast": True,
                                       "partial": True,
                                       "prune": ["l_quantity", "l_tax",
                                                 "c_name", "s_name"]},
    # the canonical group-by: partial-agged, comment column pruned
    "agg_groupby": {"partial": True, "prune": ["l_comment", "l_partkey"]},
    # annotation surface: the per-doc stage must be ONE Arrow-batched
    # python node, not row-at-a-time (A7/A10 fusion)
    "annotate_token_count": {"require": [r"MapInArrow|MapInPandas|ArrowEvalPython"]},
    "mm_decode_features": {"require": [r"MapInPandas|ArrowEvalPython"]},
    # one partition exchange serves the ranking window
    "win_rank": {"max_exchange": 1, "prune": ["c_name", "c_comment"]},
    # hierarchical packing: ONE (lang,bucket) exchange feeds the
    # within-bucket window AND the bucket-total agg (partial-agged); the
    # tiny offset table broadcasts back — the telescoped plan that
    # breaks the single-language range chain (stress_pack_hier.py)
    "pack_sequences_hier": {"partial": True, "broadcast": True,
                            "prune": ["source", "n_chars"]},
    # deterministic shuffle reads ONE column (doc_id): the text never
    # leaves the scan; 256-row offset table broadcasts back
    "shuffle_deterministic": {"broadcast": True, "partial": True,
                              "prune": ["text", "lang", "source",
                                        "n_chars"]},
    # incremental dedup: hash-keyed anti join (never nested-loop), both
    # group-bys partial-aggregate; only (doc_id, text->hash) is read
    "dedup_incremental": {"partial": True,
                          "prune": ["lang", "source", "n_chars"]},
    # round 5 — the TPC-H closure six (Q2/Q9/Q11/Q12/Q16/Q20 shapes)
    # Q2: region prunes suppliers pre-fact-join (nation broadcasts);
    # per-(part,supp) MIN partials; one lineitem scan, never a
    # correlated re-scan
    "flagship_mincost_supplier": {"pushed": True, "broadcast": True,
                                  "partial": True,
                                  "prune": ["l_orderkey", "l_shipdate",
                                            "l_tax", "l_returnflag"]},
    # Q9: p_name filter pushes to the part scan; nation broadcasts;
    # the (nation, year) agg partials map-side
    "flagship_product_profit": {"pushed": True, "broadcast": True,
                                "partial": True,
                                "prune": ["l_tax", "l_returnflag",
                                          "o_orderpriority", "p_brand"]},
    # Q11: nation broadcast prunes suppliers; per-part agg partials;
    # grand total is a one-row broadcast over the aggregated relation
    # (BNLJ against the 1-row threshold side is the intended strategy)
    "flagship_important_stock": {"pushed": True, "broadcast": True,
                                 "partial": True, "no_bnlj": False,
                                 "prune": ["l_quantity", "l_discount",
                                           "l_shipdate", "s_name"]},
    # Q12: one-year predicate pushes to the lineitem scan; CASE pivot
    # stays in codegen; 3-group agg partials to nothing
    "flagship_late_shipments": {"pushed": True, "partial": True,
                                "prune": ["l_quantity", "l_extendedprice",
                                          "o_totalprice", "o_custkey"]},
    # Q16: complaint set is a broadcast anti join; part filter pushes;
    # COUNT(DISTINCT) is the two-level partial-distinct expansion
    "flagship_parts_suppliers": {"pushed": True, "broadcast": True,
                                 "partial": True,
                                 "prune": ["l_quantity", "l_extendedprice",
                                           "p_name", "p_retailprice"]},
    # Q20: name+date predicates push; per-(part,supp) agg partials;
    # tot re-aggregates the shipped relation, not the fact table
    "flagship_excess_supplier": {"pushed": True, "partial": True,
                                 "prune": ["l_extendedprice", "l_discount",
                                           "p_brand", "s_acctbal"]},
    # round 5 — curation/tokenization additions
    # temperature mixture: lang counts + 1-row n_min broadcast back onto
    # a two-column scan; keep decision is scan-local
    "mixture_temperature": {"broadcast": True, "partial": True,
                            "no_bnlj": False,
                            "prune": ["text", "source", "n_chars"]},
    # filter cascade: per-row column algebra, ONE census exchange
    "filter_census": {"partial": True, "max_exchange": 1,
                      "prune": ["doc_id", "lang", "source"]},
    # URL dedup: canonicalization in codegen; only the canonical-key
    # group-by shuffles
    "dedup_url": {"partial": True,
                  "prune": ["text", "lang", "n_chars"]},
    # BPE apply: merges run on the DISTINCT vocab; the sized lookup
    # broadcasts back onto the corpus explode
    "bpe_encode": {"broadcast": True, "partial": True,
                   "prune": ["doc_id", "source", "n_chars"]},
    # linear classifier: higher-order aggregate in codegen, no explode,
    # ONE census exchange
    "text_quality_linear": {"partial": True, "max_exchange": 1,
                            "prune": ["doc_id", "source", "n_chars"]},
    # quality-weighted sampling: score+bucket+keep all scan-local
    # (doc_id feeds the u100 hash so it stays in ReadSchema)
    "mixture_quality": {"partial": True, "max_exchange": 1,
                        "prune": ["source", "n_chars"]},
    # integrity manifest: scan-local checksum terms, one census exchange
    "shard_manifest": {"partial": True, "max_exchange": 1},
    # opt-out filter: blocklist broadcasts, corpus never shuffles
    # against it; census partial-aggregates
    "filter_optout": {"broadcast": True, "partial": True,
                      "prune": ["text", "doc_id"]},
    # quality-aware canonical selection: LSH-bounded candidates only
    "dedup_keep_best": {"partial": True,
                        "prune": ["lang", "source", "n_chars"],
                        "forbid": [r"CartesianProduct"]},
    # snapshot diff: digests cross the join, not payloads; one
    # co-partitioned full outer join + census partials
    "table_diff": {"partial": True, "prune": ["source", "n_chars"],
                   "require": [r"SortMergeJoin.*FullOuter"]},
    # degree-oriented triangle count: the four 1-row scalar-aggregate
    # crossJoins broadcast one row each (BNLJ intended, not cartesian)
    "graph_triangles": {"partial": True, "no_bnlj": False,
                        "prune": ["l_quantity", "l_extendedprice",
                                  "l_comment", "l_suppkey"]},
    # drift monitor: 64 per-dim sums partial-aggregate into ONE row,
    # no explode of the corpus; only the 64-row stack runs after
    "emb_drift": {"partial": True, "max_exchange": 1,
                  "prune": ["label"]},
    # RRF fusion: both sides are TakeOrdered candidate lists (never a
    # global Sort of the corpus); the one-row BM25 stats table and the
    # one-row query vector broadcast back over their scans (BNLJ by
    # design, query_bm25 precedent)
    "query_hybrid_rrf": {"no_bnlj": False, "partial": True,
                         "prune": ["lang", "source", "n_chars", "label"],
                         "require": [r"TakeOrderedAndProject"]},
    # k-anon: ONE base-scan aggregate; both output branches re-aggregate
    # the tiny cell table, never the customer scan
    "privacy_kanon": {"partial": True, "prune": ["c_name"]},
    # OHLC bars: one (event_type, hour) exchange serves both rank
    # windows and the final group-by; props/user never shuffle
    "ts_resample_ohlc": {"partial": True,
                         "prune": ["props", "user_id"]},
    # grouped holdout: split assignment is a scan-local expression —
    # the ONLY exchange is the final census aggregate (countDistinct
    # compiles to a two-phase expand, still on that one key set)
    "eval_split_grouped": {"partial": True, "prune": ["text", "doc_id"]},
    # binary dedup: the payload is digested in the scan projection and
    # DROPPED before the exchange — only (modality, digest, n_bytes)
    # shuffle; both aggregates partial map-side
    "mm_dedup_binary": {"partial": True, "prune": []},
    # census twin of dedup_embed_cosine (the sf10-swept form): the pair
    # join stays EQUI on the LSH bucket; the three 1-row stat tables
    # cross via broadcast BNLJ (graph_triangles precedent)
    "dedup_embed_cosine_census": {"no_bnlj": False, "broadcast": True,
                                  "partial": True,
                                  "forbid": [r"CartesianProduct"]},
    # water-filling: ONE partial-agged counts exchange; every later
    # step runs on the |langs|-row table crossed with broadcast 1-row
    # stats (BNLJ of one-row sides by design)
    "mixture_waterfill": {"no_bnlj": False, "broadcast": True,
                          "partial": True,
                          "prune": ["doc_id", "source", "n_chars"]},
    # last-touch attribution: error filter pushes to the scan; ONE
    # user_id window exchange + the tiny census agg; no self-join
    "attribution_last_touch": {"pushed": True, "partial": True,
                               "prune": ["props"],
                               "forbid": [r"SortMergeJoin",
                                          r"BroadcastHashJoin"]},
    # Heaps census: word explode collapses into ONE partial-agged
    # (word -> min doc) exchange; checkpoints are conditional sums in
    # 1-row aggregates crossed via broadcast BNLJ (by design)
    "text_vocab_growth": {"no_bnlj": False, "partial": True,
                          "prune": ["lang", "source", "n_chars"]},
    # length buckets: tokenize+pow2 scan-local, ONE census exchange
    "pack_length_buckets": {"partial": True, "max_exchange": 1,
                            "prune": ["doc_id", "source", "n_chars"]},
    # mask census: md5 mask + span count are array-local (no explode);
    # ONE per-language census exchange
    "text_span_corruption": {"partial": True, "max_exchange": 1,
                             "prune": ["source", "n_chars"]},
    # boilerplate census: segmentation is array-local (no per-word
    # explode); repeated segments collapse map-side before the ONE wide
    # (source, seg) exchange, then a source-sized regroup
    "text_boilerplate": {"partial": True, "max_exchange": 3,
                         "prune": ["lang", "n_chars"]},
    # source-overlap matrix: corpus collapses to (source, lede-sig)
    # partial-agged rows BEFORE the self equi join on sig — the join
    # moves fingerprints, never text; no cartesian/BNLJ anywhere
    "dedup_source_overlap": {"partial": True,
                             "prune": ["doc_id", "lang", "n_chars"],
                             "forbid": [r"CartesianProduct"]},
    # outlier census: centroid = ONE explode->partial-agged (label,dim)
    # exchange (|labels| x 64 rows) broadcast back; dist2 is map-side
    # zip_with — the vector table is never re-shuffled per vec
    "emb_outliers": {"partial": True, "broadcast": True,
                     "forbid": [r"CartesianProduct"]},
    # PMI: two word-count-shaped partial-agged exchanges; unigram
    # attach joins bounded by vocab; totals are 1-row broadcast BNLJs
    # (by design); top-50 is TakeOrdered, no global sort
    "text_pmi_bigrams": {"no_bnlj": False, "partial": True,
                         "prune": ["doc_id", "lang", "source", "n_chars"],
                         "require": [r"TakeOrderedAndProject"],
                         "forbid": [r"CartesianProduct"]},
    # semantic decontam: benchmark side broadcast, corpus never
    # shuffles for candidates — existence via broadcast LEFT SEMI on
    # the sign-bucket key, no pair materialization
    "contamination_semantic": {"partial": True, "broadcast": True,
                               "require": [r"BroadcastHashJoin.*LeftSemi"],
                               "forbid": [r"CartesianProduct",
                                          r"SortMergeJoin"]},
    # l-diversity audit: one scan, one exchange family (count +
    # two-phase distinct on the same cell key); no join anywhere
    "privacy_ldiversity": {"partial": True,
                           "prune": ["c_custkey", "c_name", "c_address",
                                     "c_phone", "c_comment"],
                           "forbid": [r"Join"]},
    # debounce census: one (user,type) window exchange + a 5-row
    # census regroup; no join
    "events_dedup_window": {"partial": True, "prune": ["props"],
                            "forbid": [r"Join"]},
    # gap census: two-level decomposition — windows over (type, hour)
    # shards + a summary-table lag; NO window partitioned by the
    # 5-value event_type over base rows (the low-cardinality trap)
    "ts_gap_census": {"partial": True, "prune": ["props", "value",
                                                 "user_id"],
                      "forbid": [r"Join"]},
    # agreement census: both pair sets LSH-bounded (band equi /
    # sign-bucket equi); 1-row scalar aggregates crossed via broadcast
    # (graph_triangles pattern, not a cartesian)
    "dedup_method_agreement": {"no_bnlj": False, "partial": True,
                               "forbid": [r"CartesianProduct"]},
    # balance diagnosis: one single-column scan, partial agg to <=32
    # rows, 1-row census; no join
    "diag_partition_balance": {"partial": True,
                               "prune": ["l_partkey", "l_suppkey",
                                         "l_quantity", "l_extendedprice",
                                         "l_discount", "l_tax",
                                         "l_returnflag", "l_linestatus",
                                         "l_shipdate"],
                               "forbid": [r"Join"]},
    # rolling actives: two (user, day) distinct exchanges; explode is
    # fixed x3 over active-pairs, never event volume
    "events_rolling_actives": {"partial": True,
                               "prune": ["event_type", "value", "props"],
                               "forbid": [r"CartesianProduct"]},
    # A/B readout: one scan, one partial-agged 6-column conditional
    # aggregate, 1-row report; no join, no window
    "events_ab_test": {"partial": True,
                       "prune": ["event_type", "props", "ts", "event_id"],
                       "forbid": [r"Join", r"Window"]},
    # cohort LTV: first-order groupBy + equi join on the customer key;
    # cells collapse to cohorts x ages before the running sum
    "orders_cohort_ltv": {"partial": True,
                          "prune": ["o_orderstatus", "o_orderpriority"],
                          "forbid": [r"CartesianProduct"]},
    # langid confusion: per-row scoring (no explode), one exchange to
    # |langs|^2 cells, totals from the 25-cell table
    "text_langid_confusion": {"partial": True,
                              "prune": ["source", "n_chars"],
                              "forbid": [r"CartesianProduct"]},
    # recall audit: ground truth is a deliberate broadcast-sample
    # cross verify (audit-only); candidates reuse _minhash_core
    "dedup_minhash_recall": {"no_bnlj": False, "partial": True,
                             "prune": ["lang", "source", "n_chars"]},
    # nearest as-of: ONE union-sort exchange serves BOTH directions;
    # zero joins (the naive form is two range joins)
    "join_asof_nearest": {"partial": False,
                          "prune": ["event_type", "value", "props",
                                    "o_totalprice", "o_orderstatus"],
                          "forbid": [r"Join", r"CartesianProduct"]},
    # fulfillment latency: one groupBy on the join key, 5-row census
    "orders_fulfillment_latency": {"partial": True,
                                   "prune": ["o_custkey", "o_totalprice",
                                             "l_partkey", "l_quantity",
                                             "l_extendedprice"],
                                   "forbid": [r"CartesianProduct"]},
    # mixture drift: one scan; before-census lang groupBy + after via
    # a (lang, sig) partial-agged exchange; totals broadcast 1-row
    "mixture_dedup_drift": {"no_bnlj": False, "partial": True,
                            "prune": ["doc_id", "source", "n_chars"],
                            "forbid": [r"CartesianProduct"]},
    # FK audit: anti joins (nation edges broadcast); 1-row aggregates
    # crossed via broadcast; 4-row report
    "audit_referential": {"no_bnlj": False, "partial": True,
                          "require": [r"LeftAnti"],
                          "forbid": [r"CartesianProduct"]},
    # PRF: pass-1 stats + term/df/stats joins all broadcast; the only
    # wide exchanges are the (doc, term) partial aggs; top-10 TakeOrdered
    "query_bm25_prf": {"no_bnlj": False, "partial": True,
                       "broadcast": True,
                       "prune": ["lang", "source", "n_chars"],
                       "require": [r"TakeOrderedAndProject"],
                       "forbid": [r"CartesianProduct"]},
    # degree histogram: shares graph_triangles' order-bounded pair gen;
    # histogram output is O(log max_degree)
    "graph_degree_distribution": {"partial": True,
                                  "prune": ["l_suppkey", "l_quantity",
                                            "l_extendedprice",
                                            "l_returnflag"],
                                  "forbid": [r"CartesianProduct"]},
    # zipf fit: word-count exchange, TakeOrdered head, 1-row regression
    "text_zipf_slope": {"partial": True,
                        "prune": ["doc_id", "lang", "source", "n_chars"],
                        "require": [r"TakeOrderedAndProject"],
                        "forbid": [r"CartesianProduct"]},
    # containment: the SAME bounded LSH candidate set as dedup_minhash
    # (band equi join); threshold is integer cross-multiplication
    "dedup_containment": {"partial": True,
                          "prune": ["lang", "source", "n_chars"],
                          "forbid": [r"CartesianProduct"]},
    # census: the class twin's body over its eager checkpoints (no
    # parquet rescan); 1-row reports crossed via broadcast BNLJ
    "dedup_containment_census": {"no_bnlj": False, "partial": True,
                                 "require": [r"ShuffledHashJoin"],
                                 "forbid": [r"CartesianProduct",
                                            r"Scan parquet"],
                                 "max_exchange": 14},
    # incremental near-dup: batch bands equi-join the store band index
    # (never batch x store); sig+set partial-aggregate once
    "dedup_incremental_minhash": {"partial": True,
                                  "prune": ["lang", "source", "n_chars"],
                                  "forbid": [r"CartesianProduct"]},
    # association rules: basket-local pair gen, support table broadcast,
    # 1-row order count crossed broadcast, top-20 TakeOrdered
    "basket_association_rules": {"no_bnlj": False, "broadcast": True,
                                 "partial": True,
                                 "prune": ["l_extendedprice", "l_shipdate",
                                           "l_comment"],
                                 "require": [r"TakeOrderedAndProject"],
                                 "forbid": [r"CartesianProduct"]},
    # silhouette: centroids from the one (label,dim) partial-agged
    # exchange broadcast back; centroid-pair matrix labels^2-bounded
    # silhouette: the centroid-pair join is NON-EQUI (label <>) against
    # a broadcast |labels|-row side — BNLJ is the intended strategy
    # (labels-bounded, never corpus-bounded)
    "emb_silhouette": {"no_bnlj": False, "broadcast": True,
                       "partial": True,
                       "forbid": [r"CartesianProduct"]},
    # KL: (source,term) partial-agged exchange, vocab-bounded joins,
    # 1-row corpus total broadcast (query_bm25 pattern)
    "text_kl_divergence": {"no_bnlj": False, "broadcast": True,
                           "partial": True,
                           "prune": ["doc_id", "lang", "n_chars"],
                           "forbid": [r"CartesianProduct"]},
    # backlog: orders collapse to <=2 events -> months-sized table
    # BEFORE the single running-sum window; never months x orders
    "orders_backlog": {"partial": True,
                       "prune": ["o_custkey", "o_totalprice",
                                 "o_orderstatus", "o_orderpriority",
                                 "l_partkey", "l_quantity",
                                 "l_extendedprice"],
                       "forbid": [r"CartesianProduct"]},
    # covariance: 64-row means table crosses as a 1-row-array broadcast
    # BNLJ (deliberate); the pair explode collapses map-side into a
    # 2080-group partial hash agg; label never read
    "emb_covariance": {"no_bnlj": False, "partial": True,
                       "prune": ["label"],
                       "forbid": [r"CartesianProduct"]},
    # DSIR: 1024-row ratio table + 1-row totals broadcast (the 1-row
    # cross is a deliberate BNLJ); both exchanges partial-agged
    "dsir_importance": {"no_bnlj": False, "broadcast": True,
                        "partial": True, "prune": ["n_chars"],
                        "forbid": [r"CartesianProduct"]},
    # t-closeness: one (cell,bracket) partial-agged exchange; 11-row
    # global distribution broadcasts; windows run on 11-row partitions
    "privacy_tcloseness": {"broadcast": True, "partial": True,
                           "prune": ["c_name", "c_comment", "c_phone",
                                     "c_address"],
                           "forbid": [r"CartesianProduct"]},
    # decompose: the only corpus-sized work is the (day) rollup; the
    # 7-row seasonal table broadcasts back onto the days-sized series
    "ts_decompose": {"broadcast": True, "partial": True,
                     "prune": ["o_custkey", "o_comment", "o_orderstatus"],
                     "forbid": [r"CartesianProduct"]},
    # link prediction: wedge join is EQUI on the center node (deg-capped);
    # pair counts partial-agg; existing edges leave via anti join
    "graph_link_prediction": {"partial": True,
                              "prune": ["l_comment", "l_quantity",
                                        "l_extendedprice"],
                              "forbid": [r"CartesianProduct"]},
    # epoch planner: waterfill machinery — per-lang counts partial-agg
    # once, then |langs|-row windows crossed with 1-row stat tables via
    # broadcast BNLJ (deliberate)
    "mixture_epochs": {"no_bnlj": False, "partial": True,
                       "prune": ["doc_id", "source", "n_chars"],
                       "forbid": [r"CartesianProduct"]},
    # A-RES: scan-local key expression, top-k via per-partition heaps —
    # no joins, no exchange beyond the TakeOrdered collect
    "sample_weighted": {"prune": ["text"],
                        "require": [r"TakeOrderedAndProject"],
                        "forbid": [r"CartesianProduct"]},
    # ewma: partial-agged (day) rollup; lag window on the days-sized
    # series, zero joins
    "ts_ewma": {"partial": True,
                "prune": ["o_custkey", "o_comment", "o_orderstatus"],
                "forbid": [r"CartesianProduct", r"Join"]},
    # column stats: ONE scan -> Expand(5x) -> partial-agged exchange;
    # output stacks in-row, no joins
    "diag_column_stats": {"partial": True,
                          "prune": ["l_comment", "l_suppkey"],
                          "forbid": [r"CartesianProduct", r"Join"]},
    # theil-sen: corpus -> (day) rollup first; the pairwise join is
    # days x days (calendar-bounded); median is one rank pass
    "ts_theilsen_trend": {"partial": True, "no_bnlj": False,
                          "prune": ["o_comment", "o_custkey"]},
    # time-decay: 1-row anchor broadcast BNLJ (intended); rollup
    # partial-aggs; TakeOrdered, no global sort
    "score_time_decay": {"partial": True, "no_bnlj": False,
                         "prune": ["o_comment", "o_orderstatus"],
                         "require": [r"TakeOrderedAndProject"]},
    # bitmap index: distinct members partial-agg, then word-equi join
    # of packed bitmaps; member rows never pairwise-joined
    "bitmap_index_overlap": {"partial": True, "no_bnlj": False,
                             "prune": ["l_comment", "c_comment"],
                             "forbid": [r"CartesianProduct"]},
    # count-min: D-way explode partial-aggs into <=4096 cells; probe
    # joins are broadcast against the tiny sketch
    "agg_sketch_countmin": {"partial": True, "no_bnlj": False,
                            "prune": ["l_comment", "l_quantity"],
                            "require": [r"BroadcastHashJoin"]},
    # IVM: delta join + partial merge; dimension side broadcast-able,
    # both paths partial-agged
    "incremental_join_maintenance": {"partial": True, "no_bnlj": False,
                                     "prune": ["o_comment", "c_comment"]},
    # consistent-hash ring: two CASE lookups map-side, one groupBy
    "shard_consistent_hash": {"partial": True,
                              "prune": ["text", "lang", "source"],
                              "forbid": [r"CartesianProduct", r"Join"]},
    # ring negative sampling: ONE union sort (the join_asof shape);
    # wrap row is a 1-row broadcast BNLJ (intended)
    "contrastive_negatives": {"partial": True, "no_bnlj": False,
                              "prune": ["text", "n_chars"]},
    # phash: Arrow decode stage + distinct-hash census; the pair join
    # is equi on (w, h) over distinct hashes only
    "mm_phash_dedup": {"partial": True, "no_bnlj": False,
                       "prune": ["text", "lang", "source"],
                       "require": [r"MapInPandas"]},
    # CUSUM: corpus -> (day) partial-agged rollup; 1-row totals/max
    # broadcast; the running sum orders the days-sized series only
    "ts_changepoint_cusum": {"partial": True, "no_bnlj": False,
                             "prune": ["o_comment", "o_custkey"],
                             "forbid": [r"CartesianProduct",
                                        r"SortMergeJoin"]},
    # DP release: one partial-agged groupBy; noise is scalar exprs on
    # the |segments|-row aggregate — no join, no second pass
    "privacy_dp_count": {"partial": True,
                         "prune": ["c_comment", "c_acctbal"],
                         "forbid": [r"CartesianProduct", r"Join"]},
    # watermark census: green count folds array-locally (no explode);
    # single (source) exchange
    "text_watermark_greenlist": {"partial": True,
                                 "prune": ["lang", "doc_id"],
                                 "forbid": [r"CartesianProduct", r"Join",
                                            r"Generate"]},
    # JL projection: pure map + one histogram aggregate — no join, no
    # explode of the corpus
    "emb_random_projection": {"partial": True,
                              "prune": ["label", "vec_id"],
                              "forbid": [r"CartesianProduct", r"Join",
                                         r"Generate"]},
    # bloom pre-join: the 8192-word filter must BROADCAST to the probe
    # side; no sort-merge anywhere in the census
    "join_existence_bloom": {"partial": True, "no_bnlj": False,
                             "require": [r"BroadcastHashJoin"],
                             "prune": ["o_comment", "l_comment"]},
    # k-core peel (audited with checkpoint=False): keyed equi joins
    # only; degree census partial-aggregates before its exchange
    "graph_kcore": {"partial": True, "no_bnlj": False,
                    "prune": ["l_comment", "l_quantity"]},
    # MRL ladder: per-rung broadcast query sample x corpus scan — the
    # sim_topk shape (the <> predicate makes it a broadcast
    # nested-loop over the TINY query sample, intended); census output
    "emb_matryoshka_recall": {"partial": True, "no_bnlj": False},
    # PNG encode->decode roundtrip: pruned single-column scan into one
    # Arrow python stage; no keyed exchange — the one round-robin
    # Exchange is the r9 ensure_min_partitions core spread
    "mm_decode_png": {"partial": False, "prune": ["text", "lang", "source"],
                      "max_exchange": 1,
                      "forbid": [r"CartesianProduct", r"Join",
                                 r"hashpartitioning"],
                      "require": [r"MapInPandas",
                                  r"RoundRobinPartitioning"]},
    # approx twin (the benched production form): same one-scan shape
    # but HLL ndv -> Expand must NOT appear in the plan
    "diag_column_stats_approx": {"partial": True,
                                 "prune": ["l_comment", "l_suppkey"],
                                 "forbid": [r"CartesianProduct", r"Join",
                                            r"Expand"]},
    # knn graph: bucket-equi self-join (post-compute sides pinned
    # shuffled), per-vector top-k window, 1-row report aggs broadcast
    "sim_knn_graph": {"no_bnlj": False, "partial": True,
                      "require": [r"ShuffledHashJoin"],
                      "prune": ["label"],
                      "forbid": [r"CartesianProduct"]},
    # entity PMI: Arrow annotate stage feeds a doc-local equi pair join;
    # marginals + 1-row doc count broadcast (deliberate BNLJ)
    "annotate_entity_pmi": {"no_bnlj": False, "broadcast": True,
                            "partial": True,
                            "forbid": [r"CartesianProduct"]},
    # roundtrip: bpe_encode's shape — vocab-bounded merge chain,
    # broadcast vocabulary verdicts onto the corpus explode
    "bpe_roundtrip": {"broadcast": True, "partial": True,
                      "prune": ["doc_id", "source", "n_chars"],
                      "forbid": [r"CartesianProduct"]},
    # class form: exact-dup classes collapse first; LSH/verify machinery
    # runs on representatives with the pinned-shuffle shapes; 1-row
    # report aggregates cross broadcast (deliberate BNLJ)
    "dedup_containment_classes": {"no_bnlj": False, "partial": True,
                                  "require": [r"ShuffledHashJoin"],
                                  "prune": ["lang", "source", "n_chars"],
                                  "forbid": [r"CartesianProduct"]},
    # skyline: corpus -> per-price max partial-agg; frontier window over
    # distinct prices; tiny frontier broadcast back — no pairwise join
    "skyline_pareto": {"partial": True, "broadcast": True,
                       "prune": ["p_name", "p_brand", "p_type"],
                       "forbid": [r"CartesianProduct",
                                  r"SortMergeJoin"]},
    # benford: one scan into a <=9-group partial agg; share window over
    # the census only
    "benford_digit_audit": {"partial": True,
                            "prune": ["o_comment", "o_custkey",
                                      "o_orderstatus"],
                            "forbid": [r"CartesianProduct", r"Join"]},
    # bootstrap: constant 32x explode partial-aggs into 32 groups before
    # the exchange; rank over 32 rows; 1-row point estimate broadcast
    "stats_bootstrap_ci": {"partial": True, "no_bnlj": False,
                           "prune": ["o_comment", "o_orderstatus",
                                     "o_orderdate"],
                           "forbid": [r"CartesianProduct",
                                      r"SortMergeJoin"]},
    # winsorize: corpus -> (flag, cents) value histogram partial-agg;
    # thresholds are window aggregates on the same flag exchange (r9 —
    # the old groupBy + broadcast join back is gone)
    "winsorize_stats": {"partial": True,
                        "prune": ["l_comment", "l_quantity", "l_discount"],
                        "forbid": [r"CartesianProduct", r"SortMergeJoin"]},
    # KS: both sample counts in ONE partial-agged histogram pass (no
    # join between samples); CDF window over distinct values
    "drift_ks_test": {"partial": True,
                      "prune": ["text", "doc_id", "source"],
                      "forbid": [r"CartesianProduct", r"Join"]},
    # tree split: one partial-agged label histogram (50 quantity
    # levels); cumulative + argmin over the domain-sized relation
    "ml_tree_split": {"partial": True,
                      "prune": ["l_comment", "l_extendedprice"],
                      "forbid": [r"CartesianProduct", r"Join"]},
    # ECE: 1-row max-date anchor broadcast (deliberate BNLJ, the
    # score_time_decay pattern); <=10-bin partial agg
    "calibration_ece": {"partial": True, "no_bnlj": False,
                        "prune": ["o_comment", "o_totalprice"],
                        "forbid": [r"CartesianProduct", r"SortMergeJoin"]},
    # PIT features: ONE custkey exchange shared by both range frames
    # (same Window node); top-100 via TakeOrdered, no global sort
    "feature_pit_trailing": {"prune": ["o_comment", "o_orderstatus",
                                       "o_orderpriority"],
                             "require": [r"TakeOrderedAndProject"],
                             "forbid": [r"CartesianProduct", r"Join"]},
    # novelty: explode -> ONE partial-agged groupBy on the shingle (MIN
    # combines map-side; skew-safe), then doc-sized equi join back
    "text_ngram_novelty": {"partial": True,
                           "prune": ["lang", "n_chars"],
                           "forbid": [r"CartesianProduct"]},
    # PSI: 1-row min/max anchor broadcast (deliberate BNLJ); <=10-bin
    # partial agg carries both sample counts; windows over the census
    "drift_psi": {"partial": True, "no_bnlj": False,
                  "prune": ["text", "lang", "source"],
                  "forbid": [r"CartesianProduct", r"SortMergeJoin"]},
    # conformal: (cents) value-histogram partial agg; 1-row threshold
    # broadcast onto the test scan (deliberate BNLJ)
    "conformal_threshold": {"partial": True, "no_bnlj": False,
                            "prune": ["o_comment", "o_orderstatus",
                                      "o_orderdate"],
                            "forbid": [r"CartesianProduct",
                                       r"SortMergeJoin"]},
    # coherent sample: scan-local keep decisions; the orphan check is
    # the only join (keyed anti over the 20% slice)
    "sample_coherent": {"partial": True, "no_bnlj": False,
                        "prune": ["o_comment", "c_comment", "c_acctbal"],
                        "forbid": [r"CartesianProduct"]},
    # LPA (audited with checkpoint=False): pair-gen is the order-bounded
    # basket self-join; each round a keyed equi join + partial-agged
    # (node, label) count + per-node rank
    "graph_community_lpa": {"partial": True, "no_bnlj": False,
                            "prune": ["l_comment", "l_quantity"],
                            "forbid": [r"CartesianProduct"]},
    # DP median: (cents) value-histogram partial agg; noise is a scalar
    # expr over the domain-sized relation; no joins
    "privacy_dp_median": {"partial": True,
                          "prune": ["o_comment", "o_custkey",
                                    "o_orderstatus"],
                          "forbid": [r"CartesianProduct", r"Join"]},
    # GIF encode->LZW-decode roundtrip: pruned single-column scan into
    # one Arrow python stage, no keyed exchange (the mm_decode_png
    # shape, incl. the r9 round-robin core spread)
    "mm_decode_gif": {"partial": False, "prune": ["text", "lang", "source"],
                      "max_exchange": 1,
                      "forbid": [r"CartesianProduct", r"Join",
                                 r"hashpartitioning"],
                      "require": [r"MapInPandas",
                                  r"RoundRobinPartitioning"]},
    # JPEG encode->baseline-decode roundtrip: same linear shape
    "mm_decode_jpeg": {"partial": False, "prune": ["text", "lang", "source"],
                       "max_exchange": 1,
                       "forbid": [r"CartesianProduct", r"Join",
                                  r"hashpartitioning"],
                       "require": [r"MapInPandas",
                                   r"RoundRobinPartitioning"]},
    # depth-2 tree: pass 1 histogram + 1-row root broadcast onto pass
    # 2's (side, discount) histogram; per-side windows over the domain
    "ml_tree_split2": {"partial": True, "no_bnlj": False,
                       "prune": ["l_comment", "l_extendedprice"],
                       "forbid": [r"CartesianProduct", r"SortMergeJoin"]},
    # kNN class form: class-key exchange collapses duplicates first;
    # rep-sized bucket join + class-size joins all pinned shuffled
    "sim_knn_classes": {"no_bnlj": False, "partial": True,
                        "require": [r"ShuffledHashJoin"],
                        "prune": ["label"],
                        "forbid": [r"CartesianProduct"]},
    # NDCG/MRR: array-local tf/rel, TakeOrdered top-10, 1-row count
    # aggregate broadcast onto a 10-row rank spine (deliberate BNLJ)
    "retrieval_ndcg": {"partial": True, "no_bnlj": False,
                       "prune": ["lang", "source", "n_chars"],
                       "require": [r"TakeOrderedAndProject"],
                       "forbid": [r"CartesianProduct", r"SortMergeJoin"]},
    # AllPairs: prefix equi join + array-carrying verify joins, all
    # pinned shuffle_hash (the _minhash_core trap); class collapse
    # first; 1-row report aggregates cross broadcast (deliberate BNLJ)
    "dedup_allpairs_prefix": {"partial": True, "no_bnlj": False,
                              "require": [r"ShuffledHashJoin"],
                              "prune": ["lang", "source", "n_chars"],
                              "forbid": [r"CartesianProduct",
                                         r"BroadcastHashJoin"]},
    # class-form minhash: collapse-first, then the SAME pinned-shuffled
    # band/verify shape as dedup_minhash; class-size joins rep-keyed
    "dedup_minhash_classes": {"partial": True,
                              "require": [r"ShuffledHashJoin"],
                              "prune": ["lang", "source", "n_chars"],
                              "forbid": [r"CartesianProduct",
                                         r"BroadcastHashJoin"]},
}

# blanket coverage for the remaining batch registry: the default
# invariants alone (no CartesianProduct anywhere, no unexpected
# BroadcastNestedLoopJoin, whole-stage codegen or AQE present) — the
# minimum bar every plan must clear. Queries with deliberate
# broadcast-tiny BNLJs are flagged; everything else inherits {}.
_BLANKET = """
agg_approx_count_distinct agg_count_distinct agg_cube agg_grouping_sets
agg_percentile agg_rollup agg_salted_skew annotate_chunk_spans
annotate_coref_clusters annotate_crossdoc_coref annotate_mention_spans
annotate_ner_spans annotate_parse_shape annotate_pos_histogram
annotate_srl_args annotate_wiki_urls array_funcs bpe_train_merges
case_when date_funcs hash_funcs incremental_provide_run
incremental_staleness join_anti join_outer join_outer_full join_semi
json_funcs map_funcs math_funcs mm_audio_stats mm_frame_sample
mm_manifest mm_resize pivot_table project_rename_cast sample_n
scan_binary_records scan_csv scan_json scan_jsonl_corrupt scan_orc scan_xml
scan_parquet scan_schema_evolution scan_text_corpus scan_thrift_records
set_except set_intersect set_union sort_limit span_substring
store_compaction str_funcs text_chunk text_clean text_fingerprint
text_langid text_ngrams text_quality text_token_count udaf_grouped
udtf_explode win_lag_lead win_range_frame win_running_sum write_codecs
write_parquet write_partitioned ws_tokenize
""".split()
for _n in _BLANKET:
    AUDITS.setdefault(_n, {})
# non-equi joins: BroadcastNestedLoopJoin against the broadcast-small
# side IS the intended strategy (join_interval_binned is the equi-join
# scale plan for the same semantics, audited strictly above)
for _n in ("join_range", "join_interval", "span_interval_join"):
    AUDITS.setdefault(_n, {"no_bnlj": False})

# round-8 operators
# one two-level hash agg keyed on source; md5 collapses docs map-side
AUDITS["source_reputation"] = {
    "partial": True,
    "prune": ["doc_id", "lang", "n_chars"],
}
# global permutation from local ranks + broadcast offsets: the
# bucket-boundary and offset relations are bounded rows and broadcast
AUDITS["curriculum_global_order"] = {
    "broadcast": True,
    "prune": ["lang", "source", "n_chars"],
    "forbid": [r"CartesianProduct"],
}
# linear window explode -> md5-keyed partial aggs + one co-partitioned
# self-join on wh; never a pair dump
AUDITS["dedup_substring_windows"] = {
    "partial": True,
    "prune": ["lang", "n_chars"],
    "forbid": [r"CartesianProduct"],
}
# k-row centroid/cap relations cross via broadcast BNLJ (deliberate);
# the corpus never shuffles for assignment, only for the fill window
AUDITS["emb_kmeans_balanced"] = {"no_bnlj": False, "partial": True}
# corpus collapses to a fixed 16x16 grid; the grid self-join is a
# broadcast non-equi join over <=256 rows (deliberate BNLJ)
AUDITS["qa_kendall_tau"] = {
    "partial": True,
    "no_bnlj": False,
    "prune": ["doc_id", "source"],
}
# one corpus scan -> 1-row confusion matrix; zero joins
AUDITS["qa_kappa_agreement"] = {
    "partial": True,
    "prune": ["doc_id", "source", "lang"],
    "forbid": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
}
# one corpus scan -> 1-row flag sums -> constant stack()
AUDITS["filter_rule_ablation"] = {
    "partial": True,
    "prune": ["doc_id", "source", "lang"],
    "forbid": [r"CartesianProduct", r"Join"],
}
# md5 class collapse -> bucket census; totals broadcast back (1 row)
AUDITS["dup_inflation_curve"] = {
    "partial": True,
    "no_bnlj": False,  # 1-row totals cross is a broadcast BNLJ
    "prune": ["doc_id", "source", "lang"],
}
# frequent-pair table broadcasts into every Apriori prune
AUDITS["basket_apriori_triples"] = {
    "partial": True,
    "broadcast": True,
    "forbid": [r"CartesianProduct"],
}
# fold+match is per-row column algebra; one census agg, zero joins
AUDITS["qa_blocklist_leet"] = {
    "partial": True,
    "prune": ["doc_id", "lang", "n_chars"],
    "forbid": [r"CartesianProduct", r"Join"],
}
# encode+parse in one Arrow stage over the pruned doc_id column
AUDITS["mm_exif_audit"] = {
    "prune": ["text", "lang", "source", "n_chars"],
    "max_exchange": 1,
    "forbid": [r"hashpartitioning", r"Join"],
    "require": [r"RoundRobinPartitioning"],
}
# build+probe in one Arrow stage over the pruned doc_id column
# (both: the one round-robin Exchange is the r9 core spread)
AUDITS["mm_mp4_probe"] = {
    "prune": ["text", "lang", "source", "n_chars"],
    "max_exchange": 1,
    "forbid": [r"hashpartitioning", r"Join"],
    "require": [r"RoundRobinPartitioning"],
}
# token explode collapses to the vocab-bounded count relation; noise
# and threshold are per-group scalars; TakeOrdered release
AUDITS["privacy_dp_topk"] = {
    "partial": True,
    "prune": ["doc_id", "lang", "source", "n_chars"],
    "forbid": [r"CartesianProduct", r"Join"],
}
# one user_id exchange feeds journey window, position window, and the
# co-partitioned touches-to-purchase join
AUDITS["attribution_position"] = {
    "partial": True,
    "pushed": True,
    "forbid": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
}
# corpus collapses to per-(source,value) histograms; the CDF-matching
# non-equi join runs over domain-bounded relations (broadcast BNLJ is
# the intended strategy there)
AUDITS["score_quantile_norm"] = {
    "partial": True,
    "no_bnlj": False,
    "prune": ["doc_id", "text", "lang"],
}
# class collapse first; dup-window set stays md5-keyed through its
# equi-joins; coverage is one per-class range window, never a pair dump
AUDITS["dedup_span_removal"] = {
    "partial": True,
    "prune": ["doc_id", "lang", "n_chars"],
    "forbid": [r"CartesianProduct", r"BroadcastNestedLoopJoin"],
}
# iterative hash-to-min propagation over CLASS reps: persists +
# localCheckpoints per round like graph_pagerank — audited with
# checkpoint-free plans (lazy_query)
AUDITS["dedup_clusters_classes"] = {
    "partial": True,
    "forbid": [r"CartesianProduct"],
}
AUDITS["dedup_keep_best_classes"] = {
    "partial": True,
    "forbid": [r"CartesianProduct"],
}
# day-rollup first; medians/gates over the calendar-bounded relation;
# 1-row median/MAD relations cross back via broadcast BNLJ (intended)
AUDITS["ts_anomaly_residual"] = {
    "partial": True,
    "no_bnlj": False,
    "prune": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
}
# the MinHash family verifies through dedup._overlap's distinct-set
# counts (|A u B| = n_a + n_b - n_common): no per-pair union array
for _name in (
    "dedup_minhash", "dedup_minhash_classes", "dedup_clusters",
    "dedup_clusters_classes", "dedup_keep_best", "dedup_keep_best_classes",
    "dedup_minhash_tuning", "dedup_cascade", "dedup_containment",
    "dedup_containment_census", "dedup_containment_classes",
    "dedup_incremental_minhash", "dedup_minhash_recall",
    "dedup_allpairs_prefix", "dedup_ngram_jaccard", "dedup_method_agreement",
    "contamination_minhash",
):
    AUDITS[_name].setdefault("forbid", []).append(r"array_union")

# Explicit exemptions: queries whose registered callable executes a
# Structured Streaming pipeline to completion (availableNow trigger) and
# returns the batch READBACK of the sink — the DataFrame handed back has
# no streaming physical plan left to assert. Their scale invariants are
# checked elsewhere: multi-batch pytests (tests/test_streaming*.py,
# test_rocksdb_state.py) drive real micro-batches, and bench.py records
# per-batch processing time from StreamingQueryProgress. AUDITS | EXEMPT
# must equal the registry — coverage_gaps() enforces it (pytest
# tests/test_plan_audit.py) so a new query can't land unaudited.
EXEMPT: dict[str, str] = {
    n: "streaming: registered callable returns the batch readback of an "
       "executed availableNow pipeline; invariants covered by multi-batch "
       "pytests + StreamingQueryProgress batch_ms in BENCH_DETAIL"
    for n in (
        "stream_annotate stream_contamination stream_dedup "
        "stream_file_source stream_outer_join stream_session "
        "stream_sink_parquet stream_sliding_agg stream_stateful_count "
        "stream_static_join stream_stream_join stream_transform_with_state "
        "stream_upsert_store stream_watermark stream_window_agg"
    ).split()
}
EXEMPT["emb_pca_power"] = (
    "power iteration runs on per-round checkpointed 1-row relations "
    "(the explain would show only the final LogicalRDD tail; an "
    "un-checkpointed plan hangs Catalyst — see the in-code barrier "
    "note); the corpus-sized stage is emb_covariance's plan, which IS "
    "audited"
)


def coverage_gaps(registry_names) -> tuple[list[str], list[str]]:
    """(registered-but-unaudited, audited-but-unregistered) name lists.

    Both must be empty: every registered query needs an AUDITS entry or
    an EXEMPT reason, and stale AUDITS entries must be pruned when a
    query is renamed. The A19 verify-everything discipline applied to
    the audit registry itself.
    """
    names = set(registry_names)
    covered = set(AUDITS) | set(EXEMPT)
    return sorted(names - covered), sorted((set(AUDITS) & set(EXEMPT)) | (covered - names))


def lazy_query(qfn, spark, sf_dir: str):
    """The query's DataFrame with its plan left lazy: a query that
    persists or localCheckpoints eagerly takes a ``checkpoint``
    parameter, and gets ``checkpoint=False`` so the audit sees the full
    plan, not the post-checkpoint scan stub."""
    if "checkpoint" in inspect.signature(qfn).parameters:
        return qfn(spark, sf_dir, checkpoint=False)
    return qfn(spark, sf_dir)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str, spec: dict) -> list[str]:
    problems = []
    if spec.get("pushed"):
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        if not any(p.strip() for p in pushed):
            problems.append("no PushedFilters reached the parquet scan")
    if spec.get("broadcast") and "BroadcastHashJoin" not in plan:
        problems.append("expected BroadcastHashJoin, none in plan")
    if "CartesianProduct" in plan:
        problems.append("CartesianProduct in plan")
    if spec.get("no_bnlj", True) and "BroadcastNestedLoopJoin" in plan:
        problems.append("unexpected BroadcastNestedLoopJoin")
    if spec.get("dpp") and "dynamicpruning" not in plan:
        problems.append("no dynamicpruning partition filter in plan")
    if spec.get("partial") and not re.search(r"partial_\w+", plan):
        problems.append("no partial_ (map-side) aggregation in plan")
    for rx in spec.get("require", []):
        if not re.search(rx, plan):
            problems.append(f"required pattern {rx!r} absent from plan")
    for rx in spec.get("forbid", []):
        if re.search(rx, plan):
            problems.append(f"forbidden pattern {rx!r} present in plan")
    if "max_exchange" in spec:
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        if n > spec["max_exchange"]:
            problems.append(
                f"{n} Exchanges in plan, budget {spec['max_exchange']}"
            )
    for col in spec.get("prune", []):
        if not spec.get("prune_not") and re.search(rf"ReadSchema:.*\b{col}\b", plan):
            problems.append(f"unpruned column {col} in ReadSchema")
    # non-AQE plans annotate codegen spans statically; AQE plans
    # (anything with an exchange) only attach codegen ids in the
    # runtime-final plan, so AdaptiveSparkPlan presence stands in
    if "codegen id" not in plan and "AdaptiveSparkPlan" not in plan:
        problems.append("no whole-stage-codegen span ([codegen id : N])")
    return problems


def splice_sections(doc: str, fresh: str) -> str:
    """``doc`` (PLANS.md) with each ``## name — …`` section of ``fresh``
    put where ``doc``'s section of that name stands, and appended at the
    end only when ``doc`` has none; ``doc``'s header and every other
    section are kept as they are."""

    def sections(text: str) -> tuple[str, dict[str, str]]:
        head, *secs = re.split(r"(?m)^(?=## )", text)
        return head, {
            s.split(" — ", 1)[0]: s if s.endswith("\n\n") else s.rstrip("\n") + "\n\n"
            for s in secs
        }

    head, old = sections(doc)
    # a dict update keeps a replaced key where it stood
    return (head + "".join({**old, **sections(fresh)[1]}.values())).rstrip("\n") + "\n"


def main() -> None:
    # usage: plan_audit.py [sf_dir] [--append name ...]
    #   no names: full regeneration of PLANS.md (~20 min)
    #   --append name ...: audit only those queries and append/replace
    #   their sections in the existing PLANS.md (incremental, seconds)
    argv = sys.argv[1:]
    append_names: list[str] = []
    if "--append" in argv:
        i = argv.index("--append")
        append_names = argv[i + 1 :]
        argv = argv[:i]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    from curatorhadoopinterface_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    unaudited, stale = coverage_gaps(qs.keys())
    if unaudited or stale:
        print(f"COVERAGE GAP — unaudited: {unaudited}; stale/dual: {stale}")

    lines = [
        "# PLANS — physical-plan audit evidence",
        "",
        f"Generated by tools/plan_audit.py at sf_dir={sf_dir}. PASS = every",
        "invariant for that query held in the formatted physical plan.",
        "",
    ]
    failures = 0
    for name, spec in AUDITS.items():
        if name not in qs:
            continue
        if append_names and name not in append_names:
            continue
        plan = plan_of(lazy_query(qs[name], spark, sf_dir))
        problems = audit(name, plan, spec)
        status = "PASS" if not problems else "FAIL: " + "; ".join(problems)
        print(f"[{status.split(':')[0]}] {name}" + ("" if not problems else f" — {problems}"))
        failures += bool(problems)
        lines.append(f"## {name} — {status}")
        lines.append("")
        scans = re.findall(
            r"\(\d+\) Scan parquet ?\n(?:.+\n)*?(?=\n|\(\d+\))", plan
        )
        keep = [
            ln
            for ln in plan.splitlines()
            if re.search(
                r"Scan parquet|PushedFilters|ReadSchema|BroadcastHashJoin|"
                r"SortMergeJoin|ShuffledHashJoin|CartesianProduct|"
                r"BroadcastNestedLoopJoin|HashAggregate|partial_|Exchange|"
                r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|Window\b",
                ln,
            )
        ]
        lines.append("```")
        lines.extend(ln.rstrip() for ln in keep[:40])
        lines.append("```")
        lines.append("")
        del scans
    text = "\n".join(lines)
    if append_names:
        text = splice_sections(open(os.path.join(ROOT, "PLANS.md")).read(), text)
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(text)
    print(f"\n{failures} failing audits -> PLANS.md")


if __name__ == "__main__":
    main()
