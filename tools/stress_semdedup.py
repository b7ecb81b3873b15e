"""Measured scale-stress for dedup_semantic (SCALE.md evidence).

SemDedup's cost model is per-cluster quadratic: pairs = sum_c n_c^2 / 2.
Whether that survives scale depends entirely on whether the cluster
count k grows with the corpus. This harness builds K-times-replicated
embedding fixtures in BOTH regimes and measures (not asserts) the
difference:

  - fixed-k:  copies keep their labels -> clusters grow Kx, pair volume
    grows K^2 (the failure mode of leaving k constant at 100 TB);
  - scaled-k: each copy's labels shift to fresh ids -> cluster SIZE
    stays constant, pair volume grows Kx (the production contract:
    kmeans k scales with the corpus, SemDedup paper's k=11k for LAION).

Records wall time, stage count and shuffle read (best of 2 profile()
runs), and the exact within-cluster pair count vs the all-pairs
baseline.

Usage: python tools/stress_semdedup.py [base_sf_dir] [K]
       (defaults /root/testdata/sf0.1 5; prints a markdown table)
"""

from __future__ import annotations

import argparse
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curatorhadoopinterface_spark.profile import profile  # noqa: E402
from curatorhadoopinterface_spark.session import DEFAULT_SF_DIR  # noqa: E402


def build(src: str, out: str, k: int, shift_labels: bool) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    maxv = con.sql(f"SELECT MAX(vec_id) FROM '{src}/embeddings.parquet'").fetchone()[0]
    maxl = con.sql(f"SELECT MAX(label) FROM '{src}/embeddings.parquet'").fetchone()[0]
    vstride = 10 ** len(str(int(maxv)))
    lstride = (maxl + 1) if shift_labels else 0
    selects = [
        f"SELECT vec_id + {c * vstride} AS vec_id, embedding,"
        f" label + {c * lstride} AS label FROM '{src}/embeddings.parquet'"
        for c in range(k)
    ]
    con.sql(f"COPY ({' UNION ALL '.join(selects)}) TO '{out}/embeddings.parquet'")


def measure(spark, sf_dir: str) -> dict:
    from curatorhadoopinterface_spark.operators import all_queries

    fn = all_queries()["dedup_semantic"]
    best = min((profile(fn, spark, sf_dir) for _ in range(2)), key=lambda r: r["sec"])
    con = duckdb.connect()
    n, pairs = con.sql(
        f"""
        WITH c AS (SELECT label, COUNT(*) AS m
                   FROM '{sf_dir}/embeddings.parquet' GROUP BY label)
        SELECT SUM(m)::BIGINT, SUM(m * (m - 1) / 2)::BIGINT FROM c
        """
    ).fetchone()
    return {
        "sec": best["sec"],
        "stages": best["stages"],
        "shuffle_mb": best["shuffle_read_mb"],
        "n_vecs": n,
        "cluster_pairs": pairs,
        "all_pairs": n * (n - 1) // 2,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("src", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("k", nargs="?", type=int, default=5)
    args = ap.parse_args()
    src, k = args.src, args.k
    fixed = "/tmp/semdedup_fixed_k"
    scaled = "/tmp/semdedup_scaled_k"
    build(src, fixed, k, shift_labels=False)
    build(src, scaled, k, shift_labels=True)

    from curatorhadoopinterface_spark.session import get_spark

    spark = get_spark("stress-semdedup")
    spark.sparkContext.setLogLevel("ERROR")

    rows = [
        ("1x base", measure(spark, src)),
        (f"{k}x fixed-k", measure(spark, fixed)),
        (f"{k}x scaled-k", measure(spark, scaled)),
    ]
    print("| fixture | n_vecs | cluster pairs | all-pairs | sec | stages | shuffle MB |")
    print("|---|---|---|---|---|---|---|")
    for name, m in rows:
        print(
            f"| {name} | {m['n_vecs']} | {m['cluster_pairs']:,} |"
            f" {m['all_pairs']:,} | {m['sec']} | {m['stages']} |"
            f" {m['shuffle_mb']} |"
        )


if __name__ == "__main__":
    main()
