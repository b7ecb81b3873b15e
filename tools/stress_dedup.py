"""Measured scale-stress for the dedup family (SCALE.md evidence).

Runs dedup_minhash / dedup_simhash_hamming / dedup_clusters at 1x, Kx/2
and Kx document volume (Kx dirs built by tools/make_stress_sf.py, which
replicates every text K times -> K-sized exact-duplicate clusters on top
of the base corpus), and records MEASURED (not asserted):

  - wall time, stage count and shuffle read (best of 2 profile() runs)
  - LSH candidate-pair count vs the all-pairs quadratic baseline
  - verified output rows

Sub-quadratic evidence: candidates / C(n_docs, 2) must SHRINK as the
corpus grows — the LSH join keys collisions, never the cross product.
(The planted exact-duplicate clusters themselves grow their pair count
as K^2 by construction; the claim under test is about the join's
candidate volume relative to all-pairs, not about the fixture's
duplicate density.)

Usage: python tools/stress_dedup.py [base_sf_dir] [K]
       (defaults /root/testdata/sf0.1 10; prints a markdown table)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curatorhadoopinterface_spark.profile import profile  # noqa: E402
from curatorhadoopinterface_spark.session import DEFAULT_SF_DIR  # noqa: E402


def best_of_2(spark, fn, sf_dir) -> dict:
    return min((profile(fn, spark, sf_dir) for _ in range(2)), key=lambda r: r["sec"])


def make_jittered(base: str, out: str, k: int, step: int = 5) -> None:
    """K copies of documents.parquet where every 5th word of each copy
    is replaced by a copy-specific token — shingle Jaccard between
    copies drops to ~0.2, far below the verify threshold, so copies are
    NOT near-duplicates of each other. True near-dup pairs then grow
    LINEARLY in K (each copy keeps its own internal near-dups) and the
    candidate count isolates LSH join growth instead of the planted
    quadratic of exact replication."""
    import pandas as pd

    os.makedirs(out, exist_ok=True)
    src = pd.read_parquet(f"{base}/documents.parquet")
    stride = 10 ** len(str(int(src["doc_id"].max())))
    copies = []
    for c in range(k):
        cp = src.copy()
        cp["doc_id"] = cp["doc_id"] + c * stride
        if c > 0:
            # replacement tokens are unique PER DOC (not per copy), so
            # jitter introduces no new cross-doc shingle collisions
            cp["text"] = [
                " ".join(
                    f"cp{c}d{d}w{j}" if j % step == 0 else w
                    for j, w in enumerate(t.split(" "))
                )
                for d, t in zip(cp["doc_id"], cp["text"])
            ]
            cp["n_chars"] = cp["text"].str.len()
        copies.append(cp)
    pd.concat(copies, ignore_index=True).to_parquet(f"{out}/documents.parquet")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("k", nargs="?", type=int, default=10)
    ap.add_argument("--jitter", action="store_true")
    ap.add_argument("--heavy", action="store_true")
    args = ap.parse_args()
    base, k = args.base, args.k

    if args.jitter:
        step = 2 if args.heavy else 5
        dirs = [("1x", base)]
        for kk in sorted({max(2, k // 2), k}):
            out = f"/tmp/sf_jitter{step}_{kk}x"
            if not os.path.isdir(out):
                make_jittered(base, out, kk, step)
            dirs.append((f"{kk}x", out))
        run_suite(dirs)
        return

    dirs = [("1x", base)]
    for kk in sorted({max(2, k // 2), k}):
        out = f"/tmp/sf_stress_{kk}x"
        if not os.path.isdir(out):
            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "make_stress_sf.py"), base, out, str(kk)],
                check=True,
                capture_output=True,
            )
        dirs.append((f"{kk}x", out))
    run_suite(dirs)


def run_suite(dirs) -> None:
    from curatorhadoopinterface_spark.operators.dedup import (
        dedup_clusters,
        dedup_minhash,
        dedup_simhash_hamming,
        minhash_candidates,
    )
    from curatorhadoopinterface_spark.session import get_spark, load_table

    spark = get_spark("stress-dedup", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for label, d in dirs:
        n_docs = load_table(spark, d, "documents").count()
        allpairs = n_docs * (n_docs - 1) // 2
        cands = minhash_candidates(spark, d).count()
        out_pairs = dedup_minhash(spark, d).count()
        mh = best_of_2(spark, dedup_minhash, d)
        sh = best_of_2(spark, dedup_simhash_hamming, d)
        cl = best_of_2(spark, dedup_clusters, d)
        rows.append(
            {
                "scale": label,
                "n_docs": n_docs,
                "allpairs": allpairs,
                "candidates": cands,
                "cand_frac": cands / allpairs,
                "verified_pairs": out_pairs,
                "minhash": mh,
                "simhash_hamming": sh,
                "clusters": cl,
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    print("\n| scale | docs | all-pairs | LSH candidates | cand/all-pairs | verified | minhash s / stages / shufMB | simhash s | clusters s |")
    print("|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        m, s, c = r["minhash"], r["simhash_hamming"], r["clusters"]
        print(
            f"| {r['scale']} | {r['n_docs']:,} | {r['allpairs']:.2e} | "
            f"{r['candidates']:,} | {r['cand_frac']:.2e} | {r['verified_pairs']:,} | "
            f"{m['sec']} / {m['stages']} / {m['shuffle_read_mb']} | {s['sec']} | {c['sec']} |"
        )
    # growth exponent: candidates ~ n^a  (a < 2 == sub-quadratic, measured)
    if len(rows) >= 2:
        a = math.log(rows[-1]["candidates"] / rows[0]["candidates"]) / math.log(
            rows[-1]["n_docs"] / rows[0]["n_docs"]
        )
        print(f"\nmeasured candidate growth exponent: n^{a:.2f} (2.00 = quadratic)")


if __name__ == "__main__":
    main()
