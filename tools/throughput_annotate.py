"""Annotation-pipeline throughput (the BASELINE.md engine-side target):
docs/sec for the fused lightweight pipeline over the documents corpus —
the engine's analogue of the reference's per-document reduce granularity
(DirectoryInputFormat.java:17-19 one-task-per-doc; the engine instead
streams Arrow batches through ONE mapInArrow stage).

Measures (best of N):
  - TOKEN→POS→NER (the reference's in-process trio, JobHandler stage
    fusion A10) — the headline docs/sec;
  - the full 10-mode pipeline (all §2B annotation modes in one pass);
  - the A25 whitespace fast path (pure SQL, no Python worker).

Usage: python tools/throughput_annotate.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from curatorhadoopinterface_spark.profile import profile  # noqa: E402
from curatorhadoopinterface_spark.session import DEFAULT_SF_DIR  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    ap.add_argument("n_runs", nargs="?", type=int, default=3)
    args = ap.parse_args()
    sf_dir, n_runs = args.sf_dir, args.n_runs

    import pyspark.sql.functions as F

    from curatorhadoopinterface_spark.plans.provide import provide
    from curatorhadoopinterface_spark.session import get_spark, load_table

    spark = get_spark("throughput-annotate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("string").alias("identifier"),
            F.col("text").alias("raw_text"),
        )
    )
    n_docs = docs.count()
    n_chars = docs.agg(F.sum(F.length("raw_text"))).collect()[0][0]

    def timed(label, build):
        best = min(profile(lambda s, d: build(), spark, sf_dir)["sec"] for _ in range(n_runs))
        print(
            f"| {label} | {n_docs} | {best:.2f} | {n_docs / best:,.0f} |"
            f" {n_chars / best / 1e6:.1f} |"
        )

    print(f"sf_dir={sf_dir} docs={n_docs} chars={n_chars} runs={n_runs} (best)")
    print("| pipeline | docs | sec | docs/sec | MB/sec |")
    print("|---|---|---|---|---|")
    timed("TOKEN->POS->NER (fused mapInArrow)", lambda: provide(docs, ["POS", "NER"]))
    timed(
        "all 10 modes (one pass)",
        lambda: provide(
            docs,
            ["POS", "NER", "CHUNK", "COREF", "WIKI", "PARSE",
             "STANFORD_PARSE", "VERB_SRL", "NOM_SRL", "SENTENCE"],
        ),
    )
    timed(
        "ws fast path (A25, pure SQL)",
        lambda: docs.select(
            "identifier", F.split("raw_text", " ").alias("toks")
        ).select("identifier", F.size("toks").alias("n")),
    )


if __name__ == "__main__":
    main()
