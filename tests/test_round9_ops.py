"""Round-9 re-plans.

dedup_minhash_tuning moved to CLASS form (exact-dup classes collapse
before banding; doc-pair counts recovered by class arithmetic). The
identity claimed in its docstring — class-form report == doc-pair-form
report on ANY corpus — is pinned here by recomputing the report with
the original doc-pair plan (banding over ALL docs, distinct pairs,
per-pair verify) on a 3x-duplicated corpus and comparing row sets.
"""

import pyspark.sql.functions as F


def _docpair_tuning_report(spark, sf_dir):
    """The pre-r9 doc-pair tuning plan, kept verbatim as the test
    reference: bands over every doc, DISTINCT candidate doc pairs,
    exact-Jaccard verify per pair."""
    from curatorhadoopinterface_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        N_HASHES,
        TUNE_CONFIGS,
        VERIFY_J,
        _shingles,
    )

    sh = _shingles(spark, sf_dir).withColumn(
        "v",
        F.conv(F.substring(F.md5("shingle"), 1, 7), 16, 10).cast("bigint"),
    )
    doc_agg = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("v") + F.lit(MINHASH_B[i]))
                % MINHASH_P
            ).alias(f"h{i}")
            for i in range(N_HASHES)
        ],
        F.collect_list("shingle").alias("s"),
    )
    sets = doc_agg.select("doc_id", "s")
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    rows = []
    for n_bands, r in TUNE_CONFIGS:
        band_keys = F.array(
            *[
                F.concat_ws("_", *[F.col(f"h{r * b + j}") for j in range(r)])
                for b in range(n_bands)
            ]
        )
        bands = doc_agg.select(
            "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
        )
        a, b = bands.alias("a"), bands.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        agg = (
            cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
            .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
            .select(F.when(jac >= VERIFY_J, 1).otherwise(0).alias("ok"))
            .agg(F.count(F.lit(1)).alias("n_c"), F.sum("ok").alias("n_v"))
            .collect()[0]
        )
        if agg.n_c and agg.n_c > 0:
            prec = round((agg.n_v or 0) / agg.n_c, 4)
            rows.append((n_bands, r, agg.n_c, agg.n_v or 0, prec))
    return set(rows)


def test_tuning_class_form_equals_docpair_form(spark, tmp_path):
    """Class-form tuning report is value-identical to the doc-pair plan
    it replaced, on a corpus with planted 3x exact duplication (every
    doc twice more under shifted ids) — candidates, verified counts,
    and precision all survive the class collapse."""
    from curatorhadoopinterface_spark.operators.dedup import (
        dedup_minhash_tuning,
    )
    from curatorhadoopinterface_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(80)
    tripled = docs
    for k in (1, 2):
        tripled = tripled.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000 * k))
        )
    sf = str(tmp_path)
    tripled.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    got = {
        (r.bands, r.rows_per_band, r.n_candidates, r.n_verified,
         float(r.precision))
        for r in dedup_minhash_tuning(spark, sf).collect()
    }
    want = {
        (b, r, nc, nv, float(p))
        for b, r, nc, nv, p in _docpair_tuning_report(spark, sf)
    }
    assert got == want and len(got) > 0
    # the 3x duplication guarantees within-class pairs in every config:
    # every emitted config must carry at least the within-class floor
    assert all(nc >= 3 for _, _, nc, _, _ in got)


def test_overlap_counts_match_array_reference(spark):
    """dedup._overlap's (n_common, n_a, n_b) and the Jaccard derived from
    them equal the size(array_intersect) / size(array_union) reference
    on hand-built shingle sets: disjoint, identical, a strict subset
    (containment 1.0), a single shared shingle, and a doc under 3 words
    (no set, so its candidate pair is dropped)."""
    from curatorhadoopinterface_spark.operators.dedup import (
        _jaccard,
        _overlap,
        shingle_explode,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),  # {abc, bcd, cde}
            (2, "f g h i"),  # disjoint from 1
            (3, "a b c d e"),  # identical to 1
            (4, "a b c d"),  # strict subset of 1
            (5, "c d e x y"),  # shares only "c d e" with 1
            (6, "a b"),  # under 3 words: no shingles
        ],
        "doc_id long, text string",
    )
    sets = shingle_explode(docs).groupBy("doc_id").agg(
        F.collect_list("shingle").alias("s")
    )
    cands = spark.createDataFrame(
        [(1, b) for b in (2, 3, 4, 5, 6)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b, r.jaccard)
        for r in _overlap(cands, sets)
        .select("*", _jaccard().alias("jaccard"))
        .collect()
    }
    jac = F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))) / F.size(
        F.array_union(F.col("sa.s"), F.col("sb.s"))
    )
    want = {
        (r.doc_a, r.doc_b): (r.i, r.na, r.nb, r.jaccard)
        for r in cands.join(sets.alias("sa"), F.col("sa.doc_id") == F.col("doc_a"))
        .join(sets.alias("sb"), F.col("sb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("sa.s"), F.col("sb.s"))).alias("i"),
            F.size(F.col("sa.s")).alias("na"),
            F.size(F.col("sb.s")).alias("nb"),
            jac.alias("jaccard"),
        )
        .collect()
    }
    assert got == want
    assert got == {
        (1, 2): (0, 3, 2, 0.0),
        (1, 3): (3, 3, 3, 1.0),
        (1, 4): (2, 3, 2, 2 / 3),
        (1, 5): (1, 3, 3, 1 / 5),
    }
    n_common, _, n_b, _ = got[(1, 4)]
    assert n_common == n_b  # containment of doc 4 in doc 1 is 1.0
