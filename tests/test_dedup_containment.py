"""dedup_containment_census and its class twin, dedup_containment_classes,
against their DuckDB oracles. The census is derived from the class
arithmetic, and its oracle enumerates every candidate doc pair, so each
case here checks the class arithmetic against the pair definition."""

from __future__ import annotations

import hashlib

import pytest

from curatorhadoopinterface_spark.operators.dedup import (
    BAND_SIZE,
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    N_HASHES,
)

QUERIES = ("dedup_containment_census", "dedup_containment_classes")

# three 22-word texts with 20 shingles each: B is A with word 18
# replaced, C is B with word 3 replaced. A~B and B~C share 17 shingles
# (containment 0.85, kept); A~C shares 14 (0.70, dropped).
_A = [f"alpha{i}" for i in range(22)]
_B = _A[:18] + ["beta0"] + _A[19:]
_C = _B[:3] + ["gamma0"] + _B[4:]
# a 10-word quote inside a 40-word page (8 of 38 shingles: containment
# 1.0, Jaccard 0.21); the filler was searched offline for a band hit
_QUOTE = [f"quote{i}" for i in range(10)]
_PAGE = (
    [f"pre618_{i}" for i in range(15)] + _QUOTE + [f"post618_{i}" for i in range(15)]
)


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}


def _bands(words: list[str]) -> set[tuple[int, str]]:
    """The engine's LSH band keys, replayed in Python (md5 -> 12 affine
    minhashes -> 4 bands of 3)."""
    vs = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16) for s in _shingles(words)]
    h = [
        min((MINHASH_A[i] * v + MINHASH_B[i]) % MINHASH_P for v in vs)
        for i in range(N_HASHES)
    ]
    return {
        (b, "_".join(str(h[BAND_SIZE * b + j]) for j in range(BAND_SIZE)))
        for b in range(N_HASHES // BAND_SIZE)
    }


def _write_docs(spark, path, texts: dict[int, str]) -> str:
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")
    return str(path)


def test_planted_fixture_premises():
    """The planted corpus is what the census test says it is: equal set
    sizes, the kept/dropped containments, and LSH candidacy."""
    a, b, c = _shingles(_A), _shingles(_B), _shingles(_C)
    assert len(a) == len(b) == len(c) == 20
    assert (len(a & b), len(b & c), len(a & c)) == (17, 17, 14)
    assert _bands(_A) & _bands(_B) and _bands(_B) & _bands(_C)
    q, p = _shingles(_QUOTE), _shingles(_PAGE)
    assert q < p and (len(q), len(p)) == (8, 38)
    assert _bands(_QUOTE) & _bands(_PAGE)


def test_census_and_classes_match_oracles_on_planted_corpus(
    spark, tmp_path, assert_oracle
):
    """Duplicate classes with interleaved ids (A = {1, 10}, B = {2, 3},
    C = {4, 11}), an equal-size kept partner chain A~B~C, a quote inside
    a page, and a duplicated two-word doc.

    Contained docs in the pair form: within-class pairs name 1, 2 and 4;
    across the equal-size pairs the lower id is contained, which adds 3
    (3 < 10); the quote adds 5. The two-word docs have no shingles and
    count nowhere. B loses both of its kept pairs (its max id 3 is below
    A's 10 and C's 11), so B is counted once; ranking a tie by the
    representative instead would count A and B."""
    a, b, c = " ".join(_A), " ".join(_B), " ".join(_C)
    sf = _write_docs(
        spark,
        tmp_path,
        {
            1: a, 10: a, 2: b, 3: b, 4: c, 11: c,
            5: " ".join(_QUOTE), 6: " ".join(_PAGE),
            7: "hello world", 8: "hello world",
        },
    )
    (census,) = assert_oracle("dedup_containment_census", sf)
    (twin,) = assert_oracle("dedup_containment_classes", sf)
    assert census.n_docs_contained == 5
    # A~B, B~C (4 doc pairs each), quote~page, and one pair per class
    assert census.n_pairs == 4 + 4 + 1 + 3
    assert census.n_jaccard_blind_pairs == 1
    assert (twin.n_classes, twin.n_docs) == (5, 8)


def test_census_and_classes_match_oracles_on_sf0001(assert_oracle):
    for name in QUERIES:
        assert_oracle(name, "/root/testdata/sf0.001")


@pytest.mark.parametrize("corpus", ["empty", "one_row", "all_identical"])
def test_census_degenerate_inputs(spark, tmp_path, assert_oracle, corpus):
    """Degenerate corpora: every census count is 0 over an empty table
    (the class twin's within-class sums are NULL there, as in its
    oracle), one row has no pair, and n identical docs make C(n, 2)
    kept pairs with all but the highest id contained."""
    text = "the same five word text"
    texts = {
        "empty": {},
        "one_row": {1: text},
        "all_identical": {i: text for i in (3, 1, 4, 5, 9)},
    }[corpus]
    sf = _write_docs(spark, tmp_path, texts)
    (census,) = assert_oracle("dedup_containment_census", sf)
    assert_oracle("dedup_containment_classes", sf)
    expect = {"empty": (0, 0), "one_row": (0, 0), "all_identical": (10, 4)}
    assert (census.n_pairs, census.n_docs_contained) == expect[corpus]
    if corpus == "empty":
        assert all(v == 0 for v in census)
