"""Round-8 QA/governance shelf: planted-fixture invariants."""

from __future__ import annotations

import itertools

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, rows):
    """rows: (doc_id, text, lang, source)."""
    df = spark.createDataFrame(
        [(i, t, lg, src, len(t)) for i, t, lg, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def _tripled_corpus(spark, tmp_path):
    """100 sf0.001 documents, each present 3x under fresh doc ids."""
    from curatorhadoopinterface_spark.session import load_table

    docs = load_table(spark, SF, "documents").limit(100)
    tripled = docs
    for k in (1, 2):
        tripled = tripled.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000 * k))
        )
    sf = str(tmp_path)
    tripled.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    return sf


def test_kendall_tau_sign_on_monotone_corpus(spark, tmp_path):
    """Docs engineered so length and lexical diversity move TOGETHER
    -> tau strongly positive; the mirrored corpus (diversity falls as
    length grows) -> tau strongly negative; |C - D| consistent with
    n_pairs."""
    from curatorhadoopinterface_spark.operators.quality import qa_kendall_tau

    def doc(i, d):
        # 10 words of width 4+8i (n_chars bucket rises with i), d of
        # them distinct (diversity bucket = 100*d // 64)
        ws = [chr(ord("a") + j) * (4 + 8 * i) for j in range(d)]
        return " ".join((ws * 10)[:10])

    pos = [(i, doc(i, i + 1), "en", "s") for i in range(8)]
    sf = _write_docs(spark, tmp_path, pos)
    r = qa_kendall_tau(spark, sf).collect()[0]
    assert r.n_docs == 8 and r.n_pairs == 28
    assert r.concordant > r.discordant and r.tau_a_ppm > 500_000
    assert r.concordant + r.discordant <= r.n_pairs

    neg = [(i, doc(i, 8 - i), "en", "s") for i in range(8)]
    sf2 = _write_docs(spark, tmp_path / "neg", neg)
    r2 = qa_kendall_tau(spark, sf2).collect()[0]
    assert r2.tau_a_ppm < -500_000


def test_kappa_perfect_and_chance_agreement(spark, tmp_path):
    """Labelers engineered to agree perfectly -> kappa 1e6; engineered
    so rule A fires on an independent half -> kappa near 0 (and well
    below raw agreement po)."""
    from curatorhadoopinterface_spark.operators.quality import (
        qa_kappa_agreement,
    )

    # both rules fire together: short AND repetitious docs vs long
    # diverse docs ("aa bb" repeated is <150 chars AND ratio<0.5)
    good = " ".join(f"w{i}" for i in range(40)).ljust(200, "y")
    bad = "aa aa aa aa aa aa aa aa"  # 8 words, 1 distinct, 23 chars
    rows = [(i, bad if i < 4 else good, "en", "s") for i in range(12)]
    sf = _write_docs(spark, tmp_path, rows)
    r = qa_kappa_agreement(spark, sf).collect()[0]
    assert (r.n_ll, r.n_oo, r.n_lo, r.n_ol) == (4, 8, 0, 0)
    assert r.po_ppm == 1_000_000 and r.kappa_ppm == 1_000_000

    # independence: A (repetition) fires on half of each B stratum.
    # B fires iff short; A iff 1-distinct-word text. 4 combos x 3 docs.
    combos = {
        (1, 1): "zz zz zz zz",  # repetitious + short
        (1, 0): " ".join(["zz"] * 80),  # repetitious + long (160 chars)
        (0, 1): "aa bb cc dd ee",  # diverse + short
        (0, 0): good,  # diverse + long
    }
    rows2 = []
    i = 0
    for (a, b), text in combos.items():
        for _ in range(3):
            rows2.append((i, text, "en", "s"))
            i += 1
    sf2 = _write_docs(spark, tmp_path / "ind", rows2)
    r2 = qa_kappa_agreement(spark, sf2).collect()[0]
    assert r2.po_ppm == 500_000 and abs(r2.kappa_ppm) < 1000


def test_filter_rule_ablation_identities(spark, tmp_path):
    """first-fail counts partition the killed docs; a rule that only
    fires alongside an earlier rule shows n_unique = 0 (fully
    shadowed); sums reconcile with filter_census semantics."""
    from curatorhadoopinterface_spark.operators.quality import (
        filter_rule_ablation,
    )

    good = " ".join(f"w{i}" for i in range(40)).ljust(200, "y")
    rows = [
        (0, "tiny doc", "en", "s"),  # too_short only
        (1, "aa aa aa aa " * 20, "en", "s"),  # repetitious only (>=150c)
        (2, "zz zz zz", "en", "s"),  # too_short AND repetitious
        (3, ("superlongword " * 16).strip(), "en", "s"),  # long_words+rep
        (4, good, "en", "s"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.rule: r for r in filter_rule_ablation(spark, sf).collect()}
    assert set(out) == {"too_short", "long_words", "repetitious"}
    assert out["too_short"].n_docs == 5
    # doc3: mean word len 13 -> long_words fires; 1 distinct/16 -> rep too
    assert out["too_short"].n_any == 2  # docs 0, 2
    assert out["repetitious"].n_any == 3  # docs 1, 2, 3
    assert out["long_words"].n_any == 1  # doc 3
    # cascade: first-fail partitions the 4 killed docs
    assert (
        out["too_short"].n_first
        + out["long_words"].n_first
        + out["repetitious"].n_first
        == 4
    )
    # unique kills: doc1 only rep; doc0 only short; long_words never alone
    assert out["repetitious"].n_unique == 1
    assert out["too_short"].n_unique == 1
    assert out["long_words"].n_unique == 0


def test_dup_inflation_shares_partition_the_corpus(spark, tmp_path):
    """Bucket doc/char shares sum to ~1e6 and counts reconcile: a
    5x class lands in k3_5, a pair in k2, singletons in k1_unique."""
    from curatorhadoopinterface_spark.operators.quality import (
        dup_inflation_curve,
    )

    rows = []
    i = 0
    for copies, text in ((5, "penta " * 10), (2, "duo " * 12), (1, "solo one"), (1, "solo two xyz")):
        for _ in range(copies):
            rows.append((i, text.strip(), "en", "s"))
            i += 1
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.bucket: r for r in dup_inflation_curve(spark, sf).collect()}
    assert out["k3_5"].n_classes == 1 and out["k3_5"].n_docs == 5
    assert out["k2"].n_classes == 1 and out["k2"].n_docs == 2
    assert out["k1_unique"].n_classes == 2 and out["k1_unique"].n_docs == 2
    assert 999_998 <= sum(r.doc_share_ppm for r in out.values()) <= 1_000_000
    assert 999_998 <= sum(r.char_share_ppm for r in out.values()) <= 1_000_000
    assert sum(r.n_docs for r in out.values()) == 9


def test_apriori_triples_match_bruteforce(spark):
    """Top-20 Apriori triples at sf0.001 equal brute-force enumeration
    of all 3-subsets per basket (support >= 2), proving the prune
    drops no frequent triple (downward closure)."""
    from curatorhadoopinterface_spark.operators.quality import (
        _TRIPLE_MINSUP,
        basket_apriori_triples,
    )
    from curatorhadoopinterface_spark.session import load_table

    got = [
        (r.i1, r.i2, r.i3, r.support)
        for r in basket_apriori_triples(spark, SF).collect()
    ]

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    pt = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    basket = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("items"))
        .collect()
    )
    from collections import Counter

    support = Counter()
    for r in basket:
        for t in itertools.combinations(r["items"], 3):
            support[t] += 1
    want = sorted(
        (
            (t[0], t[1], t[2], s)
            for t, s in support.items()
            if s >= _TRIPLE_MINSUP
        ),
        key=lambda x: (-x[3], x[0], x[1], x[2]),
    )[:20]
    assert got == want


def test_blocklist_leet_folding_counts_obfuscations(spark, tmp_path):
    """'b1g', 'B!G', '5low', 'sl0w' all fold to blocklist words; a
    clean doc scores zero; per-source rates are exact."""
    from curatorhadoopinterface_spark.operators.quality import (
        qa_blocklist_leet,
    )

    rows = [
        (0, "the b1g table", "en", "s1"),
        (1, "B!G and 5low queries", "en", "s1"),
        (2, "sl0w v3ctor scan", "en", "s1"),
        (3, "clean document here", "en", "s1"),
        (4, "nothing to see", "en", "s2"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.source: r for r in qa_blocklist_leet(spark, sf).collect()}
    assert out["s1"].n_docs == 4 and out["s1"].n_docs_hit == 3
    # doc1 has two hits (big, slow); doc2 has two (slow, vector)
    assert out["s1"].total_hits == 5
    assert out["s1"].hit_permille == 750
    assert out["s2"].n_docs_hit == 0 and out["s2"].total_hits == 0


def test_tiff_codec_both_endians_and_gps():
    """make_tiff/parse_tiff_ifd roundtrip: both byte orders, inline
    SHORT extraction, ASCII-at-offset reads, GPS planting cadence,
    and loud rejection of non-TIFF bytes."""
    import pytest

    from curatorhadoopinterface_spark.operators.multimodal import (
        _TIFF_TAG_GPS,
        _TIFF_TAG_MAKE,
        _TIFF_TAG_ORIENTATION,
        _TIFF_TAG_WIDTH,
        make_tiff,
        parse_tiff_ifd,
    )

    for doc_id in range(0, 36, 3):
        payload = make_tiff(doc_id)
        assert payload[:2] == (b"II" if doc_id % 2 == 0 else b"MM")
        tags = parse_tiff_ifd(payload)
        assert tags[_TIFF_TAG_WIDTH] == 4 + doc_id % 12
        assert tags[_TIFF_TAG_ORIENTATION] == 1 + doc_id % 8
        assert tags[_TIFF_TAG_MAKE] == f"cam{doc_id % 5}"
        assert (_TIFF_TAG_GPS in tags) == (doc_id % 6 == 0)
    with pytest.raises(ValueError):
        parse_tiff_ifd(b"PK\x03\x04 not a tiff")
    with pytest.raises(ValueError):
        parse_tiff_ifd(b"II\x00\x00\x08\x00\x00\x00")  # bad magic


def test_dp_topk_threshold_suppresses_rare_words(spark, tmp_path):
    """A word below the stability threshold never appears in the
    release even with the max favorable noise draw; heavy hitters
    survive; true counts are absent from the output schema."""
    from curatorhadoopinterface_spark.operators.curation import (
        _DPT_THRESHOLD,
        privacy_dp_topk,
    )

    # 'common' appears 60x (clears T=20 under any |noise|<=28 draw);
    # 'rare' appears once (noise can never lift 1 past 20+ threshold
    # since two-sided geometric at alpha=1/2 is < 28 whp and the
    # planted seed draw is deterministic anyway)
    rows = [(i, "common word here", "en", "s") for i in range(60)]
    rows.append((60, "rare unicorn", "en", "s"))
    sf = _write_docs(spark, tmp_path, rows)
    out = privacy_dp_topk(spark, sf).collect()
    words = {r.word for r in out}
    assert "common" in words and "rare" not in words and "unicorn" not in words
    assert "true_count" not in out[0].asDict()
    assert all(r.noisy_count > _DPT_THRESHOLD for r in out)


def test_attribution_position_credit_split(spark, tmp_path):
    """A 3-touch journey splits 400/200/400; a 1-touch journey gets
    1000; a touchless purchase is organic; per-mille credits conserve
    the purchase cents up to the documented div-1000 truncation."""
    import datetime as dt

    from curatorhadoopinterface_spark.operators.windows import (
        attribution_position,
    )

    t0 = dt.datetime(2026, 1, 1)

    def ev(eid, uid, typ, minute, value=0.0):
        return (eid, t0 + dt.timedelta(minutes=minute), uid, typ, value, "{}")

    rows = [
        # user 1: click, view, signup -> purchase 10.00
        ev(1, 1, "click", 0),
        ev(2, 1, "view", 1),
        ev(3, 1, "signup", 2),
        ev(4, 1, "purchase", 3, 10.0),
        # user 2: single view -> purchase 5.00
        ev(5, 2, "view", 0),
        ev(6, 2, "purchase", 1, 5.0),
        # user 3: touchless purchase 7.00
        ev(7, 3, "purchase", 0, 7.0),
        # user 1 second journey: trailing click, never converts
        ev(8, 1, "click", 10),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    out = {r.touch_type: r for r in attribution_position(spark, sf).collect()}
    # user1: click first (400 of 1000 cents = 400c), signup last (400c),
    # view middle (200c); user2: view sole touch -> 500c full
    assert out["click"].credited_cents == 400
    assert out["signup"].credited_cents == 400
    assert out["view"].credited_cents == 200 + 500
    assert out["organic"].credited_cents == 700
    assert out["view"].n_credits == 2
    # trailing unconverted click earned nothing extra
    assert out["click"].n_credits == 1


def test_quantile_norm_maps_onto_global_distribution(spark, tmp_path):
    """A source whose lengths are uniformly shorter than the corpus
    maps its values UP onto global equivalents; the global-median
    source maps ~identically; mapped values are monotone in v and the
    top of every source maps to the global max."""
    from curatorhadoopinterface_spark.operators.quality import (  # noqa: F401
        qa_kendall_tau,
    )
    from curatorhadoopinterface_spark.operators.stats import (
        score_quantile_norm,
    )

    rows = []
    i = 0
    # source 'short': lengths 10,20,30,40; source 'long': 110..140
    for src, base in (("short", 10), ("long", 110)):
        for k in range(4):
            text = "x" * (base + 10 * k)
            rows.append((i, text, "en", src))
            i += 1
    sf = _write_docs(spark, tmp_path, rows)
    out = {(r.source, r.v): r for r in score_quantile_norm(spark, sf).collect()}
    # within-source CDF ppm grid is the same for both sources
    # (4 values, equal counts) so source k-th value maps to the k-th
    # value of the pooled distribution reaching that CDF
    # global cdf (8 pooled values, 1/8 each): 10->125k, 20->250k, ...
    assert out[("short", 10)].v_norm == 20   # scdf 250k -> first gcdf >= 250k
    assert out[("short", 40)].v_norm == 140  # scdf 1e6 -> global max
    assert out[("long", 110)].v_norm == 20   # scdf 250k, same grid as short
    assert out[("long", 140)].v_norm == 140  # global max maps to itself
    # monotone mapping per source
    for src in ("short", "long"):
        vs = sorted(v for s, v in out if s == src)
        norms = [out[(src, v)].v_norm for v in vs]
        assert norms == sorted(norms)


def test_substring_windows_cross_source_single_copies(spark, tmp_path):
    """One copy of the same text under TWO sources is a cross-doc
    duplicate: the window-frequency dedup key must keep `source`
    (dropping it collapsed equal-n_mem class rows and undercounted
    doc counts to 1 -> zero dup windows; r8 fix)."""
    from curatorhadoopinterface_spark.operators.dedup import (
        dedup_substring_windows,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota"
    rows = [
        (0, shared, "en", "srcA"),
        (1, shared, "en", "srcB"),
        (2, "unique words that repeat nowhere else at all okay", "en", "srcA"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.source: r for r in dedup_substring_windows(spark, sf).collect()}
    # every window of the shared text is in 2 docs (one per source)
    assert out["srcA"].n_dup_windows == 2  # 9-word text -> 2 windows
    assert out["srcB"].n_dup_windows == 2
    assert out["srcB"].n_docs_flagged == 1


def test_span_removal_cut_accounting(spark, tmp_path):
    """Shared 8-word phrase in different contexts: exactly the phrase
    words are cut in both docs; overlapping dup windows (9-word share)
    merge into one 9-word span; unique docs cut nothing; chars_cut
    charges len+1 per cut word."""
    from curatorhadoopinterface_spark.operators.dedup import (
        dedup_span_removal,
    )

    share8 = "alpha beta gamma delta epsilon zeta eta theta"
    share9 = "one two three four five six seven eight nine"
    rows = [
        (0, "pre1 pre2 pre3 " + share8 + " post1 post2", "en", "s"),
        (1, share8 + " tailx taily tailz", "en", "s"),
        (2, share9 + " enda", "en", "s"),
        (3, "lead " + share9, "en", "s"),
        (4, "totally unique filler words go here okay fine done", "en", "s"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    r = dedup_span_removal(spark, sf).collect()[0]
    assert r.n_docs == 5 and r.n_docs_affected == 4
    # doc0+doc1 cut the 8 shared words each; doc2+doc3 cut the merged
    # 9-word span each (two overlapping windows -> one span)
    assert r.words_cut == 8 + 8 + 9 + 9
    cut8 = sum(len(w) + 1 for w in share8.split())
    cut9 = sum(len(w) + 1 for w in share9.split())
    assert r.chars_cut == 2 * cut8 + 2 * cut9
    assert r.words_total == 13 + 11 + 10 + 10 + 9
    assert r.cut_ppm == (8 + 8 + 9 + 9) * 1_000_000 // r.words_total


def test_scan_xml_roundtrip_escaping(spark, tmp_path):
    """XML round-trip survives markup-hostile text (&, <, >, quotes,
    embedded newline) byte-for-byte in the census sums."""
    from curatorhadoopinterface_spark.operators.sources import scan_xml

    hostile = "a & b < c > d \"quoted\" 'apos'\nsecond line"
    rows = [(0, hostile, "en", "s1"), (1, "plain text", "en", "s2")]
    sf = _write_docs(spark, tmp_path, rows)
    out = {r.source: r for r in scan_xml(spark, sf).collect()}
    assert out["s1"].n_docs == 1
    assert out["s1"].sum_text_len == len(hostile)
    assert out["s2"].sum_text_len == len("plain text")


def test_clusters_class_form_equals_pair_form(spark, tmp_path, assert_oracle):
    """dedup_clusters (derived from dedup_clusters_classes) equals its
    pair-form DuckDB oracle on a 3x-duplicated corpus — components,
    sizes, canonical flags and the dup factor all survive the class
    collapse + expansion."""
    sf = _tripled_corpus(spark, tmp_path)
    rows = assert_oracle("dedup_clusters", sf)
    # the 3x duplication puts every doc of a shingled class in a cluster
    # of size >= 3
    assert all(r.cluster_size >= 3 for r in rows)


def test_ts_anomaly_residual_flags_planted_spike(spark, tmp_path):
    """A flat weekly pattern with one planted spike day: only the
    spike is flagged; a day matching its dow mean never is."""
    import datetime as dt

    from curatorhadoopinterface_spark.operators.analytics import (
        ts_anomaly_residual,
    )

    rows = []
    oid = 0
    t0 = dt.datetime(2026, 1, 5)  # Monday
    for d in range(28):  # 4 flat weeks, value = 100 + dow
        day = t0 + dt.timedelta(days=d)
        val = 100.0 + (d % 7) + (0.01 * (d // 7))  # tiny jitter
        rows.append((oid, 1, "O", val, day, "1-URGENT"))
        oid += 1
    # planted spike on day 29
    rows.append((oid, 1, "O", 5000.0, t0 + dt.timedelta(days=28), "1-URGENT"))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    out = ts_anomaly_residual(spark, sf).collect()
    # the spike is flagged with the largest deviation; the mean it
    # contaminates drags its dow-siblings over the gate too (dow means
    # are plain means by design — the MAD gate is the robust part), but
    # no other weekday is touched
    assert out, "spike not flagged"
    spike = max(out, key=lambda r: r.dev_cents)
    assert spike.day == dt.date(2026, 2, 2)
    assert spike.residual_cents > 300_000
    assert {r.dow for r in out} == {spike.dow}


def test_mp4_probe_box_walk_and_guards():
    """make_mp4/probe_mp4 roundtrip across brands/timescales/track
    counts; version-1 mvhd (64-bit times) parses too; non-BMFF and
    truncated boxes are rejected loudly."""
    import struct

    import pytest

    from curatorhadoopinterface_spark.operators.multimodal import (
        make_mp4,
        probe_mp4,
    )

    for doc_id in range(2, 38, 3):
        meta = probe_mp4(make_mp4(doc_id))
        assert meta["timescale"] == 1000 * (1 + doc_id % 4)
        assert meta["n_tracks"] == 1 + doc_id % 3
        assert meta["duration_ticks"] == meta["timescale"] * (5 + doc_id % 90)
        assert meta["major_brand"] == ["isom", "mp42", "avc1"][doc_id % 3]
    # version-1 mvhd: 64-bit duration at a different offset
    def box(typ, payload):
        return struct.pack(">I", 8 + len(payload)) + typ + payload

    mvhd1 = box(
        b"mvhd",
        struct.pack(">B3xQQIQ", 1, 0, 0, 90000, 90000 * 7) + b"\x00" * 80,
    )
    f = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    v1 = f + box(b"moov", mvhd1 + box(b"trak", b""))
    meta = probe_mp4(v1)
    assert meta["timescale"] == 90000 and meta["duration_ticks"] == 630000
    assert meta["n_tracks"] == 1
    with pytest.raises(ValueError):
        probe_mp4(b"RIFF....WAVE")
    with pytest.raises(ValueError):
        probe_mp4(make_mp4(2)[:-5])  # truncated final box


def test_keep_best_class_form_equals_pair_form(spark, tmp_path, assert_oracle):
    """dedup_keep_best (derived from dedup_keep_best_classes) equals its
    pair-form DuckDB oracle on a 3x-duplicated corpus: keeper, score,
    and member counts all survive the class collapse."""
    sf = _tripled_corpus(spark, tmp_path)
    assert_oracle("dedup_keep_best", sf)
