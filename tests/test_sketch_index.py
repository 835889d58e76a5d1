"""Deterministic sketches (functions/sketch.py) and the inverted-index /
TF-IDF export surface (functions/index.py).

The cross-engine hash gate lives in test_entry_contract's full-registry
sweep; these tests pin the *algorithmic* properties: HLL rank arithmetic
vs a pure-Python reference, sketch mergeability, estimator accuracy,
Bloom bounds, posting-list capping, and hand-computed TF-IDF."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from ocr_automation_system_spark.functions.index import (
    tfidf_top_terms, token_postings,
)
from ocr_automation_system_spark.functions.sketch import (
    BLOOM_K, BLOOM_M, HLL_M, bloom_census, hll_cardinality,
    hll_register_table,
)


def _py_rank(h: str) -> int:
    """Reference rank: leading zero bits of md5 hex chars [2, 17) + 1."""
    tail = h[2:17]
    v = int(tail, 16)
    if v == 0:
        return 61
    return 60 - v.bit_length() + 1


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_hll_rank_matches_python_reference(spark):
    rows = [(i, f"payload {i}", "s") for i in range(300)]
    got = {
        (r["j"], r["r"])
        for r in hll_register_table(_docs(spark, rows)).collect()
    }
    regs: dict = {}
    for _, text, _src in rows:
        h = hashlib.md5(text.encode()).hexdigest()
        j = int(h[:2], 16)
        regs[j] = max(regs.get(j, 0), _py_rank(h))
    assert {(j, r) for j, r in regs.items()} == got


def test_hll_register_table_merges_by_max(spark):
    """The sketch is mergeable: registers of (A union B) == element-wise
    max of A's and B's registers — the property that lets a 1000-executor
    job fold daily crawls into a running census."""
    a = [(i, f"day1 {i}", "s") for i in range(200)]
    b = [(1000 + i, f"day2 {i}", "s") for i in range(200)]
    ra = hll_register_table(_docs(spark, a)).collect()
    rb = hll_register_table(_docs(spark, b)).collect()
    ru = hll_register_table(_docs(spark, a + b)).collect()
    merged: dict = {}
    for r in list(ra) + list(rb):
        merged[r["j"]] = max(merged.get(r["j"], 0), r["r"])
    assert {(r["j"], r["r"]) for r in ru} == set(merged.items())


def test_hll_estimate_accuracy_and_exact(spark):
    rows = [(i, f"unique text {i}", "s") for i in range(500)]
    # duplicates must not move the estimate (same md5 -> same register)
    rows += [(9000 + i, f"unique text {i}", "s") for i in range(100)]
    out = hll_cardinality(_docs(spark, rows)).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_items"] == 600 and row["exact_distinct"] == 500
    # p=8 -> typical error 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert abs(row["est_raw"] - 500) / 500 < 0.20
    assert 0 < row["n_registers"] <= HLL_M


def test_bloom_census_bounds(spark):
    rows = [(i, f"doc {i}", "s") for i in range(400)]
    row = bloom_census(_docs(spark, rows)).collect()[0]
    assert row["n_items"] == 400
    assert 0 < row["bits_set"] <= min(BLOOM_K * 400, BLOOM_M)
    assert row["fill_frac"] == row["bits_set"] / BLOOM_M
    assert 0.0 < row["fp_rate_est"] < 1.0
    assert abs(row["fp_rate_est"] - row["fill_frac"] ** BLOOM_K) < 1e-12


def test_bloom_duplicate_items_set_no_new_bits(spark):
    base = [(i, f"doc {i}", "s") for i in range(100)]
    dup = base + [(500 + i, f"doc {i}", "s") for i in range(100)]
    b1 = bloom_census(_docs(spark, base)).collect()[0]
    b2 = bloom_census(_docs(spark, dup)).collect()[0]
    assert b2["bits_set"] == b1["bits_set"]
    assert b2["n_items"] == 200


def test_token_postings_counts_and_cap(spark):
    rows = ([(i, "common alpha", "s") for i in range(40)]
            + [(100, "alpha beta beta", "s")])
    out = {r["token"]: r for r in
           token_postings(_docs(spark, rows), cap=8).collect()}
    assert out["beta"]["df_docs"] == 1 and out["beta"]["postings"] == "100"
    # df counts ALL docs; the posting head is capped at 8 ascending ids
    assert out["common"]["df_docs"] == 40
    assert out["common"]["postings"] == ",".join(str(i) for i in range(8))
    assert out["alpha"]["df_docs"] == 41
    assert out["alpha"]["postings"] == ",".join(str(i) for i in range(8))


def test_tfidf_hand_computed(spark):
    rows = [
        (1, "apple apple banana", "s"),
        (2, "banana cherry", "s"),
        (3, "cherry cherry cherry", "s"),
    ]
    out = {(r["doc_id"], r["token"]): r for r in
           tfidf_top_terms(_docs(spark, rows), k=5).collect()}
    # doc 1: apple tf=2 df=1 -> 2*3/1=6; banana tf=1 df=2 -> 1.5
    assert out[(1, "apple")]["score"] == 6.0
    assert out[(1, "apple")]["rk"] == 1
    assert out[(1, "banana")]["score"] == 1.5
    assert out[(3, "cherry")]["score"] == 3 * 3 / 2
    assert out[(2, "cherry")]["rk"] in (1, 2) and out[(2, "banana")]["rk"] in (1, 2)
    # banana and cherry in doc 2 tie at 1*3/2 -> token asc breaks the tie
    assert out[(2, "banana")]["rk"] < out[(2, "cherry")]["rk"]


def test_tfidf_k_limits_rows(spark):
    text = " ".join(f"w{i}" for i in range(20))
    rows = [(1, text, "s"), (2, text + " extra", "s")]
    out = tfidf_top_terms(_docs(spark, rows), k=3)
    counts = out.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in counts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the df table joins back broadcast — no token-keyed shuffle of tf
    assert "BroadcastHashJoin" in plan


def test_cms_one_sided_error_and_mergeability(spark):
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.sketch import (
        cms_estimates, cms_table,
    )

    rows = [(i, f"host{i % 17}") for i in range(3000)]
    df = spark.createDataFrame(rows, "i long, h string")
    est = cms_estimates(df, "h").collect()
    assert len(est) == 17
    for r in est:
        assert r["cms_n"] >= r["exact_n"]  # one-sided by construction
    # 17 items across 4x256 counters: no full-depth collision plausible
    assert all(r["cms_n"] == r["exact_n"] for r in est)

    # sketches merge by SUM: sketch(a ∪ b) == sketch(a) + sketch(b)
    a, b = df.filter("i % 2 = 0"), df.filter("i % 2 = 1")
    merged = (cms_table(a, "h").unionByName(cms_table(b, "h"))
              .groupBy("row", "bucket").agg(F.sum("n").alias("n")))
    whole = cms_table(df, "h")
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, whole.collect()))


def test_skipgram_pairs_window_semantics(spark):
    """Brute-force check of the window: every unordered pair within 3
    positions counted once per occurrence, nothing beyond the window."""
    from collections import Counter

    from ocr_automation_system_spark.functions.index import skipgram_pairs

    text = "a b c d e"
    toks = text.split()
    want = Counter()
    for i in range(len(toks)):
        for j in range(i + 1, min(i + 4, len(toks))):
            x, y = sorted((toks[i], toks[j]))
            want[f"{x} {y}"] += 1
    df = spark.createDataFrame([(1, text), (2, "z")],
                               "doc_id long, text string")
    got = {r["pair"]: r["n"]
           for r in skipgram_pairs(df, window=3, k=100).collect()}
    assert got == dict(want)  # the 1-token doc contributes nothing


def test_proximity_equal_terms_counts_unordered_pairs_once(spark):
    """term_a == term_b must not pair a position with itself (a doc with
    ONE occurrence is not a proximity hit), and each unordered position
    pair counts exactly once; distinct terms match in either order
    within max_dist — parity-pinned against the DuckDB twin."""
    import duckdb

    from ocr_automation_system_spark.functions.index import proximity_hits
    from ocr_automation_system_spark.queries import _sql_proximity_hits

    rows = [(1, "x y x z x", "s"),     # x at 1,3,5 -> pairs (1,3)(3,5)(1,5)
            (2, "x alone here", "s"),  # single occurrence: NOT a hit
            (3, "no term at all", "s"),
            (4, "x x", "s"),           # adjacent pair, dist 1
            (5, "alpha w w w beta tail", "s"),   # dist 4 -> hit
            (6, "alpha w w w w w beta", "s"),    # dist 6 -> no hit
            (7, "beta leads then alpha", "s")]   # either order, dist 3
    df = _docs(spark, rows)
    got = sorted(map(tuple,
                     proximity_hits(df, "x", "x", max_dist=5).collect()))
    assert got == [(1, 3, 2), (4, 1, 1)]
    got_ab = sorted(map(tuple, proximity_hits(
        df, "alpha", "beta", max_dist=5).collect()))
    assert got_ab == [(5, 1, 4), (7, 1, 3)]

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    for (a, b), mine in ((("x", "x"), got), (("alpha", "beta"), got_ab)):
        want = sorted(map(tuple, con.execute(
            _sql_proximity_hits(a, b, max_dist=5)).fetchall()))
        assert mine == want, (a, b)


def test_anchor_bm25_incoming_field(spark):
    """The destination url is the scored document and its incoming
    anchors are its text: a target with more matching anchors from
    SHORTER anchor fields outranks one buried in long anchors; pages
    with no matching incoming anchor never appear; the src side never
    scores."""
    from ocr_automation_system_spark.functions.index import (
        anchor_bm25_search,
    )

    e = (lambda s, d, a: (f"https://x.com/{s}", f"https://x.com/{d}", a))
    edges = spark.createDataFrame(
        [e("p1", "contact", "contact"),
         e("p2", "contact", "contact us"),
         e("p3", "contact", "contact page"),
         e("p4", "buried", "a very long anchor mentioning contact once"),
         e("p5", "other", "products")],
        "src_url string, dst_url string, anchor_text string")
    out = anchor_bm25_search(edges, ["contact"], k=10).collect()
    scores = {r["doc_id"]: r["score"] for r in out}
    assert set(scores) == {"https://x.com/contact", "https://x.com/buried"}
    assert scores["https://x.com/contact"] > scores["https://x.com/buried"]
    assert all(r["n_terms_hit"] == 1 for r in out)


def test_boolean_search_and_not_semantics(spark):
    """AND/NOT semantics on planted docs (all must terms required, any
    must_not term disqualifies, occurrence totals count every must
    occurrence); the plan is window-free and Python-free."""
    from ocr_automation_system_spark.functions.index import boolean_search

    rows = [(1, "alpha beta alpha tail", "s"),   # both, no ban -> occ 3
            (2, "alpha beta gamma", "s"),        # banned by gamma
            (3, "alpha only here", "s"),         # missing beta
            (4, "beta alpha beta beta", "s"),    # occ 4
            (5, "nothing relevant", "s")]
    df = _docs(spark, rows)
    got = sorted(map(tuple, boolean_search(
        df, ["alpha", "beta"], ["gamma"]).collect()))
    assert got == [(1, 3), (4, 4)]
    plan = (boolean_search(df, ["alpha", "beta"], ["gamma"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan and "Python" not in plan
    assert "Exchange" not in plan  # row-local membership tests
    # no must_not leg: pure AND
    assert sorted(map(tuple, boolean_search(
        df, ["alpha", "beta"]).collect())) == [(1, 3), (2, 2), (4, 4)]


def test_query_terms_normalized_through_document_tokenizer(spark):
    """Punctuated / cased query terms fold to the tokens they would
    produce in a document (lm.TOKEN_RE) instead of matching nothing."""
    import pytest

    from ocr_automation_system_spark.functions.index import (
        bm25_search, phrase_hits, proximity_hits, query_tokens,
    )

    assert query_tokens("Don't E-Mail") == ["don", "t", "e", "mail"]
    rows = [(1, "please don t e mail me", "s"),
            (2, "unrelated text entirely", "s")]
    df = _docs(spark, rows)
    hits = phrase_hits(df, '"E-Mail"').collect()
    assert [(r["doc_id"], r["n_hits"]) for r in hits] == [(1, 1)]
    scored = bm25_search(df, ["E-Mail!"], k=5).collect()
    assert [r["doc_id"] for r in scored] == [1]
    assert scored[0]["n_terms_hit"] == 2  # e AND mail both matched
    # "Don't" folds to two tokens -> must be rejected, not mis-matched
    with pytest.raises(ValueError, match="one token"):
        proximity_hits(df, "Don't", "don t", max_dist=5)


def test_phrase_kwic_matches_phrase_hits_docset(spark):
    """The snippet regex must encode EXACTLY the token-adjacency
    semantics of phrase_hits — same matching documents, including
    punctuation-separated and newline-separated adjacency, and no
    substring false positives (e.g. 'alphabeta')."""
    from ocr_automation_system_spark.functions.index import (
        phrase_hits, phrase_kwic,
    )

    rows = [(1, "say alpha beta now", "s"),
            (2, "alpha, beta punctuation separated", "s"),
            (3, "alpha\nbeta across a newline", "s"),
            (4, "alphabeta merged is one token", "s"),
            (5, "alpha gamma beta not adjacent", "s"),
            (6, "beta alpha wrong order", "s"),
            (7, "ALPHA BETA upper case", "s"),
            (8, "alpha beta gamma w alpha beta", "s")]
    df = _docs(spark, rows)
    hits = {r["doc_id"]: (r["n_hits"], r["first_pos"])
            for r in phrase_hits(df, "alpha beta").collect()}
    hit_docs = set(hits)
    kwic = {r["doc_id"]: r["snippet"]
            for r in phrase_kwic(df, "alpha beta", width=10).collect()}
    assert set(kwic) == hit_docs == {1, 2, 3, 7, 8}
    assert hits[8] == (2, 1) and hits[1] == (1, 2)
    assert "alpha beta" in kwic[1]


def test_bm25_weighted_boost_changes_ranking(spark):
    """A term boost must reorder results; all-1.0 weights must be
    bit-identical to the unweighted call."""
    from ocr_automation_system_spark.functions.index import bm25_search

    rows = [(1, "cat cat cat filler words here", "s"),
            (2, "dog dog dog filler words here", "s"),
            (3, "cat dog mixed filler words here", "s"),
            (4, "entirely unrelated text body", "s")]
    df = _docs(spark, rows)
    plain = [r["doc_id"] for r in
             bm25_search(df, ["cat", "dog"], k=4).collect()]
    boosted = [r["doc_id"] for r in
               bm25_search(df, ["cat", "dog"], k=4,
                           weights={"dog": 10.0}).collect()]
    assert boosted[0] == 2 and boosted != plain
    ones = bm25_search(df, ["cat", "dog"], k=4,
                       weights={"cat": 1.0, "dog": 1.0}).collect()
    assert sorted(map(tuple, ones)) == sorted(
        map(tuple, bm25_search(df, ["cat", "dog"], k=4).collect()))


def test_merge_token_postings_equals_full_index(spark):
    """merge(postings(A), postings(B)) == postings(A ∪ B) EXACTLY,
    including truncated heads: the cap-smallest ids of the union are a
    subset of the union of each half's cap-smallest. Exercised with a
    cap small enough that heads actually truncate."""
    from ocr_automation_system_spark.functions.index import (
        merge_token_postings, token_postings,
    )

    rows = [(i, "shared tok" + str(i % 7) + " filler" + str(i % 3))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = token_postings(df.filter("doc_id % 2 = 0"), cap=5)
    b = token_postings(df.filter("doc_id % 2 = 1"), cap=5)
    merged = sorted(map(tuple, merge_token_postings(a, b, cap=5).collect()))
    full = sorted(map(tuple, token_postings(df, cap=5).collect()))
    assert merged == full and merged
    # 'shared' appears in all 40 docs -> head truncates at 5
    shared = [r for r in merged if r[0] == "shared"][0]
    assert shared[1] == 40 and shared[2] == "0,1,2,3,4"


def test_merge_token_postings_disjoint_vocab(spark):
    """Tokens present in only one half pass through unchanged (the
    full-outer side with an empty opposite head)."""
    from ocr_automation_system_spark.functions.index import (
        merge_token_postings, token_postings,
    )

    a = token_postings(spark.createDataFrame(
        [(1, "onlyina")], "doc_id long, text string"))
    b = token_postings(spark.createDataFrame(
        [(2, "onlyinb")], "doc_id long, text string"))
    got = {r["token"]: (r["df_docs"], r["postings"])
           for r in merge_token_postings(a, b).collect()}
    assert got == {"onlyina": (1, "1"), "onlyinb": (1, "2")}


def test_merge_hll_registers_identity(spark):
    """merge(regs(A), regs(B)) == regs(A ∪ B) exactly — max of maxes
    per register, counts add — over disjoint halves."""
    from ocr_automation_system_spark.functions.sketch import (
        hll_register_table, merge_hll_registers,
    )

    rows = [(i, f"text body number {i}", ["s1", "s2"][i % 2])
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    a = hll_register_table(df.filter("doc_id % 2 = 0"))
    b = hll_register_table(df.filter("doc_id % 2 = 1"))
    merged = sorted(map(tuple, merge_hll_registers(a, b).collect()))
    full = sorted(map(tuple, hll_register_table(df).collect()))
    assert merged == full and merged


def test_merge_cms_tables_identity(spark):
    """merge(cms(A), cms(B)) == cms(A ∪ B) exactly — counters sum."""
    from ocr_automation_system_spark.functions.sketch import (
        cms_table, merge_cms_tables,
    )

    rows = [(i, ["x", "y", "z"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = cms_table(df.filter("doc_id % 2 = 0"), "source")
    b = cms_table(df.filter("doc_id % 2 = 1"), "source")
    merged = sorted(map(tuple, merge_cms_tables(a, b).collect()))
    full = sorted(map(tuple, cms_table(df, "source").collect()))
    assert merged == full and merged


def test_takedown_postings_matches_full_recompute(spark):
    """X76 contract at unit scale with a tiny cap (3) so every repair
    path fires: exact df subtraction, untruncated-head array repair,
    truncated-head-lost-a-member refill, and whole-token drop."""
    from ocr_automation_system_spark.functions.index import (
        takedown_postings,
        token_postings,
    )

    rows = ([(i, "common alpha", "s") for i in range(10)]
            + [(50, "only_gone beta", "s"), (51, "beta gamma", "s")])
    docs = _docs(spark, rows)
    take = _docs(spark, [(0, "", "s"), (2, "", "s"), (50, "", "s")])
    idx = token_postings(docs, cap=3)

    # the fixture MUST exercise the refill path: 'common' df=10 > cap=3
    # and loses head members 0 and 2
    assert {r["token"] for r in idx.collect()} >= {"common", "beta"}
    got = sorted(map(tuple, takedown_postings(
        idx, docs, take.select("doc_id"), cap=3).collect()))
    want = sorted(map(tuple, token_postings(
        docs.filter(~F.col("doc_id").isin([0, 2, 50])), cap=3).collect()))
    assert got == want
    by_tok = dict((t, (d, p)) for t, d, p in got)
    assert by_tok["common"] == (8, "1,3,4")   # refilled past the cap
    assert "only_gone" not in by_tok          # df reached 0 -> dropped
    assert by_tok["beta"] == (1, "51")        # untruncated array repair


def test_takedown_postings_empty_takedown_is_identity(spark):
    from ocr_automation_system_spark.functions.index import (
        takedown_postings,
        token_postings,
    )

    docs = _docs(spark, [(i, f"tok{i % 3} shared", "s") for i in range(9)])
    idx = token_postings(docs, cap=4)
    out = takedown_postings(idx, docs, docs.filter("doc_id < 0")
                            .select("doc_id"), cap=4)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, idx.collect()))


def test_hist_bucket_geometry_hand_computed(spark):
    """X79 bucket math at the edges: 0 gets its own bucket, powers of
    two start their octave, sub-bucket lower bounds are exact integer
    slices."""
    from ocr_automation_system_spark.functions.sketch import hist_buckets

    df = spark.createDataFrame(
        [(v,) for v in (0, 1, 2, 3, 7, 8, 100, 1023, 1024)], "v long")
    got = {r["v"]: (r["octave"], r["sub"], r["bucket_lo"])
           for r in hist_buckets(df, F.col("v")).collect()}
    assert got[0] == (0, 0, 0)
    assert got[1] == (1, 0, 1)
    assert got[2] == (2, 0, 2)
    assert got[3] == (2, 4, 3)       # (3-2)*8//2 = 4; lo = 2 + 4*2//8 = 3
    assert got[7] == (3, 6, 7)       # (7-4)*8//4 = 6; lo = 4 + 6*4//8 = 7
    assert got[8] == (4, 0, 8)
    assert got[100] == (7, 4, 96)    # (100-64)*8//64 = 4; lo = 64+4*64//8
    assert got[1023] == (10, 7, 960)
    assert got[1024] == (11, 0, 1024)


def test_histogram_quantiles_error_bound(spark):
    """X79 readout accuracy: on a deterministic long-tailed fixture the
    sketch answer is within one sub-bucket (<= 1/8 relative) of the
    exact percentile, and merge(h(A), h(B)) == h(all) exactly."""
    from ocr_automation_system_spark.functions.sketch import (
        doclen_histogram,
        histogram_quantiles,
        merge_histograms,
    )

    lens = [((i * 37) % 2000) + 1 for i in range(500)]
    rows = [(i, "x" * ln, "s") for i, ln in enumerate(lens)]
    docs = _docs(spark, rows)
    hist = doclen_histogram(docs)
    got = {r["q_pct"]: r["value"]
           for r in histogram_quantiles(hist).collect()}
    import math

    for pct in (50, 90, 99):
        exact = sorted(lens)[math.ceil(pct / 100 * len(lens)) - 1]
        assert got[pct] <= exact, (pct, got[pct], exact)
        assert exact <= got[pct] * (1 + 1 / 8) + 1, (pct, got[pct], exact)

    a = doclen_histogram(docs.filter("doc_id % 2 = 0"))
    b = doclen_histogram(docs.filter("doc_id % 2 = 1"))
    merged = sorted(map(tuple, merge_histograms(a, b).collect()))
    assert merged == sorted(map(tuple, hist.collect()))


def test_histogram_drift_chi2_hand_computed(spark):
    """X81: identical distributions -> chi2 == 0; a fully disjoint
    bucket split -> chi2 == 2 (the maximum); a hand-computed mixed
    case. The fixture drives the artifact pair directly."""
    from ocr_automation_system_spark.functions.sketch import (
        doclen_histogram,
        histogram_drift_chi2,
    )

    same = _docs(spark, [(i, "x" * (10 + (i % 3)), "s") for i in range(30)])
    ha = doclen_histogram(same, group_col="source")
    got = histogram_drift_chi2(ha, ha).collect()[0]
    assert got["chi2"] == 0.0 and got["total_a"] == got["total_b"] == 30

    a = _docs(spark, [(1, "x" * 10, "s")])          # one bucket
    b = _docs(spark, [(2, "x" * 5000, "s")])        # a disjoint bucket
    got = histogram_drift_chi2(
        doclen_histogram(a, group_col="source"),
        doclen_histogram(b, group_col="source")).collect()[0]
    assert got["chi2"] == 2.0 and got["n_buckets"] == 2

    # mixed: A = {10: 3, 5000: 1}, B = {10: 1, 5000: 1}
    a = _docs(spark, [(i, "x" * 10, "s") for i in range(3)]
              + [(9, "x" * 5000, "s")])
    b = _docs(spark, [(10, "x" * 10, "s"), (11, "x" * 5000, "s")])
    got = histogram_drift_chi2(
        doclen_histogram(a, group_col="source"),
        doclen_histogram(b, group_col="source")).collect()[0]
    pa1, pb1, pa2, pb2 = 0.75, 0.5, 0.25, 0.5
    want = ((pa1 - pb1) ** 2) / (pa1 + pb1) + ((pa2 - pb2) ** 2) / (pa2 + pb2)
    assert abs(got["chi2"] - want) < 1e-15


def test_source_checksums_merge_and_sensitivity(spark):
    """X82: shard checksums merge to the full-corpus triple (counts and
    sums add, xor xors), and flipping ONE row's content changes both
    folds for that source."""
    from decimal import Decimal

    from ocr_automation_system_spark.functions.sketch import (
        source_checksums,
    )

    rows = [(i, f"text {i}", "s" if i % 2 else "t") for i in range(40)]
    docs = _docs(spark, rows)
    full = {r["source"]: r for r in source_checksums(docs).collect()}
    a = {r["source"]: r for r in source_checksums(
        docs.filter("doc_id < 20")).collect()}
    b = {r["source"]: r for r in source_checksums(
        docs.filter("doc_id >= 20")).collect()}
    for src in full:
        assert a[src]["n_docs"] + b[src]["n_docs"] == full[src]["n_docs"]
        assert (Decimal(a[src]["sum_h"]) + Decimal(b[src]["sum_h"])
                == Decimal(full[src]["sum_h"]))
        assert a[src]["xor_h"] ^ b[src]["xor_h"] == full[src]["xor_h"]

    tweaked = _docs(spark, [(i, "CHANGED" if i == 7 else f"text {i}",
                             "s" if i % 2 else "t") for i in range(40)])
    tw = {r["source"]: r for r in source_checksums(tweaked).collect()}
    assert tw["s"]["sum_h"] != full["s"]["sum_h"]
    assert tw["s"]["xor_h"] != full["s"]["xor_h"]
    assert tw["t"]["sum_h"] == full["t"]["sum_h"]   # untouched source


def test_token_df_delta_statuses(spark):
    """X88: new/gone/up/down/flat classification on a planted pair of
    snapshots (even = old, odd = new doc ids)."""
    from ocr_automation_system_spark.queries import q_token_df_delta

    import os
    import tempfile

    rows = [
        (0, "stable rising", "s"), (2, "stable vanishing", "s"),
        (4, "stable", "s"),
        (1, "stable rising fresh", "s"), (3, "stable rising", "s"),
        (5, "stable", "s"),
    ]
    d = tempfile.mkdtemp()
    _docs(spark, rows).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet"))
    got = {r["token"]: r for r in q_token_df_delta(spark, d).collect()}
    assert got["stable"]["status"] == "flat"
    assert (got["stable"]["df_old"], got["stable"]["df_new"]) == (3, 3)
    assert got["rising"]["status"] == "up" and got["rising"]["delta"] == 1
    assert got["vanishing"]["status"] == "gone"
    assert got["fresh"]["status"] == "new" and got["fresh"]["df_old"] == 0


def test_source_delta_skiplist_statuses(spark, tmp_path):
    """X91: planted snapshot diff — a source losing every doc reads
    'gone', one losing some reads 'changed', one untouched (md5 class
    outside the drop set) reads 'unchanged'."""
    import hashlib
    import os

    from ocr_automation_system_spark.queries import q_source_delta_skiplist

    def md5c(s):
        return hashlib.md5(str(s).encode()).hexdigest()[0]

    in_cls = [f"src{i}" for i in range(40) if md5c(f"src{i}") in "01234567"]
    out_cls = [f"src{i}" for i in range(40)
               if md5c(f"src{i}") not in "01234567"]
    drop_ids = [i for i in range(4000) if md5c(i) == "0"]
    keep_ids = [i for i in range(4000) if md5c(i) != "0"]
    rows = (
        # 'gone': in-class source whose EVERY doc id is in the drop set
        [(drop_ids[k], f"t{k}", "en", in_cls[0], 9) for k in range(3)]
        # 'changed': in-class source with a mix
        + [(drop_ids[3], "x", "en", in_cls[1], 1),
           (keep_ids[0], "y", "en", in_cls[1], 1)]
        # 'unchanged': out-of-class source, even with droppable ids
        + [(drop_ids[4], "z", "en", out_cls[0], 1),
           (keep_ids[1], "w", "en", out_cls[0], 1)])
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["source"]: r for r in
           q_source_delta_skiplist(spark, str(tmp_path)).collect()}
    assert got[in_cls[0]]["status"] == "gone"
    assert got[in_cls[0]]["n_docs_new"] == 0
    assert got[in_cls[1]]["status"] == "changed"
    assert got[out_cls[0]]["status"] == "unchanged"


def test_host_mirror_pairs_finds_the_mirror(spark):
    """X93: two hosts serving identical corpora estimate jaccard 1.0;
    a disjoint-content host never reaches est 1.0 with either."""
    from ocr_automation_system_spark.functions.sketch import (
        host_mirror_pairs,
    )

    pages = [f"unique page {i} with shared vocabulary and body {i * 37}"
             for i in range(12)]
    rows = ([(i, pages[i], "a.com") for i in range(12)]
            + [(100 + i, pages[i], "a-mirror.com") for i in range(12)]
            + [(200 + i, f"totally different material {i} about {i*i}",
                "other.com") for i in range(12)])
    got = {(r["host_a"], r["host_b"]): r for r in host_mirror_pairs(
        _docs(spark, rows)).collect()}
    mirror = got[("a-mirror.com", "a.com")]
    assert mirror["n_eq"] == 8 and mirror["est_jaccard"] == 1.0
    for pair, r in got.items():
        if pair != ("a-mirror.com", "a.com"):
            assert r["est_jaccard"] < 1.0, pair


def test_quality_drift_detects_planted_shift(spark, tmp_path):
    """X96: a source whose odd-snapshot quality collapses shows high
    chi2; a stable source shows 0."""
    import os

    from ocr_automation_system_spark.queries import q_quality_drift_chi2

    good = ("word " * 60).strip() + " the and of to is."
    rows = (
        [(2 * i, good, "en", "shifty", 300) for i in range(10)]       # even: 1.0
        + [(2 * i + 1, "x", "en", "shifty", 1) for i in range(10)]    # odd: 0ish
        + [(100 + 2 * i, good, "en", "steady", 300) for i in range(10)]
        + [(101 + 2 * i, good, "en", "steady", 300) for i in range(10)])
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["source"]: r for r in
           q_quality_drift_chi2(spark, str(tmp_path)).collect()}
    assert got["steady"]["chi2"] == 0.0
    assert got["shifty"]["chi2"] == 2.0   # disjoint quality buckets


def test_vocab_divergence_flags_outlier_source(spark, tmp_path):
    """X102: a source of md5-gibberish tokens diverges far more from
    the corpus distribution than sources of ordinary shared-vocab
    text."""
    import hashlib
    import os

    from ocr_automation_system_spark.queries import (
        q_source_vocab_divergence,
    )

    normal = "the quick brown fox jumps over the lazy dog again"
    gib = lambda i: " ".join(
        hashlib.md5(f"{i}:{k}".encode()).hexdigest() for k in range(12))
    rows = ([(i, normal, "en", f"ok{i % 3}", 1) for i in range(30)]
            + [(100 + i, gib(i), "en", "weird", 1) for i in range(10)])
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["source"]: r["chi2"] for r in
           q_source_vocab_divergence(spark, str(tmp_path)).collect()}
    assert got["weird"] > max(got[f"ok{k}"] for k in range(3)) * 2


def test_kmv_overlap_estimates_known_sets(spark):
    """200- and 300-item sets with a 100-item intersection: union and
    intersection estimates must land within the k=64 KMV error band
    (~1/sqrt(k) ≈ 12.5%); jaccard within 0.1 of 0.25."""
    from ocr_automation_system_spark.functions.sketch import (
        kmv_overlap, kmv_sketch,
    )

    a = spark.createDataFrame([("s", f"item{i}") for i in range(200)],
                              ["source", "text"])
    b = spark.createDataFrame(
        [("s", f"item{i}") for i in range(100, 400)], ["source", "text"])
    r = kmv_overlap(kmv_sketch(a), kmv_sketch(b)).collect()[0]
    assert r["l_size"] == 64
    assert abs(r["union_est"] - 400) / 400 < 0.25
    assert abs(r["jaccard_est"] - 0.25) < 0.1
    assert abs(r["intersection_est"] - 100) / 100 < 0.35


def test_kmv_overlap_exact_below_k(spark):
    """Fewer than k distinct items per side -> the sketch IS the set:
    l_size = true union, union_est exact, jaccard exact."""
    from ocr_automation_system_spark.functions.sketch import (
        kmv_overlap, kmv_sketch,
    )

    a = spark.createDataFrame([("s", f"x{i}") for i in range(10)],
                              ["source", "text"])
    b = spark.createDataFrame([("s", f"x{i}") for i in range(5, 20)],
                              ["source", "text"])
    r = kmv_overlap(kmv_sketch(a), kmv_sketch(b)).collect()[0]
    assert r["n_a"] == 10 and r["n_b"] == 15
    assert r["l_size"] == 20
    assert r["union_est"] == 20.0
    assert r["jaccard_est"] == 5 / 20
    assert r["intersection_est"] == 5.0


def test_kmv_sketch_plan_uses_window_group_limit(spark):
    """The k-smallest rank filter must push map-side (WindowGroupLimit)
    — no task buffers a group's full hash stream."""
    from ocr_automation_system_spark.functions.sketch import kmv_sketch

    df = spark.createDataFrame([("s", "t")], ["source", "text"])
    plan = (kmv_sketch(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan


def test_kmv_merge_equals_full_corpus_sketch(spark):
    """merge(kmv(A), kmv(B)) == kmv(A ∪ B) identically, including when
    both caps truncate and when content is shared across halves."""
    from pyspark.sql import functions as F

    from ocr_automation_system_spark.functions.sketch import (
        kmv_sketch, merge_kmv_sketches,
    )

    rows = ([("s", f"t{i}") for i in range(300)]
            + [("s", f"t{i}") for i in range(150, 450)]  # overlap 150
            + [("r", f"u{i}") for i in range(10)])
    df = spark.createDataFrame(
        [(i, s, t) for i, (s, t) in enumerate(rows)],
        ["doc_id", "source", "text"])
    a = kmv_sketch(df.filter(F.col("doc_id") % 2 == 0), k=32)
    b = kmv_sketch(df.filter(F.col("doc_id") % 2 == 1), k=32)
    merged = sorted((r["grp"], r["h"]) for r in
                    merge_kmv_sketches(a, b, k=32).collect())
    full = sorted((r["grp"], r["h"]) for r in
                  kmv_sketch(df, k=32).collect())
    assert merged == full
    # truncation really happened on the big source
    assert sum(1 for g, _ in full if g == "s") == 32
    # and the small source stayed exact
    assert sum(1 for g, _ in full if g == "r") == 10
