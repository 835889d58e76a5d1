"""stratified_sample (domain-mixture resampling) and duplicate_spans
(ExactSubstr-style exact duplicated-span detection)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType,
)

from ocr_automation_system_spark.functions.curation import (
    duplicate_spans, split_bucket, stratified_sample,
)

DOC_SCHEMA = StructType([
    StructField("doc_id", LongType(), False),
    StructField("text", StringType(), True),
    StructField("source", StringType(), True),
])


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_duplicate_spans_exact_lengths(spark):
    span = _words("shared", 30)          # 30-token verbatim span
    short = _words("tiny", 10)           # second 10-token shared span
    rows = [
        (1, _words("a", 5) + " " + span + " " + _words("b", 5), "s"),
        (2, _words("c", 9) + " " + span + " " + short, "s"),
        (3, _words("d", 7) + " " + short + " " + _words("e", 6), "s"),
        (4, _words("zzz", 40), "s"),     # no overlap with anyone
        (5, None, "s"),
    ]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {(r["doc_a"], r["doc_b"]): r
           for r in duplicate_spans(df, w=8).collect()}
    # 30-token span + 10-token span between docs 1-2? doc1 lacks `short`,
    # so 1-2 share exactly the 30-token span: 23 aligned 8-shingles.
    assert got[(1, 2)]["max_span_tokens"] == 30
    assert got[(1, 2)]["n_aligned"] == 30 - 8 + 1
    # docs 2-3 share the 10-token span: run of 3 shingles -> span 10
    assert got[(2, 3)]["max_span_tokens"] == 10
    assert got[(2, 3)]["n_aligned"] == 3
    assert (1, 3) not in got and not any(4 in k or 5 in k for k in got)


def test_duplicate_spans_occupancy_cap_censors_boilerplate(spark):
    boiler = _words("nav", 8)  # one 8-gram shared by 70 docs (> cap 64)
    rows = [(i, boiler + " " + _words(f"u{i}_", 4), "s") for i in range(70)]
    uniq = _words("quite", 20)
    rows += [(100, uniq, "s"), (101, uniq + " tail extra", "s")]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = {(r["doc_a"], r["doc_b"]): r["max_span_tokens"]
           for r in duplicate_spans(df, w=8,
                                    max_docs_per_shingle=64).collect()}
    assert got == {(100, 101): 20}
    # without the cap the boilerplate pairs explode quadratically
    uncapped = duplicate_spans(df, w=8, max_docs_per_shingle=10**6)
    assert uncapped.count() == 70 * 69 // 2 + 1


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, "text", ["a", "b", "c"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = stratified_sample(df, {"a": 0, "b": 1000}).collect()
    srcs = {r["source"] for r in got}
    assert "a" not in srcs                      # rate 0 -> all dropped
    assert sum(r["source"] == "b" for r in got) == 100   # rate 1000 -> all
    # stratum 'c' takes the default (1000) -> all kept
    assert sum(r["source"] == "c" for r in got) == 100

    half = stratified_sample(df, {"a": 500, "b": 500, "c": 500})
    bucket = {r["doc_id"]: r["b"] for r in
              df.select("doc_id",
                        split_bucket(F.col("doc_id")).alias("b")).collect()}
    got_ids = {r["doc_id"] for r in half.collect()}
    assert got_ids == {i for i, b in bucket.items() if b < 500}
    rep = {r["doc_id"] for r in
           stratified_sample(df.repartition(7),
                             {"a": 500, "b": 500, "c": 500}).collect()}
    assert rep == got_ids


def test_stratified_sample_is_map_side_only(spark):
    df = spark.createDataFrame([(1, "t", "a")], DOC_SCHEMA)
    plan = (stratified_sample(df, {"a": 500})
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan


def _alpha_df(spark, sizes: dict):
    rows, i = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, "t", src))
            i += 1
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_alpha_rates_smallest_source_keeps_everything(spark):
    from ocr_automation_system_spark.functions.curation import (
        alpha_sample, alpha_sampling_rates,
    )

    df = _alpha_df(spark, {"small": 64, "big": 1024})
    rates = {r["source"]: r for r in alpha_sampling_rates(df).collect()}
    # r_small = (64/64)^0.5 = 1 -> threshold 2^32: every 32-bit md5
    # fraction passes, the smallest source is untouched.
    assert rates["small"]["keep_threshold"] == 2 ** 32
    assert rates["small"]["n_docs"] == 64
    # r_big = sqrt(64/1024) = 0.25 exactly (power of 4) -> 2^30.
    assert rates["big"]["keep_threshold"] == 2 ** 30
    kept = alpha_sample(df).groupBy("source").count().collect()
    kept = {r["source"]: r["count"] for r in kept}
    assert kept["small"] == 64
    # md5 is uniform: expect ~256 of 1024; allow generous slack but pin
    # that the mass moved toward n^alpha (would be 1024 without sampling)
    assert 160 <= kept["big"] <= 360


def test_alpha_sample_deterministic_under_repartition(spark):
    from ocr_automation_system_spark.functions.curation import alpha_sample

    df = _alpha_df(spark, {"a": 30, "b": 300})
    one = {r["doc_id"] for r in alpha_sample(df).collect()}
    two = {r["doc_id"]
           for r in alpha_sample(df.repartition(13)).collect()}
    assert one == two and one  # same survivors under any partitioning


def test_alpha_sample_no_corpus_shuffle(spark):
    from ocr_automation_system_spark.functions.curation import alpha_sample

    df = _alpha_df(spark, {"a": 3, "b": 9})
    plan = (alpha_sample(df)
            ._jdf.queryExecution().executedPlan().toString())
    # the rates dim broadcasts; the corpus side must never hash-exchange
    assert "BroadcastHashJoin" in plan
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side


def test_chunk_documents_coverage_and_overlap(spark):
    from ocr_automation_system_spark.functions.curation import (
        chunk_documents,
    )

    n = 150
    rows = [(1, _words("w", n), "s"),     # 150 toks: 3 chunks at 64/8
            (2, _words("x", 10), "s"),    # short: 1 chunk of 10
            (3, None, "s"), (4, "", "s")]
    df = spark.createDataFrame(rows, DOC_SCHEMA)
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"], r["n_tokens"])
        for r in chunk_documents(df, chunk_tokens=64, overlap=8).collect())
    # stride 56: starts 0,56,112 -> sizes 64,64,38; every token covered,
    # consecutive chunks overlap by 8 (except the short tail)
    assert got == [(1, 0, 0, 64), (1, 1, 56, 64), (1, 2, 112, 38),
                   (2, 0, 0, 10)]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_chunk_documents_md5_enables_chunk_dedup(spark):
    from ocr_automation_system_spark.functions.curation import (
        chunk_documents,
    )

    shared = _words("same", 30)
    df = spark.createDataFrame(
        [(1, shared, "s"), (2, shared, "s"), (3, _words("oth", 30), "s")],
        DOC_SCHEMA)
    ch = chunk_documents(df, chunk_tokens=64, overlap=8)
    groups = (ch.groupBy("chunk_md5")
              .agg(F.count(F.lit(1)).alias("n")).collect())
    assert sorted(r["n"] for r in groups) == [1, 2]


def test_chunk_documents_no_shuffle(spark):
    from ocr_automation_system_spark.functions.curation import (
        chunk_documents,
    )

    df = spark.createDataFrame([(1, "a b c", "s")], DOC_SCHEMA)
    plan = (chunk_documents(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_token_budget_sample_equals_naive_cumsum(spark):
    """The histogram/boundary decomposition must equal the spec — a
    per-stratum running-total cutoff in (quality tier desc, md5 bucket
    asc, doc_id asc) order — including zero-token docs and strata whose
    first doc already exceeds the budget."""
    import hashlib

    from ocr_automation_system_spark.functions.curation import (
        token_budget_sample,
    )

    rows = []
    for i in range(200):
        src = f"s{i % 5}"
        if i % 11 == 0:
            text = ""  # zero tokens
        elif i % 3 == 0:
            text = ("the fine art of testing is that it is a good "
                    "thing for the soul. " * 3) + f"doc {i}"
        else:
            text = f"short {i} " * (i % 7 + 1)
        rows.append((i, src, text))
    rows.append((900, "whale", "tok " * 5000))  # single doc > budget
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budget = 120
    got = sorted(
        map(tuple, token_budget_sample(df, budget).collect()))

    # naive reference: python cumsum in the documented order
    def feats(i, src, text):
        toks = [t for t in text.strip().lower().split() if t] \
            if text.strip() else []
        sw = (sum(1 for t in toks if t in
                  ("the", "a", "an", "of", "and", "to", "in", "is",
                   "that", "for")) / len(toks)) if toks else 0.0
        mwl = (sum(len(t) for t in toks) / len(toks)) if toks else 0.0
        import re
        alpha = (len(re.sub(r"[^A-Za-z]", "", text)) / len(text)) \
            if text else 0.0
        q = ((0.25 if len(text) >= 200 else 0.0)
             + (0.25 if alpha >= 0.6 else 0.0)
             + (0.25 if 3.0 <= mwl <= 10.0 else 0.0)
             + (0.25 if sw >= 0.05 else 0.0))
        hb = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 256
        rb = (4 - int(q * 4)) * 256 + hb
        return (src, rb, i, len(toks))

    order = sorted((feats(i, s, t) for i, s, t in rows),
                   key=lambda r: (r[0], r[1], r[2]))
    want, cum = [], {}
    for src, rb, i, nt in order:
        c = cum.get(src, 0) + nt
        if c <= budget:
            want.append((i, src, nt))
            cum[src] = c
        else:
            cum[src] = c  # running total keeps growing past budget
    assert got == sorted(want)
    # the whale stratum kept nothing (its only doc exceeds the budget);
    # zero-token docs sort into the last quality tier, so the budget
    # exhausts before reaching them — covered by the equality above
    assert all(s != "whale" for _, s, _ in got)
    assert len(got) >= 10  # the cutoff actually selected a real mix


def test_token_budget_sample_plan_broadcasts_histogram(spark):
    """The corpus side must never see a corpus-wide window: the
    histogram joins back via broadcast, and the only corpus-side
    window runs on the boundary-bucket filter output."""
    from ocr_automation_system_spark.functions.curation import (
        token_budget_sample,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", f"w{i} text here") for i in range(50)],
        "doc_id long, source string, text string")
    out = token_budget_sample(df, 40)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_token_budget_sample_full_budget_keeps_everything(spark):
    from ocr_automation_system_spark.functions.curation import (
        token_budget_sample,
    )

    df = spark.createDataFrame(
        [(i, "s", "a few tokens here") for i in range(20)],
        "doc_id long, source string, text string")
    assert token_budget_sample(df, 10**9).count() == 20


def test_epoch_write_plan_reshuffles_between_epochs(spark, sf_dir):
    """X90: each epoch carries the same doc multiset; the two orders
    are unrelated (rank correlation near zero on the synthetic table —
    bound loose, determinism exact); files are md5-balanced."""
    from ocr_automation_system_spark.queries import q_epoch_write_plan

    rows = q_epoch_write_plan(spark, sf_dir).collect()
    by_ep: dict = {0: {}, 1: {}}
    for r in rows:
        by_ep[r["epoch"]][r["doc_id"]] = r["sort_key"]
    assert set(by_ep[0]) == set(by_ep[1]) and len(by_ep[0]) >= 400
    ids = sorted(by_ep[0])
    order0 = sorted(ids, key=lambda i: by_ep[0][i])
    order1 = sorted(ids, key=lambda i: by_ep[1][i])
    assert order0 != order1
    pos1 = {i: k for k, i in enumerate(order1)}
    n = len(ids)
    # Spearman-ish displacement: mean |rank0 - rank1| ~ n/3 for
    # independent orders; require > n/6 (unrelated), and determinism
    # exactly (same keys on a second run)
    disp = sum(abs(k - pos1[i]) for k, i in enumerate(order0)) / n
    assert disp > n / 6
    again = {r["doc_id"]: r["sort_key"]
             for r in q_epoch_write_plan(spark, sf_dir)
             .filter("epoch = 0").collect()}
    assert again == by_ep[0]


def test_chunk_dup_stats_counts_planted_repeats(spark, tmp_path):
    """X98: a source whose docs repeat one chunk-sized window shows
    dup_frac > 0 and the right max_dup; all-unique source shows 0."""
    import os

    from ocr_automation_system_spark.queries import (
        CHUNK_TOKENS,
        q_chunk_dup_stats,
    )

    window = " ".join(f"tok{i}" for i in range(CHUNK_TOKENS))
    rows = ([(i, window, "en", "repeaty", 1) for i in range(5)]
            + [(100 + i, " ".join(f"u{i}w{j}" for j in range(CHUNK_TOKENS)),
                "en", "uniq", 1) for i in range(4)])
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
              " n_chars long").write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "documents.parquet"))
    got = {r["source"]: r for r in
           q_chunk_dup_stats(spark, str(tmp_path)).collect()}
    rep = got["repeaty"]
    assert rep["n_chunks"] == 5 and rep["n_distinct"] == 1
    assert rep["max_dup"] == 5 and rep["dup_frac"] == 1.0 - 1 / 5
    assert got["uniq"]["dup_frac"] == 0.0


def _aes_key(doc_id: int, n_tokens: int):
    """Pure-Python replay of the priority_sample key contract."""
    import hashlib
    import math

    w = max(n_tokens, 1)
    e = min(w.bit_length() - 1, 20)
    h = hashlib.md5(f"{doc_id}:ps".encode()).hexdigest()
    u = (int(h[:13], 16) + 1) / 2.0 ** 52
    for _ in range(e):
        u = math.sqrt(u)
    return u, 2 ** e, max(n_tokens, 1)


def test_priority_sample_key_math_exact(spark):
    """Every returned (weight, weight_bucket, priority) must equal the
    pure-Python replay bit-for-bit — sqrt chains and dyadic u leave no
    rounding slack."""
    from ocr_automation_system_spark.functions.curation import (
        priority_sample,
    )

    rows = [(1, "a", "one two three"),          # w=3  -> bucket 2
            (2, "a", ""),                        # w=1  -> bucket 1
            (3, "b", " ".join(["t"] * 1500)),    # w=1500 -> bucket 1024
            (4, "b", "solo")]                    # w=1  -> bucket 1
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r["doc_id"]: r for r in priority_sample(df, k=10).collect()}
    assert set(got) == {1, 2, 3, 4}
    for doc_id, _src, text in rows:
        n = len(text.split()) if text.split() else 0
        key, bucket, w = _aes_key(doc_id, n)
        assert got[doc_id]["weight"] == w
        assert got[doc_id]["weight_bucket"] == bucket
        assert got[doc_id]["priority"] == key  # exact, not approx
    # ranks are 1..n in strict priority order
    ranked = sorted(got.values(), key=lambda r: r["rank"])
    keys = [r["priority"] for r in ranked]
    assert keys == sorted(keys, reverse=True)
    assert [r["rank"] for r in ranked] == [1, 2, 3, 4]


def test_priority_sample_takes_k_without_replacement(spark):
    """k < n returns exactly k distinct ids — the k largest keys — and
    heavier rows win in aggregate (monotone weighting sanity)."""
    from ocr_automation_system_spark.functions.curation import (
        priority_sample,
    )

    heavy = [(i, "heavy", " ".join(["t"] * 4000)) for i in range(40)]
    light = [(i, "light", "t") for i in range(40, 80)]
    df = spark.createDataFrame(heavy + light, ["doc_id", "source", "text"])
    out = priority_sample(df, k=20).collect()
    assert len(out) == 20
    assert len({r["doc_id"] for r in out}) == 20
    n_heavy = sum(r["source"] == "heavy" for r in out)
    # weight ratio 4096:1 -> heavy docs dominate the top-k
    assert n_heavy >= 16
    # and the cut really is the k largest keys over the full frame
    all_keys = sorted((r["priority"] for r in
                       priority_sample(df, k=80).collect()),
                      reverse=True)
    assert min(r["priority"] for r in out) == all_keys[19]


def _gear_replay():
    """Scalar re-derivation of the Gear table — independent of
    functions.curation.gear_table's implementation detail."""
    import hashlib

    return [int(hashlib.md5(("%02x" % b).encode()).hexdigest()[:8], 16)
            for b in range(256)]


def _cdc_replay(text, w=8, divisor=16):
    """Pure-Python SCALAR replay of the gear cdc_chunks boundary
    contract (no numpy — an independent check of the vectorized
    kernel): cut after 1-based end position e in [w, n-1] where
    sum_j G[cp(t[e-j]) % 256] * 2^j ≡ 0 mod divisor."""
    import hashlib

    G = _gear_replay()
    t = text or ""
    n = len(t)
    cuts = []
    for e in range(w, n):
        h = sum(G[ord(t[e - 1 - j]) % 256] << j for j in range(w))
        if h % divisor == 0:
            cuts.append(e)
    bounds = [0] + cuts + [n]
    if n == 0:
        return []
    return [(j, bounds[j - 1] + 1, bounds[j] - bounds[j - 1],
             hashlib.md5(t[bounds[j - 1]:bounds[j]].encode()).hexdigest())
            for j in range(1, len(bounds))]


def test_cdc_chunks_match_replay_and_cover(spark):
    """Chunks equal the Python boundary replay exactly and tile the
    document: starts/lengths are contiguous from 1 to len(text)."""
    from ocr_automation_system_spark.functions.curation import cdc_chunks

    rows = [(1, "the quick brown fox jumps over the lazy dog again and "
                "again until the boundary rule fires somewhere inside"),
            (2, ""), (3, None), (4, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"], r["chunk_md5"]))
    for did, text in rows:
        assert sorted(got.get(did, [])) == _cdc_replay(text)
    for did, text in rows:
        chunks = sorted(got.get(did, []))
        pos = 1
        for _idx, start, ln, _h in chunks:
            assert start == pos
            pos += ln
        assert pos == len(text or "") + 1


def test_gear_table_pinned():
    """The Gear table is a deterministic md5-derived literal: pin its
    derivation (scalar replay), its size/range (uint32 — the overflow
    budget the int64 window sum relies on), and a couple of spot
    values so a silent table change can't slip through."""
    import hashlib

    from ocr_automation_system_spark.functions.curation import (
        gear_table,
    )

    G = gear_table()
    assert len(G) == 256
    assert all(0 <= v < 2 ** 32 for v in G)
    assert list(G) == _gear_replay()
    # spot pins, computed from the published derivation
    assert G[0] == int(hashlib.md5(b"00").hexdigest()[:8], 16)
    assert G[255] == int(hashlib.md5(b"ff").hexdigest()[:8], 16)
    # window-sum budget: 8 terms, weights up to 128 -> < 2^43
    assert max(G) * sum(1 << j for j in range(8)) < 2 ** 63


def test_cdc_chunks_survive_byte_insertion(spark):
    """The CDC promise fixed-stride chunking cannot make: prepending
    bytes only perturbs chunks BEFORE the first boundary past the
    edit — every later chunk hash is unchanged."""
    from ocr_automation_system_spark.functions.curation import cdc_chunks

    base = ("paragraph one talks about crawling. paragraph two talks "
            "about parsing html. paragraph three talks about dedup. "
            "paragraph four talks about sampling and sketches. "
            "paragraph five talks about shipping the corpus.")
    edited = "XY" + base
    df = spark.createDataFrame([(1, base), (2, edited)],
                               ["doc_id", "text"])
    got = {1: [], 2: []}
    for r in cdc_chunks(df).collect():
        got[r["doc_id"]].append((r["chunk_idx"], r["chunk_md5"]))
    h1 = [h for _i, h in sorted(got[1])]
    h2 = [h for _i, h in sorted(got[2])]
    assert len(h1) >= 3, "fixture must produce several chunks"
    # all chunks after the first are content-aligned and identical
    assert h1[1:] == h2[1:]
    assert h1[0] != h2[0]
    # whereas FIXED-stride chunk hashes all shift: the same texts cut
    # every 16 chars share no interior hash
    import hashlib
    f1 = {hashlib.md5(base[i:i + 16].encode()).hexdigest()
          for i in range(0, len(base), 16)}
    f2 = {hashlib.md5(edited[i:i + 16].encode()).hexdigest()
          for i in range(0, len(edited), 16)}
    assert len(f1 & f2) <= 1  # at most an accidental tail collision


def test_cdc_chunk_set_equals_distinct_chunks(spark):
    """cdc_chunk_set's in-kernel per-doc dedup IS the global distinct
    (same-md5 chunks have the same content, hence appear only within
    one doc's emission): exact set equality with
    cdc_chunks(...).distinct(), extra_cols riding through row-locally
    — and the consumer plan has no distinct Exchange left."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_chunk_set, cdc_chunks,
    )

    rep = ("repeat me twice or thrice across this document body. " * 3
           + "and a unique tail sentence for good measure.")
    rows = [(1, "s1", rep), (2, "s1", rep), (3, "s2", "tiny"),
            (4, "s2", ""), (5, "s1", None)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    want = {(r["doc_id"], r["chunk_md5"], r["length"])
            for r in cdc_chunks(df).select(
                "doc_id", "chunk_md5", "length").distinct().collect()}
    got_rows = cdc_chunk_set(df, extra_cols=("source",)).collect()
    got = {(r["doc_id"], r["chunk_md5"], r["length"])
           for r in got_rows}
    assert got == want and len(got) == len(got_rows)  # already distinct
    src = {i: s for i, s, _t in rows}
    assert all(r["source"] == src[r["doc_id"]] for r in got_rows)


def test_cdc_chunks_clamped_law_and_replay(spark):
    """FastCDC min/max normalization (round-5 production form): every
    NON-final chunk lands in [min_len, max_len] whatever the content
    does — boundary-dense text is merged up to min_len (skip rule),
    boundary droughts are cut at exactly max_len (forced rule, fired
    by the low-entropy filler fixture) — and the Spark kernel equals
    the pure-Python greedy replay chunk for chunk."""
    import hashlib

    from ocr_automation_system_spark.functions.curation import (
        cdc_boundaries, cdc_chunks_clamped, cdc_cuts_clamped,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and "
            "again until the boundary rule fires somewhere inside "
            "this much longer paragraph about crawling and parsing "
            "and deduplicating the entire web corpus at scale"),
        (2, "z" * 300),          # low-entropy drought -> forced cuts
        (3, ""), (4, None), (5, "tiny"),
    ]
    MINL, MAXL = 24, 96
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in cdc_chunks_clamped(df, divisor=16, min_len=MINL,
                                max_len=MAXL).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["start"], r["length"], r["chunk_md5"]))
    forced = 0
    for did, text in rows:
        t = text or ""
        n = len(t)
        cand = cdc_boundaries(t, divisor=16)
        cuts = cdc_cuts_clamped(cand, n, MINL, MAXL)
        forced += sum(1 for c in cuts if c not in set(cand))
        bounds = [0] + cuts + [n]
        want = [(j, bounds[j - 1] + 1, bounds[j] - bounds[j - 1],
                 hashlib.md5(t[bounds[j - 1]:bounds[j]].encode())
                 .hexdigest())
                for j in range(1, len(bounds))] if n else []
        assert sorted(got.get(did, [])) == want, did
        # the clamp law itself
        lens = [ln for _j, _s, ln, _h in want]
        for ln in lens[:-1]:
            assert MINL <= ln <= MAXL, (did, ln)
    assert forced > 0, "fixture must exercise the forced-max rule"
    # the drought doc is cut at exactly max_len strides
    zlens = [ln for _j, _s, ln, _h in sorted(got[2])]
    assert zlens[:-1] == [MAXL] * (len(zlens) - 1)


def test_cdc_chunks_clamped_resyncs_after_insertion(spark):
    """The CDC promise survives the clamps: after an inserted prefix,
    the two chunkings re-synchronize at the first shared cut and all
    later chunk hashes agree."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_chunks_clamped,
    )

    base = ("paragraph one talks about crawling. paragraph two talks "
            "about parsing html. paragraph three talks about dedup. "
            "paragraph four talks about sampling and sketches. "
            "paragraph five talks about shipping the corpus. "
            "paragraph six talks about lineage and resume.")
    edited = "XY" + base
    df = spark.createDataFrame([(1, base), (2, edited)],
                               ["doc_id", "text"])
    got = {1: [], 2: []}
    for r in cdc_chunks_clamped(df, divisor=16, min_len=24,
                                max_len=96).collect():
        got[r["doc_id"]].append((r["chunk_idx"], r["chunk_md5"]))
    h1 = [h for _i, h in sorted(got[1])]
    h2 = [h for _i, h in sorted(got[2])]
    assert len(h1) >= 3
    # suffix agreement: the tails beyond the resync point are equal
    k = 0
    while k < min(len(h1), len(h2)) and h1[-1 - k] == h2[-1 - k]:
        k += 1
    assert k >= len(h1) - 2, (k, len(h1))


def test_cdc_dup_pairs_find_shifted_near_copy(spark):
    """A re-crawl with an ad block inserted mid-page must pair with the
    original via shared CDC chunks; an unrelated doc must not."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_dup_pairs,
    )

    base = ("section alpha discusses the crawler architecture in some "
            "depth. section beta covers the parser and its fallbacks. "
            "section gamma walks through dedup. section delta closes "
            "with sampling, sketches and the shipping checklist.")
    mid = len(base) // 2
    edited = base[:mid] + " [SPONSORED CONTENT INSERTED HERE] " + base[mid:]
    other = "completely unrelated text " * 10
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], ["doc_id", "text"])
    pairs = {(r["doc_a"], r["doc_b"]): r
             for r in cdc_dup_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["n_shared_chunks"] >= 2
    assert pairs[(1, 2)]["shared_chars"] > 0
    assert all(3 not in p for p in pairs)


def test_cdc_dup_pairs_repeated_id_counts_once(spark):
    """An input that repeats a document row (a snapshot union, a
    fanned-out join) must give the same pairs and counts as the
    de-duplicated input: the repeated id's chunks count once, not
    twice."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_dup_pairs,
    )

    base = ("section alpha discusses the crawler architecture in some "
            "depth. section beta covers the parser and its fallbacks. "
            "section gamma walks through dedup. section delta closes "
            "with sampling, sketches and the shipping checklist.")
    mid = len(base) // 2
    edited = base[:mid] + " [SPONSORED CONTENT INSERTED HERE] " + base[mid:]
    rows = [(1, base), (2, edited)]
    once = spark.createDataFrame(rows, ["doc_id", "text"])
    twice = spark.createDataFrame(rows + [(1, base)], ["doc_id", "text"])

    def pairs(df):
        return sorted(tuple(r) for r in
                      cdc_dup_pairs(df, min_shared=1).collect())

    want = pairs(once)
    assert want and want[0][:2] == (1, 2)
    assert pairs(twice) == want


def test_cdc_dup_pairs_occupancy_cap_censors_boilerplate(spark):
    """A chunk shared by more docs than the cap is template boilerplate
    and must generate NO pairs (delete the cap and this goes red)."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_dup_pairs,
    )

    # every doc = the same two template chunks (identical text), so
    # every chunk's doc-frequency is n_docs > cap
    tpl = ("standard cookie banner text that appears on every single "
           "page of the site without exception, followed by the same "
           "standard footer navigation block on every page too.")
    docs = [(i, tpl) for i in range(12)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = cdc_dup_pairs(df, min_shared=1, max_docs_per_chunk=8).collect()
    assert out == []
    # under the cap the same fixture pairs everything
    out2 = cdc_dup_pairs(df, min_shared=1,
                         max_docs_per_chunk=64).collect()
    assert len(out2) == 12 * 11 // 2


def test_priority_sample_plan_is_takeordered(spark):
    """Global top-k must be TakeOrderedAndProject (per-partition heaps),
    never a full sort of the corpus."""
    from ocr_automation_system_spark.functions.curation import (
        priority_sample,
    )

    df = spark.createDataFrame([(1, "a", "x y z")],
                               ["doc_id", "source", "text"])
    plan = (priority_sample(df, k=5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "TakeOrderedAndProject" in plan


def test_cdc_chunks_plan_no_shuffle(spark):
    from ocr_automation_system_spark.functions.curation import cdc_chunks

    df = spark.createDataFrame([(1, "some text here")],
                               ["doc_id", "text"])
    plan = (cdc_chunks(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_cdc_dup_pairs_plan_cap_is_broadcast_anti_join(spark):
    """The occupancy cap must be aggregate + broadcast anti-join — no
    Window on the chunk key anywhere in the plan (the round-3 verdict
    lesson: windows co-locate the hot bucket the cap exists to drop)."""
    from ocr_automation_system_spark.functions.curation import (
        cdc_dup_pairs,
    )

    df = spark.createDataFrame([(1, "some text"), (2, "other text")],
                               ["doc_id", "text"])
    plan = (cdc_dup_pairs(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_cdc_novelty_semantics_on_hand_corpus(spark):
    """Identical recrawl -> novel_frac 0; rewritten recrawl -> 1; a
    footer appended to a long page must move the fraction only
    slightly (the insertion-robustness promise at the snapshot level)."""
    from ocr_automation_system_spark.queries import q_cdc_novelty

    # uses the registered query's deterministic recrawl on sf0.001:
    # doc_id%3==1 identical, %3==0 footer, %3==2 vowel-rotated
    rows = {r["source"]: r for r in
            q_cdc_novelty(spark, "/root/testdata/sf0.001").collect()}
    assert rows
    for r in rows.values():
        assert 0.0 <= r["novel_frac"] <= 1.0
        assert r["novel_chunks"] <= r["n_chunks_new"]
        # each source mixes the three behaviors: ~1/3 of docs are
        # rewritten, so novelty is strictly interior
        assert 0.0 < r["novel_frac"] < 1.0


def test_cdc_novelty_bounds_direct(spark):
    """Direct hand corpus: unchanged source -> 0 novelty; fully
    rewritten source -> 1.0; footer-only source -> small but nonzero."""
    from ocr_automation_system_spark.functions.curation import cdc_chunks

    base = ("chapter one describes the collection methodology at "
            "length and in considerable detail for the reader. " * 3)
    olds = [(1, "same", base), (2, "foot", base), (3, "new", base)]
    news = [(1, "same", base),
            (2, "foot", base + " tiny footer"),
            (3, "new", "entirely different content now " * 8)]

    def chunkset(rows):
        df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
        ch = cdc_chunks(df).collect()
        src = {i: s for i, s, _t in rows}
        out = {}
        for r in ch:
            out.setdefault(src[r["doc_id"]], set()).add(r["chunk_md5"])
        return out

    o, n = chunkset(olds), chunkset(news)
    frac = {s: len(n[s] - o[s]) / len(n[s]) for s in n}
    assert frac["same"] == 0.0
    assert frac["new"] == 1.0
    assert 0.0 < frac["foot"] < 0.5


def test_dedup_span_strip_keeps_owner_copy(spark):
    """X145: the min-id owner of a duplicated w-gram keeps its tokens;
    every other doc's copy is stripped; unique text survives; and the
    removal count is exact."""
    from ocr_automation_system_spark.functions.curation import (
        dedup_span_strip,
    )

    span = "one two three four five six seven eight"   # exactly w=8 tokens
    rows = [
        (1, f"intro {span} outro"),
        (2, f"copy of the same {span} appears here"),
        (3, "totally unique text with no repeats at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dedup_span_strip(df, w=8).collect()}
    # owner (doc 1) intact
    assert got[1]["kept_text"] == f"intro {span} outro"
    assert got[1]["n_tokens_removed"] == 0
    # doc 2 loses exactly the 8 duplicated tokens, keeps its frame
    assert got[2]["kept_text"] == "copy of the same appears here"
    assert got[2]["n_tokens_removed"] == 8
    # unique doc untouched
    assert got[3]["n_tokens_removed"] == 0
    assert got[3]["kept_text"] == rows[2][1]


def test_word_blocklist_scores_counts_and_keep(spark):
    """X150: occurrence count vs distinct-hit count; keep = zero hits;
    the gate is one shuffle-free constant-folded projection."""
    from ocr_automation_system_spark.functions.curation import (
        word_blocklist_scores,
    )

    rows = [
        (1, "Play casino games and win the jackpot now casino fans."),
        (2, "A perfectly ordinary document about weather patterns."),
        (3, "CASINO in caps still matches the lowercased token stream."),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in word_blocklist_scores(df).collect()}
    assert (got[1]["n_blocked"], got[1]["n_blocked_distinct"]) == (3, 2)
    assert not got[1]["keep"]
    assert got[2]["keep"] and got[2]["n_blocked"] == 0
    assert got[3]["n_blocked"] == 1  # ws_tokens lowercases
    assert got[4]["keep"]
    plan = (word_blocklist_scores(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_c4_span_dedup_first_occurrence_wins(spark):
    """X151: a duplicated 3-sentence span keeps exactly its first
    (id, pos) occurrence; the non-owner doc keeps its frame sentences;
    docs with < 3 sentences and unique docs are untouched."""
    from ocr_automation_system_spark.functions.curation import c4_span_dedup

    rows = [
        (1, "First common. Second common. Third common. Unique one here."),
        (2, "Intro only for two! First common. Second common. "
            "Third common. Tail for two."),
        (3, "Nothing shared at all. Just some words. With three sentences."),
        (4, "Too short. Only two!"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_span_dedup(df).collect()}
    assert got[1]["n_sentences_removed"] == 0
    assert got[1]["kept_text"].startswith("First common.")
    assert got[2]["n_sentences_removed"] == 3
    assert got[2]["kept_text"] == "Intro only for two! Tail for two."
    assert got[3]["n_sentences_removed"] == 0
    assert got[4]["n_sentences"] == 2 and got[4]["n_sentences_removed"] == 0
    assert got[5]["kept_text"] == "" and got[5]["n_sentences"] == 0
    # intra-doc duplicate span: second occurrence strips
    intra = spark.createDataFrame(
        [(9, "A one. B two. C three. Filler mid. A one. B two. C three.")],
        "doc_id long, text string")
    r = c4_span_dedup(intra).collect()[0]
    assert r["n_sentences_removed"] == 3
    assert r["kept_text"] == "A one. B two. C three. Filler mid."
